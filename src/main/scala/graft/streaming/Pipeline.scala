package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, StreamingQuery, Trigger}
import org.apache.spark.sql.types.DataType

import graft.sources.{BusProvider, BusRegistry}

/** Pluggable payload serde — the engine's version of the reference's
  * `message_deserializer` / `result_serializer` pair
  * (`pubsub_pipeline.py:66-67`). Column-to-Column so it stays inside
  * codegen; the JSON default mirrors `byte_load_json`/`byte_encode_json`
  * (`pubsub_pipeline.py:27-28,55-57`).
  */
trait Serde {
  /** bytes column → typed payload column. */
  def deserialize(value: Column): Column
  /** typed payload struct → bytes column. */
  def serialize(payload: Column): Column
}

/** Default JSON serde: UTF-8 bytes ⇄ struct via from_json/to_json.
  *
  * `failFast = false` (default): a malformed payload deserializes to a
  * null struct (Spark's PERMISSIVE mode) — the batch completes and the
  * transform decides what to do with nulls. `failFast = true` mirrors
  * the reference's behavior (`json.loads` raises uncaught,
  * `pubsub_pipeline.py:177` — the loop dies, nothing is acked, the
  * message redelivers on restart): the batch FAILS on the first
  * malformed payload, so no offset commits and the poison message stays
  * unacked. */
final case class JsonSerde(schema: DataType, failFast: Boolean = false) extends Serde {
  // failFast routes through the StructType overload of from_json; fail at
  // construction with a clear message instead of a ClassCastException at
  // first deserialize (advisor finding)
  require(!failFast || schema.isInstanceOf[org.apache.spark.sql.types.StructType],
    s"JsonSerde(failFast = true) requires a StructType schema, got: $schema")
  override def deserialize(value: Column): Column =
    if (failFast)
      from_json(value.cast("string"), schema.asInstanceOf[org.apache.spark.sql.types.StructType],
        Map("mode" -> "FAILFAST"))
    else from_json(value.cast("string"), schema)
  override def serialize(payload: Column): Column =
    to_json(payload).cast("binary")
}

/** Identity serde: raw bytes through. */
case object BytesSerde extends Serde {
  override def deserialize(value: Column): Column = value
  override def serialize(payload: Column): Column = payload.cast("binary")
}

/** The streaming runner (SURVEY §7 M4): bus-subscription in → deserialize
  * → user transform → serialize → bus-topic out, with ack-after-publish.
  *
  * Decomposition mirrors the reference: `PubSubPipeline` owns plumbing,
  * the `processor` slot owns logic (`pubsub_pipeline.py:62,90-91`). Here
  * the slot is `transform: DataFrame => DataFrame` — any operator from
  * `graft.operators` composes in unchanged, which is how the batch
  * library and the streaming runner stay one engine.
  *
  * Delivery contract: at-least-once. The source's `commit(offset)` (ack)
  * runs only after `foreachBatch` returns, i.e. after every row of the
  * batch was published (`pubsub_pipeline.py:82-84` semantics, backed by
  * the checkpoint WAL instead of an in-flight future callback —
  * SURVEY §3.4). A crash between publish and checkpoint replays the
  * batch: duplicates possible, never loss (§2-D documented window).
  */
final class Pipeline(
    spark: SparkSession,
    subscription: String,
    outTopic: String,
    serde: Serde,
    transform: DataFrame => DataFrame,
    checkpointDir: String,
    bulkLimit: Int = 20,
    /** Publish with content-derived idempotence keys: a batch replayed
      * after crash-before-checkpoint re-publishes the same keys and the
      * bus absorbs them — effective exactly-once, vs the reference's
      * duplicates (§2-D). Keys are (pipeline identity, batchId, content
      * hash position) — see [[Pipeline.publish]] — so they are stable under
      * shuffling transforms AND scoped per pipeline (two pipelines
      * sharing an output topic, or a restart with a fresh checkpoint dir,
      * never collide on keys). Requires only that the transform is
      * deterministic as a multiset of rows per batch. */
    idempotent: Boolean = false,
    /** Micro-batch read parallelism of the bus source (slices per offset
      * range); the reference reads each pull single-threaded. */
    readPartitions: Int = 4,
    /** Sleep between transient-pull retries — the reference's
      * `deadline_exceeded_retry_wait_secs` (default 300 s there; a test-
      * friendly 100 ms here, configurable). */
    retryBackoffMs: Long = 100L,
    /** Fail fast on a transient pull error instead of retrying — the
      * reference's `respect_deadline=True`. */
    respectDeadline: Boolean = false,
    /** Byte-budget admission per micro-batch on top of `bulkLimit`
      * (ReadMaxBytes analog; always admits at least one message). */
    maxBytesPerPull: Long = Long.MaxValue,
    /** Bus transport: `"memory"` (in-JVM singleton, the default) or
      * `"socket://host:port"` to a [[graft.sources.BusService]] daemon
      * in its own process. Only the SPEC crosses to executors; every
      * JVM resolves its own transport. */
    busSpec: String = "memory",
    /** Pull-lease base deadline in logical micros (0 = off): the
      * `modify_ack_deadline` analog — while this pipeline's batch is in
      * flight the subscription's backlog is not deliverable to a
      * competing consumer, and the source's background heartbeat keeps
      * the lease alive past slow batches (see
      * [[graft.sources.Bus.modifyAckDeadline]]). */
    leaseMicros: Long = 0L,
    /** Wall-clock heartbeat period for lease extension. */
    leaseHeartbeatMs: Long = 500L,
    /** Lease-handoff fast-forward: clamp every batch to the bus's
      * committed prefix, so a takeover whose checkpoint lags another
      * consumer's acks never re-emits acked work (default off — the
      * at-least-once replay contract unchanged). */
    startAtCommitted: Boolean = false) {

  /** The streaming DataFrame: payload column is `payload`, plus the bus
    * metadata columns (ackId/messageId/publishTime/attributes). */
  def stream(): DataFrame =
    Pipeline.source(spark, subscription, busSpec, bulkLimit)
      .option("readPartitions", readPartitions)
      .option("retryBackoffMs", retryBackoffMs)
      .option("respectDeadline", respectDeadline)
      .option("maxBytesPerPull", maxBytesPerPull)
      .option("leaseMicros", leaseMicros)
      .option("leaseHeartbeatMs", leaseHeartbeatMs)
      .option("startAtCommitted", startAtCommitted)
      .load()
      .withColumn("payload", serde.deserialize(col("value")))

  /** Start the pipeline. `availableNow = true` gives a bounded drain-and-
    * stop run (the fixed version of `max_processed_messages`, §2-D).
    * Acking is [[Pipeline.start]]'s; each batch goes out through the
    * executor-side [[Pipeline.publish]]. */
  def start(availableNow: Boolean = false): StreamingQuery = {
    val out = transform(stream())
    val data = out.select(serde.serialize(struct(out.columns.map(col).toIndexedSeq: _*)).as("data"))
    val keyPrefix = if (idempotent) Some(Pipeline.pipelineId(checkpointDir)) else None
    Pipeline.start(data, subscription, busSpec, checkpointDir, availableNow) { (batch, batchId) =>
      Pipeline.publish(batch, batchId, outTopic, busSpec, keyPrefix)
    }
  }

  /** Graceful shutdown between micro-batches — the engine's
    * `GracefulKiller` (`pubsub_pipeline.py:15-24,147-154`): a JVM
    * shutdown hook stops the query cleanly so the last committed batch
    * stays consistent (pre-emptible-VM support). */
  def withShutdownHook(q: StreamingQuery): StreamingQuery = {
    sys.addShutdownHook { if (q.isActive) q.stop() }
    q
  }
}

object Pipeline {
  /** Fixed partition count for idempotence-key derivation — deliberately
    * NOT `spark.sql.shuffle.partitions`, which can change between a run
    * and its replay-after-restart and would rebind every (pid, i) key. */
  val IdempotentKeyPartitions = 64

  /** Rows per publish batch in the executor sinks — bounds per-chunk
    * memory while amortizing the socket transport's per-call connection
    * (Bus.publishBatch) across hundreds of rows. */
  val PublishChunkRows = 512

  /** Stable pipeline identity for idempotence-key namespacing: derived
    * from the checkpoint location, which is exactly the unit that defines
    * "the same logical pipeline" across restarts. */
  private[streaming] def pipelineId(checkpointDir: String): String =
    java.util.UUID.nameUUIDFromBytes(checkpointDir.getBytes(StandardCharsets.UTF_8))
      .toString.take(8)

  /** The bus stream every runner reads: `subscription` on `busSpec`,
    * at most `bulkLimit` messages per micro-batch. */
  private[streaming] def source(spark: SparkSession, subscription: String, busSpec: String,
                                bulkLimit: Int): DataStreamReader =
    spark.readStream.format(BusProvider.format)
      .option("subscription", subscription)
      .option("bus", busSpec)
      .option("bulkLimit", bulkLimit)

  /** The one start path of every bus runner: install the engine's
    * checkpoint manager, run `batchFn` per micro-batch of `frame`, and
    * ack `subscription` after each durable batch.
    *
    * Acking: the engine only invokes `MicroBatchStream.commit()` lazily
    * (when planning a later batch), so a bounded run would finish with the
    * last batch published-but-unacked. The listener acks on every
    * `QueryProgress` event — emitted after the batch's offset/commit logs
    * are durable and `batchFn` (the publish) returned, which is
    * precisely the reference's "ack only after successful publish"
    * (`pubsub_pipeline.py:82-84`) ordering, with a WAL under it. */
  private[streaming] def start(frame: DataFrame, subscription: String, busSpec: String,
                               checkpointDir: String, availableNow: Boolean)(
      batchFn: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = frame.sparkSession
    LocalCheckpointFileManager.install(spark)
    val ackListener = new AckOnCommitListener(spark, subscription, busSpec)
    spark.streams.addListener(ackListener)
    // if start() itself throws, unregister the listener — an unbound
    // listener would buffer every future query's progress events forever
    val q = try {
      frame.writeStream
        .option("checkpointLocation", checkpointDir)
        .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(0))
        .foreachBatch(batchFn)
        .start()
    } catch {
      case e: Throwable => spark.streams.removeListener(ackListener); throw e
    }
    ackListener.bind(q.runId)
    q
  }

  /** Publish one micro-batch — a frame of one binary column — to `topic`
    * from the executors: no collect-to-driver, one publisher per
    * partition, one bus call per [[PublishChunkRows]] rows. The closures
    * capture only strings; each executor resolves its own transport.
    *
    * With a `keyPrefix`, rows go out under replay-stable idempotence keys
    * `"$prefix-$batchId-$pid-$i"`. A row's key must not depend on which
    * physical partition/index it lands in, because shuffle block fetch
    * order varies across replays and an index-based key would bind to a
    * DIFFERENT row on replay (silent drop = data loss). So the batch is
    * repartitioned + sorted by CONTENT: (pid, i) is a pure function of
    * the batch's row multiset — equal-content rows are interchangeable,
    * everything else has a stable slot. The partition count is pinned
    * ([[IdempotentKeyPartitions]]): a replay after restart under a
    * different shuffle-partition setting must rebind every (pid, i) to
    * the same row. Chunking keeps the sorted iteration order the keys
    * need. Costs one extra shuffle per batch. */
  private[streaming] def publish(data: DataFrame, batchId: Long, topic: String,
                                 busSpec: String, keyPrefix: Option[String]): Unit =
    keyPrefix match {
      case Some(prefix) =>
        val payload = col(data.columns.head)
        data
          .withColumn("__h", xxhash64(payload))
          .repartition(IdempotentKeyPartitions, col("__h"))
          .sortWithinPartitions(col("__h"), payload)
          .foreachPartition { rows: Iterator[Row] =>
            val pid = TaskContext.getPartitionId()
            var i = 0L
            val bus = BusRegistry.resolve(busSpec)
            rows.grouped(PublishChunkRows).foreach { chunk =>
              val keyed = chunk.map { r =>
                val k = s"$prefix-$batchId-$pid-$i"
                i += 1
                (k, r.getAs[Array[Byte]](0))
              }
              bus.publishIdempotentBatch(topic, keyed)
            }
          }
      case None =>
        data.foreachPartition { rows: Iterator[Row] =>
          val bus = BusRegistry.resolve(busSpec)
          rows.grouped(PublishChunkRows).foreach(chunk =>
            bus.publishBatch(topic, chunk.map(_.getAs[Array[Byte]](0))))
        }
    }
}
