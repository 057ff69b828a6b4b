package graft.streaming

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Typed bulk pipeline — the engine's `BulkPubSubPipeline`
  * (`pubsub_pipeline.py:214-242`): the processor sees the whole pulled
  * batch (`List[A] => List[B]`) instead of one element at a time.
  *
  * The reference zips results back to input messages positionally and
  * silently drops/starves on length mismatch (`pubsub_pipeline.py:229-232`,
  * SURVEY §2-D) — here a mismatched bulk transform FAILS the batch (no
  * ack, batch replays), making the contract explicit: bulk transforms must
  * be length-preserving.
  *
  * Maps to `Dataset.mapPartitions`: each micro-batch partition is one
  * "bulk" (bounded by `bulkLimit` admission, like the reference's
  * ≤`bulk_limit` pull), deserialized driver-free on executors.
  *
  * `readPartitions` defaults to 1 so one bulk = one whole pulled batch —
  * the reference's list-at-a-time contract (`pubsub_pipeline.py:225-231`).
  * Raising it trades that for read parallelism: each slice of the batch
  * becomes its own bulk (still length-enforced per slice).
  */
final class BulkPipeline[A, B](
    spark: SparkSession,
    subscription: String,
    outTopic: String,
    deserializer: Array[Byte] => A,
    serializer: B => Array[Byte],
    bulk: Seq[A] => Seq[B],
    checkpointDir: String,
    bulkLimit: Int = 20,
    readPartitions: Int = 1,
    /** Bus transport spec (see [[Pipeline]]). */
    busSpec: String = "memory") extends Serializable {

  def start(availableNow: Boolean = false): StreamingQuery = {
    val dser = deserializer; val ser = serializer; val f = bulk
    val src = Pipeline.source(spark, subscription, busSpec, bulkLimit)
      .option("readPartitions", readPartitions)
      .load()
      .select("value")
    Pipeline.start(src, subscription, busSpec, checkpointDir, availableNow) { (batch, batchId) =>
      val out = batch
        .as(Encoders.BINARY)
        .mapPartitions { it =>
          val in = it.map(dser).toSeq
          val res = f(in)
          // §2-D fix: enforce, don't silently zip-drop
          require(res.size == in.size,
            s"bulk transform must be length-preserving: got ${res.size} for ${in.size} inputs")
          res.iterator.map(ser)
        }(Encoders.BINARY)
      Pipeline.publish(out.toDF(), batchId, outTopic, busSpec, keyPrefix = None)
    }
  }
}
