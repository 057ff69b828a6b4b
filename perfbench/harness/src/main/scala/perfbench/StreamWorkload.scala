package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, length, upper}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.sources.{BusService, SocketBus}
import graft.streaming.{JsonSerde, Pipeline}

/** The input messages: ~1 KB JSON whose body is a pure function of
  * (seed, seq), so the expected transformed output of every message can
  * be recomputed at check time. Each carries its sequence number (which is
  * also its offset in the input subscription) and its publish time. */
object Messages {
  private val words = Vector("amber", "basalt", "cedar", "delta", "ember", "fjord",
    "granite", "harbor", "iris", "jasper", "kelp", "lumen", "marble", "nectar",
    "onyx", "pollen", "quartz", "raven", "sierra", "tundra", "umber", "violet")

  def fill(seed: Long, seq: Long): String = {
    val r = new java.util.SplittableRandom(seed * 1000003L + seq)
    val target = 880 + r.nextInt(80)
    val sb = new StringBuilder
    while (sb.length < target) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(words(r.nextInt(words.size)))
    }
    sb.toString
  }

  def body(seed: Long, seq: Long, sentUs: Long): Array[Byte] =
    (s"""{"seq":$seq,"sent_us":$sentUs,"data":"message payload $seq",""" +
      s""""nested":{"nestedData":"v$seq"},"fill":"${fill(seed, seq)}"}""").getBytes(UTF_8)

  /** What the StreamBench transform must publish for message `seq`. */
  def expected(seed: Long, seq: Long): String =
    s"""{"data":"MESSAGE PAYLOAD $seq","nested":"v$seq","fill_len":${fill(seed, seq).length}}"""

  val schema: StructType = new StructType()
    .add("data", "string")
    .add("nested", new StructType().add("nestedData", "string"))
    .add("fill", "string")
}

/** The streaming runner under load: `Pipeline` with its defaults
  * (bulkLimit 20, 4 read partitions, JsonSerde, the StreamBench transform)
  * over the socket transport, a `BusService` in this JVM. One generator
  * thread publishes through its own untraced `SocketBus` client and keeps
  * `Depth` unacked messages queued, so every micro-batch is full.
  *
  * Set-up is repeated `SetupRuns` times: the first from JVM start (cold),
  * the others from a stopped session (warm). Each builds a fresh session,
  * bus service and runner and ends when a probe message has been acked.
  */
final class StreamWorkload(a: Harness.Args) {
  private val Depth = 10000
  private val SetupRuns = 10
  /** The runner's drain rate keeps climbing for 10-25 s after its start
    * while the JIT compiles its hot paths; the window opens after the
    * steepest part of that climb. */
  private val WarmupUs = 10000000L

  private final class Setup(val spark: SparkSession, val svc: BusService,
                            val q: StreamingQuery, val gen: SocketBus,
                            val meters: Option[(SparkMeter, ProgressMeter)])
  private val (inTopic, inSub, outTopic, outSub) = ("in", "in-sub", "out", "out-sub")
  private val published = new AtomicLong(0L)

  private def awaitAcked(target: Long, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (TracingBus.ackedOffset < target && System.nanoTime() < deadline) Thread.sleep(2)
    TracingBus.ackedOffset >= target
  }

  private def publish(gen: SocketBus, n: Long): Unit = {
    val first = published.get()
    gen.publishBatch(inTopic, (first until first + n).map(seq => Messages.body(a.seed, seq, Clock.nowUs())))
    published.addAndGet(n)
  }

  private def setUp(i: Int, traced: Boolean): Setup = {
    val spark = Harness.session(a.tmp)
    val meters = if (!traced) None else {
      val m = (new SparkMeter, new ProgressMeter)
      spark.sparkContext.addSparkListener(m._1)
      spark.streams.addListener(m._2)
      Some(m)
    }
    val svc = new BusService()
    val port = svc.start()
    val spec = TracingBus.register(port, outTopic)
    val gen = new SocketBus("127.0.0.1", port)
    gen.createSubscription(inTopic, inSub)
    gen.createSubscription(outTopic, outSub)
    val transform = (df: org.apache.spark.sql.DataFrame) =>
      df.select(upper(col("payload.data")).as("data"),
        col("payload.nested.nestedData").as("nested"),
        length(col("payload.fill")).as("fill_len"))
    val q = new Pipeline(spark, inSub, outTopic, JsonSerde(Messages.schema), transform,
      s"${a.tmp}/checkpoint-$i", busSpec = spec).start()
    // ready = one probe message (seq 0) has gone round the whole loop
    published.set(0L)
    publish(gen, 1)
    require(awaitAcked(1, 120), "probe message was never acked")
    new Setup(spark, svc, q, gen, meters)
  }

  private def tearDown(s: Setup): Unit = {
    try { s.q.stop(); s.q.awaitTermination(30000) } catch { case _: Throwable => () }
    s.spark.stop()
    s.svc.stop()
  }

  def run(): Map[String, Any] = {
    val setupS = ArrayBuffer[Double]()
    var s: Setup = null
    (1 to SetupRuns).foreach { i =>
      val t0 = Clock.nowUs()
      val last = i == SetupRuns
      Trace.enabled = last && a.trace
      s = setUp(i, last && a.trace)
      setupS += (if (i == 1) Harness.sinceJvmStart() else (Clock.nowUs() - t0) / 1e6)
      if (!last) tearDown(s)
    }

    val backlog = new ArrayBuffer[Seq[Long]]()
    val sampler = Executors.newSingleThreadScheduledExecutor()
    sampler.scheduleAtFixedRate(() => backlog.synchronized {
      backlog += Seq(Clock.nowUs(), published.get() - TracingBus.ackedOffset)
    }, 0, 50, TimeUnit.MILLISECONDS)

    // prefill is generator work, not set-up
    (1L to Depth by 500).foreach(_ => publish(s.gen, 500))
    val start = Clock.nowUs()
    val w0 = start + WarmupUs
    val w1 = w0 + (a.seconds * 1e6).toLong
    var due = start
    while (due + 20000L < w1) {
      due += 20000L
      sleepUntil(due)
      val short = Depth - (published.get() - TracingBus.ackedOffset)
      if (short > 0) publish(s.gen, short)
    }
    sleepUntil(w1)
    // wait for what was pulled inside the window, so every latency sample
    // has an ack or is known to have none by the end of the wait
    val drainTarget = TracingBus.readsBefore(w1)
    awaitAcked(drainTarget, 30)
    val drainEnd = Clock.nowUs()
    sampler.shutdown(); sampler.awaitTermination(5, TimeUnit.SECONDS)
    Heap.collect()
    try { s.q.stop(); s.q.awaitTermination(30000) } catch { case _: Throwable => () }

    // output check: each acked input has exactly its transformed output
    val total = published.get()
    val acked = TracingBus.ackedOffset
    val counts = new Array[Int](total.toInt)
    var wrong = 0L
    val SeqRe = "MESSAGE PAYLOAD (\\d+)".r.unanchored
    s.gen.payloads(outSub).foreach { b =>
      val out = new String(b, UTF_8)
      out match {
        case SeqRe(n) if n.toLong < total && out == Messages.expected(a.seed, n.toLong) =>
          counts(n.toInt) += 1
        case _ => wrong += 1
      }
    }
    val ackedWrong = (0L until acked).count(i => counts(i.toInt) != 1).toLong
    val unackedDup = (acked until total).count(i => counts(i.toInt) > 1).toLong
    val result = Map[String, Any](
      "kind" -> "stream", "workload" -> a.workload, "setup_s" -> setupS.toSeq,
      "window_us" -> Seq(w0, w1), "drain_target" -> drainTarget, "drain_end_us" -> drainEnd,
      "backlog" -> backlog.synchronized(backlog.toSeq), "published" -> total, "acked" -> acked,
      "bulk_limit" -> 20, "depth" -> Depth,
      "check" -> Map("acked_wrong" -> ackedWrong, "unacked_duplicate" -> unackedDup,
        "unexpected_output" -> wrong, "acked_before_published" -> TracingBus.earlyAcks),
      "bus" -> TracingBus.toJson) ++
      s.meters.map { case (sm, pm) => Map("spark" -> sm.toJson, "progress" -> pm.toJson) }
        .getOrElse(Map.empty)
    s.spark.stop()
    s.svc.stop()
    result
  }

  private def sleepUntil(us: Long): Unit = {
    var left = us - Clock.nowUs()
    while (left > 0) {
      LockSupport.parkNanos(left * 1000L)
      left = us - Clock.nowUs()
    }
  }
}
