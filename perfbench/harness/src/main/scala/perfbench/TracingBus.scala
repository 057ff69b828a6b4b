package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession

import graft.sources.{Bus, BusFactories, InMemoryBus, SocketBus}

/** A delegating [[Bus]] in front of a [[SocketBus]], registered through the
  * public `BusFactories.register`, so every bus verb the runner issues on
  * the driver and on executors passes through here.
  *
  * Always recorded (the end-to-end metrics and output checks need them):
  * each commit that advances the acked offset, each `read` call's range and
  * return time, and every commit that acks more inputs than the runner has
  * published outputs so far (an ack before its publish).
  * Recorded only when [[Trace.enabled]]: one span per production-verb call,
  * carrying the messages it moved, whose parent is the task (executor side)
  * or the micro-batch (driver side, from the `streaming.sql.batchId` local
  * property Spark sets on the stream thread).
  */
final class TracingBus(underlying: Bus) extends Bus {
  import TracingBus._

  private def timed[A](verb: String, items: A => Long)(f: => A): A = {
    val t0 = Clock.nowUs()
    val r = try f catch { case e: Throwable => errors.increment(); throw e }
    if (Trace.enabled)
      Trace.add(Span(Trace.newId("call"), s"sources.$verb", t0, Clock.nowUs(), callParent(), items(r)))
    r
  }

  override def endOffset(name: String): Long =
    timed("endOffset", (_: Long) => 0L)(underlying.endOffset(name))

  override def read(name: String, from: Long, until: Long): Seq[InMemoryBus.BusMessage] = {
    val r = timed("read", (m: Seq[InMemoryBus.BusMessage]) => m.size.toLong)(
      underlying.read(name, from, until))
    reads.add(Array(Clock.nowUs(), from, from + r.size))
    r
  }

  override def publishBatch(topic: String, data: Seq[Array[Byte]]): Int = {
    val n = timed("publishBatch", (n: Int) => n.toLong)(underlying.publishBatch(topic, data))
    if (topic == outTopic) outputs.add(data.size.toLong)
    n
  }

  override def commit(name: String, upTo: Long): Unit = {
    val published = outputs.sum()
    timed("commit", (_: Unit) => 0L)(underlying.commit(name, upTo))
    val t = Clock.nowUs()
    TracingBus.synchronized {
      if (upTo > acked) {
        if (upTo > published) early += 1
        acked = upTo
        commits.add(Array(t, upTo))
      }
    }
  }

  override def createTopic(topic: String): Unit = underlying.createTopic(topic)
  override def createSubscription(topic: String, name: String): Unit =
    underlying.createSubscription(topic, name)
  override def publish(topic: String, data: Array[Byte], attributes: Map[String, String]): String =
    underlying.publish(topic, data, attributes)
  override def publishIdempotent(topic: String, key: String, data: Array[Byte]): Boolean =
    underlying.publishIdempotent(topic, key, data)
  override def publishIdempotentBatch(topic: String, keyed: Seq[(String, Array[Byte])]): Int =
    underlying.publishIdempotentBatch(topic, keyed)
  override def committedOffset(name: String): Long = underlying.committedOffset(name)
  override def payloads(name: String): Seq[Array[Byte]] = underlying.payloads(name)
  override def nowMicros(): Long = underlying.nowMicros()
  override def advanceClock(byMicros: Long): Unit = underlying.advanceClock(byMicros)
  override def acquireLease(name: String, holder: String, deadlineMicros: Long): Boolean =
    underlying.acquireLease(name, holder, deadlineMicros)
  override def modifyAckDeadline(name: String, holder: String, newDeadlineMicros: Long): Boolean =
    underlying.modifyAckDeadline(name, holder, newDeadlineMicros)
  override def failNextPulls(name: String, n: Int): Unit = underlying.failNextPulls(name, n)
  override def failNextCommits(name: String, n: Int): Unit = underlying.failNextCommits(name, n)
  override def capNextPulls(name: String, maxPerPull: Long, times: Int): Unit =
    underlying.capNextPulls(name, maxPerPull, times)
  override def failNextPublishes(topic: String, n: Int): Unit = underlying.failNextPublishes(topic, n)
  override def failPublishesAfter(topic: String, after: Int, n: Int): Unit =
    underlying.failPublishesAfter(topic, after, n)
  override def rewindCommitted(name: String, to: Long): Unit = underlying.rewindCommitted(name, to)
  override def reset(): Unit = underlying.reset()
}

object TracingBus {
  val Scheme = "perfbench"

  private val errors = new LongAdder
  private val outputs = new LongAdder

  @volatile private var outTopic: String = null
  private var acked = 0L
  private var early = 0L
  private val commits = new ConcurrentLinkedQueue[Array[Long]]()
  private val reads = new ConcurrentLinkedQueue[Array[Long]]()

  def ackedOffset: Long = synchronized(acked)

  /** Advancing commits that acked inputs whose outputs were not yet all
    * published to the output topic. */
  def earlyAcks: Long = synchronized(early)

  /** End of the highest range read before `us`. */
  def readsBefore(us: Long): Long =
    reads.asScala.filter(_(0) < us).map(_(2)).maxOption.getOrElse(0L)

  /** Route `perfbench://host:port` specs to a traced SocketBus whose
    * publishes to `output` count as the runner's outputs. */
  def register(port: Int, output: String): String = {
    BusFactories.register(Scheme, spec => {
      val hp = spec.stripPrefix(s"$Scheme://")
      val i = hp.lastIndexOf(':')
      new TracingBus(new SocketBus(hp.substring(0, i), hp.substring(i + 1).toInt))
    })
    synchronized {
      acked = 0L; early = 0L; outTopic = output
      commits.clear(); reads.clear()
    }
    errors.reset(); outputs.reset()
    s"$Scheme://127.0.0.1:$port"
  }

  private def callParent(): String = {
    val tc = TaskContext.get()
    if (tc != null) s"task:${tc.taskAttemptId()}"
    else SparkSession.getDefaultSession
      .flatMap(s => Option(s.sparkContext.getLocalProperty("streaming.sql.batchId")))
      .map(b => s"batch:$b").orNull
  }

  def toJson: Map[String, Any] = Map(
    "commits" -> commits.asScala.map(_.toSeq).toSeq,
    "reads" -> reads.asScala.map(_.toSeq).toSeq,
    "errors" -> errors.sum())
}
