package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Raw scheduler and executor records from the benchmark's own
  * SparkListener (traced runs only). Aggregation and windowing happen in
  * run.py, so the listener only copies fields. */
final class SparkMeter extends SparkListener {
  private final class Job(val id: Int, val startUs: Long, val parent: String,
                          val group: String, val callSite: String) {
    @volatile var endUs: Long = -1L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Seq[Long]]()
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String): String = p.flatMap(x => Option(x.getProperty(k))).orNull
    val parent = Option(prop(Harness.SpanProperty))
      .orElse(Option(prop("streaming.sql.batchId")).map(b => s"batch:$b")).orNull
    // the result stage carries the job's call site ("parquet at Tables.scala:15")
    val callSite = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).orNull
    jobs.put(e.jobId, new Job(e.jobId, e.time * 1000L, parent, prop("spark.jobGroup.id"), callSite))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Seq(s.stageId.toLong, s.submissionTime.getOrElse(0L) * 1000L,
      s.completionTime.getOrElse(0L) * 1000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def ms(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    val run = ms(_.executorRunTime)
    val sched = math.max(0L, i.duration - run - ms(_.executorDeserializeTime) -
      ms(_.resultSerializationTime) - i.gettingResultTime)
    tasks.add(Map(
      "id" -> i.taskId, "job" -> stageJob.getOrDefault(e.stageId, -1),
      "start_us" -> i.launchTime * 1000L, "end_us" -> i.finishTime * 1000L,
      "run_ms" -> run, "cpu_ns" -> ms(_.executorCpuTime), "gc_ms" -> ms(_.jvmGCTime),
      "sched_ms" -> sched, "input_b" -> ms(_.inputMetrics.bytesRead),
      "shuffle_read_b" -> ms(_.shuffleReadMetrics.totalBytesRead),
      "shuffle_write_b" -> ms(_.shuffleWriteMetrics.bytesWritten),
      "spill_b" -> ms(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      "failed" -> !i.successful))
  }

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "start_us" -> j.startUs, "end_us" -> j.endUs, "parent" -> j.parent,
      "group" -> j.group, "call_site" -> j.callSite)),
    "stages" -> stages.asScala.toSeq,
    "tasks" -> tasks.asScala.toSeq)
}

/** Micro-batch progress from the benchmark's own StreamingQueryListener
  * (traced runs only): per batch, its start, phase durations, rows and the
  * source end offset the batch committed. */
final class ProgressMeter extends StreamingQueryListener {
  import StreamingQueryListener._
  private val batches = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    batches.add(Map(
      "batch" -> p.batchId, "start_us" -> startUs, "rows" -> p.numInputRows,
      "end_offset" -> p.sources.headOption.flatMap(s => Option(s.endOffset)).map(_.trim).orNull,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  def toJson: Seq[Map[String, Any]] = batches.asScala.toSeq
}

/** Live heap: heap in use right after a full collection. Forced only at
  * phase boundaries outside the measured window; the run reports the
  * maximum, so work kept resident in caches shows. */
object Heap {
  @volatile private var maxBytes = 0L
  def collect(): Unit = {
    // a second collection after a pause also takes what Spark's
    // ContextCleaner released in reaction to the first
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { maxBytes = math.max(maxBytes, used) }
  }
  def maxMb: Double = maxBytes / 1048576.0
}

