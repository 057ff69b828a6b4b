package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.{LogHygiene, SparkEntry}

/** Registry queries forced the way `graft.Bench` forces them: `xxhash64`
  * over every output column folded with `bit_xor`, checkpoints released
  * afterwards. One untimed warm pass, then timed passes until `--seconds`
  * have elapsed (at least three). Each query runs under a job group named
  * after it; each of its phases sets [[Harness.SpanProperty]] so the jobs
  * it launches name their parent span.
  *
  * Phases per query: `operators.build` is the registry function itself
  * (its eager jobs and driver loops included); `catalyst.plan` forces the
  * physical plan of the forced frame (traced runs only, otherwise it is
  * part of `exec`); `exec.run` collects the one-row hash.
  */
final class RegistryWorkload(a: Harness.Args) {
  private val SetupRuns = 10
  /** Registry query that answers the set-up probe: it loads a table through
    * `graft.Tables`, so set-up covers the program's loader, not only Spark. */
  private val Probe = "scan_count"
  /** Timed passes still carry JIT warm-up and host noise; run.py keeps
    * each query's fastest timed execution, which is steadier over three
    * passes than over two. */
  private val MinTimedPasses = 3

  def run(): Map[String, Any] = {
    val setupS = ArrayBuffer[Double]()
    var spark: org.apache.spark.sql.SparkSession = null
    // the first set-up runs from JVM start (cold), the others from a
    // stopped session (warm); each ends when the probe query has answered
    (1 to SetupRuns).foreach { i =>
      val t0 = Clock.nowUs()
      spark = Harness.session(a.tmp)
      require(SparkEntry.queries(Probe)(spark, a.data).collect().nonEmpty, "probe query returned no rows")
      setupS += (if (i == 1) Harness.sinceJvmStart() else (Clock.nowUs() - t0) / 1e6)
      if (i < SetupRuns) spark.stop()
    }
    LogHygiene.muteBoundedGlobalWindowWarn
    LogHygiene.muteBlockExistsWarn
    LogHygiene.muteTrivialEqualsWarn
    val meter = if (a.trace) Some(new SparkMeter) else None
    meter.foreach(spark.sparkContext.addSparkListener)
    Trace.enabled = a.trace
    val sc = spark.sparkContext
    val registry = SparkEntry.queries
    val names = if (a.queries.nonEmpty) a.queries else registry.keys.toSeq.sorted

    def runOne(name: String, pass: Int): Map[String, Any] = {
      val qid = s"query:$name#$pass"
      val Seq(bid, pid, eid) = Seq("build", "plan", "exec").map(k => s"$k:$name#$pass")
      sc.setJobGroup(name, name)
      var hash: String = null
      var err: String = null
      var phases = Map.empty[String, Long]
      val t0 = Clock.nowUs()
      var t1, t2 = t0
      try {
        sc.setLocalProperty(Harness.SpanProperty, bid)
        val df = Trace.span("operators.build", bid, qid)(registry(name)(spark, a.data))
        t1 = Clock.nowUs(); t2 = t1
        try {
          val forced = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
            .selectExpr("bit_xor(h)")
          if (a.trace) {
            sc.setLocalProperty(Harness.SpanProperty, pid)
            Trace.span("catalyst.plan", pid, qid)(forced.queryExecution.executedPlan)
            t2 = Clock.nowUs()
          }
          sc.setLocalProperty(Harness.SpanProperty, eid)
          val row = Trace.span("exec.run", eid, qid)(forced.collect().head)
          hash = if (row.isNullAt(0)) "null" else row.getLong(0).toString
          phases = forced.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
        } finally ColumnBridge.releaseAllCheckpoints(df)
      } catch {
        case e: Throwable =>
          err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      } finally {
        sc.setLocalProperty(Harness.SpanProperty, null)
        sc.clearJobGroup()
      }
      val t3 = Clock.nowUs()
      Trace.add(Span(qid, "registry.query", t0, t3, null))
      Map("query" -> name, "pass" -> pass, "start_us" -> t0, "end_us" -> t3,
        "wall_s" -> (t3 - t0) / 1e6, "build_s" -> (t1 - t0) / 1e6,
        "plan_s" -> (t2 - t1) / 1e6, "exec_s" -> (t3 - t2) / 1e6,
        "hash" -> hash, "error" -> err, "phases_ms" -> phases)
    }

    val runs = ArrayBuffer[Map[String, Any]]()
    names.foreach(n => runs += runOne(n, 0))
    Heap.collect()
    val w0 = Clock.nowUs()
    var pass = 0
    while (pass < MinTimedPasses || Clock.nowUs() - w0 < a.seconds * 1e6) {
      pass += 1
      names.foreach(n => runs += runOne(n, pass))
    }
    val w1 = Clock.nowUs()
    Heap.collect()
    val result = Map[String, Any](
      "kind" -> "registry", "workload" -> a.workload, "setup_s" -> setupS.toSeq,
      "window_us" -> Seq(w0, w1), "runs" -> runs.toSeq) ++
      meter.map(m => Map("spark" -> m.toJson)).getOrElse(Map.empty)
    spark.stop()
    result
  }
}
