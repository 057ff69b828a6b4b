package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark's JVM side. run.py builds the program and
  * this harness, launches one JVM per run and turns the raw record this
  * writes (`--out`) into metrics.
  *
  * {{{
  * perfbench.Harness --workload stream_backlog|registry
  *   --seed N --seconds S --trace 0|1 --tmp DIR --out FILE
  *   [--data SF_DIR --queries a,b,c]
  * }}}
  */
object Harness {
  /** Local property naming the harness span a Spark job runs under. */
  val SpanProperty = "perfbench.span"

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        tmp: String, out: String, data: String, queries: Seq[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("tmp"), need("out"), kv.getOrElse("data", ""),
      kv.get("queries").toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The session both the runner and the registry get: `local[nproc]`,
    * shuffle partitions = cores (graft.Bench's default), scratch space
    * inside the run directory. */
  def session(tmp: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Seconds from JVM start, the first set-up's origin. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Trace.enabled = false
    val result: Map[String, Any] = a.workload match {
      case "stream_backlog" => new StreamWorkload(a).run()
      case "registry" => new RegistryWorkload(a).run()
      case other => sys.error(s"unknown workload $other")
    }
    val body = result ++ Map(
      "spans" -> (if (a.trace) Trace.all.map(_.toJson) else Nil),
      "live_heap_mb" -> Heap.maxMb, "cores" -> cores)
    Files.write(Paths.get(a.out), Json.write(body).getBytes(UTF_8))
    // Spark and the bus leave non-daemon threads behind; the record is
    // written, so end the JVM here.
    System.exit(0)
  }
}
