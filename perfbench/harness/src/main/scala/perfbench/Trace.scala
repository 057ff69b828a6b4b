package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One wall clock for every stamp the harness records: epoch microseconds
  * derived from `nanoTime`, so harness stamps, executor-side bus stamps and
  * Spark's epoch-millisecond event times share one axis. */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

/** A timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (null for roots); the layer is the name's first dotted
  * component; `items` counts what the call moved, where that applies. */
final case class Span(id: String, name: String, startUs: Long, endUs: Long, parent: String,
                      items: Long = -1L) {
  def toJson: Map[String, Any] =
    Map("id" -> id, "name" -> name, "start_us" -> startUs, "end_us" -> endUs, "parent" -> parent) ++
      (if (items >= 0) Map("items" -> items) else Map.empty)
}

/** In-memory span store, written out once when the run ends. Off unless
  * the run is traced, so untraced runs pay one volatile read per boundary. */
object Trace {
  @volatile var enabled: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()

  def newId(kind: String): String = s"$kind:${ids.incrementAndGet()}"

  def add(s: Span): Unit = if (enabled) spans.add(s)

  def span[A](name: String, id: String, parent: String)(f: => A): A =
    if (!enabled) f
    else {
      val t0 = Clock.nowUs()
      try f finally spans.add(Span(id, name, t0, Clock.nowUs(), parent))
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Minimal JSON writer for the harness's result file (maps, sequences,
  * strings, numbers, booleans). */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; put(sb, v); sb.toString }

  private def put(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => put(sb, x)
    case s: String => quote(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => put(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        quote(sb, k.toString); sb.append(':'); put(sb, x)
      }
      sb.append('}')
    case it: Iterable[_] =>
      sb.append('[')
      var first = true
      it.foreach { x => if (!first) sb.append(','); first = false; put(sb, x) }
      sb.append(']')
    case a: Array[_] => put(sb, a.toSeq)
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
