package graft.perfbench

import scala.collection.mutable

/** In-memory span recorder. A span has a name, start, end (epoch
  * nanoseconds), the span open when it began (its parent) and the run
  * id; spans are only written out when the run ends. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Option[Long])

final class Spans(val runId: String) {
  private val epochBaseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Long]
  private var nextId = 0L

  def now(): Long = epochBaseNs + System.nanoTime()

  def current: Option[Long] = synchronized(open.headOption)

  def apply[A](name: String)(body: => A): A = {
    val (id, parent) = synchronized {
      nextId += 1
      val p = open.headOption
      open = nextId :: open
      (nextId, p)
    }
    val start = now()
    try body
    finally synchronized {
      open = open.tail
      done += Span(id, name, start, now(), parent)
    }
  }

  /** Records a span measured elsewhere (a Spark job, from its events). */
  def add(name: String, startNs: Long, endNs: Long, parent: Option[Long]): Unit =
    synchronized {
      nextId += 1
      done += Span(nextId, name, startNs, endNs, parent)
    }

  def toJson: String = synchronized {
    done.sortBy(_.startNs).map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent.getOrElse(null),
        "run" -> runId)
    }.mkString("[\n", ",\n", "\n]")
  }
}

/** Minimal JSON rendering for the benchmark's raw output. */
object Json {
  final case class Raw(json: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
