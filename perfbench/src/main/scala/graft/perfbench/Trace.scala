package graft.perfbench

import scala.collection.mutable

final case class Span(id: Int, parent: Int, name: String, pass: Int,
                      startNs: Long, endNs: Long)

/** Spans around the benchmark's own calls into each layer. Every call is
  * timed; the span itself (name, start, end, parent, pass) is kept in memory
  * only when `enabled`, and written out with the run's result at the end.
  */
final class Trace(enabled: Boolean) {
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List(0) // 0 is the run itself
  private var nextId = 1

  /** Runs `body` under a span and returns its result with its wall seconds. */
  def timed[T](name: String, pass: Int = -1)(body: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = open.head
    open = id :: open
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      open = open.tail
      if (enabled) spans += Span(id, parent, name, pass, t0 - origin, System.nanoTime() - origin)
    }
  }

  def seconds(name: String, pass: Int = -1)(body: => Unit): Double =
    timed(name, pass)(body)._2

  def json: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"pass":${s.pass},""" +
      s""""start_s":${s.startNs / 1e9},"end_s":${s.endNs / 1e9}}"""
  }.mkString("[", ",", "]")
}

/** The few JSON shapes the result file needs. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def nums(m: Map[String, Double]): String = obj(m.toSeq.sortBy(_._1).map {
    case (k, v) => k -> num(v)
  })
}
