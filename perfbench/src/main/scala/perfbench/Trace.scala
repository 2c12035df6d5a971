package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans recorded by the benchmark around its calls into the
  * engine's modules. A span has a name, start and end (ns), the span
  * that caused it, and the workload pass it belongs to. Recording is
  * off unless the run is traced; an untraced `span` only runs its body.
  */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, pass: Int,
      startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  @volatile var enabled = false
  var pass = 0
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, parent, pass, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Duration minus the part of the interval its child spans cover. */
  def selfNs(s: Span, children: Map[Int, Seq[Span]]): Long = {
    val kids = children.getOrElse(s.id, Nil).sortBy(_.startNs)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { k =>
      val ks = math.max(k.startNs, s.startNs)
      val ke = math.min(k.endNs, s.endNs)
      if (ks > curE) {
        if (curE > curS) covered += curE - curS
        curS = ks; curE = ke
      } else curE = math.max(curE, ke)
    }
    if (curE > curS) covered += curE - curS
    s.durNs - covered
  }

  /** name -> (self seconds, span count), summed over the given passes. */
  def selfByName(passes: Set[Int]): Map[String, (Double, Int)] = {
    val children = spans.groupBy(_.parent).map { case (k, v) => k -> v.toSeq }
    spans.filter(s => passes.contains(s.pass)).groupBy(_.name).map {
      case (n, ss) => n -> (ss.map(selfNs(_, children)).sum / 1e9, ss.size)
    }
  }

  /** name -> wall seconds, summed over the given passes. */
  def wallByName(passes: Set[Int]): Map[String, Double] =
    spans.filter(s => passes.contains(s.pass)).groupBy(_.name).map {
      case (n, ss) => n -> ss.map(_.durNs).sum / 1e9
    }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""pass":${s.pass},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
