package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder. A span is one call into a layer (the module
  * whose public function the benchmark calls); spans nest through a stack,
  * so each carries its parent. Nothing is written until [[Tracer.writeAll]].
  *
  * Disabled tracers record nothing and cost one branch per call.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private var nextId = 0

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Adds spans observed elsewhere (epoch-ms start and end, as Spark's
    * listener events carry them) as children of the last span named
    * `parent`, clipped to it.
    */
  def attach(parent: String, children: Seq[(String, Long, Long)]): Unit =
    if (enabled) spans.findLast(_.name == parent).foreach { p =>
      children.foreach { case (name, startMs, endMs) =>
        val s = math.max(p.startNs, startMs * 1000000L + epochToNano)
        val e = math.min(p.endNs, endMs * 1000000L + epochToNano)
        if (e > s) { spans += Span(nextId, p.id, name, s, e); nextId += 1 }
      }
    }

  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Sum of span durations by name. */
  def totals: Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.seconds).sum }

  def count(name: String): Int = spans.count(_.name == name)

  /** Self time per layer: each span's duration minus the part of it its
    * direct children cover (children never overlap: calls are sequential,
    * and so are the SQL executions of one driver thread).
    */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum
    }
  }

  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString,
      "parent" -> s.parent.toString, "name" -> Json.str(s.name),
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    /** The module a span's call went into: the name's first component. */
    def layer: String = name.takeWhile(_ != '.')
    def seconds: Double = (endNs - startNs) / 1e9
  }

  val off = new Tracer(false, "")

  /** Writes the spans of every tracer, one JSON object per line. */
  def writeAll(tracers: Seq[Tracer], p: Path): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, tracers.flatMap(_.jsonLines).mkString("", "\n", "\n"))
  }
}
