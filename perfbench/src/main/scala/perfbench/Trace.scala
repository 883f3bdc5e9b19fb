package perfbench

import scala.collection.mutable

/** In-memory span recorder for the traced run. A span wraps one call into a
  * layer's public function, made from the benchmark's own code; spans of
  * one pipeline run share a run id, and nesting gives each span its parent.
  * Spans are written out once, when the benchmark ends. `onEnter` is told
  * the innermost open span's name whenever it changes (the benchmark tags
  * Spark jobs with it).
  */
final class Trace(onEnter: String => Unit) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var names = List.empty[String]
  private var nextId = 0
  private var run = -1

  def beginRun(r: Int): Unit = run = r

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    names = name :: names
    onEnter(name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, t0, System.nanoTime(), parent, run)
      stack = stack.tail
      names = names.tail
      onEnter(names.headOption.orNull)
    }
  }

  /** Self seconds of every span: its duration minus the time its direct
    * children cover (children run sequentially, so they never overlap).
    */
  def selfSeconds: Seq[(Span, Double)] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.toSeq.map(s => (s, (s.endNs - s.startNs - childNs(s.id)) / 1e9))
  }

  /** One JSON object per line: name, start/end ns, parent id, run id. */
  def write(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs - t0},""" +
        s""""end_ns":${s.endNs - t0},"parent":${s.parent},"run":${s.run}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Int, run: Int)
}
