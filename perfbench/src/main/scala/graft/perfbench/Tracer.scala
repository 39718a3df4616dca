package graft.perfbench

import scala.collection.mutable

/** One traced interval. `layer` names the module the span's work
  * belongs to ("" for structural spans such as a whole pass or an app
  * stage inside a layer); `files` counts files that appeared under the
  * watched directories between the previous listing and this span's
  * end. Times are epoch milliseconds, comparable with Spark's task and
  * job times. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Double, end: Double, files: Int)

/** Spans kept in memory and written out when the run ends. Disabled, it
  * records nothing and lists no files, so untraced passes pay only the
  * closure calls. */
final class Tracer(watch: () => Seq[java.io.File]) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, String, Double)]
  private var nextId = 0
  private var seen = Set.empty[String]
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()

  def depth: Int = stack.size

  def now(): Double = ms0 + (System.nanoTime() - ns0) / 1e6

  private def newFiles(): Int = {
    def walk(f: java.io.File): Iterator[String] =
      if (f.isDirectory)
        Option(f.listFiles()).iterator.flatten.flatMap(walk)
      else Iterator(f.getPath)
    val cur = watch().iterator.flatMap(walk).toSet
    val n = (cur -- seen).size
    seen = cur
    n
  }

  /** Starts the file baseline for a pass. */
  def reset(): Unit = if (enabled) { seen = Set.empty; newFiles(); () }

  def open(name: String, layer: String = ""): Unit = if (enabled) {
    stack.push((nextId, name, layer, now())); nextId += 1
  }

  def close(): Unit = if (enabled) {
    val (id, name, layer, start) = stack.pop()
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    spans += Span(id, parent, name, layer, start, now(), newFiles())
  }

  /** Closes the open span and opens a sibling at the same instant — a
    * layer boundary inside one call into the program. */
  def switch(name: String, layer: String): Unit = { close(); open(name, layer) }

  def span[T](name: String, layer: String = "")(f: => T): T = {
    open(name, layer)
    try f finally close()
  }

  /** A finished app stage reported through an `onStage` callback: a
    * child of the open span that ended now and lasted `seconds`. */
  def stage(name: String, seconds: Double): Unit = if (enabled) {
    val end = now()
    spans += Span(nextId, stack.headOption.map(_._1).getOrElse(-1), name,
      "", end - seconds * 1000.0, end, newFiles())
    nextId += 1
  }
}
