package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval. `kind` is `op` for a whole operation, `call` for a
  * public library call inside it, and `probe` for a prefix materialization
  * timed outside the op span. Spans of one operation share `opId`.
  */
final case class Span(
    id: Int,
    name: String,
    kind: String,
    opId: Int,
    parent: Int,
    startNs: Long,
    endNs: Long,
) {
  def durNs: Long = endNs - startNs
  def seconds: Double = durNs / 1e9
}

/** In-memory span recorder for the traced run. Single-threaded: the
  * benchmark's client is one closed-loop thread. Spans stay in memory and
  * are written out once, at the end of the run.
  */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String, opId: Int, kind: String = "call")(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += Span(id, name, kind, opId, parent, t0, t1)
    }
  }

  def all: Seq[Span] = spans.toSeq.sortBy(_.id)

  def toJson: String = all.map { s =>
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "kind" -> s.kind,
      "op" -> s.opId, "parent" -> s.parent, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs))
  }.mkString("[", ",\n", "]")
}

object Trace {

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover. Overlapping children count once, and a
    * child that leaks past its parent is clipped to the parent.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }
}
