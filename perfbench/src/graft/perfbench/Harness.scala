package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed operation of a workload. `write` selects the latency
  * distribution it joins; `failed` is set when the call threw or when a
  * check of its output against the benchmark's own truth failed. */
final class OpRecord(val id: Int, val kind: String, val write: Boolean,
                     val startMs: Long, val endMs: Long, val nanos: Long) {
  var failed: Boolean = false
  var reason: String = ""
  def ms: Double = nanos / 1e6
}

/** A traced interval: name, start, end and the span that caused it.
  * Spans of one operation share `opId` (-1 outside operations). */
final case class Span(id: Int, parent: Int, opId: Int, name: String,
                      startNs: Long, endNs: Long)

/** Records operations and, in a traced run, spans and counters. Only
  * operations run while `timed` is set are kept: warm-up and set-up
  * operations run through the same code but leave no record. */
final class Recorder(val trace: Boolean) {
  var timed = false
  val ops = ArrayBuffer.empty[OpRecord]
  val spans = ArrayBuffer.empty[Span]
  /** Per-op-type counter samples: (counter, op kind) -> values. */
  val counters = scala.collection.mutable.LinkedHashMap
    .empty[(String, String), ArrayBuffer[Double]]
  /** Time the timed phase spent in checks and bookkeeping between
    * operations, which ops_per_s leaves out. */
  var offOpNanos = 0L
  val unattributedFailures = ArrayBuffer.empty[String]
  /** Called after every timed op with its kind (a traced run samples
    * storage memory here). */
  var onOpEnd: String => Unit = _ => ()

  private var nextSpan = 0
  private var nextOp = 0
  private var stack: List[Int] = Nil
  private var currentOp = -1
  private var currentKind = ""

  /** Run one operation: timed, failures logged and counted, the run
    * goes on. Returns the op record (None when not timed) and the
    * result (None when it threw). */
  def op[T](kind: String, write: Boolean)(body: => T): (Option[OpRecord], Option[T]) = {
    val id = nextOp; nextOp += 1
    currentOp = id; currentKind = kind
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try {
      Some(span(s"op.$kind")(body))
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] op $kind failed: $e")
        None
    }
    val t1 = System.nanoTime()
    val rec = new OpRecord(id, kind, write, wall0, System.currentTimeMillis(), t1 - t0)
    if (res.isEmpty) { rec.failed = true; rec.reason = "threw" }
    if (timed) onOpEnd(kind)
    currentOp = -1
    if (timed) { ops += rec; (Some(rec), res) } else {
      if (res.isEmpty) System.err.println(s"[perfbench] warm-up op $kind failed")
      (None, res)
    }
  }

  /** Mark an operation failed because its output disagreed with the
    * truth; a warm-up op (no record) is logged only. */
  def fail(rec: Option[OpRecord], kind: String, why: String): Unit = {
    System.err.println(s"[perfbench] check failed for $kind: $why")
    rec.foreach { r => r.failed = true; r.reason = why }
  }

  /** Check or bookkeeping outside any operation: in the timed phase
    * its time counts as off-op time. */
  def offOp[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally if (timed) offOpNanos += System.nanoTime() - t0
  }

  def span[T](name: String)(body: => T): T =
    if (!trace) body
    else {
      val id = nextSpan; nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        if (timed) spans += Span(id, parent, currentOp, name, t0, System.nanoTime())
      }
    }

  /** Median of every sample of one counter, over all op kinds. */
  def counterMedian(name: String): Double =
    Stats.median(counters.collect { case ((n, _), v) if n == name => v.toSeq }.flatten.toSeq)

  /** Add a counter sample for the current (or a given) op kind. */
  def count(name: String, v: Double, kind: String = null,
            always: Boolean = false): Unit =
    if (trace && (timed || always))
      counters.getOrElseUpdate((name, Option(kind).getOrElse(currentKind)),
        ArrayBuffer.empty[Double]) += v
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the sorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
