package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One closed-loop op. `call` makes the program calls and is the only
  * timed part; it returns the output check, which runs after the clock
  * stops and yields an error message on a wrong result. */
final class Op(val kind: String, val call: () => (() => Option[String]))

object Op {
  def apply(kind: String)(call: => (() => Option[String])): Op =
    new Op(kind, () => call)

  /** Helper for checks: `None` when every (what, got, want) agrees. */
  def expect(pairs: (String, Any, Any)*): Option[String] =
    pairs.collectFirst { case (w, g, e) if g != e => s"$w: got $g, want $e" }

  def near(what: String, got: Double, want: Double, tol: Double)
      : Option[String] =
    if (math.abs(got - want) <= tol) None
    else Some(f"$what: got $got%.9g, want $want%.9g (tol $tol%.3g)")
}

/** A workload: fixtures and warm-up (timed together as set-up), then
  * rounds of ops. Every round has the same op composition in a seeded
  * order with seeded parameters, so throughput compares across seeds. */
trait Workload {
  /** Nominal seconds of one round on a quiet 4-vCPU host. It turns
    * `--seconds` into a round count and nothing else: the count never
    * depends on how fast the program runs. */
  def roundS: Double
  def setup(): Unit
  def round(i: Int): Seq[Op]
  /** Untimed bookkeeping after each op (store walks). */
  def afterOp(t: Tracer): Unit = ()
  /** Untimed work after the timed phase (final gc, model checks). */
  def finish(): Seq[String] = Nil
  /** Workload-specific end-to-end figures: (name, value, unit). */
  def figures(r: Runner.Result): Seq[(String, Double, String)]
}

object Runner {
  /** The midpoints of `m` equal slices of [0, 1), in seeded order: a
    * round's ops of one kind cover their size range evenly with the same
    * sizes whatever the seed, which moves only their order (and the
    * places, bounds and values the workloads draw). */
  def strata(r: scala.util.Random, m: Int): Seq[Double] =
    r.shuffle((0 until m).map(j => (j + 0.5) / m))

  final case class Sample(kind: String, ms: Double, traced: Boolean,
      error: Option[String], round: Int)
  final case class Result(samples: Seq[Sample], rounds: Int) {
    def untraced: Seq[Sample] = samples.filterNot(_.traced)
    def failed: Int = samples.count(_.error.nonEmpty)

    /** Closed-loop throughput over the untraced rounds: completed ops
      * divided by the seconds spent inside the program's calls (the
      * benchmark's own checks and store walks are left out). */
    def opsPerS: Double = {
      val ok = untraced.filter(_.error.isEmpty)
      ok.size / (ok.map(_.ms).sum / 1e3)
    }

    /** Tracing cost: mean op latency in the traced rounds over that in
      * the untraced rounds, minus one. A traced run's leading untraced
      * round carries the warm-up drift and is left out; the traced
      * rounds bracket the untraced ones, so a linear drift cancels. */
    def overheadFrac: Double = {
      def mean(ss: Seq[Sample]) = ss.map(_.ms).sum / ss.size
      val t = samples.filter(s => s.traced && s.error.isEmpty)
      val u = untraced.filter(s => s.error.isEmpty && s.round > 0)
      if (t.isEmpty || u.isEmpty) Double.NaN else mean(t) / mean(u) - 1
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, samples). With fewer than 11 samples, the
    * maximum. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, Double.NaN, 0)
    else if (n < 11) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  /** A run's round count: `seconds` over the workload's nominal round
    * length, at least two. */
  def rounds(w: Workload, seconds: Double): Int =
    math.max(2, math.ceil(seconds / w.roundS).toInt)

  /** Run `rounds` rounds, or exactly `maxOps` ops when given (then every
    * op is traced: the repeatability check wants every op counted). The
    * amount of work is fixed by the arguments, never by elapsed time, so
    * two builds of the program measure the same ops. With `trace`, one
    * untraced round runs first; then traced and untraced rounds
    * alternate, starting and ending traced (U T U T for two or three
    * rounds), so a drift linear in time cancels in
    * [[Result.overheadFrac]]. */
  def run(w: Workload, t: Tracer, rounds: Int, trace: Boolean,
      maxOps: Option[Int]): Result = {
    val samples = ArrayBuffer.empty[Sample]
    val total = if (trace) 2 * (rounds / 2) + 2 else rounds
    var i = 0
    def more: Boolean = maxOps match {
      case Some(m) => samples.size < m
      case None => i < total
    }
    while (more) {
      val traced = trace && (maxOps.isDefined || i % 2 == 1)
      if (traced) t.enable() else t.disable()
      val it = w.round(i).iterator
      while (it.hasNext && (maxOps.isEmpty || more)) {
        val op = it.next()
        t.beginOp()
        val s = System.nanoTime()
        val check =
          try Right(t.opSpan(op.call()))
          catch { case NonFatal(e) => Left(e) }
        val ms = (System.nanoTime() - s) / 1e6
        t.endOp()
        val err = check match {
          case Left(e) => Some(s"${op.kind} failed: $e")
          case Right(c) =>
            try c().map(m => s"${op.kind}: $m")
            catch { case NonFatal(e) => Some(s"${op.kind} check: $e") }
        }
        w.afterOp(t)
        samples += Sample(op.kind, ms, traced, err, i)
      }
      i += 1
    }
    t.disable()
    Result(samples.toSeq, i)
  }

}
