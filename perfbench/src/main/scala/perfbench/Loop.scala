package perfbench

/** One attempted operation: its wall time, and the error if it threw. */
final case class Sample(seconds: Double, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

object Loop {

  /** Runs `op` once and times it. A throw is caught and recorded as a failed
    * sample, never dropped, so it counts against the run's error rate. */
  def attempt(op: => Unit): Sample = {
    val t0 = System.nanoTime()
    try { op; Sample(seconds(t0), None) }
    catch { case e: Throwable =>
      Sample(seconds(t0), Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"))
    }
  }

  /** Runs `round(i)` for i = 0, 1, ... until `budgetSeconds` have passed
    * since the first one started and at least `min` have run; the one
    * running at the deadline finishes. */
  def rounds[T](budgetSeconds: Double, min: Int)(round: Int => T): Vector[T] = {
    val deadline = System.nanoTime() + (budgetSeconds * 1e9).toLong
    val out = Vector.newBuilder[T]
    var i = 0
    while (i < min || System.nanoTime() < deadline) {
      out += round(i)
      i += 1
    }
    out.result()
  }

  def timed(budgetSeconds: Double, minOps: Int)(op: Int => Unit): Vector[Sample] =
    rounds(budgetSeconds, minOps)(i => attempt(op(i)))

  /** Like [[timed]], but each round runs an untraced `op(i)` and a
    * `traced(i)`, in turn first, so both see the same stretch of the run
    * (the engine still warms up from one operation to the next). */
  def timedPairs[T](budgetSeconds: Double, minPairs: Int)(op: Int => Unit)(
      traced: Int => T): Vector[(Sample, T)] =
    rounds(budgetSeconds, minPairs) { i =>
      if (i % 2 == 0) { val s = attempt(op(i)); s -> traced(i) }
      else { val t = traced(i); attempt(op(i)) -> t }
    }

  def seconds(sinceNanos: Long): Double = (System.nanoTime() - sinceNanos) / 1e9
}

object Stats {
  /** Median of a non-empty sample; the mean of the two middle values when
    * the count is even. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
