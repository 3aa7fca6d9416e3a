package perfbench

/** Minimal JSON writer for the run's result file (maps, sequences,
  * numbers, strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** What a workload hands back: end-to-end metrics (untraced runs),
  * per-layer metrics (traced runs), correctness checks, and the
  * workload's own named figures, printed beside the result. */
final case class Outcome(
    endToEnd: Map[String, Double],
    perLayer: Map[String, Double],
    attempted: Long,
    failed: Long,
    checks: Seq[(String, Boolean, String)],
    report: Map[String, Any])

object Wait {
  /** Polls `cond` while the streaming query is alive; a failed or
    * stopped query, or the timeout, fails the run. */
  def until(q: org.apache.spark.sql.streaming.StreamingQuery, what: String,
      timeoutS: Double = 120)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond) {
      q.exception.foreach(e => throw e)
      require(q.isActive, s"$what: query stopped")
      require(System.nanoTime() < deadline, s"$what: timed out")
      java.util.concurrent.locks.LockSupport.parkNanos(200000L)
    }
  }
}

object Conc {
  /** Applies `f` to every element on `threads` threads, in input order;
    * the first failure is rethrown after all have settled. */
  def map[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(x)
      }))
      val settled = futures.map(fu => scala.util.Try(fu.get()))
      settled.map(_.get)
    } finally pool.shutdown()
  }
  def foreach[A](xs: Seq[A], threads: Int)(f: A => Unit): Unit = { map(xs, threads)(f); () }
}
