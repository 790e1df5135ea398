package perfbench

import java.io.File

/** One timed batch: its wall time, how many operations it attempted,
  * what failed its checks, and counts read at the batch boundary.
  */
final case class BatchResult(seconds: Double, ops: Int, failures: Seq[String],
                             extra: Map[String, Double]) {
  /** Operations that failed. An ETL batch is one operation; a query
    * pass is one per query, and a failure names its query first.
    */
  def failed: Int =
    if (ops == 1) math.min(1, failures.size)
    else failures.map(_.takeWhile(_ != ' ')).distinct.size
}

trait Workload {
  /** Build the inputs and everything a batch reads; timed as set-up. */
  def setup(): Unit
  /** Restore the inputs a batch consumes; not timed. */
  def reset(): Unit
  /** Run and check one batch, traced when a tracer is given. */
  def batch(t: Option[Tracer]): BatchResult
  /** Workload-specific layer metrics of one traced batch. */
  def layers(acct: BatchAccount, b: BatchResult): Seq[(String, Double)]
  /** Layer metrics of set-up (medians over the set-up repeats). */
  def setupLayers: Seq[(String, Double)] = Nil
  /** Accounting identities of a traced batch that do not hold. */
  def accounting(acct: BatchAccount): Seq[String] = Nil
  def close(): Unit
}

object Workload {
  /** Data files (`part-*`) anywhere under `dir`. */
  def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith("part-")) Seq(f)
      else Nil
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile with at least ten samples beyond it, if the
    * sample has that many: (percentile, value).
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.size
    if (n < 11) None
    else {
      val p = ((n - 10) * 100) / n
      Some(p -> s(math.min(n - 1, math.ceil(p / 100.0 * n).toInt - 1).max(0)))
    }
  }
}
