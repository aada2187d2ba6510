package perfbench

import java.util.Locale

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
  /** Full-precision JSON number; null for a missing measurement. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def fmt(v: Double): String =
    if (v.isNaN) "n/a" else String.format(Locale.ROOT, "%.4f", Double.box(v))
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of the samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Seeded draws for the op streams (never shared with the engine). */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def double(): Double = r.nextDouble()
  def long(lo: Long, hi: Long): Long = r.nextLong(lo, hi)
  def chance(p: Double): Boolean = r.nextDouble() < p
  /** Rank in [1, n] with P(rank) proportional to 1/rank. */
  def zipfRank(n: Long): Long =
    math.min(n, math.max(1L, math.floor(math.exp(r.nextDouble() * math.log(n.toDouble + 1))).toLong))
}

/** Files a finished query actually read, from its scan nodes. */
object Scans {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  def files(df: DataFrame): Long = count(df.queryExecution.executedPlan)

  private def count(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => count(a.executedPlan)
    case q: QueryStageExec => count(q.plan)
    case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => other.children.map(count).sum
  }
}
