package graft.sample

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.QuotingUtils.quoteIdentifier
import org.apache.spark.sql.functions._

/** Column value sampling (reference: sampler.py:85-220, athena.py:97-254).
  *
  * The reference's 3-tier ladder (TABLESAMPLE pct-ramp → ORDER BY rand() →
  * LIMIT) exists because it cannot trust the remote engine's dialect. Owning
  * the engine collapses the ladder into one declarative plan; three modes are
  * kept because they trade determinism vs scan cost differently:
  *
  *  - Rand:  `orderBy(rand(seed)).limit(n)` — planned as TakeOrderedAndProject
  *    (true distributed top-k, no full sort), the reference's tier-②.
  *  - Sample: `df.sample(fraction, seed)` + limit — the reference's tier-①
  *    TABLESAMPLE, cheapest scan (row-skip at source).
  *  - Hash:  md5-prefix filter — fully deterministic across engines and
  *    re-runs (used by the oracle-checked q15_sample_hash).
  *
  * All modes apply the reference's implicit predicates: IS NOT NULL (F1),
  * optional user `where` (F2), non-empty (F6), then distinct (F5) before the
  * limit. `column` is taken literally: `a.b` is not field `b` of struct `a`.
  */
object Sampler {

  sealed trait Mode
  case class Rand(seed: Long = 42L) extends Mode
  case class Fraction(fraction: Double, seed: Long = 42L) extends Mode
  case class HashPrefix(hexPrefixes: Seq[String] = Seq("0", "1")) extends Mode

  def sampleColumn(df: DataFrame, column: String, n: Int,
                   where: Option[String] = None,
                   mode: Mode = Rand()): DataFrame = {
    val c = col(quoteIdentifier(column))
    val base0 = df.filter(c.isNotNull && length(c.cast("string")) > 0)
    val base = where.fold(base0)(w => base0.filter(expr(w)))
    val picked = mode match {
      case Rand(seed) =>
        base.select(c).orderBy(rand(seed)).limit(math.max(2 * n, 10))
      case Fraction(f, seed) =>
        base.select(c).sample(withReplacement = false, f, seed).limit(math.max(2 * n, 10))
      case HashPrefix(prefixes) =>
        base.select(c).filter(substring(md5(c.cast("string")), 1, 1).isin(prefixes: _*))
    }
    picked.distinct().limit(n)
  }

  /** Per-column hit rate (A10): fraction of sampled values matching a
    * predicate, e.g. a detector regex. */
  def hitRate(samples: DataFrame, valueCol: String, hit: Column): DataFrame =
    samples.agg(
      count(lit(1)).as("n"),
      round(avg(when(hit, 1.0).otherwise(0.0)), 6).as("hit_rate"))
}
