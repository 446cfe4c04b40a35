package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling for corpus curation: keep a row iff
  * hash60(id) % 100 < rate(stratum). Reproducible across runs/engines
  * (unlike `df.sample`, which is seed- and partitioning-dependent), needs
  * no shuffle (pure filter, pushed past everything by Catalyst), and
  * supports per-stratum rates — the downsample-overrepresented-strata step
  * of a training-data mix.
  */
object Sampling {

  /** Per-stratum percentage sample. `rates` maps stratum value → keep %,
    * `defaultRate` applies to unlisted strata.
    */
  def stratified(df: DataFrame, idCol: Column, stratumCol: Column,
      rates: Map[String, Int], defaultRate: Int): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
      when(stratumCol === k, lit(r)).otherwise(acc)
    }
    df.filter(Cdm.hash60(idCol.cast("string")) % 100 < rate)
  }

  /** Mixture balancing (q81 at `temperature` 1, q98 at 2): every stratum
    * of `stratumCol` downsampled towards the rarest one's size by a
    * per-row hash compare — no shuffle beyond one tiny count agg.
    */
  def mixture(df: DataFrame, idCol: String, stratumCol: String,
      temperature: Int = 1): DataFrame =
    mixtureGate(df, idCol, stratumCol,
      stratumCounts(df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n"))),
      temperature)

  /** A (stratum, n) count frame on the driver — bounded metadata, one row
    * per stratum. A NULL stratum fails fast: it would tighten every named
    * stratum's threshold via n_min while its own rows never match an
    * equality compare. Keyed on the raw value, so a stratum literally
    * named "null" collides with nothing.
    */
  def stratumCounts(counted: DataFrame): Map[Any, Long] =
    counted.collect().map { r =>
      require(!r.isNullAt(0),
        "mixture stratum is NULL — assign or quarantine upstream before balancing")
      r.get(0) -> r.getLong(1)
    }.toMap

  /** Keep a row iff `pmod(hash60(id), 10⁶)` is below its stratum's
    * threshold, derived from `counts` in exact integer arithmetic:
    * `temperature` 1 keeps probability n_min/n_s (floor(n_min·10⁶ / n_s));
    * 2 keeps (n_min/n_s)^(1/2) (floor(sqrt(n_min·10¹² / n_s)) — one exact
    * integer division, then the correctly-rounded IEEE sqrt, the one float
    * op every engine rounds identically; a free exponent would ride
    * non-correctly-rounded pow). BigInt keeps the product exact at any
    * corpus size; the quotient is <= 10¹², so toDouble is lossless.
    */
  def mixtureGate(df: DataFrame, idCol: String, stratumCol: String,
      counts: Map[Any, Long], temperature: Int): DataFrame = {
    require(temperature == 1 || temperature == 2,
      s"temperature must be 1 (equalized) or 2 (sqrt damping), got $temperature")
    val nMin = counts.values.min
    def thr(n: Long): Long =
      if (temperature == 1) nMin * 1000000L / n
      else math.sqrt((BigInt(nMin) * BigInt(1000000000000L) / BigInt(n)).toDouble).toLong
    val threshCol = counts.foldLeft(lit(0L)) { case (acc, (s, n)) =>
      when(col(stratumCol) === lit(s), lit(thr(n))).otherwise(acc)
    }
    df.filter(pmod(Cdm.hash60(col(idCol).cast("string")), lit(1000000L)) < threshCol)
  }
}
