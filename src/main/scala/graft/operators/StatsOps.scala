package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution statistics for corpus QC (doc-length / duration / score
  * percentiles per group — the inputs to quality-gate thresholds like
  * the reference's segment-duration band and WER cut).
  *
  * Exact percentiles normally force a per-group sort of every row. This
  * implementation reduces first: groupBy (group, value) with map-side
  * combine collapses the data to its VALUE HISTOGRAM (distinct values
  * per group — for integer-ish metrics like word counts, orders of
  * magnitude smaller than the rows), then one window over the tiny
  * histogram computes cumulative frequencies, and the q-th percentile
  * is the smallest value whose cumulative frequency reaches
  * ceil(q * n) — the classic discrete (type-1) quantile, replayable
  * as plain SQL in any engine. No full-table sort ever happens; the
  * only per-row work is the initial combine.
  */
object StatsOps {

  /** One row per group: `p<q>` columns hold the exact discrete
    * q-percentile of `valueCol` (e.g. qs = Seq(0.5, 0.9, 0.99) →
    * p50, p90, p99). */
  def exactPercentiles(
      df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1))
    // Null policy: null values are excluded from the distribution AND from
    // __n. Without the filter the two engines disagree silently — Spark's
    // window orderBy sorts NULLS FIRST (inflating every cumulative count)
    // while DuckDB sorts NULLS LAST — so the contract is explicit:
    // percentiles are over non-null measurements only.
    val freq = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("__f"))
    // Totals come from the histogram, NOT a second scan of df — the
    // input's rows are touched exactly once (the combine above); this
    // aggregation runs over histogram-sized data.
    val totals = freq.groupBy(col(groupCol)).agg(sum(col("__f")).as("__n"))
    val cum = freq
      .withColumn("__cf", sum(col("__f")).over(
        Window.partitionBy(groupCol).orderBy(valueCol)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(totals), Seq(groupCol))
    val picks = qs.map { q =>
      // setScale before strip: q*100 in double arithmetic yields values
      // like 99.00000000000001, which would leak into the column name.
      val label = "p" + BigDecimal(q * 100).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .underlying.stripTrailingZeros.toPlainString.replace(".", "_")
      min(when(col("__cf") >= ceil(col("__n") * q), col(valueCol))).as(label)
    }
    cum.groupBy(col(groupCol)).agg(picks.head, picks.tail: _*)
  }

  /** Grouped mean / variance / skewness / kurtosis over an INTEGRAL
    * measure, exact and engine-portable: one map-side-combined pass
    * accumulates the raw power sums s1..s4 in DECIMAL(38,0) (HUGEINT on
    * a DuckDB oracle), the central-moment numerators are the standard
    * integer identities
    *   N2 = n·s2 − s1²            (m2 = N2/n²)
    *   N3 = n²·s3 − 3n·s1·s2 + 2·s1³   (m3 = N3/n³)
    *   N4 = n³·s4 − 4n²·s1·s3 + 6n·s1²·s2 − 3·s1⁴ (m4 = N4/n⁴),
    * and the reported metrics are
    *   mean_ppm = ⌊10⁶·s1/n⌋, var_ppm = ⌊10⁶·N2/n²⌋ (integer div),
    *   skew_ppm = ⌊10⁶·N3 / (N2·√N2)⌋, kurt_ppm = ⌊10⁶·n·N4/N2²⌋.
    * Skew/kurt pass through DOUBLE, but only on EXACT integer inputs
    * with a fixed op sequence (convert, multiply, sqrt, divide, floor —
    * all IEEE-754-determined; no pow(), whose libm results vary), so
    * any engine replays them bit-identically.
    *
    * Exactness bound: the N4 identity needs n³·s4 < 10³⁸, i.e. with
    * |v| ≤ V roughly n < (10³⁸/V⁴)^(1/4)·n^(-... ) — for V = 50 that is
    * n ≲ 3·10⁸ rows per group. Past that, shift values by a per-group
    * pivot first (v − v̄ keeps the identities, shrinks s3/s4) or switch
    * to Chan-style streamed central-moment merging, which trades
    * portability (float merge order) for unbounded n. The raw-power-sum
    * form is chosen because it is the one the oracle can replay
    * verbatim.
    */
  def momentsFp(
      df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    // Two-stage VALUE-HISTOGRAM form. DECIMAL(38,0)
    // aggregation buffers are not UnsafeRow-mutable, so a direct
    // decimal-sum agg silently plans SortAggregate and SORTS EVERY DATA
    // ROW by the group key (the a31_column_profile trap — measured
    // 1.7 s at sf0.1). The measure is integral and |v| ≤ ~55 000 (the
    // n³·s4 < 10³⁸ caveat above), so its value domain is bounded:
    // stage 1 is a map-side-combined LONG-only HashAggregate keyed on
    // (group, value) — histogram-sized output regardless of row count —
    // and only stage 2's Σ c·vᵏ lifts to DECIMAL, sort-aggregating
    // nothing bigger than the histogram. Measured: 1.7 → 0.7 s, same
    // oracle-exact integers (the two groupings sum identically —
    // addition is associative).
    val v = col("__v")
    val c = col("__c").cast("decimal(38,0)")
    val hist = df.filter(col(valueCol).isNotNull)
      .withColumn("__v", col(valueCol).cast("long"))
      .groupBy((groupCols.map(col) :+ v): _*)
      .agg(count(lit(1)).as("__c"))
    val sums = hist
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum(c).as("n"),
        sum(c * v).as("s1"),
        sum(c * v * v).as("s2"),
        sum(c * v * v * v).as("s3"),
        sum(c * v * v * v * v).as("s4"))
    sums.select(
      groupCols.map(col) ++ Seq(
        col("n").cast("bigint").as("n"),
        expr("(s1 * 1000000) div n").cast("bigint").as("mean_ppm"),
        expr("((n * s2 - s1 * s1) * 1000000) div (n * n)").cast("bigint")
          .as("var_ppm"),
        expr(
          """CAST(floor((1000000.0 * CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS DOUBLE)) /
            |  (CAST(n * s2 - s1 * s1 AS DOUBLE) * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)))) AS BIGINT)"""
            .stripMargin.replaceAll("\\s+", " ")).as("skew_ppm"),
        expr(
          """CAST(floor((1000000.0 * CAST(n AS DOUBLE) * CAST(n * n * n * s4 - 4 * n * n * s1 * s3 + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS DOUBLE)) /
            |  (CAST(n * s2 - s1 * s1 AS DOUBLE) * CAST(n * s2 - s1 * s1 AS DOUBLE))) AS BIGINT)"""
            .stripMargin.replaceAll("\\s+", " ")).as("kurt_ppm")): _*)
  }
}
