package graft.queries

import graft.Checkpoints.CheckpointSyntax

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{PowerIterOps, RankOps}

/** Beyond-reference operators (SURVEY §2.11), signal/shape
  * family: dominant-direction power iteration over embeddings, CUSUM
  * change detection over event streams, the Gini concentration
  * coefficient, and Jensen–Shannon drift — each oracle replaying the
  * exact integer / fixed-IEEE arithmetic (a17_moments discipline).
  */
object SignalQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private def lnFp(x: String): String =
    s"CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST($x AS DOUBLE))) AS BIGINT)"

  // ---------------------------------------------------- emb_power_iter

  /** EMB-PI: dominant principal direction of the embedding collection
    * after 2 power-iteration rounds (PowerIterOps — covariance-free
    * C·v passes; micro-int quantization; fixed-IEEE renormalization).
    * The oracle unrolls both rounds with the identical op sequence:
    * integer dot/component sums in HUGEINT, ascending-dimension
    * left-fold for the norm, floor(x / nrm * 1e6).
    *
    * Cost (JobCensus, sf0.1): 11 driver jobs, Σ task-time ~0.7 s of
    * a 1.56 s wall — the per-round collect is dim-bounded model state
    * (64 longs, the KMeansOps contract) and every stage is small; the
    * wall is jobs × the host's planning floor on an iterative
    * driver-model loop, not plan shape. */
  private val piDim = 64
  private val piIters = 2
  private val pi: Q = (s, dir) =>
    PowerIterOps.dominantDirection(
        t(s, dir, "embeddings"), "embedding", dim = piDim, iters = piIters)
      .orderBy("dim_j")
  /** The unrolled two-round power-iteration CTE chain (ends at v2),
    * shared by the direction report and the residual query. */
  private val piWith =
    s"""xq AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS xq
       |  FROM embeddings),
       |r1 AS (SELECT xq, list_reduce(xq, (a, b) -> a + b) AS s FROM xq),
       |c1 AS (
       |  SELECT j - 1 AS j, SUM(CAST(xq[j] AS HUGEINT) * s) AS c
       |  FROM r1, range(1, ${piDim + 1}) t(j) GROUP BY j - 1),
       |f1 AS (SELECT list(CAST(c AS DOUBLE) ORDER BY j) AS cd FROM c1),
       |n1 AS (SELECT cd, sqrt(list_reduce(list_transform(cd, x -> x * x),
       |  (a, b) -> a + b)) AS nrm FROM f1),
       |v1 AS (SELECT list_transform(cd,
       |  x -> CAST(floor(x / nrm * 1000000.0) AS BIGINT)) AS v FROM n1),
       |r2 AS (
       |  SELECT xq, list_reduce(list_transform(range(1, ${piDim + 1}),
       |    j -> xq[j] * v[j]), (a, b) -> a + b) AS s
       |  FROM xq, v1),
       |c2 AS (
       |  SELECT j - 1 AS j, SUM(CAST(xq[j] AS HUGEINT) * s) AS c
       |  FROM r2, range(1, ${piDim + 1}) t(j) GROUP BY j - 1),
       |f2 AS (SELECT list(CAST(c AS DOUBLE) ORDER BY j) AS cd FROM c2),
       |n2 AS (SELECT cd, sqrt(list_reduce(list_transform(cd, x -> x * x),
       |  (a, b) -> a + b)) AS nrm FROM f2),
       |v2 AS (SELECT list_transform(cd,
       |  x -> CAST(floor(x / nrm * 1000000.0) AS BIGINT)) AS v FROM n2)""".stripMargin

  private val piSql =
    s"""WITH $piWith
       |SELECT CAST(j AS INT) AS dim_j, v[j + 1] AS v_fp
       |FROM v2, range($piDim) t(j) ORDER BY dim_j""".stripMargin

  // -------------------------------------------------------- w13_cusum

  /** W13: per-user one-sided CUSUM change detection over event values —
    * the sequential drift alarm (feed abuse, metric regressions) that
    * complements w12's cadence stats with a MAGNITUDE signal. The
    * recurrence S_i = max(0, S_{i-1} + y_i) is deliberately NOT
    * computed as a recurrence: by the reflection identity
    * S_i = cum_i − min(0, min_{j≤i} cum_j), so the whole detector is
    * two stacked windows over ONE per-user (ts, event_id) sort — the
    * w11 exchange-sharing shape, no driver loop, no UDAF state.
    * Values quantize to cents; the drift allowance k is the corpus
    * mean (sum div count — nonneg, identical truncation) and the alarm
    * threshold h = 5k is a fixture parameter of the registered query,
    * both riding a 1-row broadcast. Output: per-user event count, max
    * CUSUM excursion, and alarm count. */
  private val cusumHMult = 5
  private val w13: Q = (s, dir) => {
    val ev = Tables.events(s, dir).filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tu"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v_fp"))
    val k = ev.agg(expr("sum(v_fp) div count(1)").as("k_fp"))
    val w = Window.partitionBy("user_id").orderBy(col("tu"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.crossJoin(broadcast(k))
      .withColumn("cum", sum(col("v_fp") - col("k_fp")).over(w))
      .withColumn("s_fp", col("cum") - least(min(col("cum")).over(w), lit(0L)))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(col("s_fp")).as("max_s_fp"),
        sum(when(col("s_fp") >= lit(cusumHMult.toLong) * col("k_fp"), 1L)
          .otherwise(0L)).as("n_alarms"))
      .orderBy("user_id")
  }
  private val w13Sql =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS tu,
       |    CAST(floor(value * 100) AS BIGINT) AS v_fp
       |  FROM events WHERE value IS NOT NULL),
       |k AS (SELECT SUM(v_fp) // COUNT(*) AS k_fp FROM ev),
       |c AS (
       |  SELECT user_id, k_fp, tu, event_id,
       |    SUM(v_fp - k_fp) OVER (PARTITION BY user_id ORDER BY tu, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM ev, k),
       |sr AS (
       |  SELECT user_id, k_fp,
       |    cum - least(MIN(cum) OVER (PARTITION BY user_id ORDER BY tu, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS s_fp
       |  FROM c)
       |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(MAX(s_fp) AS BIGINT) AS max_s_fp,
       |  CAST(SUM(CASE WHEN s_fp >= $cusumHMult * k_fp THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_alarms
       |FROM sr GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------------- a20_gini

  /** A20: Gini concentration of document length — the inequality
    * scalar a curation pass tracks (is the corpus a few giant docs or
    * an even spread?). Closed form over the ascending (n_chars,
    * doc_id) total order:
    *   gini_ppm = (2·Σ rn·x − (n+1)·Σx)·10⁶ div (n·Σx),
    * nonnegative by the Chebyshev sum inequality, so truncation
    * agrees engine-to-engine. The rank is RankOps' distributed global
    * row number (range exchange + in-partition offsets — never a
    * single-task ORDER BY window); products lift to DECIMAL(38,0) ≙
    * HUGEINT (rn·x is quadratic-scale). */
  private val a20: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    RankOps.globalRowNumber(
        docs, Seq(col("n_chars").asc, col("doc_id").asc), "rn")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars").cast("decimal(38,0)")).as("sx"),
        sum((col("rn").cast("decimal(38,0)") * col("n_chars"))).as("srx"))
      .select(expr("CAST(n AS BIGINT)").as("n_docs"),
        expr("CAST(sx AS BIGINT)").as("sum_chars"),
        expr("CAST(((2 * srx - (n + 1) * sx) * 1000000) div (n * sx) AS BIGINT)")
          .as("gini_ppm"))
  }
  private val a20Sql =
    """WITH r AS (
      |  SELECT CAST(n_chars AS HUGEINT) AS x,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS HUGEINT) AS rn
      |  FROM documents)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(x) AS BIGINT) AS sum_chars,
      |  CAST(((2 * SUM(rn * x) - (COUNT(*) + 1) * SUM(x)) * 1000000) //
      |    (COUNT(*) * SUM(x)) AS BIGINT) AS gini_ppm
      |FROM r""".stripMargin

  // ------------------------------------------------------ t_jsd_drift

  /** T-JSD: Jensen–Shannon divergence between the en-slice and
    * rest-of-corpus term distributions — the SYMMETRIC, bounded
    * companion to t_kl_drift (same add-1 smoothing over the joint
    * vocabulary). With p = (ca+1)/Da, q = (cb+1)/Db, m = (p+q)/2:
    *   jsd_ppm = Σ (ca+1)·(lnq(2(ca+1)Db) − lnq((ca+1)Db + (cb+1)Da)) div (2Da)
    *           + Σ (cb+1)·(lnq(2(cb+1)Da) − lnq(…)) div (2Db)
    * — every ln lands on an integer PRODUCT (lifted to DECIMAL/HUGEINT
    * before the multiply, then cast once to double inside lnq — the
    * identical rounding both engines apply), so the sums are exact
    * integer math. Identical slices give EXACTLY zero (each term's two
    * ln arguments coincide). Each half-sum is Da·KL(P‖M) ≥ 0
    * mathematically; quantization can push a near-zero sum a few
    * micro-units negative, where Spark div truncates but DuckDB //
    * floors — greatest(·, 0) clamps both engines to the same value
    * (and to the true limit). The vocab-bounded per-term table is
    * localCheckpointed once (a19's treatment): totals AND the scored
    * pass read it, and re-deriving it would re-run the corpus
    * tokenize. */
  private val jsd: Q = (s, dir) => {
    import graft.queries.{RetrievalQueries => RQ}
    val tok = RQ.tokenTf(Tables.fanOut(t(s, dir, "documents")), "lang")
    val perTerm = tok.groupBy("term").agg(
        sum(when(col("lang") === lit("en"), col("tf")).otherwise(lit(0L))).as("ca"),
        sum(when(col("lang") =!= lit("en"), col("tf")).otherwise(lit(0L))).as("cb"))
      .checkpointed()
    val tot = perTerm.agg(count(lit(1)).as("nt"),
      sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    perTerm.crossJoin(broadcast(tot))
      .select(col("ca"), col("cb"), col("nt"), col("na"), col("nb"),
        expr("CAST(na + nt AS DECIMAL(38,0))").as("da"),
        expr("CAST(nb + nt AS DECIMAL(38,0))").as("db"))
      .select(col("nt"), col("na"), col("nb"), col("da"), col("db"),
        expr(s"CAST(ca + 1 AS DECIMAL(38,0)) * (${lnFp("2 * CAST(ca + 1 AS DECIMAL(38,0)) * db")} - ${lnFp("CAST(ca + 1 AS DECIMAL(38,0)) * db + CAST(cb + 1 AS DECIMAL(38,0)) * da")})")
          .as("sa_t"),
        expr(s"CAST(cb + 1 AS DECIMAL(38,0)) * (${lnFp("2 * CAST(cb + 1 AS DECIMAL(38,0)) * da")} - ${lnFp("CAST(ca + 1 AS DECIMAL(38,0)) * db + CAST(cb + 1 AS DECIMAL(38,0)) * da")})")
          .as("sb_t"))
      .groupBy()
      .agg(min(col("nt")).as("n_terms"), min(col("na")).as("na"),
        min(col("nb")).as("nb"), min(col("da")).as("da"),
        min(col("db")).as("db"),
        sum(col("sa_t")).as("sa"), sum(col("sb_t")).as("sb"))
      .select(col("n_terms"), col("na"), col("nb"),
        expr("CAST(greatest(sa, CAST(0 AS DECIMAL(38,0))) div (2 * da) + " +
          "greatest(sb, CAST(0 AS DECIMAL(38,0))) div (2 * db) AS BIGINT)")
          .as("jsd_ppm"))
  }
  private val jsdSql =
    s"""WITH tok AS (
       |  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
       |  FROM documents),
       |pt AS (
       |  SELECT term,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM tok GROUP BY term),
       |tt AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS nt, CAST(SUM(ca) AS BIGINT) AS na,
       |    CAST(SUM(cb) AS BIGINT) AS nb,
       |    CAST(SUM(ca) + COUNT(*) AS HUGEINT) AS da,
       |    CAST(SUM(cb) + COUNT(*) AS HUGEINT) AS db
       |  FROM pt),
       |sc AS (
       |  SELECT nt, na, nb, da, db,
       |    SUM(CAST(ca + 1 AS HUGEINT) * (${lnFp("2 * CAST(ca + 1 AS HUGEINT) * db")} - ${lnFp("CAST(ca + 1 AS HUGEINT) * db + CAST(cb + 1 AS HUGEINT) * da")})) AS sa,
       |    SUM(CAST(cb + 1 AS HUGEINT) * (${lnFp("2 * CAST(cb + 1 AS HUGEINT) * da")} - ${lnFp("CAST(ca + 1 AS HUGEINT) * db + CAST(cb + 1 AS HUGEINT) * da")})) AS sb
       |  FROM pt, tt GROUP BY nt, na, nb, da, db)
       |SELECT nt AS n_terms, na, nb,
       |  CAST(greatest(sa, 0) // (2 * da) + greatest(sb, 0) // (2 * db) AS BIGINT)
       |    AS jsd_ppm
       |FROM sc""".stripMargin

  // ------------------------------------------------- emb_residual_norms

  /** EMB-RES: common-direction removal (Arora et al.'s all-but-the-top
    * postprocess) — per-vector residual norm after projecting out the
    * power-iteration direction. The direction v is bounded model state
    * (PowerIterOps.dominantVector); the removal itself is row-local and
    * shuffle-free: s = x_q·v and Σv² are exact integers, the residual
    * components r_j = x_q[j]·Σv² − s·v_j evaluate in DOUBLE through a
    * FIXED op sequence (the products can graze int64, and doubles are
    * fine because both engines run the identical IEEE multiply/subtract/
    * divide chain on identical integer inputs), squares fold in
    * ascending-dimension order, sqrt, floor to micro-units. A vector
    * parallel to v reports ~0; anisotropy shows up as the gap between
    * res_fp and the vector's own norm.
    *
    * Cost (JobCensus, sf0.1): ~13 driver jobs, total
    * task-time ~0.8 s of a 1.24 s isolated wall — the jobs are
    * dominantVector's per-round collects (whose round-batching
    * alternative measurably LOSES, PowerIterOps.scala) plus the row
    * pass; FLOOR, the emb_power_iter story inherited. */
  private val resid: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val v = PowerIterOps.dominantVector(emb, "embedding", piDim, piIters)
    val vLit = v.mkString("array(", "L,", "L)")
    val vv = v.map(x => x * x).sum // <= 64e12: exact in Long
    // Closed form: ||x − (s/vv)v||² = Σx² − s²/vv (s = x·v, vv = Σv²) —
    // two EXACT integer folds per row plus one fixed-IEEE scalar tail
    // (multiply, divide, subtract, clamp, sqrt, floor), instead of the
    // per-component double chain. Measured 3.2 s -> 0.3 s at sf0.1:
    // chained interpreted HOF lambdas with an outer reference cost
    // ~1.6 ms/row; the closed form leaves only integer lambdas. The
    // clamp guards the x ∥ v cancellation (Σx² ≈ s²/vv would otherwise
    // float a hair negative and sqrt it to NaN).
    emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))")
          .as("xq"))
      .select(col("vec_id"),
        expr(s"aggregate(zip_with(xq, $vLit, (a, b) -> a * b), 0L, (acc, t) -> acc + t)")
          .as("sv"),
        expr("aggregate(xq, 0L, (acc, x) -> acc + x * x)").as("sumx2"))
      .select(col("vec_id"),
        expr(s"""CAST(floor(sqrt(greatest(
          CAST(sumx2 AS DOUBLE) -
            CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST($vv AS DOUBLE),
          CAST(0 AS DOUBLE)))) AS BIGINT)""").as("res_fp"))
      .orderBy("vec_id")
  }
  private val residSql =
    s"""WITH $piWith,
       |vvt AS (SELECT v, list_reduce(list_transform(v, x -> x * x),
       |  (a, b) -> a + b) AS vv FROM v2),
       |sv AS (
       |  SELECT vec_id, vv,
       |    list_reduce(list_transform(range(1, ${piDim + 1}), j -> xq[j] * v[j]),
       |      (a, b) -> a + b) AS s,
       |    list_reduce(list_transform(xq, x -> x * x), (a, b) -> a + b) AS sumx2
       |  FROM xq, vvt)
       |SELECT vec_id, CAST(floor(sqrt(greatest(
       |  CAST(sumx2 AS DOUBLE) -
       |    CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(vv AS DOUBLE),
       |  CAST(0 AS DOUBLE)))) AS BIGINT) AS res_fp
       |FROM sv ORDER BY vec_id""".stripMargin

  // ----------------------------------------------------- a23_median_mad

  /** A23: exact median and MAD (median absolute deviation) of document
    * length — the robust location/scale pair that survives the heavy
    * tails where a17's moments explode. Lower-median convention: the
    * element at rank (n+1) div 2 of the (value, doc_id) total order —
    * deterministic and engine-identical, no interpolation float. Two
    * distributed rank passes (RankOps — range exchange, never a
    * single-task window): one for the median, one over |x − med| with
    * the 1-row median riding a broadcast. */
  private val a23: Q = (s, dir) => {
    // Histogram form, not two global rank passes:
    // the lower median of n_chars is a VALUE statistic, so the rank in
    // the oracle's (n_chars, doc_id) order only ever selects which
    // VALUE crosses (n+1) div 2 — the doc_id tiebreak orders equal
    // values among themselves and cannot change the picked value. Each
    // pass is therefore one map-side-combined value histogram plus a
    // cumulative window over DISTINCT VALUES (bounded by the value
    // domain, not the row count — the exactPercentiles shape), replacing
    // a 5-stage global rank pipeline. Measured at sf0.1: 1.5 s → 0.6 s,
    // same oracle-exact rows.
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val nn = docs.agg(count(lit(1)).as("nn"))
    def lowerMedian(df: DataFrame, v: String, out: String): DataFrame =
      df.groupBy(col(v)).agg(count(lit(1)).as("__f"))
        .withColumn("__cf", sum(col("__f")).over(
          Window.orderBy(col(v))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(nn))
        .filter(expr("__cf >= (nn + 1) div 2"))
        .agg(min(col(v)).as(out))
    val med = lowerMedian(docs, "n_chars", "med")
    val dev = docs.crossJoin(broadcast(med))
      .select(col("doc_id"), abs(col("n_chars") - col("med")).as("ad"))
    lowerMedian(dev, "ad", "mad")
      .crossJoin(broadcast(nn)).crossJoin(broadcast(med))
      .select(col("nn").as("n_docs"), col("med").as("median_chars"),
        col("mad").as("mad_chars"))
  }
  private val a23Sql =
    """WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
      |r AS (SELECT n_chars,
      |  ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn FROM documents),
      |med AS (SELECT n_chars AS med FROM r, nn WHERE rn = (nn + 1) // 2),
      |d AS (SELECT doc_id, abs(n_chars - med) AS ad FROM documents, med),
      |r2 AS (SELECT ad, ROW_NUMBER() OVER (ORDER BY ad, doc_id) AS rn FROM d)
      |SELECT nn AS n_docs, med AS median_chars, ad AS mad_chars
      |FROM r2, nn, med WHERE rn = (nn + 1) // 2""".stripMargin

  // ----------------------------------------------- a24_winsorized_mean

  /** A24: winsorized mean of document length — clamp at the exact p10 /
    * p90 ORDER STATISTICS (ranks ceil(N/10), ceil(9N/10) over the
    * (value, doc_id) total order — integer ceil via (N+9) div 10, no
    * interpolation float) and average the clamped values. The robust
    * location estimate that, unlike a23's median, still moves with the
    * bulk. One distributed rank pass (RankOps); the two 1-row
    * thresholds ride broadcasts; the clamped mean is an exact
    * nonneg integer division reported in ppm.
    *
    * Bake-off CLOSED (same-JVM A/B): folding both
    * order statistics into ONE threshold pass (filter to the two
    * target ranks, conditional-min to a single (lo, hi) row, one
    * broadcast) measured neutral-to-worse — median 1.20 vs 1.24 s,
    * jobs 15 → 14, parity checksummed. The two broadcast builds'
    * shared rank lineage already collapses through physical exchange
    * reuse, and the fold's extra aggregate cancels the saved
    * broadcast. The wall time is 15 driver jobs × the host's planning
    * floor on a 1-row-output query — the a24 weak-list entry is floor,
    * not shape. */
  private val a24: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val nn = docs.agg(count(lit(1)).as("nn"))
    val ranked = RankOps.globalRowNumber(
        docs, Seq(col("n_chars").asc, col("doc_id").asc), "rn")
      .crossJoin(broadcast(nn))
    val lo = ranked.filter(expr("rn = (nn + 9) div 10"))
      .select(col("n_chars").as("lo"))
    val hi = ranked.filter(expr("rn = (9 * nn + 9) div 10"))
      .select(col("n_chars").as("hi"))
    docs.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
      .select(col("lo"), col("hi"),
        greatest(col("lo"), least(col("hi"), col("n_chars"))).as("w"))
      .groupBy()
      .agg(count(lit(1)).as("n_docs"), min(col("lo")).as("p10"),
        min(col("hi")).as("p90"),
        sum(col("w").cast("decimal(38,0)")).as("sw"))
      .select(expr("CAST(n_docs AS BIGINT)").as("n_docs"),
        col("p10"), col("p90"),
        expr("CAST((sw * 1000000) div n_docs AS BIGINT)").as("wmean_ppm"))
  }
  private val a24Sql =
    """WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
      |r AS (SELECT n_chars,
      |  ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn FROM documents),
      |lo AS (SELECT n_chars AS lo FROM r, nn WHERE rn = (nn + 9) // 10),
      |hi AS (SELECT n_chars AS hi FROM r, nn WHERE rn = (9 * nn + 9) // 10)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(MIN(lo) AS BIGINT) AS p10, CAST(MIN(hi) AS BIGINT) AS p90,
      |  CAST((SUM(CAST(greatest(lo, least(hi, n_chars)) AS HUGEINT)) * 1000000)
      |    // COUNT(*) AS BIGINT) AS wmean_ppm
      |FROM documents, lo, hi""".stripMargin

  // ------------------------------------------------------ a25_cramers_v

  /** A25: Cramér's V between lang and source — the categorical
    * association scalar (is "source" just a proxy for "language"?) a
    * mix audit reads next to a22's HHI. The contingency table is ONE
    * map-side-combined aggregate whose size is the CATEGORY SPACE
    * (langs × sources — bounded by the schema, not the corpus), so it
    * collects as model state and the χ² fold runs driver-side in
    * BigInt (the o12_dsir 128-bit discipline — exact at any corpus
    * scale; the oracle's HUGEINT replica is exact to ~1e9 rows/cell,
    * after which only the oracle saturates). Quantization: each cell
    * contributes floor(d²·1000 / (r·c·N)) with d = o·N − r·c, summed
    * to chi2_milli; v_ppm applies ONE fixed IEEE divide/sqrt/floor
    * sequence at the end (the a17 rule — no float accumulates). */
  private val a25: Q = (s, dir) => {
    val spark = s
    val cells = t(s, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rSums = cells.groupBy(_._1).map { case (k, cs) => k -> cs.map(_._3).sum }
    val cSums = cells.groupBy(_._2).map { case (k, cs) => k -> cs.map(_._3).sum }
    val n = BigInt(cells.map(_._3).sum)
    // Zero-count (lang, source) cells contribute d = -r*c: iterate the
    // full cross product of observed categories, not just observed cells.
    val obs = cells.map { case (l, src, o) => (l, src) -> BigInt(o) }.toMap
    var chi2Milli = BigInt(0)
    for ((l, r) <- rSums; (c, cc) <- cSums) {
      val o = obs.getOrElse((l, c), BigInt(0))
      val d = o * n - BigInt(r) * BigInt(cc)
      chi2Milli += d * d * 1000 / (BigInt(r) * BigInt(cc) * n)
    }
    val minDim = math.min(rSums.size, cSums.size) - 1
    val vPpm =
      if (minDim <= 0 || n == 0) 0L
      else math.floor(1e6 * math.sqrt(
        chi2Milli.toDouble / (1000.0 * n.toDouble * minDim))).toLong
    import spark.implicits._
    Seq((rSums.size.toLong, cSums.size.toLong, chi2Milli.toLong, vPpm))
      .toDF("n_langs", "n_sources", "chi2_milli", "v_ppm")
  }
  private val a25Sql =
    """WITH o AS (
      |  SELECT lang, source, CAST(COUNT(*) AS HUGEINT) AS o
      |  FROM documents GROUP BY lang, source),
      |rs AS (SELECT lang, CAST(SUM(o) AS HUGEINT) AS r FROM o GROUP BY lang),
      |cs AS (SELECT source, CAST(SUM(o) AS HUGEINT) AS c FROM o GROUP BY source),
      |nn AS (SELECT CAST(SUM(o) AS HUGEINT) AS n FROM o),
      |grid AS (
      |  SELECT rs.lang, cs.source, rs.r, cs.c, COALESCE(o.o, 0) AS o
      |  FROM rs CROSS JOIN cs LEFT JOIN o
      |    ON o.lang = rs.lang AND o.source = cs.source),
      |chi AS (
      |  SELECT SUM(((o * n - r * c) * (o * n - r * c) * 1000) // (r * c * n))
      |    AS chi2_milli
      |  FROM grid, nn),
      |dims AS (
      |  SELECT (SELECT COUNT(*) FROM rs) AS nr, (SELECT COUNT(*) FROM cs) AS nc)
      |SELECT CAST(nr AS BIGINT) AS n_langs, CAST(nc AS BIGINT) AS n_sources,
      |  CAST(chi2_milli AS BIGINT) AS chi2_milli,
      |  CAST(CASE WHEN least(nr, nc) > 1 THEN floor(1000000.0 * sqrt(
      |    CAST(chi2_milli AS DOUBLE) / (1000.0 * CAST((SELECT n FROM nn) AS DOUBLE)
      |      * (least(nr, nc) - 1)))) ELSE 0 END AS BIGINT) AS v_ppm
      |FROM chi, dims""".stripMargin

  // ---------------------------------------------------- a26_heavy_change

  /** A26: top-20 users by absolute activity CHANGE between the two
    * halves of the observation window — the heavy-CHANGE primitive
    * (heavy hitters find loud keys; operations cares about keys that
    * got loud). The split point is the exact midpoint of the observed
    * epoch-µs range ((mn + mx) div 2 — deterministic, no median pass),
    * counts are one conditional aggregate, the ranking is TakeOrdered.
    * Report includes both halves so the direction is auditable. */
  private val a26: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tu"))
    val mid = ev.agg(expr("(min(tu) + max(tu)) div 2").as("mid"))
    ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(sum(when(col("tu") < col("mid"), 1L).otherwise(0L)).as("n_first"),
        sum(when(col("tu") >= col("mid"), 1L).otherwise(0L)).as("n_second"))
      .withColumn("abs_change", abs(col("n_second") - col("n_first")))
      .orderBy(col("abs_change").desc, col("user_id"))
      .limit(20)
      .orderBy(col("abs_change").desc, col("user_id"))
  }
  private val a26Sql =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
      |m AS (SELECT (MIN(tu) + MAX(tu)) // 2 AS mid FROM ev)
      |SELECT user_id,
      |  CAST(SUM(CASE WHEN tu < mid THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
      |  CAST(SUM(CASE WHEN tu >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_second,
      |  CAST(abs(SUM(CASE WHEN tu >= mid THEN 1 ELSE 0 END) -
      |    SUM(CASE WHEN tu < mid THEN 1 ELSE 0 END)) AS BIGINT) AS abs_change
      |FROM ev, m GROUP BY user_id
      |ORDER BY abs_change DESC, user_id LIMIT 20""".stripMargin

  // ---------------------------------------------------- a27_decay_score

  /** A27: per-user exponentially time-decayed engagement score with
    * half-life = 1 day — the feature-store recency primitive. The
    * decay factor is EXACTLY a right-shift: age in whole days from the
    * newest observed event, weight = cents >> min(age_days, 62) —
    * integer-exact in both engines (no pow(), no float decay), and the
    * >> 62 clamp makes ancient events contribute 0 rather than
    * overflowing the shift. One conditional aggregate; the newest-ts
    * anchor rides a 1-row broadcast. */
  private val a27: Q = (s, dir) => {
    val ev = Tables.events(s, dir).filter(col("value").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("tu"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
    val anchor = ev.agg(max(col("tu")).as("mx"))
    ev.crossJoin(broadcast(anchor))
      .select(col("user_id"),
        expr("cents div shiftleft(CAST(1 AS BIGINT), CAST(least((mx - tu) div 86400000000, 62) AS INT))")
          .as("w"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(col("w")).as("decay_score"))
      .orderBy("user_id")
  }
  private val a27Sql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS tu,
      |    CAST(floor(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE value IS NOT NULL),
      |a AS (SELECT MAX(tu) AS mx FROM ev)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(cents // (CAST(1 AS BIGINT) <<
      |    least((mx - tu) // 86400000000, 62))) AS BIGINT) AS decay_score
      |FROM ev, a GROUP BY user_id ORDER BY user_id""".stripMargin

  // -------------------------------------------------- a28_autocorr_lag1

  /** A28: per-user lag-1 autocorrelation of event values — the temporal-
    * dependence scalar (bursty bots repeat magnitudes; organic values
    * mix) completing the cadence family (w12 gaps, w13 CUSUM, a27
    * recency). Pearson over the (v_i, v_{i+1}) pairs of the (ts,
    * event_id) total order, cross-multiplied to ONE integer division:
    *   r_ppm = (n·Σxy − Σx·Σy)·10⁶ div denom, denom² = (n·Σx²−(Σx)²)·(n·Σy²−(Σy)²)
    * with the sqrt of the denom product the single fixed-IEEE step
    * (a17 discipline); sums lift to DECIMAL(38,0) ≙ HUGEINT. Users
    * with < 3 events or zero variance report null. One per-user
    * shuffle; the lag window shares w12's sort. */
  private val a28: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("tu"), col("event_id"))
    Tables.events(s, dir).filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tu"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
      .withColumn("x", lag(col("v"), 1).over(w))
      .filter(col("x").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("v").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("v")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("v") * col("v")).cast("decimal(38,0)")).as("syy"))
      .select(col("user_id"), expr("CAST(n AS BIGINT)").as("n_pairs"),
        expr("""CAST(CASE WHEN n >= 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN floor(CAST((n * sxy - sx * sy) * 1000000 AS DOUBLE) /
              sqrt(CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE)))
            END AS BIGINT)""").as("acf1_ppm"))
      .orderBy("user_id")
  }
  private val a28Sql =
    """WITH p AS (
      |  SELECT user_id,
      |    lag(CAST(floor(value * 100) AS BIGINT)) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS x,
      |    CAST(floor(value * 100) AS BIGINT) AS y
      |  FROM events WHERE value IS NOT NULL),
      |sums AS (
      |  SELECT user_id, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM p WHERE x IS NOT NULL GROUP BY user_id)
      |SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
      |  CAST(CASE WHEN n >= 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
      |    THEN floor(CAST((n * sxy - sx * sy) * 1000000 AS DOUBLE) /
      |      sqrt(CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE)))
      |    END AS BIGINT) AS acf1_ppm
      |FROM sums ORDER BY user_id""".stripMargin

  // ---------------------------------------------- o17_rendezvous_assign

  /** O17: rendezvous (highest-random-weight) shard assignment — the
    * consistent-assignment primitive: each doc goes to the shard whose
    * md5(doc_id:shard) digest ranks highest, so REMOVING a shard moves
    * ONLY that shard's documents (no global reshuffle — the property
    * that makes incremental recluster/resharding cheap at fleet scale;
    * pinned in the spec). Row-local argmax over a fixed shard list;
    * summary output keeps the gate auditable. */
  private val rdvShards = 8
  private val o17: Q = (s, dir) => {
    val shardScore = (0 until rdvShards).map(k =>
      s"struct(md5(concat(CAST(doc_id AS STRING), ':', '$k')) AS h, $k AS shard)")
      .mkString("array(", ", ", ")")
    t(s, dir, "documents")
      .select(col("doc_id"),
        expr(s"array_max($shardScore).shard").as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("shard")
  }
  private val o17Sql = {
    val structs = (0 until rdvShards).map(k =>
      s"{'h': md5(CAST(doc_id AS VARCHAR) || ':' || '$k'), 'shard': $k}")
      .mkString("[", ", ", "]")
    s"""SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       |  CAST(MAX(doc_id) AS BIGINT) AS max_doc
       |FROM (SELECT doc_id, CAST(list_max($structs).shard AS INT) AS shard
       |      FROM documents)
       |GROUP BY shard ORDER BY shard""".stripMargin
  }

  // -------------------------------------------------- a30_lang_entropy

  /** A30: per-language token-distribution Shannon entropy — the
    * diversity scalar behind temperature-mix decisions (a language whose
    * token mass concentrates in few types is boilerplate-heavy; a
    * collapsing entropy across snapshots means the crawl is looping).
    * Completes the concentration family: Gini/HHI measure size
    * concentration, entropy measures distributional richness.
    *
    *   H = ln N − (Σ c·ln c) / N   (nats, ppm-quantized)
    *
    * lnq = floor(1e6·ln) over DISTINCT INTEGER COUNTS only (the
    * Moore–Lewis / unigram-NLL discipline), so the whole score is
    * order-independent integer math; c·lnq(c) lifts to DECIMAL(38,0)
    * (HUGEINT oracle-side) so the per-lang sum survives 10¹³-token
    * languages. One shuffle to (lang, term) counts (vocab-bounded,
    * Zipf), one map-side-combined per-lang fold. */
  private val a30: Q = (s, dir) => {
    val c = Tables.fanOut(t(s, dir, "documents"))
      .select(col("lang"), explode(expr("ascii_alpha_tokens(text, 3)")).as("tk"))
      .groupBy("lang", "tk").agg(count(lit(1)).as("c"))
    c.groupBy("lang").agg(
        sum(col("c")).as("n"),
        count(lit(1)).as("v"),
        sum(col("c").cast("decimal(38,0)") *
          expr("CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS BIGINT)"))
          .as("sc"))
      .select(col("lang"), col("n").as("n_tokens"), col("v").as("vocab"),
        expr("""CAST(CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(n AS DOUBLE))) AS BIGINT)
              - CAST(sc div n AS BIGINT) AS BIGINT)""".replaceAll("\\s+", " "))
          .as("ent_ppm"))
      .orderBy("lang")
  }
  private val a30Sql =
    """WITH tok AS (
      |  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS tk
      |  FROM documents),
      |c AS (SELECT lang, tk, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
      |s AS (
      |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v,
      |    SUM(CAST(c AS HUGEINT) *
      |      CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS BIGINT)) AS sc
      |  FROM c GROUP BY lang)
      |SELECT lang, n AS n_tokens, v AS vocab,
      |  CAST(CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(n AS DOUBLE))) AS BIGINT)
      |    - CAST(sc // n AS BIGINT) AS BIGINT) AS ent_ppm
      |FROM s ORDER BY lang""".stripMargin

  // ------------------------------------------------- o18_epoch_shuffle

  /** O18: deterministic epoch shuffle — the training loader's per-epoch
    * permutation, computed as a LAYOUT (not a runtime RNG): epoch e
    * orders docs by (md5(e ':' doc_id), doc_id) and cuts the order into
    * S contiguous shards of near-equal size (shard = (rn−1)·S div n —
    * sizes differ by ≤ 1 BY CONSTRUCTION). Different epochs give
    * independent permutations of the SAME doc set; re-running an epoch
    * gives byte-identical shards (resumable training). Output is the
    * auditable summary: per (epoch, shard) the size, the first doc in
    * shard order, and an order-SENSITIVE permutation fingerprint
    * Σ (rn·doc_id mod (2³¹−1)) — equal doc sets with different orders
    * fingerprint differently, so epoch independence is checkable from
    * the summary alone (pinned in SignalSpec).
    *
    * Scale shape: one RankOps range-exchange rank per epoch (never a
    * single-task ORDER BY window; epochs are a tiny fixed loop), then
    * one map-side-combined aggregate. Each mod term is < 2³¹ so the
    * BIGINT fingerprint sum holds past 4×10⁹ rows; the rn·doc_id
    * product lifts to DECIMAL(38,0) before the mod so the product
    * itself can never overflow.
    *
    * Cost (JobCensus, sf0.1): 17 driver jobs — the
    * per-epoch range-exchange ranks are multi-job by construction —
    * with ~8 s of fully parallel task time (~0.25 s wall on 32
    * threads) against a 1.17 s isolated wall; FLOOR (jobs × a
    * ~90 ms planning floor), not plan shape. */
  private val o18Epochs = 2
  private val o18Shards = 8
  private val o18: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val nn = docs.agg(count(lit(1)).as("nn"))
    (0 until o18Epochs).map { e =>
      RankOps.globalRowNumber(
          docs.withColumn("h",
            md5(concat(lit(s"$e:"), col("doc_id").cast("string")))),
          Seq(col("h").asc, col("doc_id").asc), "rn")
        .crossJoin(broadcast(nn))
        .select(lit(e).as("epoch"), col("doc_id"), col("rn"),
          expr(s"CAST((rn - 1) * $o18Shards div nn AS INT)").as("shard"))
    }.reduce(_ unionAll _)
      .groupBy("epoch", "shard")
      .agg(count(lit(1)).as("n_docs"),
        min_by(col("doc_id"), col("rn")).as("first_doc"),
        sum(expr(
          "CAST(pmod(CAST(rn AS DECIMAL(38,0)) * doc_id, 2147483647) AS BIGINT)"))
          .as("perm_fp"))
      .select(col("epoch").cast("int").as("epoch"), col("shard"),
        col("n_docs"), col("first_doc"), col("perm_fp").cast("long").as("perm_fp"))
      .orderBy("epoch", "shard")
  }
  private val o18Sql =
    s"""WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
       |ep AS (SELECT unnest(range($o18Epochs)) AS epoch),
       |r AS (
       |  SELECT epoch, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY
       |      md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)),
       |      doc_id) AS rn
       |  FROM documents, ep)
       |SELECT CAST(epoch AS INT) AS epoch,
       |  CAST((rn - 1) * $o18Shards // nn AS INT) AS shard,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(arg_min(doc_id, rn) AS BIGINT) AS first_doc,
       |  CAST(SUM((CAST(rn AS HUGEINT) * doc_id) % 2147483647) AS BIGINT) AS perm_fp
       |FROM r, nn GROUP BY 1, 2 ORDER BY epoch, shard""".stripMargin

  // ------------------------------------------------- a31_column_profile

  /** A31: single-pass column profile — the data-quality report every
    * ingest gate starts from (rows, nulls, exact distinct count, and a
    * min/max rendering per column). TWO scans, both hash-shaped, then a
    * 1-row-×-1-row cross join — never one job per column:
    *   1. the exact-NDV pass: each row exploded into one (column, value)
    *      row per profiled column, nulls dropped, deduplicated by a
    *      HashAggregate keyed by (column, value) — map-side combine
    *      collapses each partition to its distinct values before the
    *      shuffle — then counted per column. This is the plan Spark's
    *      multi-distinct rewrite builds for k countDistincts, written out:
    *      that rewrite orders its groups by a hash of per-run expression
    *      ids, so a warm run could plan a new order and compile classes
    *      for it, where this form generates the same code on every run;
    *   2. the stats pass: counts + min/max renderings, grouping-key-free
    *      so its SortAggregate (forced by min/max over STRING buffers,
    *      which hash agg can't mutate in place) never actually sorts.
    * Putting min/max(string) in the SAME agg as the countDistincts is
    * the trap this split avoids: the string buffers force SortAggregate
    * onto the ×(k+1) EXPANDED set, with a full sort per phase — measured
    * 11.3 s vs 2 s at sf0.1 for the identical result.
    *
    * Bake-off, CLOSED (same-JVM A/B): a ONE-scan fused variant was measured — all min/max
    * buffers made primitive (orderkey BIGINT, quantity floor-cents,
    * shipdate DATE, the 1-char flag via its code point; every encoding
    * monotone, so renderings commute) so countDistincts AND min/max
    * fit one HashAggregate. Same-JVM alternating reps at sf0.1,
    * parity-checksummed: standing med 1.62 s / 6 jobs, fused med
    * 3.45 s / 4 jobs — fused LOSES 2.1×. The fused agg pays its eight
    * min/max buffer updates on the ×(k+1)-EXPANDED rowset the
    * multi-distinct rewrite creates, so dropping one scan quintuples
    * the per-row agg work; the two lean passes stay.
    *
    * Rendering is per-type and engine-exact BY CONSTRUCTION: integers
    * and strings cast directly (identical text both engines), DOUBLEs
    * render as exact cents (floor·100 BIGINT — two engines' float
    * pretty-printers are NOT a stable contract), timestamps as epoch
    * micros. The rendering rule is part of the operator definition. */
  private val a31Cols: Seq[(String, String, String)] = Seq(
    // (column, min/max rendering expr template, label)
    ("l_orderkey", "CAST(%s(l_orderkey) AS STRING)", "l_orderkey"),
    ("l_quantity",
      "CAST(CAST(floor(%s(l_quantity) * 100) AS BIGINT) AS STRING)",
      "l_quantity"),
    ("l_returnflag", "%s(l_returnflag)", "l_returnflag"),
    // NTZ timestamp renders at DATE grain: no session-timezone seam,
    // identical 'yyyy-MM-dd' text in both engines
    ("l_shipdate", "CAST(CAST(%s(l_shipdate) AS DATE) AS STRING)", "l_shipdate"))
  private val a31: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    // Pass 1 as an explode: element i of each row carries column i's value
    // in field v$i, every other field null.
    val perCol = a31Cols.indices.map { i =>
      struct(lit(i).as("g") +: a31Cols.indices.map { j =>
        val c = a31Cols(j)._1
        (if (j == i) col(c) else lit(null).cast(li.schema(c).dataType)).as(s"v$j")
      }: _*)
    }
    val ndv = li.select(explode(array(perCol: _*)).as("e")).select("e.*")
      .filter(a31Cols.indices.map(j => col(s"v$j").isNotNull).reduce(_ || _))
      .distinct()
    val ndvAggs = a31Cols.indices.map(i => count(when(col("g") === i, true)).as(s"d$i"))
    val statAggs = Seq(count(lit(1)).as("n")) ++ a31Cols.zipWithIndex.flatMap {
      case ((c, render, _), i) => Seq(
        count(col(c)).as(s"c$i"),
        expr(render.format("min")).as(s"mn$i"),
        expr(render.format("max")).as(s"mx$i"))
    }
    val stackArgs = a31Cols.zipWithIndex.map { case ((_, _, label), i) =>
      s"'$label', n - c$i, d$i, mn$i, mx$i"
    }.mkString(", ")
    li.agg(statAggs.head, statAggs.tail: _*)
      .crossJoin(ndv.agg(ndvAggs.head, ndvAggs.tail: _*))
      .select(col("n").as("n_rows"), expr(
        s"stack(${a31Cols.size}, $stackArgs) AS (col_name, n_nulls, ndv, min_s, max_s)"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"), col("ndv"),
        col("min_s"), col("max_s"))
      .orderBy("col_name")
  }
  private val a31Sql = {
    val per = Seq(
      ("l_orderkey", "CAST(%s(l_orderkey) AS VARCHAR)"),
      ("l_quantity", "CAST(CAST(floor(%s(l_quantity) * 100) AS BIGINT) AS VARCHAR)"),
      ("l_returnflag", "%s(l_returnflag)"),
      ("l_shipdate", "CAST(CAST(%s(l_shipdate) AS DATE) AS VARCHAR)"))
    val aggs = per.zipWithIndex.map { case ((c, render), i) =>
      s"CAST(COUNT($c) AS BIGINT) AS c$i, CAST(COUNT(DISTINCT $c) AS BIGINT) AS d$i, " +
        s"${render.format("MIN")} AS mn$i, ${render.format("MAX")} AS mx$i"
    }.mkString(", ")
    val rows = per.zipWithIndex.map { case ((c, _), i) =>
      s"SELECT '$c' AS col_name, n AS n_rows, n - c$i AS n_nulls, d$i AS ndv, " +
        s"mn$i AS min_s, mx$i AS max_s FROM s"
    }.mkString(" UNION ALL ")
    s"WITH s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, $aggs FROM lineitem) " +
      s"SELECT * FROM ($rows) ORDER BY col_name"
  }

  // ------------------------------------------------- emb_int8_quantize

  /** EMB-INT8: symmetric int8 quantization audit per embedding — the
    * compression step memory-bound ANN serving runs (4× smaller than
    * f32; PQ is the codebook cousin, this is the scalar-quantization
    * baseline). q_i = floor(x_i·127/scale) with scale = max|x_i| —
    * floor-quantization is the DEFINED semantics, so |q_i| ≤ 127 and
    * the vector reconstructs within scale/127 per coordinate.
    *
    * Exactness: the float chain is exactly two correctly-rounded IEEE
    * ops per element (multiply, divide) over the same parse tree in
    * both engines (every literal routed through CAST(· AS DOUBLE) —
    * the bm25 discipline), then an immediate floor to BIGINT; the
    * reported sums/maxima are pure integer folds, order-independent.
    * Row-local and shuffle-free — the rp_project scale class. */
  private val int8: Q = (s, dir) =>
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))").as("s"),
        col("embedding"))
      .select(col("vec_id"), col("s"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
          "* CAST(127 AS DOUBLE) / s) AS BIGINT))").as("q"))
      .select(col("vec_id"),
        expr("CAST(floor(CAST(1000000 AS DOUBLE) * s) AS BIGINT)").as("scale_fp"),
        expr("aggregate(q, 0L, (a, v) -> a + v)").as("sum_q"),
        expr("array_max(transform(q, v -> abs(v)))").as("max_abs_q"))
      .orderBy("vec_id")
  private val int8Sql =
    """WITH sc AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS s
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, s,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
      |      * CAST(127 AS DOUBLE) / s) AS BIGINT)) AS q
      |  FROM sc)
      |SELECT vec_id,
      |  CAST(floor(CAST(1000000 AS DOUBLE) * s) AS BIGINT) AS scale_fp,
      |  CAST(list_sum(q) AS BIGINT) AS sum_q,
      |  CAST(list_max(list_transform(q, v -> abs(v))) AS BIGINT) AS max_abs_q
      |FROM q ORDER BY vec_id""".stripMargin

  // -------------------------------------------------- o19_zorder_layout

  /** O19: Z-order (Morton) layout buckets over (n_chars, doc_id) — the
    * multi-dimensional clustering primitive behind data-skipping file
    * layouts: sorting by the interleaved-bit key makes every
    * contiguous bucket a RECTANGLE in both dimensions, so min/max file
    * stats prune range predicates on EITHER column (a single-column
    * sort only prunes its own column). The report is the layout audit:
    * per bucket (top 12 Morton bits = 6 high bits per dimension) the
    * row count and both min/max ranges — each range provably < 2¹⁰
    * wide because the 6-bit prefixes are fixed within a bucket
    * (pinned in SignalSpec).
    *
    * The Morton code is pure integer bit algebra (Σ over 16 bits of
    * each dimension, clamped to 16 bits by & 0xFFFF as the DEFINED
    * domain), emitted as engine-native bit ops — Spark's
    * shiftleft/shiftright/& functions and DuckDB's <</>>/& operators
    * compute the identical integer, no float anywhere. One row-local
    * map + one map-side-combined aggregate; ordering by zbucket is the
    * write-side sort a real layout pass would apply. */
  private def mortonSpark(a: String, b: String): String =
    (0 until 16).map(i =>
      s"shiftleft(shiftright($a, $i) & 1, ${2 * i}) + " +
        s"shiftleft(shiftright($b, $i) & 1, ${2 * i + 1})")
      .mkString(" + ")
  private def mortonDuck(a: String, b: String): String =
    (0 until 16).map(i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
  private val o19: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        expr(mortonSpark("(CAST(n_chars AS BIGINT) & 65535)",
          "(CAST(doc_id AS BIGINT) & 65535)")).as("z"))
      .groupBy(expr("CAST(shiftright(z, 20) AS BIGINT)").as("zbucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("zbucket")
  private val o19Sql =
    s"""WITH z AS (
       |  SELECT doc_id, n_chars,
       |    ${mortonDuck("(CAST(n_chars AS BIGINT) & 65535)",
                         "(CAST(doc_id AS BIGINT) & 65535)")} AS z
       |  FROM documents)
       |SELECT CAST(z >> 20 AS BIGINT) AS zbucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       |  CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       |  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       |  CAST(MAX(doc_id) AS BIGINT) AS max_doc
       |FROM z GROUP BY 1 ORDER BY zbucket""".stripMargin

  // ---------------------------------------------- a29_markov_transitions

  /** A29: first-order event-type transition matrix with row-normalized
    * probabilities — the Markov sibling of w11's fixed funnel (the
    * funnel asks "did THIS path happen"; the matrix reports which
    * paths dominate). Transitions pair consecutive events per user
    * over the (ts, event_id) total order (one shuffle, w12's sort);
    * probabilities are exact nonneg integer ppm of the row total. */
  private val a29: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("tu"), col("event_id"))
    val tr = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tu"),
        col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val rowTot = tr.groupBy("from_type").agg(sum(col("n")).as("tot"))
    tr.join(rowTot, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(n * 1000000) div tot").as("p_ppm"))
      .orderBy("from_type", "to_type")
  }
  private val a29Sql =
    """WITH tr AS (
      |  SELECT prev AS from_type, event_type AS to_type,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM (
      |    SELECT user_id, event_type,
      |      lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |    FROM events)
      |  WHERE prev IS NOT NULL GROUP BY prev, event_type),
      |rt AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM tr GROUP BY from_type)
      |SELECT from_type, to_type, n, CAST((n * 1000000) // tot AS BIGINT) AS p_ppm
      |FROM tr JOIN rt USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  // ------------------------------------------- w16_expanding_zscore

  /** W16: per-user expanding-window z-score anomaly count — "how many
    * events sat 3σ from the user's OWN running history" (the
    * self-calibrating cousin of w13's fixed-allowance CUSUM). The
    * z-compare never forms a z: |n·v − Σ|² > 9·(n·Σx² − Σ²) is the
    * EXACT integer cross-multiplication of (v−μ)² > 9σ² over the
    * prior-rows prefix sums (squares lift to DECIMAL(38,0) ≙ HUGEINT;
    * prior-rows framing so an event is judged against history that
    * excludes it; n ≥ 3 warm-up). Two prefix sums over ONE per-user
    * sort — the w13 exchange-sharing shape. */
  private val w16: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("tu"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir).filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tu"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1", sum(col("v")).over(w))
      .withColumn("s2", sum((col("v") * col("v")).cast("decimal(38,0)")).over(w))
      .withColumn("alarm",
        col("n") >= 3 &&
          expr("""CAST((n * v - s1) AS DECIMAL(38,0)) * (n * v - s1) >
            9 * (n * s2 - CAST(s1 AS DECIMAL(38,0)) * s1)"""))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("alarm"), 1L).otherwise(0L)).as("n_anomalies"))
      .orderBy("user_id")
  }
  private val w16Sql =
    """WITH p AS (
      |  SELECT user_id,
      |    CAST(floor(value * 100) AS BIGINT) AS v,
      |    COUNT(*) OVER pw AS n,
      |    SUM(CAST(floor(value * 100) AS BIGINT)) OVER pw AS s1,
      |    SUM(CAST(CAST(floor(value * 100) AS BIGINT) AS HUGEINT) *
      |        CAST(floor(value * 100) AS BIGINT)) OVER pw AS s2
      |  FROM events WHERE value IS NOT NULL
      |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN n >= 3 AND
      |    CAST(n * v - s1 AS HUGEINT) * (n * v - s1) >
      |      9 * (n * s2 - CAST(s1 AS HUGEINT) * s1)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
      |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------- w18_forward_fill

  /** W18: forward fill (last observation carried forward) of the event
    * value series per user — the standard gap-fill step before any
    * per-entity time-series feature (decay scores, z-scores, trend
    * fits) can treat the series as dense. A null value takes the most
    * recent non-null value at or before it in (ts, event_id) order;
    * rows before the first observation stay null.
    *
    * Spark: `last(v, ignoreNulls).over(rows unbounded-preceding)` — one
    * shuffle on user_id, then a single forward pass per partition (the
    * running-last frame never buffers the window). Values are rendered
    * as exact cents (floor·100 BIGINT, the fixture discipline) so the
    * filled series replays bit-for-bit in any engine. */
  private val w18: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
      .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("event_id"), col("v"), col("v_filled"))
      .orderBy("user_id", "event_id")
  }
  private val w18Sql =
    """SELECT user_id, event_id, CAST(floor(value * 100) AS BIGINT) AS v,
      |  last_value(CAST(floor(value * 100) AS BIGINT) IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      |FROM events ORDER BY user_id, event_id""".stripMargin

  // --------------------------------------------------- a32_ols_trend

  /** A32: per-user OLS trend — slope (cents·ppm per day) and fit
    * quality (r²·ppm) of spend over days-since-first-event, the
    * closed-form regression behind "is this entity growing or
    * churning". x = (tu − min_user(tu)) div 86.4e9 (whole days,
    * integer micros), y = exact cents; the five sums accumulate in
    * DECIMAL(38,0) (HUGEINT on the oracle side), and the two ratios
    * follow the a28 discipline: one floor over one IEEE division of
    * exactly-represented integers — replayable bit-for-bit.
    *
    * Shape: the per-user min is a window over the same key the groupBy
    * shuffles on, so the plan is ONE exchange reused by both (the
    * window's hash partitioning satisfies the aggregate's
    * distribution). Degenerate users (single day, or constant y for
    * r²) yield NULL by the guarded CASE, not a division blow-up. */
  private val a32: Q = (s, dir) => {
    Tables.events(s, dir).filter(col("value").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("tu"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
      .withColumn("x", expr("(tu - min(tu) OVER (PARTITION BY user_id)) div 86400000000"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("v").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("v")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("v") * col("v")).cast("decimal(38,0)")).as("syy"))
      .select(col("user_id"), expr("CAST(n AS BIGINT)").as("n_events"),
        expr("""CAST(CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
            THEN floor(CAST((n * sxy - sx * sy) * 1000000 AS DOUBLE) /
              CAST(n * sxx - sx * sx AS DOUBLE))
            END AS BIGINT)""").as("slope_ppm"),
        expr("""CAST(CASE WHEN n >= 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN floor(CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) * 1000000 AS DOUBLE) /
              CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE))
            END AS BIGINT)""").as("r2_ppm"))
      .orderBy("user_id")
  }
  private val a32Sql =
    """WITH p AS (
      |  SELECT user_id,
      |    (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id))
      |      // 86400000000 AS x,
      |    CAST(floor(value * 100) AS BIGINT) AS y
      |  FROM events WHERE value IS NOT NULL),
      |sums AS (
      |  SELECT user_id, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM p GROUP BY user_id)
      |SELECT user_id, CAST(n AS BIGINT) AS n_events,
      |  CAST(CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
      |    THEN floor(CAST((n * sxy - sx * sy) * 1000000 AS DOUBLE) /
      |      CAST(n * sxx - sx * sx AS DOUBLE))
      |    END AS BIGINT) AS slope_ppm,
      |  CAST(CASE WHEN n >= 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
      |    THEN floor(CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) * 1000000 AS DOUBLE) /
      |      CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE))
      |    END AS BIGINT) AS r2_ppm
      |FROM sums ORDER BY user_id""".stripMargin

  // ------------------------------------------------- w19_ewma_smooth

  /** W19: per-user integer EWMA (α = 1/4) of the value series with a
    * spike count — see [[graft.operators.EwmaOps]] for the recurrence
    * and why truncation == floor here. One shuffle on user_id; the fold
    * is a per-user typed `mapGroups` (the w17 bounded-group class), and
    * the oracle replays the identical arithmetic as a rank-stepped
    * recursive CTE. */
  private val w19: Q = (s, dir) => {
    import s.implicits._
    Tables.events(s, dir).filter(col("value").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("tu"), col("event_id"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (u, it) =>
        val (n, sFinal, spikes) = graft.operators.EwmaOps.fold(
          it.toSeq.sortBy(t => (t._2, t._3)).iterator.map(_._4))
        (u, n, sFinal, spikes)
      }
      .toDF("user_id", "n_events", "ewma_cents", "n_spikes")
      .orderBy("user_id")
  }
  private val w19Sql =
    """WITH RECURSIVE ev AS (
      |  SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events WHERE value IS NOT NULL),
      |nn AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM ev GROUP BY user_id),
      |step AS (
      |  SELECT user_id, rn, v AS s, CAST(0 AS BIGINT) AS spikes
      |  FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.rn, (3 * st.s + e.v) // 4,
      |    st.spikes + CASE WHEN e.v > 2 * st.s THEN 1 ELSE 0 END
      |  FROM ev e JOIN step st ON e.user_id = st.user_id AND e.rn = st.rn + 1)
      |SELECT st.user_id, n AS n_events, st.s AS ewma_cents,
      |  st.spikes AS n_spikes
      |FROM step st JOIN nn USING (user_id) WHERE st.rn = n
      |ORDER BY user_id""".stripMargin

  // ------------------------------------------------ w21_scd2_intervals

  /** W21: slowly-changing-dimension type-2 history build — turn a
    * change log into validity intervals: each observation becomes a row
    * valid [its event time, the key's next event time), the key's last
    * row is open-ended (NULL valid_to) and flagged current. THE
    * warehouse dimension-build primitive (the j3 upsert applies the
    * latest state; this keeps the full history queryable by as-of
    * time). One `lead` over one (ts, event_id) sort per key — a single
    * exchange; times are exact epoch micros. */
  private val w21: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("tu"), col("event_id"))
    Tables.events(s, dir).filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tu"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
      .withColumn("valid_to", lead(col("tu"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("v"),
        col("tu").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "valid_from", "event_id")
  }
  private val w21Sql =
    """SELECT user_id, event_id, CAST(floor(value * 100) AS BIGINT) AS v,
      |  epoch_us(ts) AS valid_from,
      |  lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts),
      |    event_id) AS valid_to,
      |  lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts),
      |    event_id) IS NULL AS is_current
      |FROM events WHERE value IS NOT NULL
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  // ----------------------------------------------------- a36_dq_audit

  /** A36: declarative data-quality audit — the expectation-suite report
    * (Great-Expectations-style) an ingest gate runs before promoting a
    * batch: one row per constraint with its violation count. Five
    * constraint SHAPES cover the standard families, each in its
    * scale-correct plan:
    *   not_null           — conditional count, map-side combined;
    *   unique_key         — duplicate mass = Σ(c−1) over the key
    *                        histogram (never a self-join);
    *   foreign_key        — orphan count via LEFT ANTI to the parent
    *                        keys (AQE broadcasts small parents, flips
    *                        keyed as they grow);
    *   value_range        — conditional count on the scan;
    *   enum_domain        — membership count against the literal set.
    * The five 1-row aggregates union — at 100 TB the two lineitem
    * checks share one scan via Spark's exchange/subplan reuse and the
    * rest are independent narrow scans. */
  private val a36: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    def row(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("check_name"),
        col("n_violations").cast("long").as("n_violations"))
    val notNull = row("lineitem_quantity_not_null",
      li.agg(sum(when(col("l_quantity").isNull, 1L).otherwise(0L))
        .as("n_violations")))
    val unique = row("orders_orderkey_unique",
      o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") - 1L).as("n_violations")))
    // No hint on the FK parent keyset: a plain-scan side with a sound
    // size estimate — AQE's broadcast choice flips to a keyed anti-join
    // exactly when real parent sizes demand it (the
    // estimate-soundness doctrine, ARCHITECTURE.md).
    val fk = row("lineitem_orderkey_fk",
      li.select(col("l_orderkey"))
        .join(o.select(col("o_orderkey").as("l_orderkey")),
          Seq("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations")))
    val range = row("lineitem_quantity_range",
      li.agg(sum(when(col("l_quantity") < 0 || col("l_quantity") > 100,
        1L).otherwise(0L)).as("n_violations")))
    val enumDom = row("lineitem_returnflag_enum",
      li.agg(sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
        .otherwise(0L)).as("n_violations")))
    Seq(notNull, unique, fk, range, enumDom).reduce(_ unionByName _)
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy("check_name")
  }
  private val a36Sql =
    """SELECT check_name, n_violations, n_violations = 0 AS passed FROM (
      |  SELECT 'lineitem_quantity_not_null' AS check_name,
      |    CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_violations FROM lineitem
      |  UNION ALL
      |  SELECT 'orders_orderkey_unique',
      |    CAST(SUM(c - 1) AS BIGINT) FROM (
      |      SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
      |  UNION ALL
      |  SELECT 'lineitem_orderkey_fk',
      |    CAST(COUNT(*) AS BIGINT) FROM lineitem
      |    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
      |  UNION ALL
      |  SELECT 'lineitem_quantity_range',
      |    CAST(SUM(CASE WHEN l_quantity < 0 OR l_quantity > 100
      |      THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem_returnflag_enum',
      |    CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
      |      THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem)
      |ORDER BY check_name""".stripMargin

  // ------------------------------------------------- w20_trending_topk

  /** W20: per-hour trending event types — tumbling 1-hour windows (epoch
    * micros div 3.6e9: exact integers, no timezone/session seam), top-3
    * types per window by count with deterministic (count desc, type)
    * tie-break. The real-time-analytics "trending now" query: one
    * map-side-combined count keyed on (window, type) — histogram-sized —
    * then a rank window over that aggregate, never over events. */
  private val w20: Q = (s, dir) =>
    Tables.events(s, dir)
      .select(expr("unix_micros(ts) div 3600000000").as("hour_bucket"),
        col("event_type"))
      .groupBy("hour_bucket", "event_type")
      .agg(count(lit(1)).as("n_events"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("hour_bucket")
          .orderBy(col("n_events").desc, col("event_type"))))
      .filter(col("rank") <= 3)
      .select(col("hour_bucket"), col("rank").cast("int").as("rank"),
        col("event_type"), col("n_events"))
      .orderBy("hour_bucket", "rank")
  private val w20Sql =
    """SELECT hour_bucket, CAST(rank AS INT) AS rank, event_type, n_events
      |FROM (
      |  SELECT hour_bucket, event_type, n_events,
      |    row_number() OVER (PARTITION BY hour_bucket
      |      ORDER BY n_events DESC, event_type) AS rank
      |  FROM (
      |    SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
      |      CAST(COUNT(*) AS BIGINT) AS n_events
      |    FROM events GROUP BY 1, 2))
      |WHERE rank <= 3 ORDER BY hour_bucket, rank""".stripMargin

  // ----------------------------------------------------- a35_pr_curve

  /** A35: precision/recall/F1 operating curve — the threshold-picking
    * companion to `a16_auc` (AUC summarizes ranking quality; shipping a
    * classifier needs the P/R TRADE-OFF at concrete thresholds).
    * Label = purchase events, score = exact cents; at each rung of a
    * fixed 8-step threshold ladder (5 000·k cents), predict positive
    * iff score ≥ t and report tp/fp/fn with ppm precision, recall and
    * F1 (2·tp·10⁶ div (2·tp+fp+fn) — one floor division, no float).
    * ONE map-side-combined pass computes all 24 conditional counts
    * (the a31 agg+stack shape: never one job per threshold), then
    * `stack` unpivots to one row per rung. */
  private val a35Steps = 8
  private val a35Rung = 5000L
  private val a35: Q = (s, dir) => {
    val ev = Tables.events(s, dir).filter(col("value").isNotNull)
      .select(expr("CAST(floor(value * 100) AS BIGINT)").as("sc"),
        (col("event_type") === "purchase").as("pos"))
    val aggs = (1 to a35Steps).flatMap { k =>
      val t = a35Rung * k
      Seq(
        sum(when(col("pos") && col("sc") >= t, 1L).otherwise(0L)).as(s"tp$k"),
        sum(when(!col("pos") && col("sc") >= t, 1L).otherwise(0L)).as(s"fp$k"),
        sum(when(col("pos") && col("sc") < t, 1L).otherwise(0L)).as(s"fn$k"))
    }
    val stackArgs = (1 to a35Steps).map { k =>
      s"${a35Rung * k}L, tp$k, fp$k, fn$k"
    }.mkString(", ")
    ev.agg(aggs.head, aggs.tail: _*)
      .select(expr(
        s"stack($a35Steps, $stackArgs) AS (threshold_cents, tp, fp, fn)"))
      .select(col("threshold_cents"), col("tp"), col("fp"), col("fn"),
        expr("CASE WHEN tp + fp > 0 THEN tp * 1000000 div (tp + fp) END")
          .as("precision_ppm"),
        expr("CASE WHEN tp + fn > 0 THEN tp * 1000000 div (tp + fn) END")
          .as("recall_ppm"),
        expr("CASE WHEN 2 * tp + fp + fn > 0 " +
          "THEN 2 * tp * 1000000 div (2 * tp + fp + fn) END").as("f1_ppm"))
      .orderBy("threshold_cents")
  }
  private val a35Sql = {
    val rungs = (1 to a35Steps).map(k => a35Rung * k).mkString(", ")
    s"""WITH ev AS (
       |  SELECT CAST(floor(value * 100) AS BIGINT) AS sc,
       |    event_type = 'purchase' AS pos
       |  FROM events WHERE value IS NOT NULL),
       |t AS (SELECT unnest([$rungs]) AS threshold_cents),
       |c AS (
       |  SELECT threshold_cents,
       |    CAST(SUM(CASE WHEN pos AND sc >= threshold_cents THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN NOT pos AND sc >= threshold_cents THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN pos AND sc < threshold_cents THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM ev, t GROUP BY threshold_cents)
       |SELECT threshold_cents, tp, fp, fn,
       |  CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp) END AS precision_ppm,
       |  CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn) END AS recall_ppm,
       |  CASE WHEN 2 * tp + fp + fn > 0
       |    THEN 2 * tp * 1000000 // (2 * tp + fp + fn) END AS f1_ppm
       |FROM c ORDER BY threshold_cents""".stripMargin
  }

  // ------------------------------------------------ a33_key_skew_audit

  /** A33: join-key skew audit — the pre-flight report that decides
    * whether `j9_salted_skew_join`'s salting is needed and with how many
    * salts. Per join key the row count; globally the key count, row
    * count, heaviest key, the skew ratio max/avg in ppm, and the salt
    * count a balanced plan needs (⌈max_cnt/avg_cnt⌉ — the fan-out that
    * makes the heaviest key's salted slices no bigger than the average
    * key). The top-10 heavy hitters ride along with per-key and
    * cumulative shares.
    *
    * Scale shape: one map-side-combined count per key, then TakeOrdered
    * for the top-10 (never a global single-partition window over all
    * keys) and 1-row global totals broadcast-crossed in. The windowed
    * cumulative share runs over ≤ 10 rows. */
  private val a33TopN = 10
  private val a33: Q = (s, dir) => {
    val cnt = t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("key")).agg(count(lit(1)).as("cnt"))
    val tot = cnt.agg(count(lit(1)).as("n_keys"),
      sum(col("cnt")).cast("long").as("n_rows"), max(col("cnt")).as("max_cnt"))
    val top = cnt.orderBy(col("cnt").desc, col("key")).limit(a33TopN)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("key"))))
    top.crossJoin(tot)
      .select(col("rank"), col("key"), col("cnt"),
        expr("cnt * 1000000 div n_rows").as("share_ppm"),
        (sum(col("cnt")).over(Window.orderBy(col("rank"))) * 1000000L)
          .divide(col("n_rows")).cast("long").as("cum_share_ppm"),
        col("n_keys"), col("n_rows"),
        expr("max_cnt * n_keys * 1000000 div n_rows").as("skew_ratio_ppm"),
        expr("(max_cnt * n_keys + n_rows - 1) div n_rows").as("n_salts"))
      .orderBy("rank")
  }
  private val a33Sql =
    s"""WITH c AS (
       |  SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM lineitem GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       |  CAST(SUM(cnt) AS BIGINT) AS n_rows,
       |  CAST(MAX(cnt) AS BIGINT) AS max_cnt FROM c),
       |top AS (SELECT key, cnt,
       |  CAST(row_number() OVER (ORDER BY cnt DESC, key) AS INT) AS rank
       |  FROM c ORDER BY cnt DESC, key LIMIT $a33TopN)
       |SELECT rank, key, cnt,
       |  cnt * 1000000 // n_rows AS share_ppm,
       |  CAST(SUM(cnt) OVER (ORDER BY rank) AS BIGINT) * 1000000 // n_rows
       |    AS cum_share_ppm,
       |  n_keys, n_rows,
       |  max_cnt * n_keys * 1000000 // n_rows AS skew_ratio_ppm,
       |  (max_cnt * n_keys + n_rows - 1) // n_rows AS n_salts
       |FROM top, tot ORDER BY rank""".stripMargin

  // --------------------------------------------- a34_retention_cohorts

  /** A34: retention cohort grid — users cohorted by their first active
    * week (integer weeks since epoch: epoch_us div 604.8e9, exact in
    * both engines), counted once per (cohort, weeks-since-first) cell.
    * THE product-analytics retention table; every cell divided by its
    * cohort's age-0 cell is the classic retention curve (left as counts
    * so the output is pure integers).
    *
    * Shape: the per-user first week is a window over the same user_id
    * key the dedup distinct then re-shuffles — two exchanges total,
    * both map-side-combined. */
  private val a34: Q = (s, dir) =>
    Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("wk"))
      .withColumn("cohort_wk",
        min(col("wk")).over(Window.partitionBy("user_id")))
      .select(col("user_id"), col("cohort_wk"),
        (col("wk") - col("cohort_wk")).as("age_wk"))
      .distinct()
      .groupBy("cohort_wk", "age_wk")
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort_wk", "age_wk")
  private val a34Sql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
      |c AS (SELECT user_id, wk,
      |  min(wk) OVER (PARTITION BY user_id) AS cohort_wk FROM ev)
      |SELECT cohort_wk, wk - cohort_wk AS age_wk,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
      |FROM c GROUP BY cohort_wk, wk - cohort_wk
      |ORDER BY cohort_wk, age_wk""".stripMargin

  // ------------------------------------------------------------ maps

  val queries: Map[String, Q] = Map(
    "w18_forward_fill" -> w18,
    "a32_ols_trend" -> a32,
    "a33_key_skew_audit" -> a33,
    "w19_ewma_smooth" -> w19,
    "a35_pr_curve" -> a35,
    "a36_dq_audit" -> a36,
    "w21_scd2_intervals" -> w21,
    "w20_trending_topk" -> w20,
    "a34_retention_cohorts" -> a34,
    "emb_power_iter" -> pi,
    "w13_cusum" -> w13,
    "a20_gini" -> a20,
    "t_jsd_drift" -> jsd,
    "emb_residual_norms" -> resid,
    "a23_median_mad" -> a23,
    "a24_winsorized_mean" -> a24,
    "a25_cramers_v" -> a25,
    "a26_heavy_change" -> a26,
    "a27_decay_score" -> a27,
    "a28_autocorr_lag1" -> a28,
    "o17_rendezvous_assign" -> o17,
    "o18_epoch_shuffle" -> o18,
    "a30_lang_entropy" -> a30,
    "o19_zorder_layout" -> o19,
    "emb_int8_quantize" -> int8,
    "a31_column_profile" -> a31,
    "a29_markov_transitions" -> a29,
    "w16_expanding_zscore" -> w16)

  val oracle: Map[String, String] = Map(
    "w18_forward_fill" -> w18Sql,
    "a32_ols_trend" -> a32Sql,
    "a33_key_skew_audit" -> a33Sql,
    "w19_ewma_smooth" -> w19Sql,
    "a35_pr_curve" -> a35Sql,
    "a36_dq_audit" -> a36Sql,
    "w21_scd2_intervals" -> w21Sql,
    "w20_trending_topk" -> w20Sql,
    "a34_retention_cohorts" -> a34Sql,
    "emb_power_iter" -> piSql,
    "w13_cusum" -> w13Sql,
    "a20_gini" -> a20Sql,
    "t_jsd_drift" -> jsdSql,
    "emb_residual_norms" -> residSql,
    "a23_median_mad" -> a23Sql,
    "a24_winsorized_mean" -> a24Sql,
    "a25_cramers_v" -> a25Sql,
    "a26_heavy_change" -> a26Sql,
    "a27_decay_score" -> a27Sql,
    "a28_autocorr_lag1" -> a28Sql,
    "o17_rendezvous_assign" -> o17Sql,
    "o18_epoch_shuffle" -> o18Sql,
    "a30_lang_entropy" -> a30Sql,
    "o19_zorder_layout" -> o19Sql,
    "emb_int8_quantize" -> int8Sql,
    "a31_column_profile" -> a31Sql,
    "a29_markov_transitions" -> a29Sql,
    "w16_expanding_zscore" -> w16Sql)
}
