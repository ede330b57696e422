package graft.queries

import graft.Checkpoints.CheckpointSyntax

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{EvalOps, PageRankOps, RankOps, SketchOps}

/** Beyond-reference operators (SURVEY §2.11): link-graph
  * PageRank, portable HyperLogLog distinct sketch, histogram ROC-AUC,
  * and size-balanced round-robin sharding over a distributed global
  * rank. Every oracle replays the operator's exact integer arithmetic —
  * including the HLL ESTIMATE and the damped fixed-point PageRank
  * update — per the house sketch rule (SketchOps scaladoc).
  */
object MetricsQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------- g1

  /** G1: PageRank over the bipartite supplier↔part supply graph from
    * lineitem (distinct pairs, both directions, so every node has an
    * out-edge and no dangling-mass rule is needed). Node ids are
    * namespaced — part → 2·partkey, supplier → 2·suppkey+1 — because
    * the two key spaces overlap numerically. 3 damped rounds at
    * d = 85/100, micro-unit fixed point (PageRankOps). */
  private val g1: Q = (s, dir) => {
    // NOT fanned out: measured 8.1 s fanned vs 7.3 s unfanned (probe,
    // sf0.1, orderBy included) — the map side is kernel-light, so the
    // widening exchange costs more than the single-task scan time (the
    // a4_sum/j3_upsert finding, reconfirmed here). Mirror symmetry:
    // dedup the FORWARD pairs once and derive the reverse edges by
    // swapping — the two directions live in disjoint odd/even node
    // namespaces, so the union is distinct by construction and the
    // operator is told so (assumeDistinct; half the dedup volume).
    //
    // Perf ledger (sf0.1, warm): 11.9 s per-round-checkpoint baseline
    // -> 5.0 s after lazy-loop + mirror-distinct. The residual vs the
    // oracle's ~0.5 s is per-stage fixed cost: three sequential damped
    // rounds are ~6 shuffle stages Spark cannot fuse, on a graph whose
    // TOTAL volume (1.2M edges) is one task's worth of real work —
    // DuckDB runs the same unrolled rounds as vectorized hash joins in
    // one process. The shape is right at scale (every stage keyed,
    // map-side combined, broadcast where bounded); the constant is the
    // price of iteration on a small graph — the j9 ratio class.
    val li = t(s, dir, "lineitem").select(col("l_suppkey"), col("l_partkey"))
    val fwd = li.select((col("l_suppkey") * 2 + 1).as("src"),
      (col("l_partkey") * 2).as("dst")).distinct()
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    // dimensionNodes: the node universe is the supplier ∪ part CATALOG
    // (dimension tables — bounded by vocabulary, not by lineitem
    // volume), so the |V|-row rank table rides broadcast rounds.
    // sourcesSpanNodes: the mirror union makes every endpoint a source,
    // so the node set is the out-degree table's key — no endpoint
    // distinct.
    PageRankOps.pageRank(edges, "src", "dst", iters = 3,
        assumeDistinct = true, dimensionNodes = true,
        sourcesSpanNodes = true)
      .orderBy("node")
  }

  private def g1Round(i: Int): String =
    s"""c$i AS (
       |  SELECT e.dst AS node, SUM(r${i - 1}.r // deg.d) AS m
       |  FROM e JOIN deg ON e.src = deg.src
       |         JOIN r${i - 1} ON r${i - 1}.node = e.src
       |  GROUP BY e.dst),
       |r$i AS (
       |  SELECT n.node,
       |    CAST(150000 + (85 * COALESCE(c$i.m, 0)) // 100 AS BIGINT) AS r
       |  FROM n LEFT JOIN c$i ON n.node = c$i.node)""".stripMargin
  private val g1Sql =
    s"""WITH e AS (
       |  SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst
       |  FROM lineitem
       |  UNION
       |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem),
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
       |n AS (SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
       |${(1 to 3).map(g1Round).mkString(",\n")}
       |SELECT node, r AS rank_micro FROM r3 ORDER BY node""".stripMargin

  // ------------------------------------------------------------- t_hll

  /** T-HLL: per-event-type distinct-user HyperLogLog estimate vs exact
    * (m = 64 portable registers; raw estimator, small-n bias documented
    * in SketchOps — KMV is the exact-below-k companion sketch). */
  private val tHll: Q = (s, dir) =>
    SketchOps.hllDistinct(t(s, dir, "events"), Seq("event_type"),
        col("user_id"))
      .orderBy("event_type")
  private val hllEstNum: Long =
    SketchOps.hllAlphaNum * SketchOps.hllM * SketchOps.hllM *
      (1L << (SketchOps.hllRestBits + 1))
  private val tHllSql = {
    val m = SketchOps.hllM
    val w = 1L << (SketchOps.hllRestBits + 1)
    val rho = (1 to SketchOps.hllRestBits)
      .map(k => s"CASE WHEN rest % ${1L << k} = 0 THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH h0 AS (
       |  SELECT event_type,
       |    ((user_id % 999999937 + 999999937) * 123456791 + 7919) % 999999937 AS h1
       |  FROM events WHERE user_id IS NOT NULL),
       |h AS (SELECT event_type, (h1 * h1 + 7919) % 999999937 AS h FROM h0),
       |b AS (SELECT event_type, h % $m AS bucket, h // $m AS rest FROM h),
       |r AS (SELECT event_type, bucket, MAX(1 + $rho) AS rho
       |      FROM b GROUP BY event_type, bucket),
       |s AS (SELECT event_type, COUNT(*) AS nr,
       |        SUM(CAST(1 AS BIGINT) << (${SketchOps.hllRestBits + 1} - rho)) AS sp
       |      FROM r GROUP BY event_type),
       |x AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
       |      FROM events WHERE user_id IS NOT NULL GROUP BY event_type)
       |SELECT s.event_type, CAST(nr AS INT) AS n_reg,
       |  CAST($hllEstNum // (${SketchOps.hllAlphaDen} * (($m - nr) * $w + sp))
       |    AS BIGINT) AS est_distinct,
       |  exact_distinct
       |FROM s JOIN x ON s.event_type = x.event_type
       |ORDER BY s.event_type""".stripMargin
  }

  // ------------------------------------------------------------- a16

  /** A16: ROC-AUC of the event `value` as a predictor of
    * event_type = 'purchase', scores quantized to 0.01 buckets — the
    * histogram rank-sum formulation (EvalOps) whose only global pass is
    * over the bucket table. */
  private val a16: Q = (s, dir) =>
    EvalOps.aucPpm(t(s, dir, "events"),
      floor(col("value") * 100), col("event_type") === lit("purchase"))
  private val a16Sql =
    """WITH h AS (
      |  SELECT CAST(FLOOR(value * 100) AS BIGINT) AS bucket,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS n
      |  FROM events WHERE value IS NOT NULL
      |  GROUP BY 1),
      |w AS (
      |  SELECT p, n,
      |    COALESCE(SUM(n) OVER (ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_below
      |  FROM h)
      |SELECT CAST(SUM(p) AS BIGINT) AS n_pos, CAST(SUM(n) AS BIGINT) AS n_neg,
      |  CAST(CASE WHEN SUM(p) > 0 AND SUM(n) > 0
      |    THEN (SUM(p * (2 * n_below + n)) * 1000000) // (2 * SUM(p) * SUM(n))
      |    END AS BIGINT) AS auc_ppm
      |FROM w""".stripMargin

  // ------------------------------------------------------------- o14

  /** O14: size-balanced round-robin sharding of the documents corpus
    * into 8 shards (largest-first deal over the distributed global
    * rank — RankOps; no single-partition pass over the rows), reported
    * as per-shard doc counts and char totals. The near-equal
    * total_chars across shards IS the operator's point. */
  private val o14Shards = 8
  private val o14: Q = (s, dir) =>
    RankOps.roundRobinShards(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        Seq(col("n_chars").desc, col("doc_id").asc), o14Shards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("shard")
  private val o14Sql =
    s"""WITH r AS (
       |  SELECT doc_id, n_chars,
       |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM documents),
       |s AS (SELECT CAST((rn - 1) % $o14Shards AS INT) AS shard, n_chars FROM r)
       |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
       |FROM s GROUP BY shard ORDER BY shard""".stripMargin

  // ---------------------------------------------------------- t_zipf

  /** T-ZIPF: Zipf slope of the corpus rank-frequency curve — the
    * corpus-health scalar (natural text ≈ −1; machine spam and
    * template floods bend it) fit by integer least squares over
    * quantized logs. Term counts come from the same tokenizer as the
    * unigram LM; ranks come from RankOps' distributed global row
    * number (the vocab is Zipf-bounded but web-scale — a single-task
    * ROW_NUMBER here would be the classic collapse); lnq quantization
    * is the t_unigram_nll idiom (floor(1e6·ln) of DISTINCT INTEGERS
    * only), after which slope_ppm = (n·Σxy − Σx·Σy)·10⁶ div
    * (n·Σx² − Σx·Σx) is pure integer math. Sums lift to DECIMAL(38,0)
    * (Σx² terms pass BIGINT at ~1e5 terms; DuckDB sums in HUGEINT);
    * both engines' integer division truncates toward zero, so the
    * negative slope divides identically.
    *
    * Cost (JobCensus, sf0.1): 11 driver jobs, max job wall 0.21 s,
    * sum 0.58 s of a 1.14 s census wall. The only real kernel is the shared
    * tokenize
    * pass (4.91 s task-time over 5000 docs ≈ 0.15 s wall at 32
    * threads); the rank/fit chain runs on ≤ vocab rows. Pure jobs ×
    * floor — the multi-job shape is RankOps' distributed row number,
    * which is the scale-correct trade. */
  private val tZipf: Q = (s, dir) => {
    import graft.queries.{RetrievalQueries => RQ}
    // RankOps.globalRowNumber reads its input TWICE by construction
    // (the P-row offsets pass, then the rank join) — checkpoint the
    // vocab-bounded count table so the tokenize+shuffle pass under it
    // runs once. Measured a WASH at fixture size (1.12 -> 1.10 s min —
    // the session job floor dominates 5k docs); the cut is for the
    // corpus-scaled tokenize, which would otherwise run 2x.
    val cnt = RQ.tokenTf(Tables.fanOut(t(s, dir, "documents")), "doc_id")
      .groupBy("term").agg(sum(col("tf")).as("cnt"))
      .checkpointed()
    RankOps.globalRowNumber(cnt, Seq(col("cnt").desc, col("term").asc), "rank")
      .select(
        expr("CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(rank AS DOUBLE))) AS BIGINT)").as("x"),
        expr("CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(cnt AS DOUBLE))) AS BIGINT)").as("y"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
      .select(col("n_terms"),
        expr("CAST(((n_terms * sxy - sx * sy) * 1000000) div (n_terms * sxx - sx * sx) AS BIGINT)")
          .as("slope_ppm"))
  }
  private val tZipfSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
      |  FROM documents),
      |cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY term),
      |rk AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS rank FROM cnt),
      |xy AS (
      |  SELECT
      |    CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(rank AS DOUBLE))) AS BIGINT) AS x,
      |    CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(cnt AS DOUBLE))) AS BIGINT) AS y
      |  FROM rk)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
      |  CAST(((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)) * 1000000) //
      |       (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) AS BIGINT) AS slope_ppm
      |FROM xy""".stripMargin

  // ------------------------------------------------- t_percentile_gate

  /** T-PGATE: dynamic-threshold gate — keep documents at or above the
    * corpus p90 of n_chars, where the threshold itself is computed by
    * the query (two-pass: exact histogram percentile over DISTINCT
    * values, then a 1-row broadcast against the scan). The lower-
    * quantile definition (smallest v with cum_count ≥ ceil(0.9·N),
    * ceil as (9N+9) div 10) keeps everything integer. The window runs
    * over the value histogram, never the rows — StatsOps' percentile
    * argument. */
  private val pGate: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val hist = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
    val total = hist.agg(sum(col("c")).as("nn"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_chars"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val thr = hist.withColumn("cc", sum(col("c")).over(w))
      .crossJoin(broadcast(total))
      .filter(col("cc") >= expr("(9 * nn + 9) div 10"))
      .agg(min(col("n_chars")).as("thr"))
    docs.crossJoin(broadcast(thr))
      .filter(col("n_chars") >= col("thr"))
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }
  private val pGateSql =
    """WITH h AS (SELECT n_chars, COUNT(*) AS c FROM documents GROUP BY n_chars),
      |t AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM h),
      |cum AS (
      |  SELECT n_chars, SUM(c) OVER (ORDER BY n_chars
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      |  FROM h),
      |thr AS (SELECT MIN(n_chars) AS thr FROM cum
      |        WHERE cc >= (SELECT (9 * nn + 9) // 10 FROM t))
      |SELECT doc_id, n_chars FROM documents
      |WHERE n_chars >= (SELECT thr FROM thr)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- o15_weighted

  /** O15: deterministic weighted (PPS) sampling — top-5 documents per
    * source by priority w/u (Duffield–Lund–Thorup priority sampling),
    * with the uniform draw u replaced by the portable hash of doc_id
    * scaled to (0, 1]: priority_fp = (w · M) div (h + 1). Bigger docs
    * win proportionally more often, the draw is regeneration-stable
    * (hash, not rand), and the whole thing replays in SQL. The top-k
    * tail is TopKOps' bounded map-side aggregation — never a window
    * sort over the corpus. */
  private val o15K = 5
  private val o15: Q = (s, dir) => {
    import graft.operators.{SketchOps => SK, TopKOps}
    val pri = t(s, dir, "documents")
      .withColumn("priority_fp",
        expr(s"(n_chars * ${SK.hashM}) div " +
          s"((((doc_id % ${SK.hashM} + ${SK.hashM}) * 123456791 + 7919) % ${SK.hashM}) + 1)"))
    TopKOps.topKByValue(pri, Seq("source"),
        col("priority_fp"), col("doc_id"), o15K,
        orderName = "priority_fp", tieName = "doc_id")
      .orderBy("source", "rank")
  }
  private val o15Sql =
    s"""WITH pr AS (
       |  SELECT source, doc_id,
       |    (n_chars * 999999937) //
       |      (((doc_id % 999999937 + 999999937) * 123456791 + 7919) % 999999937 + 1)
       |      AS priority_fp
       |  FROM documents),
       |r AS (
       |  SELECT source, doc_id, priority_fp,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY priority_fp DESC, doc_id ASC) AS INT) AS rank
       |  FROM pr)
       |SELECT source, rank, priority_fp, doc_id FROM r
       |WHERE rank <= $o15K ORDER BY source, rank""".stripMargin

  // ------------------------------------------------------------- p7

  /** P7: pivot — per-user wide activity profile over the event log
    * (count + fixed-point value total per event type). The pivot VALUES
    * are an explicit literal list: that is the scale-correct form (no
    * values-discovery job, a fixed output schema, and the whole thing
    * is ONE hash aggregate with map-side combine over (user, type) —
    * never a per-type scan). Pivot cells with no rows are null in
    * Spark's pivot; counts are coalesced to 0 to match SQL conditional
    * COUNT, value sums stay NULL (SUM over the empty set) in both
    * engines. */
  private val p7Types = Seq("click", "error", "purchase", "signup", "view")
  private val p7: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .withColumn("value_fp", expr("CAST(round(value * 100) AS BIGINT)"))
    val wide = ev.groupBy("user_id")
      .pivot("event_type", p7Types)
      .agg(count(lit(1)).as("n"), sum(col("value_fp")).as("v"))
    wide.select(
      col("user_id") +:
        p7Types.flatMap(tp => Seq(
          coalesce(col(s"${tp}_n"), lit(0L)).as(s"${tp}_n"),
          col(s"${tp}_v"))): _*)
      .orderBy("user_id")
  }
  private val p7Sql = {
    val cols = p7Types.map { tp =>
      s"COUNT(CASE WHEN event_type = '$tp' THEN 1 END) AS ${tp}_n, " +
        s"CAST(SUM(CASE WHEN event_type = '$tp' THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS ${tp}_v"
    }.mkString(", ")
    s"SELECT user_id, $cols FROM events GROUP BY user_id ORDER BY user_id"
  }

  // ------------------------------------------------------------- p8

  /** P8: unpivot (melt) — the wide lineitem measures to long
    * (metric, value_fp) form, the layout step feeding any
    * metric-generic QC pass. Spark's Dataset.unpivot is a single
    * Expand over one scan — row count ×4 with NO join, NO union of
    * re-scans, NO shuffle (pinned in PlanShapeSpec); measures are
    * pre-cast to fixed-point BIGINT so the melted value column has one
    * type. */
  private val p8Metrics =
    Seq("qty_fp" -> "l_quantity", "price_fp" -> "l_extendedprice",
      "disc_fp" -> "l_discount", "tax_fp" -> "l_tax")
  private val p8: Q = (s, dir) => {
    val base = t(s, dir, "lineitem").filter(col("l_orderkey") < 400)
      .select(
        col("l_orderkey") +: col("l_linenumber") +:
          p8Metrics.map { case (n, c) =>
            expr(s"CAST(round($c * 100) AS BIGINT)").as(n)
          }: _*)
    base.unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        p8Metrics.map { case (n, _) => col(n) }.toArray,
        "metric", "value_fp")
      .orderBy("l_orderkey", "l_linenumber", "metric")
  }
  private val p8Sql = {
    val defs = p8Metrics.map { case (n, c) =>
      s"CAST(round($c * 100) AS BIGINT) AS $n"
    }.mkString(", ")
    val arms = p8Metrics.map { case (n, _) =>
      s"SELECT l_orderkey, l_linenumber, '$n' AS metric, $n AS value_fp FROM b"
    }.mkString(" UNION ALL ")
    s"WITH b AS (SELECT l_orderkey, l_linenumber, $defs FROM lineitem WHERE l_orderkey < 400) " +
      s"$arms ORDER BY l_orderkey, l_linenumber, metric"
  }

  // ------------------------------------------------------------- a17

  /** A17: grouped higher moments — mean/variance/skew/kurtosis of the
    * (integral) lineitem quantity per return flag, via StatsOps'
    * exact-power-sum formulation (one combine pass; DECIMAL(38,0) sums
    * ≙ DuckDB HUGEINT; skew/kurt derived from the exact integers by a
    * fixed IEEE op sequence both engines replay bit-identically). */
  private val a17: Q = (s, dir) =>
    // No fanOut since the histogram rewrite: the per-row map work is two
    // long multiplies, so repartitioning every data row to session width
    // costs more than it buys (the shuffle WAS the remaining time).
    graft.operators.StatsOps.momentsFp(
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_quantity").cast("bigint").as("q")),
        Seq("l_returnflag"), "q")
      .orderBy("l_returnflag")
  private val a17Sql =
    """WITH s AS (
      |  SELECT l_returnflag,
      |    CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(CAST(l_quantity AS HUGEINT)) AS HUGEINT) AS s1,
      |    SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT)) AS s2,
      |    SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT)) AS s3,
      |    SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT)) AS s4
      |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY l_returnflag)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      |  CAST((s1 * 1000000) // n AS BIGINT) AS mean_ppm,
      |  CAST(((n * s2 - s1 * s1) * 1000000) // (n * n) AS BIGINT) AS var_ppm,
      |  CAST(floor((1000000.0 * CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS DOUBLE)) /
      |    (CAST(n * s2 - s1 * s1 AS DOUBLE) * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)))) AS BIGINT) AS skew_ppm,
      |  CAST(floor((1000000.0 * CAST(n AS DOUBLE) * CAST(n * n * n * s4 - 4 * n * n * s1 * s3 + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS DOUBLE)) /
      |    (CAST(n * s2 - s1 * s1 AS DOUBLE) * CAST(n * s2 - s1 * s1 AS DOUBLE))) AS BIGINT) AS kurt_ppm
      |FROM s ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------- g2

  /** G2: triangle census of the part co-purchase graph (parts sharing
    * an order; within-order pair generation is bounded by order size —
    * the j8 fan-out class) via GraphOps' degree-oriented wedge join.
    * The oracle counts the same triangles with the naive a<b<c
    * three-way join — orientation-invariant, so the counts must agree
    * exactly; the ORIENTED plan is what survives power-law hubs at
    * scale (out-degree ≤ O(√m) per node). */
  /** Part co-purchase edges (parts sharing an order, p1 < p2): the
    * shared fixture graph for g2/g3/g6. Within-order pair fan-out is
    * bounded by order size — the j8 class. A collect_set + array-
    * combinations rewrite (one shuffle, no self-join) was measured and
    * REJECTED: higher-order array functions run outside whole-stage
    * codegen and the round-trip cost its three consumers ~1 s each at
    * sf0.1; the codegen'd distinct+self-join wins on constants.
    *
    * Re-probed (same-JVM alternating, parity
    * checksummed) with the NATIVE packed_pairs kernel this time —
    * groupBy(o) + sort_array(collect_set) + codegen'd C(n,2) explode,
    * replacing BOTH the distinct and the hinted self-join (2 keyed
    * exchanges -> 1, jobs -1): LOST 0/8 pairs (g3 shape 3.84-4.57 vs
    * 3.19-3.74 s; g6 shape 5.46-7.94 vs 4.73-5.89). Same root cause
    * a19's basket audit found: the collect_set aggregate's per-order
    * array buffers cost more than the exchange-reused self-join they
    * remove, even when the (o,p) table has no other consumer. The
    * verdict transfers across every coEdges consumer; REJECTED. */
  private def coEdges(s: SparkSession, dir: String): DataFrame = {
    // The (o,p) pre-distinct stays: dropping it was measured SLOWER
    // (g3 2.65 -> 3.23 s — the dedup shrinks the self-join's build and
    // probe sides more than its exchange costs), and the collect_set
    // array-combinations form slower still (above).
    val op = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    // shuffle_hash (the a19 finding, reconfirmed here): without the hint
    // Spark auto-BROADCASTS one 600k-row side of the self-join (under
    // the 10 MB threshold at sf0.1 — wrong at any real SF, and measured
    // 2.2-2.5 vs 1.4-1.8 s for the distinct+checkpoint fixture); the
    // hinted plan keys both sides on `o` and reuses one exchange.
    val a = op.select(col("o"), col("p").as("p1")).hint("shuffle_hash")
    val b = op.select(col("o"), col("p").as("p2"))
    a.join(b, Seq("o")).filter(col("p1") < col("p2")).select("p1", "p2")
  }

  // Re-probed (same-JVM A/B, parity
  // checksummed): feeding triangleStats an ALREADY-checkpointed coEdges
  // LOST 3/4 alternating pairs (4.44-4.75 vs 4.19-4.75 s, jobs 21->22).
  // The generator's single consumer is triangleStats' own
  // distinct+checkpoint, so the extra cut is a pure second
  // materialization barrier of the multi-edge pair stream — the
  // single-consumer rule g5's peel loop follows for its last round.
  // The in-operator canonical checkpoint is the only cut.
  private val g2: Q = (s, dir) =>
    graft.operators.GraphOps.triangleStats(coEdges(s, dir), "p1", "p2")
  private val g2Sql =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT a.p AS a, b.p AS b FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      |deg AS (SELECT v, COUNT(*) AS d FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v),
      |tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      |        FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |da AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |              CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS n_wedges FROM deg),
      |ea AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |  CAST(CASE WHEN n_wedges > 0 THEN (n_triangles * 3 * 1000000) // n_wedges END AS BIGINT) AS global_cc_ppm
      |FROM da, ea, tri""".stripMargin

  // ------------------------------------------------------- t_entropy

  /** T-ENTROPY: per-document Shannon entropy of the doc's own token
    * distribution — the repetition/diversity scalar (template floods
    * and keyword-stuffed spam sit far below natural text; a
    * complementary signal to t_repetition's n-gram ratios). Identity
    * H = ln(dl) − (1/dl)·Σ tf·ln(tf) over the doc's term frequencies,
    * computed in the corpus lnq quantization (floor(10⁶·ln k) of
    * INTEGERS only, so both engines floor the same doubles): one
    * tokenize, one per-doc combine — never a per-doc vocabulary
    * materialization. */
  private val tEntropy: Q = (s, dir) => {
    import graft.queries.{RetrievalQueries => RQ}
    RQ.tokenTf(Tables.fanOut(t(s, dir, "documents")), "doc_id")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("dl"),
        sum(col("tf") *
          expr("CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(tf AS DOUBLE))) AS BIGINT)"))
          .as("stl"))
      .filter(col("dl") > 0)
      .select(col("doc_id"), col("dl"),
        expr("CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(dl AS DOUBLE))) AS BIGINT) - stl div dl")
          .as("entropy_ppm"))
      .orderBy("doc_id")
  }
  private val tEntropySql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
      |d AS (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl,
      |    CAST(SUM(tf * CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(tf AS DOUBLE))) AS BIGINT)) AS BIGINT) AS stl
      |  FROM tf GROUP BY doc_id)
      |SELECT doc_id, dl,
      |  CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(dl AS DOUBLE))) AS BIGINT) - stl // dl AS entropy_ppm
      |FROM d WHERE dl > 0 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ t_kl_drift

  /** T-KL: add-1-smoothed KL divergence (both directions) between the
    * English slice's unigram distribution and the rest of the corpus —
    * the distribution-drift monitor a continuously-fed training
    * pipeline runs between crawl batches. Identity (P = slice A,
    * Q = rest, V = shared vocab):
    *   KL(P‖Q) = (Σ_t (cA_t+1)·[ln(cA_t+1) − ln(cB_t+1)]) / (NA+V)
    *             + ln(NB+V) − ln(NA+V)
    * — every ln is of an INTEGER, so the corpus lnq quantization
    * applies and the whole scalar replays exactly. One tokenize, one
    * (term)-keyed combine to the per-term (cA, cB) table, one global
    * fold; products lift to DECIMAL(38,0) (DuckDB HUGEINT) and the
    * single integer division truncates toward zero identically in
    * both engines (the t_zipf_slope note). */
  private def lnFp(x: String): String =
    s"CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST($x AS DOUBLE))) AS BIGINT)"
  private val tKl: Q = (s, dir) => {
    import graft.queries.{RetrievalQueries => RQ}
    val tok = RQ.tokenTf(Tables.fanOut(t(s, dir, "documents")), "lang")
    val perTerm = tok.groupBy("term").agg(
      sum(when(col("lang") === lit("en"), col("tf")).otherwise(lit(0L))).as("ca"),
      sum(when(col("lang") =!= lit("en"), col("tf")).otherwise(lit(0L))).as("cb"))
    perTerm.agg(
        count(lit(1)).as("n_terms"),
        sum(col("ca")).as("na"),
        sum(col("cb")).as("nb"),
        // Cast BEFORE the multiply (decimal×bigint, ≙ the oracle's
        // HUGEINT lift): at web scale (ca+1)·Δlnq can pass BIGINT.
        sum(expr(s"CAST(ca + 1 AS DECIMAL(38,0)) * (${lnFp("ca + 1")} - ${lnFp("cb + 1")})"))
          .as("sab"),
        sum(expr(s"CAST(cb + 1 AS DECIMAL(38,0)) * (${lnFp("cb + 1")} - ${lnFp("ca + 1")})"))
          .as("sba"))
      .select(col("n_terms"), col("na"), col("nb"),
        expr(s"CAST(sab div (na + n_terms) + ${lnFp("nb + n_terms")} - ${lnFp("na + n_terms")} AS BIGINT)")
          .as("kl_ab_ppm"),
        expr(s"CAST(sba div (nb + n_terms) + ${lnFp("na + n_terms")} - ${lnFp("nb + n_terms")} AS BIGINT)")
          .as("kl_ba_ppm"))
  }
  private val tKlSql =
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
       |  FROM documents),
       |pt AS (
       |  SELECT term,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM tok GROUP BY term),
       |s AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       |    CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
       |    SUM(CAST(ca + 1 AS HUGEINT) * (${lnFp("ca + 1")} - ${lnFp("cb + 1")})) AS sab,
       |    SUM(CAST(cb + 1 AS HUGEINT) * (${lnFp("cb + 1")} - ${lnFp("ca + 1")})) AS sba
       |  FROM pt)
       |SELECT n_terms, na, nb,
       |  CAST(sab // (na + n_terms) + ${lnFp("nb + n_terms")} - ${lnFp("na + n_terms")} AS BIGINT) AS kl_ab_ppm,
       |  CAST(sba // (nb + n_terms) + ${lnFp("na + n_terms")} - ${lnFp("nb + n_terms")} AS BIGINT) AS kl_ba_ppm
       |FROM s""".stripMargin

  // ------------------------------------------------------ o16_decile

  /** O16: decile profile of the document-length distribution — the
    * corpus-shape report a curation pass reads before choosing gates.
    * Bucket = ((rank−1)·10) div N + 1 over the (n_chars, doc_id) total
    * order (the same closed form on both engines — NTILE's
    * remainder-to-early-buckets rule is avoided deliberately), with
    * the rank from RankOps' distributed global row number: one range
    * exchange, in-partition offsets, broadcast totals — never a
    * single-task ORDER BY over the corpus. Output is 10 rows. */
  private val o16: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val ranked = RankOps.globalRowNumber(
      docs, Seq(col("n_chars").asc, col("doc_id").asc), "rn")
    val total = docs.agg(count(lit(1)).as("nn"))
    ranked.crossJoin(broadcast(total))
      .select(col("n_chars"),
        expr("CAST(((rn - 1) * 10) div nn + 1 AS INT)").as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("decile")
  }
  private val o16Sql =
    """WITH r AS (
      |  SELECT n_chars,
      |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER () AS nn
      |  FROM documents)
      |SELECT CAST(((rn - 1) * 10) // nn + 1 AS INT) AS decile,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
      |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- a18

  /** A18: CUBE grouping sets — every (lang × source) margin in one
    * pass (a15's rollup sibling; CUBE adds the source-only margin a
    * rollup skips). Physically one Expand (×4 grouping sets) feeding
    * one map-side-combined aggregate — never four scans. */
  private val a18: Q = (s, dir) =>
    t(s, dir, "documents")
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        grouping_id().cast("int").as("gid"))
      .select(col("lang"), col("source"), col("gid"),
        col("n_docs"), col("sum_chars"))
      .orderBy(col("gid"), col("lang").asc_nulls_first,
        col("source").asc_nulls_first)
  private val a18Sql =
    """SELECT lang, source,
      |  CAST(GROUPING(lang) * 2 + GROUPING(source) AS INT) AS gid,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY CUBE (lang, source)
      |ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""".stripMargin

  // ------------------------------------------------------------- w12

  /** W12: per-user inter-event gap statistics — the cadence signal
    * (bot-rate vs human-rate detection, feed-health monitoring) the
    * w-family's frame windows don't expose. One shuffle on user_id;
    * lag over the (ts, event_id) TOTAL order (tied timestamps cannot
    * permute), gaps in exact epoch microseconds, avg as integer
    * division — nonneg div, identical truncation both engines. */
  private val w12: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("tu"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tu"))
      .withColumn("gap", col("tu") - lag(col("tu"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap")).as("min_gap_us"),
        max(col("gap")).as("max_gap_us"),
        expr("sum(gap) div count(1)").as("avg_gap_us"))
      .orderBy("user_id")
  }
  private val w12Sql =
    """WITH g AS (
      |  SELECT user_id,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS gap
      |  FROM events)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |  CAST(MIN(gap) AS BIGINT) AS min_gap_us,
      |  CAST(MAX(gap) AS BIGINT) AS max_gap_us,
      |  CAST(SUM(gap) // COUNT(*) AS BIGINT) AS avg_gap_us
      |FROM g WHERE gap IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------- g3

  /** G3: degree assortativity of the part co-purchase graph — do
    * high-degree parts co-occur with other high-degree parts? The
    * graph-health scalar completing the CC / PageRank / triangle
    * quartet. Pearson over the mirrored edge list's endpoint-degree
    * pairs, where mirroring makes both marginals IDENTICAL, so the
    * usual sqrt denominator collapses to the x-variance and the whole
    * coefficient is PURE INTEGER:
    *   r_ppm = ((n·Σxy − Σx²)·10⁶) div (n·Σx² − (Σx)²).
    * Sums lift to DECIMAL(38,0) (HUGEINT oracle-side); one degree
    * aggregate, two keyed joins, one fold. */
  private val g3: Q = (s, dir) => {
    // FLOOR, by its own profile (JobCensus at sf0.1): of
    // ~18 s total task-time, 15.6 s is coEdges generation + distinct +
    // checkpoint + degree (6.76 s self-join over 2.39M pair rows,
    // 3.22 s distinct, 2.55 s checkpoint of 1.2M edges, 3.07 s degree
    // fold) — the fixture-graph cost every consumer of this graph pays,
    // already bake-off'd (shuffle_hash and dedup variants measured and
    // rejected). The assortativity fold
    // itself (two broadcast degree joins + one global aggregate) is
    // ~0.35 s. Nothing assortativity-specific is left to cut.
    //
    // Checkpoint the canonical edge set once: the degree pass, the
    // mirror, and both degree joins all read it — without the cut the
    // co-purchase self-join lineage re-executes per consumer
    // (triangleStats' treatment; measured 3.1 -> 2.7 s at sf0.1).
    val e = coEdges(s, dir).distinct().checkpointed()
    // Materialize deg too: it feeds BOTH endpoint joins, and left lazy
    // Spark plans the union+aggregate subtree twice (verified in the
    // formatted plan). It is bounded by |parts| — dimension-sized — so
    // broadcast it into the mirrored-edge joins instead of paying two
    // SortMergeJoin sorts of the 2|E| list. Measured: the downstream
    // joins+fold drop to 0.35 s; the query total stays ~2.6 s because
    // the coEdges fixture generation dominates.
    val deg = e.select(col("p1").as("v")).union(e.select(col("p2").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .checkpointed()
    // Row-count guard (triangleStats' broadcastEdgeLimit treatment):
    // |deg| is bounded by |parts| here, but the bound is a
    // property of THIS graph, not of the operator shape — a fact-scaled
    // vertex set must fall back to keyed joins, not OOM the driver.
    // deg.count() is free (just checkpointed).
    val degB: DataFrame => DataFrame =
      if (deg.count() <= 5_000_000L) broadcast else identity
    val sym = e.union(e.select(col("p2").as("p1"), col("p1").as("p2")))
    sym
      .join(degB(deg.select(col("v").as("p1"), col("d").as("x"))), Seq("p1"))
      .join(degB(deg.select(col("v").as("p2"), col("d").as("y"))), Seq("p2"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
      .select(expr("CAST(n div 2 AS BIGINT)").as("n_edges"),
        expr("""CAST(CASE WHEN n * sxx - sx * sx > 0
                THEN ((n * sxy - sx * sx) * 1000000) div (n * sxx - sx * sx)
                END AS BIGINT)""".replaceAll("\\s+", " ")).as("assort_ppm"))
  }
  private val g3Sql =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT a.p AS p1, b.p AS p2 FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM
      |  (SELECT p1 AS v FROM e UNION ALL SELECT p2 AS v FROM e) GROUP BY v),
      |sym AS (SELECT p1, p2 FROM e UNION ALL SELECT p2, p1 FROM e),
      |xy AS (SELECT da.d AS x, db.d AS y FROM sym
      |       JOIN deg da ON da.v = sym.p1 JOIN deg db ON db.v = sym.p2),
      |s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(CAST(x AS HUGEINT)) AS sx,
      |        SUM(CAST(x AS HUGEINT) * y) AS sxy, SUM(CAST(x AS HUGEINT) * x) AS sxx
      |      FROM xy)
      |SELECT CAST(n // 2 AS BIGINT) AS n_edges,
      |  CAST(CASE WHEN n * sxx - sx * sx > 0
      |    THEN ((n * sxy - sx * sx) * 1000000) // (n * sxx - sx * sx)
      |    END AS BIGINT) AS assort_ppm
      |FROM s""".stripMargin

  // ------------------------------------------------------------- g6

  /** G6: label-propagation communities over the part co-purchase graph —
    * the densely-linked-group report completing the graph family (CC
    * answers reachability; LPA's majority rule separates the dense
    * groups INSIDE a giant component). 2 synchronized rounds,
    * deterministic min-label ties ([[graft.operators.GraphOps
    * .labelPropagation]]); a fixed round count is the defined report,
    * the g5 peeling-front convention. Output is the bounded per-community
    * summary, never the node list. */
  private val g6: Q = (s, dir) =>
    graft.operators.GraphOps.labelPropagation(coEdges(s, dir), "p1", "p2",
        rounds = 2, dimensionNodes = true)
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), min(col("v")).as("min_node"),
        max(col("v")).as("max_node"))
      .select(col("label").as("community"), col("n_nodes"),
        col("min_node"), col("max_node"))
      .orderBy("community")
  private def g6Round(i: Int): String =
    s"""c$i AS (
       |  SELECT s.dst AS v, l.label, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM sym s JOIN l${i - 1} l ON l.v = s.src GROUP BY 1, 2),
       |l$i AS (
       |  SELECT v, label FROM (
       |    SELECT v, label,
       |      row_number() OVER (PARTITION BY v ORDER BY c DESC, label) AS rn
       |    FROM c$i)
       |  WHERE rn = 1)""".stripMargin
  private val g6Sql =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (SELECT DISTINCT a.p AS p1, b.p AS p2
       |      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
       |sym AS (SELECT p1 AS src, p2 AS dst FROM e
       |        UNION ALL SELECT p2, p1 FROM e),
       |l0 AS (SELECT DISTINCT src AS v, src AS label FROM sym),
       |${(1 to 2).map(g6Round).mkString(",\n")}
       |SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(MIN(v) AS BIGINT) AS min_node, CAST(MAX(v) AS BIGINT) AS max_node
       |FROM l2 GROUP BY label ORDER BY community""".stripMargin

  // ---------------------------------------------------------------- g8

  /** G8: modularity of the g6 label-propagation communities — the
    * quality score that says whether the detected communities are
    * denser than chance (Newman's Q). Exact integer form: with m total
    * edges, intra-community edge counts m_c and community degree mass
    * D_c,   Q·4m² = Σ_c (4·m·m_c − D_c²),
    * so every community's contribution and the global Q render as
    * ppm via one HUGEINT/DECIMAL(38,0) cross-multiplied floor division
    * — no per-community float accumulates. Negative contributions
    * (sparser than chance) divide identically in both engines: Spark
    * `div` and DuckDB `//` both truncate toward zero.
    *
    * Shape: the canonical edge list is checkpointed once and feeds the
    * label rounds, the intra-edge classification (two keyed label
    * joins), and the degree mass; m is one driver-side count of the
    * checkpointed edges (bounded model state, the a25 rule). */
  private val g8: Q = (s, dir) => {
    // coEdges emits one row PER SHARED ORDER; modularity is over the
    // simple graph, so collapse to distinct pairs (already p1 < p2) —
    // triangleStats does the same internally.
    val e = coEdges(s, dir).distinct().checkpointed()
    // assumeCanonical: e is distinct p1 < p2 of the integral part keys
    // and checkpointed RIGHT HERE — the LPA-internal canon path would
    // re-pay a |E| distinct shuffle + |E| checkpoint for nothing.
    val labels = graft.operators.GraphOps
      .labelPropagation(e, "p1", "p2", rounds = 2, assumeCanonical = true)
      .checkpointed()
    val m = e.count()
    val dec = s"CAST($m AS DECIMAL(38,0))"
    // ONE edge×label pass feeds BOTH the intra-community edge count and
    // the community degree mass (same-JVM A/B: min 5.83 vs
    // 6.83 s, jobs 31 -> 27, parity checksummed). The former shape ran
    // a separate per-node degree aggregate (one |2E| shuffle on v) and
    // joined it against labels a THIRD time; but Σ_{v∈c} deg(v) is just
    // each edge contributing 1 to BOTH endpoints' communities, so the
    // labeled edge table already carries it. n_nodes comes off the
    // label table directly (every LPA node has >= 1 edge by
    // construction). el is checkpointed: three consumers, and the
    // tiny per-community table below is checkpointed too so the
    // q_total fold does not re-execute the join subtree (the before
    // plan carried the WHOLE subtree twice under the final cross join
    // — 38 Exchanges; after: 10).
    val el = e
      .join(labels.select(col("v").as("p1"), col("label").as("la")), Seq("p1"))
      .join(labels.select(col("v").as("p2"), col("label").as("lb")), Seq("p2"))
      .select("la", "lb")
      .checkpointed()
    val intra = el.filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("m_intra"))
    val degC = el.select(col("la").as("community"))
      .union(el.select(col("lb").as("community")))
      .groupBy("community").agg(count(lit(1)).as("deg_sum"))
    val nNodes = labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    val per = nNodes.join(degC, Seq("community"))
      .join(intra, Seq("community"), "left")
      .withColumn("m_intra", coalesce(col("m_intra"), lit(0L)))
      .withColumn("num", expr(
        s"4 * $dec * m_intra - CAST(deg_sum AS DECIMAL(38,0)) * deg_sum"))
      .checkpointed()
    val qTot = per.agg(expr(
      s"CAST(sum(num) * 1000000 div (4 * $dec * $m) AS BIGINT)")
      .as("q_total_ppm"))
    per.crossJoin(broadcast(qTot))
      .select(col("community"), col("n_nodes"), col("m_intra"), col("deg_sum"),
        expr(s"CAST(num * 1000000 div (4 * $dec * $m) AS BIGINT)")
          .as("contrib_ppm"),
        col("q_total_ppm"))
      .orderBy("community")
  }
  private val g8Sql =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (SELECT DISTINCT a.p AS p1, b.p AS p2
       |      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
       |sym AS (SELECT p1 AS src, p2 AS dst FROM e
       |        UNION ALL SELECT p2, p1 FROM e),
       |l0 AS (SELECT DISTINCT src AS v, src AS label FROM sym),
       |${(1 to 2).map(g6Round).mkString(",\n")},
       |mm AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM e),
       |intra AS (
       |  SELECT la.label AS community, CAST(COUNT(*) AS BIGINT) AS m_intra
       |  FROM e JOIN l2 la ON la.v = e.p1 JOIN l2 lb ON lb.v = e.p2
       |  WHERE la.label = lb.label GROUP BY 1),
       |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d
       |  FROM (SELECT p1 AS v FROM e UNION ALL SELECT p2 FROM e) GROUP BY v),
       |degc AS (
       |  SELECT l2.label AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(d) AS BIGINT) AS deg_sum
       |  FROM deg JOIN l2 ON l2.v = deg.v GROUP BY 1),
       |per AS (
       |  SELECT community, n_nodes, COALESCE(m_intra, 0) AS m_intra, deg_sum,
       |    4 * m * COALESCE(m_intra, 0) - CAST(deg_sum AS HUGEINT) * deg_sum AS num
       |  FROM degc LEFT JOIN intra USING (community), mm),
       |qt AS (SELECT SUM(num) AS snum FROM per)
       |SELECT community, n_nodes, CAST(m_intra AS BIGINT) AS m_intra, deg_sum,
       |  CAST(num * 1000000 // (4 * m * m) AS BIGINT) AS contrib_ppm,
       |  CAST(snum * 1000000 // (4 * m * m) AS BIGINT) AS q_total_ppm
       |FROM per, qt, mm ORDER BY community""".stripMargin

  // ------------------------------------------------- dedup_fuzzy_key

  /** FUZZY-KEY: entity resolution over dirty string keys — part-name
    * pairs within edit distance 3, blocked by first token. The
    * load-bearing design choice: matching runs over the DISTINCT VALUE
    * SPACE (names grouped first, with per-value row counts carried),
    * not over rows — a key vocabulary is bounded while rows are not,
    * so the within-block quadratic pays |values|², never |rows|²
    * (this fixture: 64 values across 2k/20k/… rows — the pair count is
    * SCALE-INVARIANT while a row-level self-join grows 100× per sf
    * step). A cheap length-band predicate prunes before the
    * levenshtein kernel runs; dist ≥ 1 excludes the exact-duplicate
    * pairs that belong to dedup_exact. Both engines' levenshtein is
    * the classic unit-cost edit distance — integer, exactly
    * comparable. Blocking recall is the standard ER tradeoff: pairs
    * differing in their first token are not candidates (documented,
    * not hidden). */
  private val fuzzy: Q = (s, dir) => {
    val names = t(s, dir, "part").groupBy(col("p_name"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("bk", element_at(split(col("p_name"), " "), 1))
    val a = names.select(col("bk"), col("p_name").as("name_a"),
      col("n_rows").as("rows_a"))
    val b = names.select(col("bk"), col("p_name").as("name_b"),
      col("n_rows").as("rows_b"))
    a.join(b, Seq("bk"))
      .filter(col("name_a") < col("name_b") &&
        abs(length(col("name_a")) - length(col("name_b"))) <= 3)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist").between(1, 3))
      .select(col("name_a"), col("name_b"), col("dist").cast("int").as("dist"),
        col("rows_a"), col("rows_b"))
      .orderBy("name_a", "name_b")
  }
  private val fuzzySql =
    """WITH v AS (
      |  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    split_part(p_name, ' ', 1) AS bk
      |  FROM part GROUP BY p_name)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
      |  a.n_rows AS rows_a, b.n_rows AS rows_b
      |FROM v a JOIN v b ON a.bk = b.bk AND a.p_name < b.p_name
      |WHERE abs(length(a.p_name) - length(b.p_name)) <= 3
      |  AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
      |ORDER BY name_a, name_b""".stripMargin

  // ----------------------------------------------------- t_psi_drift

  /** T-PSI: population stability index of the document-length
    * distribution between the English slice and the rest — the NUMERIC
    * companion to t_kl_drift's term-level monitor (PSI is the industry
    * drift gauge for scored/binned features; > 0.2 conventionally
    * means the feed changed). 10 equal-width bins over the global
    * [min, max] (two-pass: 1-row bounds broadcast, closed-form bucket
    * — the percentile-gate shape), add-1 smoothing on a dense 10-row
    * bucket spine so empty bins are first-class, and the smoothed
    *   PSI = Σ_b (pA−pB)·ln(pA/pB)
    * cross-multiplied into one integer sum over lnq terms:
    *   S = Σ_b [(cA+1)(NB+10) − (cB+1)(NA+10)] · Δlnq,
    *   psi_ppm = S div ((NA+10)(NB+10)),
    * products lifted to DECIMAL(38,0)/HUGEINT before the multiply.
    * Every per-row touch is the one bucket pass; everything after runs
    * on ≤ 10 rows.
    *
    * Cost (JobCensus, sf0.1): 9 driver jobs whose walls sum to
    * 0.49 s of a 1.31 s census wall; heaviest stage 3.05 s task-time
    * over 10 records (thread-scheduling overhead on the ≤10-row tail,
    * ~0.1 s wall at 32 threads). Two-pass bounds + dense-spine joins
    * are the jobs; each is structurally tiny. Pure jobs × floor — no
    * plan change would move the wall on a healthy host. */
  private val psi: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
      .select(col("n_chars"), (col("lang") === lit("en")).as("is_a"))
    val mm = docs.agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
    val counts = docs.crossJoin(broadcast(mm))
      .select(expr("CAST(((n_chars - mn) * 10) div (mx - mn + 1) AS INT)").as("b"),
        col("is_a"))
      .groupBy("b").agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("is_a"), 0L).otherwise(1L)).as("cb"))
    val spine = s.range(10).select(col("id").cast("int").as("b"))
    val full = spine.join(counts, Seq("b"), "left")
      .na.fill(0L, Seq("ca", "cb"))
    val tot = full.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    full.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        expr(s"""CAST((CAST(ca + 1 AS DECIMAL(38,0)) * (nb + 10) -
                 CAST(cb + 1 AS DECIMAL(38,0)) * (na + 10)) *
                (${lnFp("ca + 1")} - ${lnFp("na + 10")} -
                 ${lnFp("cb + 1")} + ${lnFp("nb + 10")}) AS DECIMAL(38,0))"""
          .replaceAll("\\s+", " ")).as("contrib"))
      .groupBy("na", "nb")
      .agg(sum(col("contrib")).as("s"))
      .select(col("na"), col("nb"),
        expr("CAST(s div (CAST(na + 10 AS DECIMAL(38,0)) * (nb + 10)) AS BIGINT)")
          .as("psi_ppm"))
  }
  private val psiSql =
    s"""WITH d AS (
       |  SELECT n_chars, lang = 'en' AS is_a FROM documents),
       |mm AS (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM d),
       |c AS (
       |  SELECT CAST(((n_chars - mn) * 10) // (mx - mn + 1) AS INT) AS b,
       |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
       |  FROM d, mm GROUP BY 1),
       |f AS (
       |  SELECT sp.b, COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
       |  FROM range(10) sp(b) LEFT JOIN c ON sp.b = c.b),
       |tt AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM f),
       |s AS (
       |  SELECT na, nb,
       |    SUM((CAST(ca + 1 AS HUGEINT) * (nb + 10) - CAST(cb + 1 AS HUGEINT) * (na + 10)) *
       |        (${lnFp("ca + 1")} - ${lnFp("na + 10")} - ${lnFp("cb + 1")} + ${lnFp("nb + 10")})) AS s
       |  FROM f, tt GROUP BY na, nb)
       |SELECT na, nb, CAST(s // (CAST(na + 10 AS HUGEINT) * (nb + 10)) AS BIGINT) AS psi_ppm
       |FROM s""".stripMargin

  // ---------------------------------------------------- t_heaps_slope

  /** T-HEAPS: Heaps'-law vocabulary-growth exponent β (V ≈ K·nᵝ) —
    * the Zipf fit's companion corpus-health scalar (natural text grows
    * vocabulary at β ≈ 0.4–0.7; template floods flatten it, id-spam
    * pushes it toward 1). The scale-correct formulation NEVER runs a
    * running sum over doc rows: the growth curve is sampled at 64
    * doc-id RANGE BUCKETS — per-bucket token totals and NEW-vocabulary
    * counts (term → min bucket, one combine) prefix-sum over the
    * 64-row spine, and the log-log least squares (the t_zipf_slope
    * integer fit over lnq points) runs on ≤ 64 curve points. Bucket
    * bounds come from a 1-row min/max broadcast (the psi two-pass
    * shape). Curve resolution is a parameter of the REPORT, not the
    * corpus: 64 points pin a power-law slope as well as a billion
    * would. */
  private val heapsB = 64
  private val tHeaps: Q = (s, dir) => {
    import graft.queries.{RetrievalQueries => RQ}
    val docs = t(s, dir, "documents")
    val mm = docs.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    // The exploded token table feeds two DIFFERENT-keyed aggregates
    // (per-bucket totals, term -> first bucket) — fold it once to the
    // (bucket, term) grain, which is ≤ 64x vocab-bounded, checkpoint
    // that, and run both aggregates off the materialized table instead
    // of re-tokenizing per consumer. Measured a WASH at fixture size
    // (1.26 -> 1.22 s min — job floor, not kernels, at 5k docs); the
    // cut targets the corpus-scaled tokenize that would run 2x.
    val tok = RQ.tokenTf(Tables.fanOut(docs), "doc_id")
      .crossJoin(broadcast(mm))
      .select(expr(s"CAST((doc_id - mn) div ((mx - mn) div $heapsB + 1) AS INT)")
        .as("b"), col("term"), col("tf"))
      .groupBy("b", "term").agg(sum(col("tf")).as("tf"))
      .checkpointed()
    val toks = tok.groupBy("b").agg(sum(col("tf")).as("tk"))
    val nv = tok.groupBy("term").agg(min(col("b")).as("fb"))
      .groupBy(col("fb").as("b")).agg(count(lit(1)).as("nv"))
    val spine = s.range(heapsB).select(col("id").cast("int").as("b"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("b")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val curve = spine
      .join(toks, Seq("b"), "left").join(nv, Seq("b"), "left")
      .na.fill(0L, Seq("tk", "nv"))
      .withColumn("ct", sum(col("tk")).over(w))
      .withColumn("cv", sum(col("nv")).over(w))
      .filter(col("ct") > 0)
      .select(expr(s"${lnFp("ct")}").as("x"), expr(s"${lnFp("cv")}").as("y"))
    curve.agg(count(lit(1)).as("n_points"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
      .select(col("n_points"),
        expr("CAST(CASE WHEN n_points * sxx - sx * sx > 0 THEN ((n_points * sxy - sx * sy) * 1000000) div (n_points * sxx - sx * sx) END AS BIGINT)")
          .as("heaps_beta_ppm"))
  }
  private val tHeapsSql =
    s"""WITH mm AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
       |tok AS (
       |  SELECT CAST((doc_id - mn) // ((mx - mn) // $heapsB + 1) AS INT) AS b,
       |    unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
       |  FROM documents, mm),
       |tk AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS tk FROM tok GROUP BY b),
       |nv AS (SELECT fb AS b, CAST(COUNT(*) AS BIGINT) AS nv FROM
       |  (SELECT term, MIN(b) AS fb FROM tok GROUP BY term) GROUP BY fb),
       |curve AS (
       |  SELECT SUM(COALESCE(tk, 0)) OVER (ORDER BY sp.b
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
       |    SUM(COALESCE(nv, 0)) OVER (ORDER BY sp.b
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
       |  FROM range($heapsB) sp(b) LEFT JOIN tk ON sp.b = tk.b
       |    LEFT JOIN nv ON sp.b = nv.b),
       |xy AS (SELECT ${lnFp("ct")} AS x, ${lnFp("cv")} AS y FROM curve WHERE ct > 0)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       |  CAST(CASE WHEN COUNT(*) * SUM(CAST(x AS HUGEINT) * x) - SUM(CAST(x AS HUGEINT)) * SUM(x) > 0
       |    THEN ((COUNT(*) * SUM(CAST(x AS HUGEINT) * y) - SUM(CAST(x AS HUGEINT)) * SUM(y)) * 1000000) //
       |         (COUNT(*) * SUM(CAST(x AS HUGEINT) * x) - SUM(CAST(x AS HUGEINT)) * SUM(x))
       |    END AS BIGINT) AS heaps_beta_ppm
       |FROM xy""".stripMargin

  // ------------------------------------------------------------- a19

  /** A19: top-20 frequent part pairs by co-purchase support, with lift
    * — the association-mining primitive (market-basket / co-occurrence
    * analysis). Pair generation is the bounded within-order explode
    * (the j8/g2 class); support counts aggregate with map-side
    * combine; the global top-20 is orderBy+limit, which Spark executes
    * as a bounded per-partition heap (TakeOrdered — pinned), never a
    * full sort; lift joins per-part transaction counts onto the 20
    * survivors only. lift_ppm = support·T·10⁶ div (c1·c2) > 10⁶ means
    * the pair co-occurs MORE than independence predicts. */
  private val a19K = 20
  private val a19: Q = (s, dir) => {
    val op = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      .checkpointed() // pair explode + part counts + T read it
    // shuffle_hash: without the hint Spark BROADCASTS one side of the
    // 600k-row self-join (it fits the 10 MB threshold at sf0.1) — a
    // driver collect + hash build of a FACT-scaled table, wrong at any
    // real SF and measured 1.23 vs 0.75 s here; the hinted plan keys
    // both sides on `o` and reuses one exchange.
    //
    // No a-priori prefilter, by measurement: pair support is bounded
    // by min(c(p1), c(p2)), so items with c(p) below the top-k support
    // bar could be dropped before the pair join. MEASURED at sf0.1:
    // the 20th-best support is 2 while min c(p) = 11 — a correct
    // threshold prunes ZERO items on this uniform basket fixture, so
    // the filter is not wired in (it would add a broadcast join to the
    // hot path for nothing). The 100 TB guard is structural instead:
    // pair volume is Σ_o n_o(n_o−1)/2 with TPC-H basket size n_o ≤ 7 —
    // LINEAR in orders, the df-capped-postings argument; skewed real
    // baskets would take a basket-size cap + the c(p) prefilter, both
    // expressible on this shape.
    //
    // No basket form, by measurement: generating pairs with the native
    // packed_pairs kernel (collect per-order baskets, one codegen'd C(n,2)
    // packed-long
    // array per basket, built-in explode, single-long-key count) wins
    // the ISOLATED pair stage (0.77 s vs 1.17 s hinted self-join) —
    // but LOSES the full query every way tried, same
    // JVM, alternating reps: collect_set-direct base 2.3-2.8 s and
    // distinct-base + lazy collect_list hybrid 3.3-5.1 s vs 1.8-2.8 s
    // for this plan. The basket materialization is the cost: a
    // collect_list/collect_set aggregate builds and serializes 150k
    // per-key array buffers (+0.6-0.7 s over distinct's hash dedup at
    // sf0.1), and in full-query context that object-heavy aggregate
    // contends with the concurrent pc/tx broadcast-subtree jobs. The
    // pair volume here is basket-bounded (n_o ≤ 7) EITHER way, so the
    // join never dominates — unlike g2/j8, where in-row generation
    // replaces an unkeyed blowup. Constant-factor floor declared: the
    // remaining cost is the distinct+checkpoint base plus one keyed
    // pair pass, which every correct support count must pay.
    val pairs = op.select(col("o"), col("p").as("p1")).hint("shuffle_hash")
      .join(op.select(col("o"), col("p").as("p2")), Seq("o"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("p1"), col("p2"))
      .limit(a19K)
    val pc = op.groupBy("p").agg(count(lit(1)).as("c"))
    val tx = op.agg(countDistinct(col("o")).as("tt"))
    pairs
      .join(broadcast(pc.select(col("p").as("p1"), col("c").as("c1"))), Seq("p1"))
      .join(broadcast(pc.select(col("p").as("p2"), col("c").as("c2"))), Seq("p2"))
      .crossJoin(broadcast(tx))
      .select(col("p1"), col("p2"), col("support"),
        expr("CAST((support * tt * 1000000) div (c1 * c2) AS BIGINT)")
          .as("lift_ppm"))
      .orderBy(col("support").desc, col("p1"), col("p2"))
  }
  private val a19Sql =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pr AS (
       |  SELECT a.p AS p1, b.p AS p2, CAST(COUNT(*) AS BIGINT) AS support
       |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
       |  GROUP BY a.p, b.p
       |  ORDER BY support DESC, p1, p2 LIMIT $a19K),
       |pc AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM op GROUP BY p),
       |tx AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS tt FROM op)
       |SELECT p1, p2, support,
       |  CAST((support * tt * 1000000) // (c1.c * c2.c) AS BIGINT) AS lift_ppm
       |FROM pr JOIN pc c1 ON pr.p1 = c1.p JOIN pc c2 ON pr.p2 = c2.p, tx
       |ORDER BY support DESC, p1, p2""".stripMargin

  // ------------------------------------------------------------- g9

  /** G9: HITS hubs & authorities after 2 rounds on the directed
    * supplier→part supply graph — the link-analysis complement of g1:
    * PageRank conflates "points at good parts" and "is pointed at" into
    * one score; HITS separates acquisition breadth (hub suppliers) from
    * demand concentration (authority parts). Integer max-normalized
    * fixed-point per half-round — see [[graft.operators.HitsOps]]; the
    * oracle unrolls all four half-rounds with the identical integer
    * arithmetic (the g1 discipline). dimensionNodes: supplier ∪ part
    * catalog, the g1 argument. */
  private val g9: Q = (s, dir) => {
    val e = t(s, dir, "lineitem")
      .select(col("l_suppkey").as("s"), col("l_partkey").as("p")).distinct()
    graft.operators.HitsOps.hubsAndAuthorities(e, "s", "p", iters = 2,
        assumeDistinct = true, dimensionNodes = true)
      .orderBy("kind", "node")
  }
  private def g9Round(i: Int): String = {
    val prevH = if (i == 1) "h0" else s"h${i - 1}"
    s"""a${i}r AS (SELECT p, SUM(h) AS a FROM e JOIN $prevH USING (s) GROUP BY p),
       |a$i AS (SELECT p, CAST(a AS HUGEINT) * 1000000 // (SELECT MAX(a) FROM a${i}r) AS a FROM a${i}r),
       |h${i}r AS (SELECT s, SUM(a) AS h FROM e JOIN a$i USING (p) GROUP BY s),
       |h$i AS (SELECT s, CAST(h AS HUGEINT) * 1000000 // (SELECT MAX(h) FROM h${i}r) AS h FROM h${i}r)""".stripMargin
  }
  private val g9Sql =
    s"""WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
       |h0 AS (SELECT s, CAST(1000000 AS BIGINT) AS h FROM (SELECT DISTINCT s FROM e)),
       |${(1 to 2).map(g9Round).mkString(",\n")}
       |SELECT kind, node, score_micro FROM (
       |  SELECT 'auth' AS kind, p AS node, CAST(a AS BIGINT) AS score_micro FROM a2
       |  UNION ALL
       |  SELECT 'hub', s, CAST(h AS BIGINT) FROM h2)
       |ORDER BY kind, node""".stripMargin

  // ------------------------------------------------------------ g10

  /** G10: personalized PageRank (random walk with restart) from the g4
    * seed set (node ≡ 0 mod 97) on the g1 bipartite supply graph — the
    * TrustRank-style "proximity to trusted sources" relevance signal:
    * g1 ranks global authority, g4 reports hop distance, this weights
    * every node by discounted walk visitation from the seeds. Restart
    * mass (1−d)·1e6 lands only on seeds ([[PageRankOps.pageRank]]'s
    * restartSeeds mode, same integer fixed-point); unreached nodes
    * report exact 0. The oracle unrolls the three seeded rounds. */
  private val pprSeedMod = 97
  private val g10: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(col("l_suppkey"), col("l_partkey"))
    val fwd = li.select((col("l_suppkey") * 2 + 1).as("src"),
      (col("l_partkey") * 2).as("dst")).distinct()
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    // The seed set "node ≡ 0 mod 97" is a pure predicate on the node id,
    // so it rides restartWhere — no seed-derivation scan over lineitem,
    // no membership join (which cost 0.3 s of g10). sourcesSpanNodes by
    // the mirror construction (the g1 argument).
    PageRankOps.pageRank(edges, "src", "dst", iters = 3,
        assumeDistinct = true, dimensionNodes = true,
        restartWhere = Some(col("node") % pprSeedMod === 0),
        sourcesSpanNodes = true)
      .orderBy("node")
  }
  private def g10Round(i: Int): String =
    s"""c$i AS (
       |  SELECT e.dst AS node, SUM(r${i - 1}.r // deg.d) AS m
       |  FROM e JOIN deg ON e.src = deg.src
       |         JOIN r${i - 1} ON r${i - 1}.node = e.src
       |  GROUP BY e.dst),
       |r$i AS (
       |  SELECT n.node,
       |    CAST(CASE WHEN n.node % $pprSeedMod = 0 THEN 150000 ELSE 0 END
       |      + (85 * COALESCE(c$i.m, 0)) // 100 AS BIGINT) AS r
       |  FROM n LEFT JOIN c$i ON n.node = c$i.node)""".stripMargin
  private val g10Sql =
    s"""WITH e AS (
       |  SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst
       |  FROM lineitem
       |  UNION
       |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem),
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
       |n AS (SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
       |r0 AS (SELECT node,
       |  CAST(CASE WHEN node % $pprSeedMod = 0 THEN 150000 ELSE 0 END AS BIGINT) AS r
       |  FROM n),
       |${(1 to 3).map(g10Round).mkString(",\n")}
       |SELECT node, r AS rank_micro FROM r3 ORDER BY node""".stripMargin

  // ------------------------------------------------------------ maps

  val queries: Map[String, Q] = Map(
    "g9_hits" -> g9,
    "g10_ppr" -> g10,
    "g1_pagerank" -> g1,
    "t_hll_distinct" -> tHll,
    "a16_auc" -> a16,
    "o14_balanced_shards" -> o14,
    "t_zipf_slope" -> tZipf,
    "t_percentile_gate" -> pGate,
    "o15_weighted_sample" -> o15,
    "p7_pivot" -> p7,
    "p8_unpivot" -> p8,
    "a17_moments" -> a17,
    "g2_triangles" -> g2,
    "t_entropy" -> tEntropy,
    "t_kl_drift" -> tKl,
    "o16_decile" -> o16,
    "a18_cube" -> a18,
    "w12_gap_stats" -> w12,
    "g3_assortativity" -> g3,
    "g6_label_prop" -> g6,
    "g8_modularity" -> g8,
    "dedup_fuzzy_key" -> fuzzy,
    "t_psi_drift" -> psi,
    "t_heaps_slope" -> tHeaps,
    "a19_frequent_pairs" -> a19)

  val oracle: Map[String, String] = Map(
    "g9_hits" -> g9Sql,
    "g10_ppr" -> g10Sql,
    "g1_pagerank" -> g1Sql,
    "t_hll_distinct" -> tHllSql,
    "a16_auc" -> a16Sql,
    "o14_balanced_shards" -> o14Sql,
    "t_zipf_slope" -> tZipfSql,
    "t_percentile_gate" -> pGateSql,
    "o15_weighted_sample" -> o15Sql,
    "p7_pivot" -> p7Sql,
    "p8_unpivot" -> p8Sql,
    "a17_moments" -> a17Sql,
    "g2_triangles" -> g2Sql,
    "t_entropy" -> tEntropySql,
    "t_kl_drift" -> tKlSql,
    "o16_decile" -> o16Sql,
    "a18_cube" -> a18Sql,
    "w12_gap_stats" -> w12Sql,
    "g3_assortativity" -> g3Sql,
    "g6_label_prop" -> g6Sql,
    "g8_modularity" -> g8Sql,
    "dedup_fuzzy_key" -> fuzzySql,
    "t_psi_drift" -> psiSql,
    "t_heaps_slope" -> tHeapsSql,
    "a19_frequent_pairs" -> a19Sql)
}
