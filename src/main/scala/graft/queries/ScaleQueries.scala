package graft.queries

import graft.Checkpoints.CheckpointSyntax

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns
import graft.operators.{PackOps, QuotaOps, RangeJoinOps, SketchOps}

/** Beyond-reference scale operators (SURVEY §2.11): sequence
  * packing, binned range join, portable KMV distinct sketch, quota
  * sampling to a target mix. Each oracle replays the operator's exact
  * arithmetic — including the sketch ESTIMATE, which is why the sketches
  * here are built on portable hashes rather than opaque HLL binaries.
  */
object ScaleQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------- w7

  /** W7: concat-and-chunk sequence packing of the documents corpus into
    * 512-token training sequences, sharded by source. Pure prefix
    * arithmetic over one per-shard window — see PackOps. */
  private val budget = 512
  private val w7: Q = (s, dir) =>
    PackOps.packSequences(
        t(s, dir, "documents"), "source", Seq("doc_id"),
        TextFns.token_count(col("text")), budget)
      .select(col("source"), col("doc_id"), col("n_tok"), col("tok_start"),
        col("seq_first"), col("seq_offset"), col("seq_last"), col("n_seqs"))
      .orderBy("source", "doc_id")
  private val w7Sql =
    s"""SELECT source, doc_id, n_tok, tok_start,
       |  tok_start // $budget AS seq_first,
       |  tok_start % $budget AS seq_offset,
       |  (tok_start + n_tok - 1) // $budget AS seq_last,
       |  (tok_start + n_tok - 1) // $budget - tok_start // $budget + 1 AS n_seqs
       |FROM (
       |  SELECT source, doc_id, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tok AS tok_start
       |  FROM (
       |    SELECT source, doc_id,
       |      CAST(len(regexp_extract_all(text, '${TextFns.bpeTokenPat}')) AS BIGINT) AS n_tok
       |    FROM documents)
       |  WHERE n_tok > 0)
       |ORDER BY source, doc_id""".stripMargin

  // ---------------------------------------------------------------- w8

  /** W8: overlapping 64-token chunks, stride 48 (25% overlap), per
    * document — row-local fan-out, no shuffle (PackOps.chunkOverlap).
    * The oracle re-slices the same token arrays with DuckDB list math. */
  private val w8Size = 64
  private val w8Stride = 48
  private val w8: Q = (s, dir) =>
    PackOps.chunkOverlap(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        call_function("bpe_tokens", col("text")),
        w8Size, w8Stride)
      .select(col("doc_id"), col("chunk_idx"), col("tok_start"),
        col("n_tok"), col("chunk"))
      .orderBy("doc_id", "chunk_idx")
  private val w8Sql =
    s"""SELECT doc_id, CAST(s // $w8Stride AS INT) AS chunk_idx,
       |  CAST(s AS BIGINT) AS tok_start,
       |  CAST(least($w8Size, n - s) AS INT) AS n_tok,
       |  array_to_string(toks[s + 1 : s + $w8Size], ' ') AS chunk
       |FROM (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    unnest(range(0, len(toks), $w8Stride)) AS s
       |  FROM (SELECT doc_id,
       |          regexp_extract_all(text, '${TextFns.bpeTokenPat}') AS toks
       |        FROM documents)
       |  WHERE len(toks) > 0)
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // --------------------------------------------------------------- j12

  /** J12: events joined to maintenance-window intervals on timestamp
    * containment via the binned equi-join (RangeJoinOps) — never a
    * nested-loop or cartesian plan (pinned in PlanShapeSpec). Interval
    * bounds are exact epoch-microsecond longs derived from orders, so
    * both engines do pure integer math. Bin width 15 min ~ the max
    * interval length (11 min), keeping explode fan-out <= 2. */
  private val epoch20240101Us = 1704067200000000L
  private val rjBinUs = 900L * 1000000L
  private def rjIntervals(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 40 === 0)
      .select(col("o_orderkey").as("iv_id"),
        (lit(epoch20240101Us) +
          (col("o_orderkey") * 7919L % 2500000L) * 1000000L).as("start_us"))
      .withColumn("end_us",
        col("start_us") + (lit(60L) + col("iv_id") % 600L) * 1000000L)
  private val j12: Q = (s, dir) => {
    val pts = Tables.events(s, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("pt_us"))
    RangeJoinOps.binnedRangeJoin(
        pts, rjIntervals(s, dir), "pt_us", "start_us", "end_us", rjBinUs)
      .select(col("iv_id"), col("event_id"), col("pt_us"),
        col("start_us"), col("end_us"))
      .orderBy("iv_id", "event_id")
  }
  private val j12Sql =
    s"""WITH iv AS (
       |  SELECT o_orderkey AS iv_id,
       |    $epoch20240101Us + ((o_orderkey * 7919) % 2500000) * 1000000 AS start_us,
       |    $epoch20240101Us + ((o_orderkey * 7919) % 2500000) * 1000000
       |      + (60 + o_orderkey % 600) * 1000000 AS end_us
       |  FROM orders WHERE o_orderkey % 40 = 0),
       |pt AS (SELECT event_id, epoch_us(ts) AS pt_us FROM events)
       |SELECT iv_id, event_id, pt_us, start_us, end_us
       |FROM pt JOIN iv ON pt_us BETWEEN start_us AND end_us
       |ORDER BY iv_id, event_id""".stripMargin

  // --------------------------------------------------------------- j13

  /** J13: interval-OVERLAP join within a key — odd vs even line-number
    * spans per order (the w10 interval fixture, split into two sides),
    * matched on [s, e) overlap via the owner-bin equi-join
    * (RangeJoinOps.intervalOverlapJoin): each overlapping pair is
    * emitted from exactly one bin, so no post-join distinct, no
    * cartesian, no nested loop (pinned in PlanShapeSpec). The oracle is
    * the direct inequality join — DuckDB's IEJoin handles it at fixture
    * scale; the binned form is the one that survives 100 TB. */
  private val j13BinW = 16L
  private val j13: Q = (s, dir) => {
    val iv = t(s, dir, "lineitem").select(
      col("l_orderkey").as("okey"), col("l_linenumber").as("line"),
      (col("l_linenumber") * 10).cast("long").as("s"),
      (col("l_linenumber") * 10 + col("l_quantity")).cast("long").as("e"))
    val a = iv.filter(col("line") % 2 === 1).select(col("okey"),
      col("line").as("a_line"), col("s").as("a_s"), col("e").as("a_e"))
    val b = iv.filter(col("line") % 2 === 0).select(col("okey"),
      col("line").as("b_line"), col("s").as("b_s"), col("e").as("b_e"))
    RangeJoinOps.intervalOverlapJoin(a, b, "okey",
        "a_s", "a_e", "b_s", "b_e", j13BinW)
      .select(col("okey"), col("a_line"), col("b_line"),
        (least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s")))
          .as("ov_len"))
      .orderBy("okey", "a_line", "b_line")
  }
  private val j13Sql =
    """WITH iv AS (
      |  SELECT l_orderkey AS okey, l_linenumber AS line,
      |    CAST(l_linenumber * 10 AS BIGINT) AS s,
      |    CAST(l_linenumber * 10 + l_quantity AS BIGINT) AS e
      |  FROM lineitem),
      |a AS (SELECT * FROM iv WHERE line % 2 = 1),
      |b AS (SELECT * FROM iv WHERE line % 2 = 0)
      |SELECT a.okey AS okey, a.line AS a_line, b.line AS b_line,
      |  CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS ov_len
      |FROM a JOIN b ON a.okey = b.okey AND a.s < b.e AND b.s < a.e
      |ORDER BY a.okey, a_line, b_line""".stripMargin

  // ------------------------------------------------------------- t_kmv

  /** T-KMV: per-event-type distinct-user estimate via the portable
    * k-minimum-values sketch (k=64), alongside the exact count and the
    * error in basis points — retrieval-quality-style measured invariant,
    * same spirit as ann_recall: the sketch's accuracy is an oracle-exact
    * OUTPUT, not an assumption. All integer math; the DuckDB oracle
    * replays the estimate bit-for-bit. */
  private val kmvK = 64
  private val tKmv: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val est = SketchOps.kmvDistinct(ev, Seq("event_type"), col("user_id"), kmvK)
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("exact_distinct"), col("n_kept"),
        col("kth_hash"), col("est_distinct"),
        expr("abs(est_distinct - exact_distinct) * 10000 div exact_distinct")
          .as("err_bp"))
      .orderBy("event_type")
  }
  private val tKmvSql =
    s"""WITH h AS (
       |  SELECT DISTINCT event_type,
       |    ((user_id % 999999937 + 999999937) * 123456791 + 7919) % 999999937 AS h
       |  FROM events WHERE user_id IS NOT NULL),
       |r AS (SELECT event_type, h,
       |  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
       |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nh,
       |  MAX(CASE WHEN rn = $kmvK THEN h END) AS hk FROM r GROUP BY event_type),
       |ex AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
       |  FROM events GROUP BY event_type),
       |est AS (
       |  SELECT event_type, exact_distinct,
       |    CASE WHEN nh < $kmvK THEN nh ELSE $kmvK END AS n_kept,
       |    CASE WHEN nh < $kmvK THEN 999999937 ELSE hk END AS kth_hash,
       |    CASE WHEN nh < $kmvK THEN nh ELSE (${(kmvK - 1).toLong * SketchOps.hashM}) // hk END AS est_distinct
       |  FROM st JOIN ex USING (event_type))
       |SELECT event_type, exact_distinct, n_kept, kth_hash, est_distinct,
       |  abs(est_distinct - exact_distinct) * 10000 // exact_distinct AS err_bp
       |FROM est ORDER BY event_type""".stripMargin

  // ----------------------------------------------------- t_kmv_join_card

  /** T-KMV-JC: pre-join cardinality estimation from two KMV sketches —
    * the planner question ("how many keys overlap, how many rows will
    * the join emit?") answered WITHOUT shuffling either side. Each side
    * reduces to its k smallest distinct key hashes ([[SketchOps.KmvSketchAgg]],
    * ≤ 8k bytes, map-side mergeable); the k smallest of the merged pair
    * sketch the union, and membership of those k in both inputs gives
    * the Jaccard overlap (Beyer et al. 2007):
    *   est_union = (k−1)·M / h_k,  est_inter = |u ∩ a ∩ b| · est_union / k,
    *   est_join_rows = est_inter · rows_A / distinct_A.
    * When the merged sketch never fills, the formulas degrade to EXACT
    * counts (u IS the union). The exact hash-set intersection rides
    * along as the calibration column (the ann_recall/t_kmv_distinct
    * audit contract) — the estimate is what survives 100 TB, the exact
    * join is the test-scale truth it is judged against. All floor math:
    * both engines replay the estimate bit-for-bit. */
  private val kmvJK = 1024
  private val tKmvJoin: Q = (s, dir) => {
    val sk = udaf(new SketchOps.KmvSketchAgg(kmvJK))
    val aKeys = t(s, dir, "lineitem").select(col("l_orderkey").as("key"))
    val bKeys = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("key"))
    val aSk = aKeys.agg(sk(SketchOps.portableHash(col("key"))).as("a"),
      count(lit(1)).as("n_a_rows"))
    val bSk = bKeys.agg(sk(SketchOps.portableHash(col("key"))).as("b"))
    // shuffle_hash: both distinct hash-sets are fact-scaled; the exact
    // intersection is the test-scale calibration truth but its plan
    // still must be the keyed one (Spark auto-broadcast one side at
    // sf0.1 — the a19 class).
    val exact = aKeys.select(SketchOps.portableHash(col("key")).as("h")).distinct()
      .join(bKeys.select(SketchOps.portableHash(col("key")).as("h")).distinct()
        .hint("shuffle_hash"), "h")
      .agg(count(lit(1)).as("exact_inter"))
    val kM = (kmvJK - 1).toLong * SketchOps.hashM
    aSk.crossJoin(bSk).crossJoin(exact)
      .withColumn("u", expr(s"slice(array_sort(array_union(a, b)), 1, $kmvJK)"))
      .withColumn("est_a_distinct", expr(
        s"CASE WHEN size(a) < $kmvJK THEN CAST(size(a) AS BIGINT) " +
          s"ELSE $kM div element_at(a, $kmvJK) END"))
      .withColumn("est_b_distinct", expr(
        s"CASE WHEN size(b) < $kmvJK THEN CAST(size(b) AS BIGINT) " +
          s"ELSE $kM div element_at(b, $kmvJK) END"))
      .withColumn("est_union", expr(
        s"CASE WHEN size(u) < $kmvJK THEN CAST(size(u) AS BIGINT) " +
          s"ELSE $kM div element_at(u, $kmvJK) END"))
      .withColumn("n_common", expr(
        "CAST(size(filter(u, x -> array_contains(a, x) AND array_contains(b, x))) AS BIGINT)"))
      .withColumn("est_inter", expr("n_common * est_union div greatest(size(u), 1)"))
      .withColumn("est_join_rows",
        expr("est_inter * n_a_rows div greatest(est_a_distinct, 1)"))
      .select(col("n_a_rows"), col("est_a_distinct"), col("est_b_distinct"),
        col("est_union"), col("n_common"), col("est_inter"), col("exact_inter"),
        expr("abs(est_inter - exact_inter) * 1000000 div greatest(exact_inter, 1)")
          .as("err_ppm"),
        col("est_join_rows"))
  }
  private val tKmvJoinSql = {
    val kM = (kmvJK - 1).toLong * SketchOps.hashM
    s"""WITH ha AS (
       |  SELECT DISTINCT ((l_orderkey % 999999937 + 999999937) * 123456791 + 7919)
       |    % 999999937 AS h FROM lineitem),
       |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a_rows FROM lineitem),
       |hb AS (
       |  SELECT DISTINCT ((o_orderkey % 999999937 + 999999937) * 123456791 + 7919)
       |    % 999999937 AS h FROM orders WHERE o_orderstatus = 'F'),
       |sa AS (SELECT list_slice(list_sort(list(h)), 1, $kmvJK) AS a FROM ha),
       |sb AS (SELECT list_slice(list_sort(list(h)), 1, $kmvJK) AS b FROM hb),
       |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_inter FROM ha JOIN hb USING (h)),
       |m AS (SELECT a, b,
       |  list_slice(list_sort(list_distinct(a || b)), 1, $kmvJK) AS u FROM sa, sb),
       |e AS (SELECT
       |  CASE WHEN len(a) < $kmvJK THEN CAST(len(a) AS BIGINT)
       |    ELSE $kM // a[$kmvJK] END AS est_a_distinct,
       |  CASE WHEN len(b) < $kmvJK THEN CAST(len(b) AS BIGINT)
       |    ELSE $kM // b[$kmvJK] END AS est_b_distinct,
       |  CASE WHEN len(u) < $kmvJK THEN CAST(len(u) AS BIGINT)
       |    ELSE $kM // u[$kmvJK] END AS est_union,
       |  CAST(len(list_filter(u, x -> list_contains(a, x) AND list_contains(b, x)))
       |    AS BIGINT) AS n_common,
       |  CAST(greatest(len(u), 1) AS BIGINT) AS un FROM m)
       |SELECT n_a_rows, est_a_distinct, est_b_distinct, est_union, n_common,
       |  n_common * est_union // un AS est_inter, exact_inter,
       |  abs(n_common * est_union // un - exact_inter) * 1000000
       |    // greatest(exact_inter, 1) AS err_ppm,
       |  (n_common * est_union // un) * n_a_rows // greatest(est_a_distinct, 1)
       |    AS est_join_rows
       |FROM e, ex, na""".stripMargin
  }

  // --------------------------------------------------- t_sampled_quantiles

  /** T-SQ: per-event-type p50/p95 of `value` over a deterministic 1-in-8
    * hash sample of event ids. The scale story: an exact percentile of a
    * metric column needs the full value histogram (StatsOps) — for
    * high-cardinality doubles that histogram is the data. A hash-threshold
    * sample bounds it at sample size while staying REPLAYABLE: both
    * engines draw the identical sample, so the quantiles (picked data
    * elements, not interpolations) compare bit-exactly. Same family as
    * KMV: the portable-hash order IS the sampling randomness. */
  private val sqCut = SketchOps.hashM / 8 // 1-in-8 keep threshold
  private val tSq: Q = (s, dir) => {
    val sm = Tables.events(s, dir)
      .filter(SketchOps.portableHash(col("event_id")) < sqCut)
      .filter(col("value").isNotNull)
    val pct = graft.operators.StatsOps.exactPercentiles(
      sm, "event_type", "value", Seq(0.5, 0.95))
    val ns = sm.groupBy(col("event_type")).agg(count(lit(1)).as("n_sample"))
    pct.join(ns, "event_type")
      .select(col("event_type"), col("p50"), col("p95"), col("n_sample"))
      .orderBy("event_type")
  }
  private val tSqSql =
    s"""WITH sm AS (
       |  SELECT event_type, value FROM events
       |  WHERE ((event_id % 999999937 + 999999937) * 123456791 + 7919) % 999999937 < $sqCut
       |    AND value IS NOT NULL),
       |freq AS (SELECT event_type, value, COUNT(*) AS f FROM sm GROUP BY event_type, value),
       |cum AS (
       |  SELECT event_type, value,
       |    SUM(f) OVER (PARTITION BY event_type ORDER BY value
       |      ROWS UNBOUNDED PRECEDING) AS cf,
       |    SUM(f) OVER (PARTITION BY event_type) AS n
       |  FROM freq),
       |ns AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sample FROM sm GROUP BY event_type)
       |SELECT event_type,
       |  MIN(CASE WHEN cf >= CEIL(n * 0.5) THEN value END) AS p50,
       |  MIN(CASE WHEN cf >= CEIL(n * 0.95) THEN value END) AS p95,
       |  n_sample
       |FROM cum JOIN ns USING (event_type)
       |GROUP BY event_type, n_sample ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- o6

  /** O6: quota sampling of documents to a target language mix (Pile/
    * Dolma-style mixture weights). fr's quota (75) exceeds its corpus
    * count at sf0.01 (64), exercising the short-stratum cap. */
  private val o6Weights = Seq(
    "en" -> 0.30, "de" -> 0.20, "es" -> 0.20, "fr" -> 0.25, "zh" -> 0.15)
  private val o6TotalN = 300L
  private val o6: Q = (s, dir) =>
    QuotaOps.quotaSample(
        t(s, dir, "documents"), "lang", o6Weights.toMap, o6TotalN,
        SketchOps.portableHash(col("doc_id")), Seq(col("doc_id")))
      .select(col("lang"), col("doc_id"), col("source"))
      .orderBy("lang", "doc_id")
  private val o6Quota = o6Weights.map { case (s, w) =>
    s"WHEN '$s' THEN ${math.ceil(o6TotalN * w).toLong}"
  }.mkString(" ")
  private val o6Sql =
    s"""SELECT lang, doc_id, source FROM (
       |  SELECT lang, doc_id, source,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY ((doc_id % 999999937 + 999999937) * 123456791 + 7919) % 999999937,
       |               doc_id) AS rn
       |  FROM documents)
       |WHERE rn <= CASE lang $o6Quota ELSE 0 END
       |ORDER BY lang, doc_id""".stripMargin

  // ---------------------------------------------------------------- a14

  /** A14: top-3 longest documents per language via the bounded-buffer
    * top-k aggregator (TopKOps) — one shuffle of k-row partial buffers,
    * never a per-group full sort. The oracle replays it as the window
    * form it replaces. */
  private val a14: Q = (s, dir) =>
    graft.operators.TopKOps.topKByValue(
        t(s, dir, "documents"), Seq("lang"),
        col("n_chars"), col("doc_id"), k = 3,
        orderName = "n_chars", tieName = "doc_id")
      .orderBy("lang", "rank")
  private val a14Sql =
    """SELECT lang, CAST(rn AS INT) AS rank, n_chars, doc_id FROM (
      |  SELECT lang, n_chars, doc_id,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 3 ORDER BY lang, rank""".stripMargin

  // ---------------------------------------------------------------- t_cms

  /** T-CMS: count-min-sketch frequency estimates for the corpus' top-15
    * terms, next to the exact counts and the overcount in basis points —
    * a measured invariant in the ann_recall/t_kmv spirit: the sketch's
    * accuracy is an oracle-exact OUTPUT. The grid (4×512 longs) is what
    * would broadcast at 100 TB for map-side heavy-hitter candidate
    * filtering; here the point queries replay against it and the oracle
    * rebuilds the identical grid in SQL (portable md5-prefix double
    * hashing — see CmsOps). */
  private val cmsD = 4
  private val cmsW = 512
  private val tCms: Q = (s, dir) => {
    val docTerm = t(s, dir, "documents")
      .select(explode(expr("tf_map(ascii_alpha_tokens(text, 3))"))
        .as(Seq("term", "__tf")))
      .select(col("term"), col("__tf").cast("long").as("tf"))
    // The exact counts feed BOTH the grid build and the top-15 probe
    // set; localCheckpoint materializes the vocab-sized aggregate once
    // instead of re-tokenizing the corpus per consumer. Building the
    // grid from the AGGREGATE is cell-wise identical to building it
    // from raw increments (merge-associativity, pinned by the
    // OperatorsSpec split-build test) and hashes each distinct term
    // once instead of once per occurrence.
    val exact = docTerm.groupBy("term").agg(sum("tf").as("exact_cnt"))
      .checkpointed()
    val cms = graft.operators.CmsOps.cmsBuild(exact, "term", "exact_cnt", cmsD, cmsW)
    // Top-15 as `rank() <= 15` over one global order, not
    // `orderBy.limit(15)`: the estimate's projections are pushed through
    // a limit and split it from its sort, so Spark plans a codegen'd
    // sort+limit whose counter it names from a JVM-wide sequence and a
    // warm run recompiles 4 classes. The rank filter plans a window group
    // limit (a bounded top-15 per partition before the single-partition
    // exchange) with no limit operator; `row_number()` over an
    // unpartitioned window is planned as a limit again. Terms are the
    // grouping key, so (exact_cnt, term) is unique and rank equals row
    // number.
    val top = exact
      .withColumn("__rank", rank().over(Window.orderBy(col("exact_cnt").desc, col("term"))))
      .filter(col("__rank") <= 15)
      .drop("__rank")
    graft.operators.CmsOps.cmsEstimate(cms, top, "term", cmsD, cmsW)
      .withColumn("over_bp",
        expr("(cms_cnt - exact_cnt) * 10000 div exact_cnt"))
      .select(col("term"), col("exact_cnt"), col("cms_cnt"), col("over_bp"))
      .orderBy(col("exact_cnt").desc, col("term"))
  }
  private val tCmsSql =
    s"""WITH cnt AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
       |    FROM documents)
       |  GROUP BY term),
       |grid AS (
       |  SELECT i,
       |    (CAST('0x' || substr(md5(term), 1, 8) AS BIGINT)
       |      + i * CAST('0x' || substr(md5(term), 9, 8) AS BIGINT)) % $cmsW AS bucket,
       |    CAST(SUM(exact_cnt) AS BIGINT) AS counter
       |  FROM cnt, range($cmsD) t(i) GROUP BY 1, 2),
       |top AS (SELECT term, exact_cnt FROM cnt ORDER BY exact_cnt DESC, term LIMIT 15),
       |probe AS (
       |  SELECT term, exact_cnt, i,
       |    (CAST('0x' || substr(md5(term), 1, 8) AS BIGINT)
       |      + i * CAST('0x' || substr(md5(term), 9, 8) AS BIGINT)) % $cmsW AS bucket
       |  FROM top, range($cmsD) t(i)),
       |est AS (
       |  SELECT term, exact_cnt, MIN(counter) AS cms_cnt
       |  FROM probe JOIN grid USING (i, bucket) GROUP BY term, exact_cnt)
       |SELECT term, exact_cnt, cms_cnt,
       |  (cms_cnt - exact_cnt) * 10000 // exact_cnt AS over_bp
       |FROM est ORDER BY exact_cnt DESC, term""".stripMargin

  // ---------------------------------------------------------------- o7

  /** O7: domain-frequency capping — no source may exceed 15% of the
    * corpus (min-keep 10), survivors drawn in portable-hash order (crawl
    * order is homepage-biased; hash order is a uniform draw both engines
    * replay). Dual of o6: caps push down dominant strata with no curated
    * weight table, which is the form that exists at web-crawl domain
    * cardinality. */
  private val o7Num = 15L
  private val o7Den = 100L
  private val o7MinKeep = 10L
  private val o7: Q = (s, dir) =>
    QuotaOps.domainCap(
        t(s, dir, "documents"), "source", o7Num, o7Den, o7MinKeep,
        SketchOps.portableHash(col("doc_id")), Seq(col("doc_id")))
      .select(col("source"), col("doc_id"), col("lang"))
      .orderBy("source", "doc_id")
  private val o7Sql =
    s"""SELECT source, doc_id, lang FROM (
       |  SELECT source, doc_id, lang,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY ((doc_id % 999999937 + 999999937) * 123456791 + 7919) % 999999937,
       |               doc_id) AS rn,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS total
       |  FROM documents)
       |WHERE rn <= GREATEST($o7MinKeep, (total * $o7Num + ${o7Den - 1}) // $o7Den)
       |ORDER BY source, doc_id""".stripMargin

  // ---------------------------------------------------------------- o8

  /** O8: deterministic 80/10/10 train/val/test split by hashed doc_id,
    * summarized per (lang, split) with token mass — the audit a pipeline
    * runs after splitting: is the split exhaustive/disjoint and is the
    * language mix preserved across splits? Row-local assignment, one
    * aggregate; survives corpus regeneration because the hash, not row
    * order, decides membership. */
  private val o8Slices = Seq("train" -> 8, "val" -> 1, "test" -> 1)
  private val o8: Q = (s, dir) =>
    QuotaOps.hashSplit(t(s, dir, "documents"),
      SketchOps.portableHash(col("doc_id")), o8Slices)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFns.token_count(col("text")).cast("bigint")).as("n_tokens"))
      .orderBy("lang", "split")
  private val o8Sql =
    s"""SELECT lang,
       |  CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END AS split,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(len(regexp_extract_all(text, '${TextFns.bpeTokenPat}'))) AS BIGINT) AS n_tokens
       |FROM (
       |  SELECT lang, text,
       |    ((doc_id % 999999937 + 999999937) * 123456791 + 7919) % 999999937 % 10 AS b
       |  FROM documents)
       |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  // ------------------------------------------------- t_split_contamination

  /** T-SC: the audit o8's split exists to make possible — n-gram
    * contamination of the test split by the train split (near-dups that
    * straddle a row-id hash split are exactly how eval sets leak).
    * Composes hashSplit with the decontamination gram machinery, but in
    * the JOIN formulation: t_decontaminate broadcasts the benchmark
    * gram set (right when the eval set is small); here BOTH sides are
    * corpus-scale (train is 80% of the corpus), so the membership test
    * is a shuffle join on the gram — the honest shape when nothing fits
    * in a broadcast. The exploded gram table feeds both sides of that
    * join, so it is checkpointed once (scan + tokenize run once, not
    * per branch). */
  private val tSplitContam: Q = (s, dir) => {
    // One-shuffle fold. Checkpointing the gram table (4.35 s
    // materialize task-time in JobCensus) and reading it TWICE
    // (12.56 + 6.33 s stages) to build a distinct train set and
    // left-join the test side against it costs two exchanges on `ng`
    // plus the hashed-relation build. A window MAX over the ng partition
    // computes the same train-hit flag in ONE exchange (duplicates in
    // train collapse under max exactly as distinct+join matched them),
    // the test filter prunes after, and nothing is materialized because
    // the lineage is consumed once. Same shape at 100 TB: the window
    // partitions by gram — the identical key and skew profile the join
    // shuffled on.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ng")
    QuotaOps.hashSplit(Tables.fanOut(t(s, dir, "documents")),
        SketchOps.portableHash(col("doc_id")), o8Slices)
      .filter(col("split") =!= "val")
      .withColumn("__toks", expr("ascii_tokens(text)"))
      .select(col("doc_id"), col("split"),
        explode(expr("distinct_kgrams(__toks, 3)")).as("ng"))
      .withColumn("__hit", max(when(col("split") === "train", 1)).over(w))
      .filter(col("split") === "test")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_hit"))
      .withColumn("contamination", col("n_hit").cast("double") / col("n_grams"))
      .orderBy("doc_id")
  }
  private val tSplitContamSql =
    """WITH sp AS (
      |  SELECT doc_id, text,
      |    CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT doc_id, text,
      |          ((doc_id % 999999937 + 999999937) * 123456791 + 7919) % 999999937 % 10 AS b
      |        FROM documents)),
      |tset AS (
      |  SELECT DISTINCT ng FROM (
      |    SELECT unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
      |      j -> array_to_string(toks[j:j+2], ' '))) AS ng
      |    FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |          FROM sp WHERE split = 'train'))),
      |dng AS (
      |  SELECT DISTINCT doc_id, ng FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
      |      j -> array_to_string(toks[j:j+2], ' '))) AS ng
      |    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |          FROM sp WHERE split = 'test')))
      |SELECT doc_id, COUNT(*) AS n_grams,
      |  COUNT(CASE WHEN b.ng IS NOT NULL THEN 1 END) AS n_hit,
      |  CAST(COUNT(CASE WHEN b.ng IS NOT NULL THEN 1 END) AS DOUBLE) / COUNT(*)
      |    AS contamination
      |FROM dng d LEFT JOIN tset b USING (ng)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- t_bpe_merge_pairs

  /** T-BMP: the inner loop of BPE tokenizer training — corpus-global
    * counts of ADJACENT token pairs, top-20 (the pair a trainer would
    * merge next, then iterate). Distinct from per-doc bigram dominance
    * (t_repetition): this is one corpus-wide aggregate whose pair rows
    * form ROW-LOCALLY (slice+zip inside the scan projection), so the
    * only shuffle is the map-side-combined (a, b) count — the same
    * shape at 100 TB, where the candidate-pair vocabulary, not the
    * corpus, crosses the wire. */
  private val tBpePairs: Q = (s, dir) =>
    Tables.fanOut(t(s, dir, "documents"))
      .select(expr("bpe_tokens(text)").as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS a, tk[i] AS b))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b")).limit(20)
  private val tBpePairsSql =
    s"""SELECT a, b, cnt FROM (
       |  SELECT p.a AS a, p.b AS b, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(list_transform(range(1, len(tk)),
       |      i -> {'a': tk[i], 'b': tk[i + 1]})) AS p
       |    FROM (SELECT regexp_extract_all(text, '${TextFns.bpeTokenPat}') AS tk
       |          FROM documents)
       |    WHERE len(tk) >= 2)
       |  GROUP BY p.a, p.b)
       |ORDER BY cnt DESC, a, b LIMIT 20""".stripMargin

  // --------------------------------------------------------- t_bpe_encode

  /** T-BPE-ENC: ENCODE the corpus with the learned top merges — the
    * serving-side companion of `t_bpe_merge_pairs` (train emits the merge
    * table; this applies it and reports the per-doc compression). DEFINED
    * semantics: the top-8 first-round pairs, in (count desc, a, b) rank
    * order, each applied as ONE corpus-wide greedy leftmost-
    * non-overlapping pass (true BPE recomputes pair counts between
    * merges; the one-round ranking is this operator's documented
    * approximation, and the oracle re-derives the identical table in
    * SQL, so both engines apply the same merges in the same order).
    *
    * Mechanics: a doc's token array serializes with \u0001 sentinels
    * (token t → ␁t␁, doc → concatenation; \u0001 is stripped from the
    * text first so no token can collide with the sentinel), merge (a,b)
    * is the LITERAL replace of ␁a␁␁b␁ with ␁ab␁ — both engines'
    * replace() scans leftmost, never rescanning the replacement, which
    * IS BPE's greedy adjacency rule — and the final token count is half
    * the surviving sentinel count. The merge table is 8 rows of
    * driver-collected model state (the a25/o12 bounded-state pattern);
    * the applies themselves are row-local codegen'd string kernels, so
    * at 100 TB this is a pure map over the scan. */
  private val bpeEncN = 8
  private val tBpeEnc: Q = (s, dir) => {
    val clean = expr("bpe_tokens(replace(text, char(1), ''))")
    val merges = Tables.fanOut(t(s, dir, "documents"))
      .select(clean.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS a, tk[i] AS b))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b")).limit(bpeEncN)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val S = "\u0001"
    val base = t(s, dir, "documents")
      .select(col("doc_id"), clean.as("tk"))
      .filter(size(col("tk")) >= 1)
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tok_before"),
        concat(lit(S), array_join(col("tk"), S + S), lit(S)).as("enc"))
    val encoded = merges.foldLeft(base) { case (df, (a, b)) =>
      df.withColumn("enc", call_function("replace", col("enc"),
        lit(S + a + S + S + b + S), lit(S + a + b + S)))
    }
    encoded
      .withColumn("n_tok_after", expr(
        "CAST((length(enc) - length(replace(enc, char(1), ''))) div 2 AS BIGINT)"))
      .select(col("doc_id"), col("n_tok_before"), col("n_tok_after"),
        (col("n_tok_before") - col("n_tok_after")).as("n_merged"),
        expr("n_tok_after * 1000000 div n_tok_before").as("ratio_ppm"))
      .orderBy("doc_id")
  }
  private val tBpeEncSql = {
    val toks = s"regexp_extract_all(replace(text, chr(1), ''), '${TextFns.bpeTokenPat}')"
    val applied = (1 to bpeEncN).foldLeft("enc") { (acc, i) =>
      s"replace($acc, (SELECT srch FROM m WHERE rn = $i), " +
        s"(SELECT repl FROM m WHERE rn = $i))"
    }
    s"""WITH m AS (
       |  SELECT chr(1) || a || chr(1) || chr(1) || b || chr(1) AS srch,
       |    chr(1) || a || b || chr(1) AS repl,
       |    row_number() OVER (ORDER BY cnt DESC, a, b) AS rn
       |  FROM (
       |    SELECT p.a AS a, p.b AS b, COUNT(*) AS cnt FROM (
       |      SELECT unnest(list_transform(range(1, len(tk)),
       |        i -> {'a': tk[i], 'b': tk[i + 1]})) AS p
       |      FROM (SELECT $toks AS tk FROM documents)
       |      WHERE len(tk) >= 2)
       |    GROUP BY p.a, p.b)
       |  ORDER BY cnt DESC, a, b LIMIT $bpeEncN),
       |base AS (
       |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok_before,
       |    chr(1) || array_to_string(tk, chr(1) || chr(1)) || chr(1) AS enc
       |  FROM (SELECT doc_id, $toks AS tk FROM documents)
       |  WHERE len(tk) >= 1),
       |enc2 AS (
       |  SELECT doc_id, n_tok_before,
       |    CAST((length(e) - length(replace(e, chr(1), ''))) // 2 AS BIGINT)
       |      AS n_tok_after
       |  FROM (SELECT doc_id, n_tok_before, $applied AS e FROM base))
       |SELECT doc_id, n_tok_before, n_tok_after,
       |  n_tok_before - n_tok_after AS n_merged,
       |  n_tok_after * 1000000 // n_tok_before AS ratio_ppm
       |FROM enc2 ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- o9

  /** O9: k-center greedy diversity sampling (Gonzalez farthest-point
    * traversal) over the embeddings — 4 greedy picks after the lowest-id
    * seed, each step's radius recorded (DiversityOps has the determinism
    * spec). The oracle unrolls the four steps as CTEs, crossing each
    * candidate against the chosen 1-row center CTEs — the same
    * unrolled-iteration replay discipline as ann_kmeans_cells. */
  private val o9Steps = 4
  private val o9: Q = (s, dir) =>
    graft.operators.DiversityOps.kCenterGreedy(
        t(s, dir, "embeddings"), "vec_id", "embedding", o9Steps, dim = 64)
      .orderBy("step")
  /** squared distance between two already-double lists, left-fold. */
  private def sqdD(a: String, b: String) =
    s"list_reduce(list_transform(range(1, 65), j -> " +
    s"($a[j] - $b[j]) * ($a[j] - $b[j])), (x, y) -> x + y)"
  private val o9Sql = {
    // chosen center aliases per step: p-th pick lives in CTE c<p>
    def leastOf(prior: Seq[String]) =
      if (prior.size == 1) sqdD("e.v", s"${prior.head}.v")
      else "least(" + prior.map(c => sqdD("e.v", s"$c.v")).mkString(", ") + ")"
    val steps = (1 to o9Steps).map { p =>
      val prior = (0 until p).map(i => s"c$i")
      s"""p$p AS (
         |  SELECT e.vid, e.v, ${leastOf(prior)} AS d
         |  FROM e, ${prior.map(c => s"$c $c").mkString(", ")}
         |  WHERE e.vid NOT IN (${prior.map(c => s"SELECT vid FROM $c").mkString(" UNION ")})),
         |c$p AS (SELECT vid, v, d FROM p$p ORDER BY d DESC, vid LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val out = (0 to o9Steps)
      .map(p => s"SELECT $p AS step, vid AS center_id, " +
        (if (p == 0) "CAST(0 AS DOUBLE) AS radius FROM c0"
         else s"d AS radius FROM c$p"))
      .mkString(" UNION ALL ")
    s"""WITH e AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
       |c0 AS (SELECT vid, v FROM e ORDER BY vid LIMIT 1),
       |$steps
       |SELECT CAST(step AS INT) AS step, center_id, radius FROM ($out)
       |ORDER BY step""".stripMargin
  }

  // ---------------------------------------------------------------- o10

  /** O10: token-budget cut — the maximal hash-ordered prefix of the
    * corpus whose cumulative token count fits a 12 k-token budget
    * (BudgetOps: bucketed distributed prefix sum — the keep-whole
    * buckets pass with a row-local filter, only the boundary bucket is
    * window-summed; the oracle replays the cut as one global window,
    * which is exactly the plan shape the operator exists to avoid). */
  private val o10Budget = 12000L
  private val o10: Q = (s, dir) =>
    graft.operators.BudgetOps.tokenBudgetSample(
        t(s, dir, "documents")
          .withColumn("n_tok", TextFns.token_count(col("text")).cast("long")),
        SketchOps.portableHash(col("doc_id")), Seq(col("doc_id")),
        col("n_tok"), o10Budget, nBuckets = 64)
      .select(col("doc_id"), col("lang"), col("n_tok"))
      .orderBy("doc_id")
  private val o10Sql =
    s"""SELECT doc_id, lang, n_tok FROM (
       |  SELECT doc_id, lang, n_tok,
       |    SUM(n_tok) OVER (ORDER BY pri, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM (
       |    SELECT doc_id, lang,
       |      ((doc_id % 999999937 + 999999937) * 123456791 + 7919) % 999999937 AS pri,
       |      CAST(len(regexp_extract_all(text, '${TextFns.bpeTokenPat}')) AS BIGINT) AS n_tok
       |    FROM documents))
       |WHERE cum <= $o10Budget ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- o11

  /** O11: α=0.5 temperature rebalancing of the language mix (XLM-R/mC4
    * flattening) — 300 rows drawn to per-language targets ∝ √n_lang by
    * rank-by-hash. Quota arithmetic is integer-exact (floor(sqrt) is
    * IEEE-correctly-rounded, then pure BIGINT div), so the oracle
    * replays it with no pow()-rounding hazard — see
    * QuotaOps.sqrtTemperatureSample for why α is pinned to 1/2. */
  private val o11N = 300L
  private val o11: Q = (s, dir) =>
    QuotaOps.sqrtTemperatureSample(
        t(s, dir, "documents"), "lang", o11N,
        SketchOps.portableHash(col("doc_id")), Seq(col("doc_id")))
      .select(col("lang"), col("doc_id"), col("source"))
      .orderBy("lang", "doc_id")
  private val o11Sql =
    s"""WITH cnt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
       |iq AS (SELECT lang, CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS r FROM cnt),
       |q AS (SELECT lang, ($o11N * r) // (SELECT CAST(SUM(r) AS BIGINT) FROM iq) AS quota FROM iq)
       |SELECT lang, doc_id, source FROM (
       |  SELECT lang, doc_id, source,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY ((doc_id % 999999937 + 999999937) * 123456791 + 7919) % 999999937,
       |               doc_id) AS rn
       |  FROM documents) d JOIN q USING (lang)
       |WHERE rn <= quota ORDER BY lang, doc_id""".stripMargin

  // ------------------------------------------------- o20_stratified_split

  /** O20: stratified 80/10/10 train/val/test split — EXACT per-stratum
    * proportions, unlike `o8_hash_split` whose global hash split only
    * hits the ratios in expectation (a small language can land all in
    * test by chance; stratification is how eval sets stay representative).
    * Within each lang, rows rank by (portable hash, id) — the hash order
    * IS the shuffle, deterministic and engine-replayable — and the first
    * ⌊0.8n⌋ go to train, up to ⌊0.9n⌋ to val, rest to test (floor
    * boundaries are the DEFINED rounding; compared as rn·10 ≤ n·8 to
    * stay in integers).
    *
    * Scale shape: one shuffle on lang; rank and count share the single
    * per-stratum sort (two window functions over the same
    * partition/order spec collapse into one Window exec). Skewed-stratum
    * caveat at 100 TB: a single giant language serializes its sort into
    * one task — pre-split by (lang, hash-bucket) and stitch counts if a
    * stratum outgrows a task. */
  private val o20: Q = (s, dir) => {
    val w = Window.partitionBy("lang")
      .orderBy(col("h"), col("doc_id"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        SketchOps.portableHash(col("doc_id")).as("h"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      .select(col("doc_id"), col("lang"),
        expr("CASE WHEN rn * 10 <= n * 8 THEN 'train' " +
          "WHEN rn * 10 <= n * 9 THEN 'val' ELSE 'test' END").as("split"))
      .orderBy("doc_id")
  }
  private val o20Sql =
    """SELECT doc_id, lang,
      |  CASE WHEN rn * 10 <= n * 8 THEN 'train'
      |       WHEN rn * 10 <= n * 9 THEN 'val' ELSE 'test' END AS split
      |FROM (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY ((doc_id % 999999937 + 999999937) * 123456791 + 7919)
      |        % 999999937, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ o21_compaction_plan

  /** O21: small-files compaction planner — THE table-maintenance job a
    * 100 TB lake runs nightly: per table partition, pack the small files
    * (in file-id order) into ~128 MB output bins and report each bin's
    * file count, byte total, id range, and fill. Bin assignment is the
    * w7 prefix-sum arithmetic on byte sizes (a file belongs to the bin
    * of its starting byte, so a bin can overshoot by at most one file —
    * the defined packing rule); the plan is one per-partition window +
    * one aggregate, both on the same key. Sizes are synthesized
    * deterministically from orders (1–41 MB — the pathological
    * small-file regime). */
  private val o21TargetB = 134217728L // 128 MiB
  private val o21: Q = (s, dir) => {
    val files = t(s, dir, "orders").select(
      col("o_orderkey").as("file_id"),
      concat(lit("p"), col("o_orderkey") % 8).as("part"),
      (lit(1000000L) + (col("o_orderkey") * 7919L) % 40000000L).as("size_bytes"))
    PackOps.packSequences(files, "part", Seq("file_id"), col("size_bytes"),
        o21TargetB.toInt)
      .groupBy(col("part"), col("seq_first").as("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_tok")).as("total_bytes"),
        min(col("file_id")).as("first_file"), max(col("file_id")).as("last_file"))
      .withColumn("fill_ppm", expr(s"total_bytes * 1000000 div $o21TargetB"))
      .orderBy("part", "bin")
  }
  private val o21Sql =
    s"""WITH f AS (
       |  SELECT o_orderkey AS file_id,
       |    'p' || CAST(o_orderkey % 8 AS VARCHAR) AS part,
       |    1000000 + (o_orderkey * 7919) % 40000000 AS size_bytes
       |  FROM orders),
       |c AS (
       |  SELECT part, file_id, size_bytes,
       |    CAST(SUM(size_bytes) OVER (PARTITION BY part ORDER BY file_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - size_bytes AS start_b
       |  FROM f)
       |SELECT part, start_b // $o21TargetB AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS n_files,
       |  CAST(SUM(size_bytes) AS BIGINT) AS total_bytes,
       |  CAST(MIN(file_id) AS BIGINT) AS first_file,
       |  CAST(MAX(file_id) AS BIGINT) AS last_file,
       |  CAST(SUM(size_bytes) AS BIGINT) * 1000000 // $o21TargetB AS fill_ppm
       |FROM c GROUP BY part, start_b // $o21TargetB
       |ORDER BY part, bin""".stripMargin

  // --------------------------------------------------------- pipe (flagship)

  /** End-to-end pre-training pass, composed from the verified operators
    * as ONE declarative plan: PII redaction → exact dedup (canonical-form
    * keep-first) → quota sample to the target language mix → sequence
    * packing at a 512-token budget, sharded by language. The point is
    * compositionality: each stage is the same operator its own query
    * verifies, Catalyst plans the whole chain together (the scrub runs
    * inside the dedup's scan, the pack window reads the sample's
    * shuffle), and the oracle replays the identical composition in SQL.
    *
    * Profiled, CLOSED as kernel-bound (JobCensus, sf0.1): 7 jobs, ONE
    * dominant stage — 16.5 s task-time over 5,000 docs (~3.3 ms/row) is the
    * scan-fused regex
    * work (three PII redaction passes + the dedup canonical-form
    * normalize, all native codegen'd regexp_replace — no boxing),
    * fully parallel across the fanned scan and executed exactly ONCE:
    * the fingerprint subtree does NOT re-run per downstream consumer
    * (the repeated-kernel suspicion — every later stage reads 5k
    * id-rows at 0.07 s). Wall = kernel/32 + six small stages × the
    * host's per-job floor; the duck-ratio residue is java.util.regex
    * throughput vs DuckDB's RE2-class engine on multi-KB documents,
    * not plan shape — at cluster scale the stage is embarrassingly
    * parallel and scan-bounded. Fusing the three PII passes into one
    * alternation matcher would shave ≤2× off the kernel but cannot
    * replay bit-identically against the SQL oracle's
    * sequential-replace form at replacement boundaries — not taken. */
  private val pipeWeights = Seq(
    "en" -> 0.40, "de" -> 0.30, "es" -> 0.30, "fr" -> 0.30, "zh" -> 0.20)
  private val pipeN = 400L
  private val pipe: Q = (s, dir) => {
    val clean = Tables.fanOut(t(s, dir, "documents"))
      .withColumn("text", TextFns.redact_pii(col("text")))
    val ded = graft.operators.DedupOps.exactDedup(clean, "text", "doc_id")
    val mixed = QuotaOps.quotaSample(ded, "lang", pipeWeights.toMap, pipeN,
      SketchOps.portableHash(col("doc_id")), Seq(col("doc_id")))
    PackOps.packSequences(mixed, "lang", Seq("doc_id"),
        TextFns.token_count(col("text")), budget)
      .select(col("lang"), col("doc_id"), col("n_tok"), col("tok_start"),
        col("seq_first"), col("seq_offset"), col("n_seqs"))
      .orderBy("lang", "doc_id")
  }
  private val pipeQuotaCase = pipeWeights.map { case (s, w) =>
    s"WHEN '$s' THEN ${math.ceil(pipeN * w).toLong}"
  }.mkString(" ")
  private val pipeSql =
    s"""WITH clean AS (
       |  SELECT doc_id, lang,
       |    regexp_replace(regexp_replace(regexp_replace(text,
       |      'https?://[^\\s]+', '<URL>', 'g'),
       |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |      '\\+?[0-9][0-9 .-]{7,}[0-9]', '<PHONE>', 'g') AS text
       |  FROM documents),
       |ded AS (
       |  SELECT doc_id, lang, text FROM clean
       |  QUALIFY row_number() OVER (
       |    PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
       |    ORDER BY doc_id) = 1),
       |mixed AS (
       |  SELECT doc_id, lang, text FROM (
       |    SELECT doc_id, lang, text,
       |      row_number() OVER (PARTITION BY lang
       |        ORDER BY ((doc_id % 999999937 + 999999937) * 123456791 + 7919) % 999999937,
       |                 doc_id) AS rn
       |    FROM ded)
       |  WHERE rn <= CASE lang $pipeQuotaCase ELSE 0 END)
       |SELECT lang, doc_id, n_tok, tok_start,
       |  tok_start // $budget AS seq_first,
       |  tok_start % $budget AS seq_offset,
       |  (tok_start + n_tok - 1) // $budget - tok_start // $budget + 1 AS n_seqs
       |FROM (
       |  SELECT lang, doc_id, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tok AS tok_start
       |  FROM (
       |    SELECT lang, doc_id,
       |      CAST(len(regexp_extract_all(text, '${TextFns.bpeTokenPat}')) AS BIGINT) AS n_tok
       |    FROM mixed)
       |  WHERE n_tok > 0)
       |ORDER BY lang, doc_id""".stripMargin

  // ------------------------------------------------------------ registry

  val queries: Map[String, Q] = Map(
    "w7_sequence_pack" -> w7,
    "w8_chunk_overlap" -> w8,
    "j12_range_join" -> j12,
    "j13_interval_overlap" -> j13,
    "t_kmv_distinct" -> tKmv,
    "t_kmv_join_card" -> tKmvJoin,
    "t_sampled_quantiles" -> tSq,
    "o6_quota_sample" -> o6,
    "o7_domain_cap" -> o7,
    "o8_hash_split" -> o8,
    "a14_topk_per_group" -> a14,
    "t_cms_heavy" -> tCms,
    "t_split_contamination" -> tSplitContam,
    "t_bpe_merge_pairs" -> tBpePairs,
    "t_bpe_encode" -> tBpeEnc,
    "o9_kcenter_diverse" -> o9,
    "o10_token_budget" -> o10,
    "o11_temperature_mix" -> o11,
    "o20_stratified_split" -> o20,
    "o21_compaction_plan" -> o21,
    "pipe_pretrain_pack" -> pipe)

  val oracle: Map[String, String] = Map(
    "w7_sequence_pack" -> w7Sql,
    "w8_chunk_overlap" -> w8Sql,
    "j12_range_join" -> j12Sql,
    "j13_interval_overlap" -> j13Sql,
    "t_kmv_distinct" -> tKmvSql,
    "t_kmv_join_card" -> tKmvJoinSql,
    "t_sampled_quantiles" -> tSqSql,
    "o6_quota_sample" -> o6Sql,
    "o7_domain_cap" -> o7Sql,
    "o8_hash_split" -> o8Sql,
    "a14_topk_per_group" -> a14Sql,
    "t_cms_heavy" -> tCmsSql,
    "t_split_contamination" -> tSplitContamSql,
    "t_bpe_merge_pairs" -> tBpePairsSql,
    "t_bpe_encode" -> tBpeEncSql,
    "o9_kcenter_diverse" -> o9Sql,
    "o10_token_budget" -> o10Sql,
    "o11_temperature_mix" -> o11Sql,
    "o20_stratified_split" -> o20Sql,
    "o21_compaction_plan" -> o21Sql,
    "pipe_pretrain_pack" -> pipeSql)
}
