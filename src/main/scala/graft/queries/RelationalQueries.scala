package graft.queries

import graft.Checkpoints.CheckpointSyntax

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{BloomJoinOps, EncodeOps, MergeOps, SkewOps, WerAgg}

/** The relational core (SURVEY §2.2–2.7) expressed over the driver's
  * TPC-H-ish tables, one named query per ★ operator, each paired with a
  * DuckDB-equivalent oracle SQL (same column names, same deterministic
  * ordering, same value construction).
  *
  * Determinism rules shared by every entry here:
  *   - total ORDER BY on key columns in both engines;
  *   - aggregates over non-integral doubles go through DECIMAL so the
  *     result is independent of summation order (Spark partial aggs vs
  *     DuckDB's single pass would otherwise differ in final ulps);
  *   - "random" sampling is md5-keyed (same hex in both engines);
  *   - synthesized nullable/garbage columns are keyed on stable ids.
  */
object RelationalQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------ §2.2 P/F

  /** P1: derived duration_hours from an "H:MM:00" string via the F1 scalar
    * fn (reference crawler/metadata.py:258-259). Durations are whole
    * minutes so the 4-decimal rounding never sits on a .5 ulp boundary. */
  private val p1: Q = (s, dir) => {
    // duration_to_hours kernel over 600k rows: fan the 3-split fixture
    // scan out (Tables.fanOut scaladoc).
    val li = Tables.fanOut(t(s, dir, "lineitem"))
    val h = (col("l_quantity").cast("int") % 10).cast("int")
    val m = (col("l_partkey") % 60).cast("int")
    li.withColumn("dur_str",
        when(col("l_orderkey") % 7 === 0, lit("n/a"))
          .otherwise(format_string("%d:%02d:00", h, m)))
      .withColumn("duration_hours",
        graft.functions.TextFns.duration_to_hours(col("dur_str")))
      .select(col("l_orderkey"), col("l_linenumber"), col("dur_str"),
        col("duration_hours"))
      .orderBy("l_orderkey", "l_linenumber")
  }
  private val p1Sql =
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN l_orderkey % 7 = 0 THEN 'n/a'
      |       ELSE printf('%d:%02d:00', CAST(l_quantity AS INT) % 10, l_partkey % 60) END AS dur_str,
      |  CASE WHEN l_orderkey % 7 = 0 THEN NULL
      |       ELSE round(((CAST(l_quantity AS INT) % 10) * 3600 + (l_partkey % 60) * 60) / 3600.0, 4) END AS duration_hours
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** P2: widen with six typed null metric columns (crawler/metadata.py:231-237). */
  private val p2: Q = (s, dir) =>
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"),
        lit(null).cast("int").as("sample_rate"),
        lit(null).cast("string").as("quality"),
        lit(null).cast("bigint").as("word_count"),
        lit(null).cast("bigint").as("num_sentences"),
        lit(null).cast("bigint").as("audio_size"),
        lit(null).cast("bigint").as("text_size"))
      .orderBy("c_custkey")
  private val p2Sql =
    """SELECT c_custkey, c_name, NULL::INTEGER AS sample_rate, NULL::VARCHAR AS quality,
      |  NULL::BIGINT AS word_count, NULL::BIGINT AS num_sentences,
      |  NULL::BIGINT AS audio_size, NULL::BIGINT AS text_size
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** P3: duration = round(end - start, 4) (aeneas_batch_align.py:219).
    * start/end synthesized as 2-decimal values so the rounding is
    * boundary-safe in both engines. */
  private val p3: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    ev.withColumn("seg_start", (col("user_id") % 1000).cast("double") / 100)
      .withColumn("seg_end",
        col("seg_start") + (col("event_id") % 500).cast("double") / 100)
      .withColumn("duration", round(col("seg_end") - col("seg_start"), 4))
      .select(col("event_id"), col("seg_start"), col("seg_end"), col("duration"))
      .orderBy("event_id")
  }
  private val p3Sql =
    """SELECT event_id,
      |  CAST(user_id % 1000 AS DOUBLE) / 100 AS seg_start,
      |  CAST(user_id % 1000 AS DOUBLE) / 100 + CAST(event_id % 500 AS DOUBLE) / 100 AS seg_end,
      |  round((CAST(user_id % 1000 AS DOUBLE) / 100 + CAST(event_id % 500 AS DOUBLE) / 100)
      |        - CAST(user_id % 1000 AS DOUBLE) / 100, 4) AS duration
      |FROM events ORDER BY event_id""".stripMargin

  /** P4: id de-"f" + cast to double (aeneas_batch_align.py:222). */
  private val p4: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .withColumn("id_str", concat(lit("f"), col("l_orderkey").cast("string")))
      .withColumn("id",
        regexp_replace(col("id_str"), "f", "").cast("double"))
      .select(col("l_orderkey"), col("l_linenumber"), col("id_str"), col("id"))
      .orderBy("l_orderkey", "l_linenumber")
  private val p4Sql =
    """SELECT l_orderkey, l_linenumber,
      |  'f' || CAST(l_orderkey AS VARCHAR) AS id_str,
      |  CAST(replace('f' || CAST(l_orderkey AS VARCHAR), 'f', '') AS DOUBLE) AS id
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** P5: single-column project + dropna -> list (crawler/metadata.py:345-347). */
  private val p5: Q = (s, dir) =>
    t(s, dir, "part")
      .withColumn("audio_url",
        when(col("p_size") % 9 === 0, lit(null)).otherwise(col("p_name")))
      .select("audio_url").na.drop(Seq("audio_url"))
      .orderBy("audio_url")
  private val p5Sql =
    """SELECT audio_url FROM (
      |  SELECT CASE WHEN p_size % 9 = 0 THEN NULL ELSE p_name END AS audio_url FROM part)
      |WHERE audio_url IS NOT NULL ORDER BY audio_url""".stripMargin

  /** P6: two-column project (crawler/utils.py:67-82). */
  private val p6: Q = (s, dir) =>
    t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      .orderBy("o_orderkey")
  private val p6Sql =
    "SELECT o_orderkey, o_orderpriority FROM orders ORDER BY o_orderkey"

  /** 2.2-F1: negated substring filter with pandas na=False semantics —
    * null rows are KEPT (crawler/metadata.py:229). */
  private val f1: Q = (s, dir) =>
    t(s, dir, "part")
      .withColumn("type_n",
        when(col("p_size") % 11 === 0, lit(null)).otherwise(col("p_type")))
      .filter(!col("type_n").contains("BRASS") || col("type_n").isNull)
      .select(col("p_partkey"), col("type_n"))
      .orderBy("p_partkey")
  private val f1Sql =
    """SELECT p_partkey, type_n FROM (
      |  SELECT p_partkey, CASE WHEN p_size % 11 = 0 THEN NULL ELSE p_type END AS type_n FROM part)
      |WHERE NOT contains(type_n, 'BRASS') OR type_n IS NULL
      |ORDER BY p_partkey""".stripMargin

  /** 2.2-F2: conjunctive contains masks, na=False => nulls dropped
    * (crawler/utils.py:70-77). */
  private val f2: Q = (s, dir) =>
    t(s, dir, "customer")
      .filter(col("c_name").contains("1") && col("c_mktsegment").contains("BUILD"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  private val f2Sql =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE contains(c_name, '1') AND contains(c_mktsegment, 'BUILD')
      |ORDER BY c_custkey""".stripMargin

  /** 2.2-F3: null-drop on a projected column (crawler/metadata.py:347). */
  private val f3: Q = (s, dir) =>
    t(s, dir, "orders")
      .withColumn("prio_n",
        when(col("o_orderkey") % 13 === 0, lit(null)).otherwise(col("o_orderpriority")))
      .na.drop(Seq("prio_n"))
      .select(col("o_orderkey"), col("prio_n"))
      .orderBy("o_orderkey")
  private val f3Sql =
    """SELECT o_orderkey, prio_n FROM (
      |  SELECT o_orderkey, CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_orderpriority END AS prio_n
      |  FROM orders)
      |WHERE prio_n IS NOT NULL ORDER BY o_orderkey""".stripMargin

  /** 2.2-F4: duration band keep-filter, 3.0 <= d <= 12.0
    * (aeneas_batch_align.py:87-94,228-237). */
  private val f4: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_quantity").between(3.0, 12.0))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy("l_orderkey", "l_linenumber")
  private val f4Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_quantity BETWEEN 3.0 AND 12.0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** 2.2-F5: threshold predicate -> boolean qualified column
    * (process_all.py:467-477,504-510). */
  private val f5: Q = (s, dir) =>
    t(s, dir, "supplier")
      .withColumn("qualified", col("s_acctbal") >= 1000.0)
      .select(col("s_suppkey"), col("s_acctbal"), col("qualified"))
      .orderBy("s_suppkey")
  private val f5Sql =
    """SELECT s_suppkey, s_acctbal, s_acctbal >= 1000.0 AS qualified
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** 2.2-F6: min word-count keep filter (process_all.py:296-301). */
  private val f6: Q = (s, dir) =>
    t(s, dir, "documents")
      .filter(graft.functions.TextFns.word_count(col("text")) >= 3)
      .select(col("doc_id"))
      .orderBy("doc_id")
  private val f6Sql =
    """SELECT doc_id FROM documents
      |WHERE CASE WHEN trim(regexp_replace(text, '\s+', ' ', 'g')) = '' THEN 0
      |           ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END >= 3
      |ORDER BY doc_id""".stripMargin

  // -- A8 / F7: corpus WER. Single-character "words" make word-level
  // Levenshtein equal char-level levenshtein() in DuckDB, so the custom
  // Aggregator is exactly oracle-able. hyp = ref with all 'e' tokens
  // dropped (pure deletions).
  private def werPrep(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = slice(regexp_extract_all(lower(col("text")), lit("[a-z]"), lit(0)), 1, 60)
    docs.withColumn("toks", toks)
      .withColumn("ref", array_join(col("toks"), " "))
      .withColumn("hyp", array_join(filter(col("toks"), x => x =!= "e"), " "))
      .select(col("doc_id"), col("lang"), col("ref"), col("hyp"))
  }
  private val werSqlCte =
    """WITH w AS (
      |  SELECT lang, array_to_string(toks, '') AS refc,
      |         array_to_string(list_filter(toks, x -> x <> 'e'), '') AS hypc,
      |         len(toks) AS wc
      |  FROM (SELECT lang, regexp_extract_all(lower(text), '[a-z]')[1:60] AS toks FROM documents))
      |""".stripMargin

  /** A8 ★: corpus WER per group — Σedits/Σref-words ×100, NOT mean of
    * per-row WERs (whisper_qc.py:322-329).
    *
    * Kernel verdict (r15 JobCensus, first weak-list entry at iso
    * 1.16 s / 4.2×): one 1.03 s job carrying 1.01 s task-time over the
    * 5000-doc WER aggregation — the Levenshtein edit-distance kernel
    * IS the query (the f7_wer_threshold verdict's sibling); the other
    * four jobs are sub-0.05 s floor. */
  private val a8: Q = (s, dir) => {
    val wer = WerAgg.asUdaf
    werPrep(s, dir).groupBy("lang")
      .agg(wer(col("ref"), col("hyp")).as("corpus_wer"))
      .orderBy("lang")
  }
  private val a8Sql = werSqlCte +
    """SELECT lang, 100.0 * SUM(levenshtein(refc, hypc)) / SUM(wc) AS corpus_wer
      |FROM w GROUP BY lang ORDER BY lang""".stripMargin

  /** 2.2-F7: WER-threshold disqualification filter (whisper_qc.py:150-157).
    *
    * Weak-list census verdict (r14 JobCensus): 5 driver jobs, ONE
    * 5000-record Levenshtein stage of 0.70 s task time (fully
    * parallel) against a 1.05 s isolated wall — KERNEL + floor; the
    * edit-distance work IS the query, duck pays the same kernel in
    * 0.27 s because its planning overhead is ~zero. */
  private val f7: Q = (s, dir) => {
    val wer = WerAgg.asUdaf
    werPrep(s, dir).groupBy("lang")
      .agg(wer(col("ref"), col("hyp")).as("corpus_wer"))
      .filter(col("corpus_wer") >= 10.0)
      .select(col("lang"))
      .orderBy("lang")
  }
  private val f7Sql = werSqlCte +
    """SELECT lang FROM (
      |  SELECT lang, 100.0 * SUM(levenshtein(refc, hypc)) / SUM(wc) AS corpus_wer
      |  FROM w GROUP BY lang)
      |WHERE corpus_wer >= 10.0 ORDER BY lang""".stripMargin

  // ------------------------------------------------------------ §2.3 J

  /** J1 ★: inner equi-join (aeneas_batch_align.py:652-670 two-pointer
    * pairing == inner join on stem; Catalyst picks broadcast/SMJ). */
  private val j1: Q = (s, dir) =>
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_name"))
      .orderBy("o_orderkey")
  private val j1Sql =
    """SELECT o_orderkey, c_name FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** J2 ★: positional zip join — row-aligned pairing of two ordered
    * projections (crawler/metadata.py:192-195).
    *
    * region has five rows by the TPC-H contract, so it is broadcast by
    * hint. Left to AQE, both sides fit its broadcast threshold and the
    * side whose shuffle stage finished first became the build side, so
    * the plan and its generated classes flipped from run to run and a
    * warm run could compile again. */
  private val j2: Q = (s, dir) => {
    val wa = Window.orderBy("n_name")
    val wb = Window.orderBy("r_name")
    val a = t(s, dir, "nation").select(col("n_name"))
      .withColumn("rn", row_number().over(wa))
    val b = t(s, dir, "region").select(col("r_name"))
      .withColumn("rn", row_number().over(wb))
    a.join(broadcast(b), Seq("rn"), "inner").select(col("rn"), col("n_name"), col("r_name"))
      .orderBy("rn")
  }
  private val j2Sql =
    """SELECT a.rn, n_name, r_name
      |FROM (SELECT n_name, row_number() OVER (ORDER BY n_name) AS rn FROM nation) a
      |JOIN (SELECT r_name, row_number() OVER (ORDER BY r_name) AS rn FROM region) b
      |USING (rn) ORDER BY a.rn""".stripMargin

  // J3 updates set: keys %5==0 get an update (null value when %10==0 —
  // must overwrite), plus brand-new keys (+200000) for the insert path.
  private def j3Updates(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_custkey")).distinct()
      .filter(col("o_custkey") % 5 === 0)
    val upd = base.select(
      col("o_custkey").as("c_custkey"),
      when(col("o_custkey") % 10 === 0, lit(null))
        .otherwise((col("o_custkey") % 97).cast("double")).as("c_acctbal"))
    val ins = base.filter(col("o_custkey") % 25 === 0).select(
      (col("o_custkey") + 200000).as("c_custkey"),
      (col("o_custkey") % 97).cast("double").as("c_acctbal"))
    upd.unionByName(ins)
  }
  private val j3UpdatesSql =
    """upd AS (
      |  SELECT o_custkey AS k,
      |         CASE WHEN o_custkey % 10 = 0 THEN NULL ELSE CAST(o_custkey % 97 AS DOUBLE) END AS v
      |  FROM (SELECT DISTINCT o_custkey FROM orders WHERE o_custkey % 5 = 0)
      |  UNION ALL
      |  SELECT o_custkey + 200000 AS k, CAST(o_custkey % 97 AS DOUBLE) AS v
      |  FROM (SELECT DISTINCT o_custkey FROM orders WHERE o_custkey % 25 = 0))
      |""".stripMargin

  /** J3 ★: upsert/MERGE — matched rows take the update value (nulls
    * included), unmatched update rows are inserted (process_all.py:797-839).
    * Base is never shuffled. A CDC batch arrives materialised in
    * practice, and the upsert plan reads `updates` three times (merge
    * side, matched-keys broadcast, insert anti-join), so the synthesised
    * batch is checkpointed: its subtree runs once. Bounded by |updates|,
    * the broadcast contract upsert already has. */
  private val j3: Q = (s, dir) =>
    MergeOps.upsert(
      t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal", "c_mktsegment"),
      j3Updates(s, dir).checkpointed(), Seq("c_custkey"), Seq("c_acctbal"))
      .orderBy("c_custkey")
  private val j3Sql =
    "WITH " + j3UpdatesSql +
    """SELECT COALESCE(b.c_custkey, u.k) AS c_custkey, b.c_name,
      |  CASE WHEN u.k IS NOT NULL THEN u.v ELSE b.c_acctbal END AS c_acctbal,
      |  b.c_mktsegment
      |FROM customer b FULL OUTER JOIN upd u ON b.c_custkey = u.k
      |ORDER BY c_custkey""".stripMargin

  /** J4 ★: lookup left-outer join + default on miss
    * (aeneas_batch_align.py:187-196,700-705). Lookup side restricted so
    * misses actually occur. */
  private val j4: Q = (s, dir) => {
    val meta = t(s, dir, "part").filter(col("p_partkey") % 3 =!= 0)
      .select(col("p_partkey"), col("p_brand"))
    t(s, dir, "lineitem")
      .join(broadcast(meta), col("l_partkey") === col("p_partkey"), "left_outer")
      .select(col("l_orderkey"), col("l_linenumber"),
        coalesce(col("p_brand"), lit("UNKNOWN")).as("brand"))
      .orderBy("l_orderkey", "l_linenumber")
  }
  private val j4Sql =
    """SELECT l_orderkey, l_linenumber, COALESCE(p_brand, 'UNKNOWN') AS brand
      |FROM lineitem LEFT JOIN (SELECT p_partkey, p_brand FROM part WHERE p_partkey % 3 <> 0) p
      |ON l_partkey = p_partkey
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** J5 ★ (semi): keep customers having at least one order
    * (whisper_qc.py:47-75). */
  // No join hint on the orders side (here and in j5a/j6), deliberately:
  // the probe keyset is fact-derived, but its lineage is a plain SCAN
  // whose size estimate is sound — Spark's adaptive broadcast therefore
  // flips to a keyed semi-join exactly when real sizes cross the
  // threshold, which is the scale mechanism, not a defect (the r10
  // estimate-soundness doctrine; contrast RangeJoinOps, where a
  // data-dependent explode makes the estimate structurally wrong and
  // the hint is load-bearing). Hinting these measured +0.15-0.2 s each
  // at sf0.1 for no scale benefit.
  private val j5s: Q = (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  private val j5sSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** J5 ★ (anti): customers with no orders — the delete set
    * (push_to_hf.py:115-122). */
  private val j5a: Q = (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  private val j5aSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** J6 ★: key-set exclusion — remove rows whose key is in the outlier
    * list (aeneas_batch_align.py:302-327). */
  private val j6: Q = (s, dir) => {
    val outliers = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
      .select(col("l_partkey")).distinct()
    t(s, dir, "lineitem")
      .join(outliers, Seq("l_partkey"), "left_anti")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .orderBy("l_orderkey", "l_linenumber")
  }
  private val j6Sql =
    """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
      |WHERE l_partkey NOT IN (SELECT DISTINCT l_partkey FROM lineitem WHERE l_quantity > 45)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** J7 ★: arithmetic equi-join — alignment id joins text line id-1
    * (aeneas_batch_align.py:389-403); out-of-range ids drop (inner).
    * The root orderBy exists only for the oracle's deterministic
    * hash-compare; Bench times the join without it (stripRootSort). */
  private val j7: Q = (s, dir) => {
    val segs = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("book"), col("l_linenumber").as("seg_id"))
    val lines = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("book"), (col("l_linenumber") - 1).as("line_no"),
        col("l_partkey").as("line_txt"))
    // shuffle_hash, not the SMJ default: the alignment join is 1:1 on a
    // high-cardinality uniform key (every segment matches exactly one
    // line), so SMJ's two full sorts buy nothing — the hash build of one
    // shuffle PARTITION is bounded by spark.sql.shuffle.partitions
    // sizing, which is the knob that already must hold at scale.
    // Measured 1.06 s → 0.47 s at sf0.1. For a skewed key set drop the
    // hint and let SMJ/AQE take it.
    segs.join(lines.hint("shuffle_hash"),
        segs("book") === lines("book") && segs("seg_id") - 1 === lines("line_no"),
        "inner")
      .select(segs("book").as("book"), col("seg_id"), col("line_txt"))
      .orderBy("book", "seg_id")
  }
  private val j7Sql =
    """SELECT s.book, s.seg_id, l.line_txt
      |FROM (SELECT l_orderkey AS book, l_linenumber AS seg_id FROM lineitem) s
      |JOIN (SELECT l_orderkey AS book, l_linenumber - 1 AS line_no, l_partkey AS line_txt FROM lineitem) l
      |ON s.book = l.book AND s.seg_id - 1 = l.line_no
      |ORDER BY s.book, s.seg_id""".stripMargin

  /** J9 (scale path): salted skew join — result must be row-identical to
    * the plain inner join, which is exactly what the oracle checks; the
    * salt only changes the shuffle key distribution. Aggregated so the
    * verify surface stays small while covering every joined row. */
  private val j9: Q = (s, dir) => {
    val large = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_quantity"))
    val small = t(s, dir, "orders")
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    SkewOps.saltedInnerJoin(large, small, Seq("okey"), saltBuckets = 8)
      .groupBy("o_orderpriority")
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }
  private val j9Sql =
    """SELECT o_orderpriority, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** J10: as-of join — every purchase event stamped with the user's most
    * recent at-or-before view (AsofOps union+one-window shape, never a
    * range cross-product; DuckDB replays with its native ASOF JOIN).
    * Right side pre-aggregated unique per (user, ts) per the operator
    * contract; events carry no null keys/times (asserted in testdata). */
  private val j10: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("view_id"),
        max_by(col("value"), col("event_id")).as("view_value"))
    graft.operators.AsofOps
      .asofJoin(purchases, views, "user_id", "ts", Seq("view_id", "view_value"))
      .select(col("event_id"), col("user_id"), col("view_id"), col("view_value"))
      .orderBy("event_id")
  }
  private val j10Sql =
    """WITH p AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |v AS (
      |  SELECT user_id, ts, MAX(event_id) AS view_id,
      |    arg_max(value, event_id) AS view_value
      |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
      |SELECT p.event_id, p.user_id, v.view_id, v.view_value
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p.event_id""".stripMargin

  /** J11: bloom-prefiltered join — dim keys sketched, fact rows that
    * cannot match dropped BEFORE the join exchange. The selective dim
    * (urgent multiples of 7: ~2% of orders) is the regime where the
    * prefilter pays; false positives die in the exact join, so the
    * oracle is the plain inner join. Aggregated per priority to keep
    * the verify surface small while covering every joined row. */
  private val j11: Q = (s, dir) => {
    val fact = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val dim = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    BloomJoinOps.bloomPrefilteredJoin(fact, dim, "l_orderkey", "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }
  private val j11Sql =
    """SELECT o_orderpriority, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 7 = 0
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------ §2.4 A

  /** A1 ★: group by derived key + sorted collect_list (crawler/utils.py:85-122).
    * Verify surface serializes the array to a comma-joined string — the
    * driver's pandas canonicalizer cannot sort ndarray cells (round-2
    * postmortem); the array-returning shape stays available pre-concat. */
  private val a1: Q = (s, dir) =>
    t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
      .groupBy(col("o_orderpriority"))
      .agg(sort_array(collect_list(col("o_orderkey"))).as("keys_arr"))
      .select(col("o_orderpriority"),
        concat_ws(",", transform(col("keys_arr"), _.cast("string"))).as("keys"))
      .orderBy("o_orderpriority")
  private val a1Sql =
    """SELECT o_orderpriority,
      |  array_to_string(list(o_orderkey ORDER BY o_orderkey), ',') AS keys
      |FROM orders WHERE o_orderkey % 100 = 0
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** A2 ★: per-group ordered collect of strings (whisper_qc.py:33-76). */
  private val a2: Q = (s, dir) =>
    t(s, dir, "lineitem").filter(col("l_orderkey") < 100)
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_list(struct(col("l_linenumber"), col("l_partkey"))))
        .as("pairs"))
      .select(col("l_orderkey"),
        concat_ws(",", transform(col("pairs"),
          p => p.getField("l_partkey").cast("string"))).as("parts"))
      .orderBy("l_orderkey")
  private val a2Sql =
    """SELECT l_orderkey,
      |  array_to_string(list(l_partkey ORDER BY l_linenumber, l_partkey), ',') AS parts
      |FROM lineitem WHERE l_orderkey < 100
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** A3 ★: group by source + value-sorted collect (crawler/utils.py:348-391). */
  private val a3: Q = (s, dir) =>
    Tables.events(s, dir).filter(col("event_id") % 20 === 0)
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("user_id"))).as("users_arr"))
      .select(col("event_type"),
        concat_ws(",", transform(col("users_arr"), _.cast("string"))).as("users"))
      .orderBy("event_type")
  private val a3Sql =
    """SELECT event_type,
      |  array_to_string(list(user_id ORDER BY user_id), ',') AS users
      |FROM events WHERE event_id % 20 = 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** A4 ★: sums (push_to_hf.py:99,125-144). Integral doubles sum exactly;
    * the 2-decimal price sums as FIXED-POINT CENTS — round(x·100) to
    * long, sum longs, divide once at the end — so partial-agg order
    * can't shift the result. Same order-independence as the decimal
    * route this replaces, at integer-sum speed: the decimal form cost
    * ~0.45 s of pure Decimal-add overhead on 600 k rows (2.7× the whole
    * plain-double query). Headroom: cents of a ~5e5-cent price over
    * ~6e12 rows (100 TB of lineitem) sum to ~3e18 < 2^63; for wider
    * values route through decimal(38) and pay the add. */
  private val a4: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        (sum(round(col("l_extendedprice") * 100).cast("long")).cast("double") /
          lit(100.0d)).as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  private val a4Sql =
    """SELECT l_returnflag, SUM(l_quantity) AS sum_qty,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
      |    / CAST(100 AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A5 ★: conditional counts (crawler/download.py:249-259). */
  private val a5: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(when(col("o_totalprice") > 100000, 1)).as("n_big"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  private val a5Sql =
    """SELECT o_orderstatus,
      |  COUNT(CASE WHEN o_totalprice > 100000 THEN 1 END) AS n_big, COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** A6 ★: max of array length — drives dynamic schema width
    * (crawler/metadata.py:276-279). */
  private val a6: Q = (s, dir) =>
    t(s, dir, "embeddings")
      .agg(max(size(col("embedding"))).cast("bigint").as("max_len"))
  private val a6Sql =
    "SELECT CAST(MAX(len(embedding)) AS BIGINT) AS max_len FROM embeddings"

  /** A7 ★: min within group decides qualification (process_all.py:502-510). */
  private val a7: Q = (s, dir) =>
    t(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(min(col("c_acctbal")).as("min_bal"), min(col("c_name")).as("first_name"))
      .orderBy("c_nationkey")
  private val a7Sql =
    """SELECT c_nationkey, MIN(c_acctbal) AS min_bal, MIN(c_name) AS first_name
      |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** A9 ★: distinct + dictionary/label encode (push_to_hf.py:22). */
  private val a9: Q = (s, dir) =>
    EncodeOps.dictEncode(t(s, dir, "customer"), "c_mktsegment", "seg_label")
      .select(col("c_custkey"), col("c_mktsegment"), col("seg_label"))
      .orderBy("c_custkey")
  private val a9Sql =
    """SELECT c_custkey, c_mktsegment,
      |  DENSE_RANK() OVER (ORDER BY c_mktsegment) AS seg_label
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** A10 ★: ordered per-group concat of float arrays — the audio-concat
    * shape (process_all.py:409-438). */
  private val a10: Q = (s, dir) =>
    t(s, dir, "embeddings")
      .groupBy(col("label"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
        p => p.getField("embedding"))).as("signal_arr"))
      // Float cells as floor(x*1e6) micro-units: both engines evaluate the
      // multiply and floor in IEEE double, so the joined string is
      // engine-independent (decimal casts and printf %.6f are not — their
      // tie-rounding differs between Spark and DuckDB).
      .select(col("label"), concat_ws(",", transform(col("signal_arr"),
        x => floor(x.cast("double") * lit(1e6)).cast("bigint").cast("string")))
        .as("signal"))
      .orderBy("label")
  private val a10Sql =
    """SELECT label,
      |  array_to_string(list_transform(flatten(list(embedding ORDER BY vec_id)),
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)), ',') AS signal
      |FROM embeddings GROUP BY label ORDER BY label""".stripMargin

  /** A12 ★: outlier count per group (aeneas_batch_align.py:231-248). */
  private val a12: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(when(!col("l_quantity").between(3.0, 12.0), 1)).as("n_outliers"))
      .orderBy("l_returnflag")
  private val a12Sql =
    """SELECT l_returnflag,
      |  COUNT(CASE WHEN l_quantity NOT BETWEEN 3.0 AND 12.0 THEN 1 END) AS n_outliers
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------ §2.5 W

  /** W1 ★: 1-based row_number within group (crawler/download.py:141-145). */
  private val w1: Q = (s, dir) =>
    t(s, dir, "lineitem").filter(col("l_orderkey") % 50 === 0)
      .withColumn("part_idx", row_number().over(
        Window.partitionBy("l_orderkey").orderBy("l_linenumber")))
      .select(col("l_orderkey"), col("l_linenumber"), col("part_idx"))
      .orderBy("l_orderkey", "l_linenumber")
  private val w1Sql =
    """SELECT l_orderkey, l_linenumber,
      |  row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS part_idx
      |FROM lineitem WHERE l_orderkey % 50 = 0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** W2 ★: ordered sort within group via sort_array over structs
    * (process_all.py:567-569). */
  private val w2: Q = (s, dir) =>
    t(s, dir, "lineitem").filter(col("l_orderkey") % 200 === 0)
      .groupBy(col("l_orderkey"))
      .agg(transform(
        array_sort(collect_list(struct(col("l_linenumber").as("seq"), col("l_suppkey").as("v")))),
        p => p.getField("v")).as("supps_arr"))
      .select(col("l_orderkey"),
        concat_ws(",", transform(col("supps_arr"), _.cast("string"))).as("ordered_supps"))
      .orderBy("l_orderkey")
  private val w2Sql =
    """SELECT l_orderkey,
      |  array_to_string(list(l_suppkey ORDER BY l_linenumber, l_suppkey), ',') AS ordered_supps
      |FROM lineitem WHERE l_orderkey % 200 = 0
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** W4 ★: 0-based line numbering as a join key
    * (aeneas_batch_align.py:384-403). The reference numbers lines within
    * one book's file, so the registered demo partitions by a synthetic
    * book key — a single unpartitioned window would move the whole corpus
    * to one task at scale. */
  private val w4: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("book", (col("doc_id") % 50).cast("bigint"))
      .withColumn("line_no",
        row_number().over(Window.partitionBy("book").orderBy("doc_id")) - 1)
      .select(col("doc_id"), col("book"), col("line_no"))
      .orderBy("doc_id")
  private val w4Sql =
    """SELECT doc_id, doc_id % 50 AS book,
      |  row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id) - 1 AS line_no
      |FROM documents ORDER BY doc_id""".stripMargin

  /** W6: gap-based sessionization — events of a user belong to one
    * session while consecutive gaps stay under 30 minutes; the window
    * closes 30 minutes after the last event. Batch form is
    * gaps-and-islands (chosen by same-JVM A/B): lag-diff >= gap
    * flags a session start, a running sum numbers islands, one hash
    * aggregate per (user, island) — lag, cumsum, AND the aggregate all
    * cluster on user_id (partitioning on a grouping-key subset
    * satisfies the aggregate's distribution), so the whole query is
    * ONE exchange + one sort. Spark's native `session_window` groupBy
    * computes the same result through its UpdatingSessions + sort-merge
    * aggregate machinery and measured 15-25% slower on every
    * alternating rep (median 1.02 vs 0.86 s at sf0.1; parity
    * checksummed; 3 jobs either way) — the merge machinery pays for
    * out-of-order session MERGING that a sorted batch partition never
    * needs. session_window remains the STREAMING shape (the streaming
    * twin runs it under readStream + watermark, where merging is the
    * point). Times emitted as unix micros so the comparator sees plain
    * ints; the value sum is decimal-routed (order-independent) per the
    * oracle-parity rules. */
  private val w6: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"),
        col("value").cast("decimal(25,10)").as("v"))
      .withColumn("prev", lag(col("ts"), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) >= 1800000000L,
          1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("v")).cast("double").as("sum_value"),
        min(col("ts")).as("mn"), max(col("ts")).as("mx"))
      .select(col("user_id"),
        unix_micros(col("mn")).as("session_start"),
        unix_micros(col("mx") + expr("INTERVAL 30 MINUTES")).as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")
  }
  private val w6Sql =
    """WITH o AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o)
      |SELECT user_id, epoch_us(MIN(ts)) AS session_start,
      |  epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(25,10))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  /** W9: sliding-frame window aggregation — per-user moving
    * sum/min/max/count of the last 10 events (ROWS BETWEEN 9 PRECEDING
    * AND CURRENT ROW), the standard trailing-window telemetry shape the
    * w-family lacked. Exactness: the value is fixed-point-quantized
    * BEFORE the frame aggregation — sliding-frame float sums are
    * implementation-dependent (subtract-on-slide vs re-sum per frame)
    * and would not replay across engines; integer frame sums are exact
    * in both. The frame order is total (ts, event_id), so tied
    * timestamps cannot permute a frame. One shuffle on user_id; the
    * frame buffer is 10 rows regardless of partition size. */
  private val w9: Q = (s, dir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-9, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("vq",
        expr("CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT)"))
      .select(col("event_id"), col("user_id"),
        sum("vq").over(w).as("mov_sum_fp"),
        min("vq").over(w).as("mov_min_fp"),
        max("vq").over(w).as("mov_max_fp"),
        count(lit(1)).over(w).cast("long").as("mov_n"))
      .orderBy("event_id")
  }
  private val w9Sql =
    """SELECT event_id, user_id,
      |  CAST(SUM(vq) OVER w AS BIGINT) AS mov_sum_fp,
      |  MIN(vq) OVER w AS mov_min_fp,
      |  MAX(vq) OVER w AS mov_max_fp,
      |  CAST(COUNT(*) OVER w AS BIGINT) AS mov_n
      |FROM (
      |  SELECT event_id, user_id, ts,
      |    CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT) AS vq
      |  FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** W10: per-key interval merge (gaps-and-islands; IntervalOps). Each
    * order's line numbers spawn half-open [10·line, 10·line + qty)
    * ranges whose integral quantities (1–50) overlap, nest, and gap in
    * all combinations; the oracle replays the identical prior-rows-max
    * island formulation in SQL. Integer-only arithmetic end to end.
    *
    * Plan audited, CLOSED as machinery-bound (JobCensus + the
    * formatted plan): ONE hash exchange on okey; the sort, both Window
    * operators (frames differ, so they cannot legally merge — the
    * island id depends on the flag the first window produces), and
    * both aggregate phases are all exchange-free (partitioning on a
    * grouping-key subset satisfies the agg's clustering). The ~2.9 s
    * task-time per 600k-row window stage is WindowExec's per-row frame
    * machinery — the duck gap is window-kernel throughput on an
    * already-minimal shape. Re-censused r15 on its first weak-list
    * entry (iso 1.48 s, 133 ms floor): same shape — 5 jobs, the two
    * window stages at 2.5/2.3 s task-time over 600k rows; verdict
    * unchanged. */
  private val w10: Q = (s, dir) => {
    val iv = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"),
        (col("l_linenumber") * 10).cast("int").as("s"),
        ((col("l_linenumber") * 10) + col("l_quantity")).cast("int").as("e"))
    graft.operators.IntervalOps.mergeIntervals(iv, "okey", "s", "e")
      .select(col("okey"), col("span_start"), col("span_end"), col("n_merged"))
      .orderBy("okey", "span_start")
  }
  private val w10Sql =
    """WITH iv AS (
      |  SELECT l_orderkey AS okey,
      |    CAST(l_linenumber * 10 AS INT) AS s,
      |    CAST(l_linenumber * 10 + l_quantity AS INT) AS e
      |  FROM lineitem),
      |flagged AS (
      |  SELECT okey, s, e,
      |    CASE WHEN MAX(e) OVER (PARTITION BY okey ORDER BY s, e
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |           OR s > MAX(e) OVER (PARTITION BY okey ORDER BY s, e
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      THEN 1 ELSE 0 END AS new_island
      |  FROM iv),
      |islands AS (
      |  SELECT okey, s, e,
      |    SUM(new_island) OVER (PARTITION BY okey ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM flagged)
      |SELECT okey, MIN(s) AS span_start, MAX(e) AS span_end,
      |  CAST(COUNT(*) AS BIGINT) AS n_merged
      |FROM islands GROUP BY okey, island
      |ORDER BY okey, span_start""".stripMargin

  /** W11: ordered funnel depth — per user, did a view precede a click
    * that preceded a purchase (in (ts, event_id) order)? The sequence
    * match is two STACKED prior-rows cumulative-max windows over ONE
    * shared (user_id, ts, event_id) sort (the w10 exchange-sharing
    * shape): v_prev marks "a view happened strictly before this row",
    * c2 marks qualifying clicks, vc_prev cascades, and the per-user
    * flags collapse in one aggregation. depth = s1+s2+s3 is exact
    * because the stages are structurally nested (s3 -> s2 -> s1).
    * Output: funnel depth 0..3 with user counts — the conversion
    * histogram every event-analytics stack computes, expressed without
    * any self-join of the event log against itself (the O(n²)
    * formulation this operator exists to avoid). */
  private val w11: Q = (s, dir) => {
    val order = Seq(col("ts"), col("event_id"))
    val prior = Window.partitionBy("user_id").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val isView = when(col("event_type") === "view", 1).otherwise(0)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("v_prev", coalesce(max(isView).over(prior), lit(0)))
      .withColumn("c2",
        when(col("event_type") === "click" && col("v_prev") === 1, 1).otherwise(0))
      .withColumn("vc_prev", coalesce(max(col("c2")).over(prior), lit(0)))
      .groupBy("user_id")
      .agg(max(isView).as("s1"), max(col("c2")).as("s2"),
        max(when(col("event_type") === "purchase" && col("vc_prev") === 1, 1)
          .otherwise(0)).as("s3"))
      .groupBy((col("s1") + col("s2") + col("s3")).cast("int").as("depth"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("depth")
  }
  private val w11Sql =
    """WITH f1 AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    COALESCE(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      OVER w, 0) AS v_prev
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |f2 AS (
      |  SELECT *, CASE WHEN event_type = 'click' AND v_prev = 1
      |    THEN 1 ELSE 0 END AS c2
      |  FROM f1),
      |f3 AS (
      |  SELECT *, COALESCE(MAX(c2) OVER w, 0) AS vc_prev
      |  FROM f2
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |u AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1,
      |    MAX(c2) AS s2,
      |    MAX(CASE WHEN event_type = 'purchase' AND vc_prev = 1
      |      THEN 1 ELSE 0 END) AS s3
      |  FROM f3 GROUP BY user_id)
      |SELECT CAST(s1 + s2 + s3 AS INT) AS depth, CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM u GROUP BY depth ORDER BY depth""".stripMargin

  /** A15: ROLLUP grouping sets — (lang, source), (lang), () subtotals in
    * ONE pass (the grouping-set expand happens below the shuffle, so
    * map-side combine still applies; three separate aggregations would
    * scan the corpus three times). grouping_id disambiguates a
    * rolled-up NULL from a data NULL, with the same bit order in both
    * engines (first rollup column = high bit). Explicit NULLS FIRST in
    * the oracle: DuckDB's default sort order is NULLS LAST, Spark's
    * ascending default is nulls-first. */
  private val a15: Q = (s, dir) =>
    t(s, dir, "documents")
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        grouping_id().cast("int").as("gid"))
      .select(col("lang"), col("source"), col("gid"),
        col("n_docs"), col("sum_chars"))
      .orderBy(col("gid"), col("lang").asc_nulls_first,
        col("source").asc_nulls_first)
  private val a15Sql =
    """SELECT lang, source,
      |  CAST(GROUPING(lang) * 2 + GROUPING(source) AS INT) AS gid,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY ROLLUP (lang, source)
      |ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""".stripMargin

  // ------------------------------------------------------------ §2.6 O

  /** O1 ★: global sort by name (aeneas_batch_align.py:652-653). */
  private val o1: Q = (s, dir) =>
    t(s, dir, "part").select(col("p_name"), col("p_partkey"))
      .orderBy("p_name", "p_partkey")
  private val o1Sql =
    "SELECT p_name, p_partkey FROM part ORDER BY p_name, p_partkey"

  /** O2 ★: limit (process_all.py:881-887) — deterministic via total sort. */
  private val o2: Q = (s, dir) =>
    t(s, dir, "orders").orderBy("o_orderkey")
      .select(col("o_orderkey"), col("o_totalprice")).limit(5)
  private val o2Sql =
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 5"

  /** O3 ★: random sample of n — md5-keyed so both engines draw the same
    * "random" rows (crawler/utils.py:61-65; seeded for testability per
    * SURVEY §7.4). */
  private val o3: Q = (s, dir) =>
    t(s, dir, "orders")
      .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
      .limit(20)
      .select(col("o_orderkey"))
      .orderBy("o_orderkey")
  private val o3Sql =
    """SELECT o_orderkey FROM (
      |  SELECT o_orderkey FROM orders
      |  ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey LIMIT 20)
      |ORDER BY o_orderkey""".stripMargin

  /** O4 ★: per-group fractional sample with min 1 (whisper_qc.py:231-239):
    * int(n*pct) clamped to >= 1. The operator ranks only hash-prefix
    * survivors (~4% of rows) instead of window-sorting the full table —
    * see SampleOps.groupFractionalSample for the exactness argument.
    *
    * Sample key: a portable arithmetic mix, (orderkey*1048573 +
    * linenumber*8191) mod 999999937 — deterministic, replayable as plain
    * BIGINT math in any engine (products stay far under 2^63, so no
    * overflow divergence), and ~10x cheaper per row than the md5 it
    * replaced, which was the dominant cost of both o4 scans. Survivor
    * cutoff keeps h <= floor(M * 11/256), the same ~4.3% margin the md5
    * 2-hex-prefix test gave.
    *
    * Weak-list census verdict (r14 JobCensus): 7 driver jobs, two
    * 600k-record lineitem scans of 0.42/0.33 s task time (the count
    * pass + the survivor pass groupFractionalSample is built from)
    * against a 1.18 s isolated wall — FLOOR + two fixed scans; no
    * unpushed filter, no window over the full table. */
  private val o4HashM = 999999937L
  private val o4Cut = o4HashM * 11 / 256 // 42968747
  private def o4Hash: org.apache.spark.sql.Column =
    (col("l_orderkey").cast("long") * 1048573L +
      col("l_linenumber").cast("long") * 8191L) % o4HashM
  private val o4: Q = (s, dir) =>
    graft.operators.SampleOps.groupFractionalSample(
      t(s, dir, "lineitem"), Seq("l_returnflag"), o4Hash,
      Seq(col("l_orderkey"), col("l_linenumber")), pct = 0.01,
      survivor = h => h <= lit(o4Cut))
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
      .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
  private val o4Sql =
    """SELECT l_returnflag, l_orderkey, l_linenumber FROM (
      |  SELECT l_returnflag, l_orderkey, l_linenumber,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY (l_orderkey * 1048573 + l_linenumber * 8191) % 999999937,
      |               l_orderkey, l_linenumber) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
      |  FROM lineitem)
      |WHERE rn <= greatest(CAST(floor(cnt * 0.01) AS BIGINT), 1)
      |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin

  // ------------------------------------------------------------ §2.7 U

  /** U1 ★: union append with missing columns null-filled
    * (process_all.py:816-817). */
  private val u1: Q = (s, dir) => {
    val a = t(s, dir, "customer").select(col("c_custkey").as("key"),
      col("c_name").as("name"), col("c_acctbal").as("acctbal"))
    val b = t(s, dir, "supplier").select((col("s_suppkey") + 900000).as("key"),
      col("s_name").as("name"))
    a.unionByName(b, allowMissingColumns = true).orderBy("key")
  }
  private val u1Sql =
    """SELECT * FROM (
      |  SELECT c_custkey AS key, c_name AS name, c_acctbal AS acctbal FROM customer
      |  UNION ALL BY NAME
      |  SELECT s_suppkey + 900000 AS key, s_name AS name FROM supplier)
      |ORDER BY key""".stripMargin

  /** U2 ★: horizontal concat — same-row column add, no shuffle
    * (crawler/metadata.py:290-291). */
  private val u2: Q = (s, dir) =>
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        year(col("o_orderdate")).as("o_year"),
        upper(col("o_orderpriority")).as("prio_uc"))
      .orderBy("o_orderkey")
  private val u2Sql =
    """SELECT o_orderkey, o_orderpriority,
      |  CAST(date_part('year', o_orderdate) AS INTEGER) AS o_year,
      |  upper(o_orderpriority) AS prio_uc
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** U3 ★: task union — text tasks ∪ exploded audio tasks
    * (crawler/download.py:130-151). */
  private val u3: Q = (s, dir) => {
    val text = t(s, dir, "orders").select(
      concat(lit("t"), col("o_orderkey")).as("task_id"),
      concat(lit("text/"), col("o_orderkey")).as("url"),
      lit("text").as("kind"))
    val audio = t(s, dir, "lineitem").select(
      concat(lit("a"), col("l_orderkey"), lit("_"), col("l_linenumber")).as("task_id"),
      concat(lit("audio/"), col("l_partkey")).as("url"),
      lit("audio").as("kind"))
    text.unionByName(audio).orderBy("task_id")
  }
  private val u3Sql =
    """SELECT * FROM (
      |  SELECT 't' || CAST(o_orderkey AS VARCHAR) AS task_id,
      |         'text/' || CAST(o_orderkey AS VARCHAR) AS url, 'text' AS kind FROM orders
      |  UNION ALL
      |  SELECT 'a' || CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR),
      |         'audio/' || CAST(l_partkey AS VARCHAR), 'audio' FROM lineitem)
      |ORDER BY task_id""".stripMargin

  /** U5: row-level INTERSECT (distinct) — customer market segments that
    * also appear as order priorities' first words would be contrived;
    * instead: nation keys present in BOTH the customer and supplier
    * bases, as full distinct rows. Spark plans intersect as a left-semi
    * over distinct — one shuffle per side on the full row. */
  private val u5: Q = (s, dir) =>
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(
        t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")
  private val u5Sql =
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT s_nationkey AS nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  /** U6: row-level EXCEPT (distinct) — nations with customers but no
    * HIGH-BALANCE supplier (every nation has some supplier, so the
    * unfiltered difference would be trivially empty); the set-op dual
    * of the F10/j6 key anti-joins, with the filter pushed below the
    * set op on the subtracted side. */
  private val u6: Q = (s, dir) =>
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .except(
        t(s, dir, "supplier").filter(col("s_acctbal") > 9000)
          .select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")
  private val u6Sql =
    """SELECT c_nationkey AS nationkey FROM customer
      |EXCEPT
      |SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000
      |ORDER BY nationkey""".stripMargin

  // ------------------------------------------------------------ registry

  val queries: Map[String, Q] = Map(
    "p1_derived_hours" -> p1,
    "p2_null_widen" -> p2,
    "p3_round_derived" -> p3,
    "p4_defix_id" -> p4,
    "p5_project_dropna" -> p5,
    "p6_two_col_project" -> p6,
    "f1_neg_substring" -> f1,
    "f2_conj_like" -> f2,
    "f3_null_drop" -> f3,
    "f4_range_band" -> f4,
    "f5_threshold" -> f5,
    "f6_min_length" -> f6,
    "f7_wer_threshold" -> f7,
    "j1_inner_equi" -> j1,
    "j2_zip_join" -> j2,
    "j3_upsert" -> j3,
    "j4_lookup_left" -> j4,
    "j5_semi" -> j5s,
    "j5_anti" -> j5a,
    "j6_keyset_exclusion" -> j6,
    "j7_lineid_arith" -> j7,
    "j9_salted_skew_join" -> j9,
    "j11_bloom_prefilter_join" -> j11,
    "j10_asof_join" -> j10,
    "w6_session_window" -> w6,
    "a1_group_collect" -> a1,
    "a2_group_ordered_collect" -> a2,
    "a3_group_source_collect" -> a3,
    "a4_sum" -> a4,
    "a5_cond_count" -> a5,
    "a6_max_arraylen" -> a6,
    "a7_min_group" -> a7,
    "a8_corpus_wer" -> a8,
    "a9_dict_encode" -> a9,
    "a10_ordered_concat" -> a10,
    "a12_outlier_count" -> a12,
    "w1_row_number" -> w1,
    "w9_moving_agg" -> w9,
    "w10_interval_merge" -> w10,
    "w11_funnel_depth" -> w11,
    "a15_rollup" -> a15,
    "w2_order_in_group" -> w2,
    "w4_global_line_number" -> w4,
    "o1_global_sort" -> o1,
    "o2_limit" -> o2,
    "o3_sample_n" -> o3,
    "o4_group_sample" -> o4,
    "u1_union_append" -> u1,
    "u2_horizontal_concat" -> u2,
    "u3_task_union" -> u3,
    "u5_intersect" -> u5,
    "u6_except" -> u6)

  val oracle: Map[String, String] = Map(
    "p1_derived_hours" -> p1Sql,
    "p2_null_widen" -> p2Sql,
    "p3_round_derived" -> p3Sql,
    "p4_defix_id" -> p4Sql,
    "p5_project_dropna" -> p5Sql,
    "p6_two_col_project" -> p6Sql,
    "f1_neg_substring" -> f1Sql,
    "f2_conj_like" -> f2Sql,
    "f3_null_drop" -> f3Sql,
    "f4_range_band" -> f4Sql,
    "f5_threshold" -> f5Sql,
    "f6_min_length" -> f6Sql,
    "f7_wer_threshold" -> f7Sql,
    "j1_inner_equi" -> j1Sql,
    "j2_zip_join" -> j2Sql,
    "j3_upsert" -> j3Sql,
    "j4_lookup_left" -> j4Sql,
    "j5_semi" -> j5sSql,
    "j5_anti" -> j5aSql,
    "j6_keyset_exclusion" -> j6Sql,
    "j7_lineid_arith" -> j7Sql,
    "j9_salted_skew_join" -> j9Sql,
    "j11_bloom_prefilter_join" -> j11Sql,
    "j10_asof_join" -> j10Sql,
    "w6_session_window" -> w6Sql,
    "a1_group_collect" -> a1Sql,
    "a2_group_ordered_collect" -> a2Sql,
    "a3_group_source_collect" -> a3Sql,
    "a4_sum" -> a4Sql,
    "a5_cond_count" -> a5Sql,
    "a6_max_arraylen" -> a6Sql,
    "a7_min_group" -> a7Sql,
    "a8_corpus_wer" -> a8Sql,
    "a9_dict_encode" -> a9Sql,
    "a10_ordered_concat" -> a10Sql,
    "a12_outlier_count" -> a12Sql,
    "w1_row_number" -> w1Sql,
    "w9_moving_agg" -> w9Sql,
    "w10_interval_merge" -> w10Sql,
    "w11_funnel_depth" -> w11Sql,
    "a15_rollup" -> a15Sql,
    "w2_order_in_group" -> w2Sql,
    "w4_global_line_number" -> w4Sql,
    "o1_global_sort" -> o1Sql,
    "o2_limit" -> o2Sql,
    "o3_sample_n" -> o3Sql,
    "o4_group_sample" -> o4Sql,
    "u1_union_append" -> u1Sql,
    "u5_intersect" -> u5Sql,
    "u6_except" -> u6Sql,
    "u2_horizontal_concat" -> u2Sql,
    "u3_task_union" -> u3Sql)
}
