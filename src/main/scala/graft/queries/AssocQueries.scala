package graft.queries

import graft.Checkpoints.CheckpointSyntax

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.BfsOps
import graft.streaming.StreamingRateLimit

/** Beyond-reference operators (SURVEY §2.11), association /
  * drift / graph-reach family: PMI collocation mining, exact two-sample
  * Kolmogorov–Smirnov drift, and bounded-hop multi-source BFS. Every
  * oracle replays the operator's exact integer arithmetic (house lnq /
  * fixed-point discipline — see RetrievalQueries.lnqSql).
  */
object AssocQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private def lnFp(x: String): String =
    s"CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST($x AS DOUBLE))) AS BIGINT)"

  // ------------------------------------------------------- t_pmi_pairs

  /** T-PMI: top-20 adjacent-word collocations by pointwise mutual
    * information with a minimum-support floor — the phrase-mining
    * primitive (Mikolov-style word2phrase, quality-signal multiword
    * detection) that complements a19's market-basket lift on the text
    * side: support alone surfaces "of the"; PMI surfaces pairs that
    * co-occur far above independence.
    *
    *   pmi = ln( p(w1 w2) / (p(w1) p(w2)) )
    *       = ln c12 + 2 ln N1 − ln N12 − ln c1 − ln c2
    *
    * and each ln lands on a DISTINCT INTEGER (a count or a total), so
    * quantizing every term separately as lnq(n) = floor(1e6·ln n) makes
    * pmi_fp pure integer addition — the t_unigram_nll exactness
    * argument; no product of counts is ever formed, so nothing can
    * overflow regardless of corpus size. Bigrams ride the same
    * codegen'd kgrams kernel as t_bigram_nll (contains-space filter ≙
    * the oracle's range(1, len) construction).
    *
    * Scale shape: two corpus tokenizer passes fold to vocab-bounded
    * count tables (map-side combined); the support floor prunes the
    * candidate set BEFORE the two unigram joins (AQE broadcasts while
    * the vocab fits); totals ride 1-row broadcasts; the global top-20
    * is orderBy+limit = TakeOrdered (a bounded per-partition heap,
    * never a full sort — the a19 pin). */
  private val pmiMinSupport = 3
  private val pmiK = 20
  private val pmi: Q = (s, dir) => {
    val docs = Tables.fanOut(t(s, dir, "documents"))
    // ONE tokenize pass for BOTH count tables: a two-pass form runs the
    // tokenizer twice — 13.98 s task-time for the bigram pass + 9.84 s
    // for the unigram pass over the same 5,000 docs (JobCensus). Unigrams
    // and bigrams ride one exploded column (a bigram always contains the
    // separator space, a [a-z]{3,} token
    // never can — the kind discriminator is free) and ONE shuffled
    // count + checkpoint replaces two. Both tables stay vocab-bounded
    // MODEL STATE consumed multiple times (c12 by its total and the
    // candidate set; uni by its total and BOTH unigram joins) — the
    // checkpoint stops each consumer replaying tokenize+shuffle (~5
    // passes, the repeated-kernel recompute class; measured
    // 1.66 -> 1.25 s for checkpointing alone).
    val g = docs
      .select(expr("ascii_alpha_tokens(text, 3)").as("__toks"))
      .select(explode(concat(col("__toks"),
        expr("filter(kgrams(__toks, 2), b -> contains(b, ' '))"))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .checkpointed()
    val c12 = g.filter(col("gram").contains(" "))
      .select(col("gram").as("bg"), col("cnt").as("c12"))
    val n12 = c12.agg(sum(col("c12")).as("n12"))
    val uni = g.filter(!col("gram").contains(" "))
      .select(col("gram").as("w"), col("cnt"))
    val n1 = uni.agg(sum(col("cnt")).as("n1"))
    c12.filter(col("c12") >= pmiMinSupport)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("w").as("w1"), col("cnt").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cnt").as("c2")), Seq("w2"))
      .crossJoin(broadcast(n12)).crossJoin(broadcast(n1))
      .select(col("w1"), col("w2"), col("c12").as("support"),
        (expr(lnFp("c12")) + lit(2L) * expr(lnFp("n1")) - expr(lnFp("n12")) -
          expr(lnFp("c1")) - expr(lnFp("c2"))).as("pmi_fp"))
      .orderBy(col("pmi_fp").desc, col("w1"), col("w2"))
      .limit(pmiK)
      .orderBy(col("pmi_fp").desc, col("w1"), col("w2"))
  }
  private val pmiSql =
    s"""WITH tok AS (
       |  SELECT regexp_extract_all(lower(text), '[a-z]{3,}') AS toks
       |  FROM documents),
       |bgr AS (
       |  SELECT array_to_string(toks[j:j+1], ' ') AS bg
       |  FROM (SELECT toks, unnest(range(1, len(toks))) AS j FROM tok)),
       |c12 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM bgr GROUP BY bg),
       |n12 AS (SELECT CAST(SUM(c12) AS BIGINT) AS n12 FROM c12),
       |uni AS (SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |  SELECT unnest(toks) AS t FROM tok) GROUP BY t),
       |n1 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n1 FROM uni),
       |sel AS (
       |  SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
       |    c12 AS support
       |  FROM c12 WHERE c12 >= $pmiMinSupport),
       |sc AS (
       |  SELECT w1, w2, support,
       |    ${lnFp("support")} + 2 * (SELECT ${lnFp("n1")} FROM n1)
       |      - (SELECT ${lnFp("n12")} FROM n12)
       |      - ${lnFp("a.cnt")} - ${lnFp("b.cnt")} AS pmi_fp
       |  FROM sel JOIN uni a ON sel.w1 = a.w JOIN uni b ON sel.w2 = b.w)
       |SELECT w1, w2, support, pmi_fp FROM sc
       |ORDER BY pmi_fp DESC, w1, w2 LIMIT $pmiK""".stripMargin

  // -------------------------------------------------------- t_ks_drift

  /** T-KS: exact two-sample Kolmogorov–Smirnov statistic between the
    * en-slice and rest-of-corpus document-length distributions — the
    * nonparametric drift test that completes the drift trio (t_kl_drift
    * distributional, t_psi_drift binned): KS is binning-free, sensitive
    * to ANY CDF gap, and its D statistic is exact integer math —
    * D·nP·nQ = max over the value spine of |F_P(v)·nQ − F_Q(v)·nP|,
    * cross-multiplied so no rational is ever formed (the PSI
    * discipline); products accumulate in DECIMAL(38,0) ≙ HUGEINT since
    * cum·n grows quadratically past BIGINT near ~3e9 rows/side.
    *
    * Scale shape: one map-side-combined aggregate folds the corpus to
    * the distinct-value spine (bounded by the value DOMAIN — document
    * lengths, not documents); the cumulative window runs over that
    * spine only, never data rows (the a16/t_heaps spine rule); totals
    * ride a 1-row broadcast; the argmax row is TakeOrdered(1) with the
    * (D desc, value) tie-break making the reported location engine-
    * deterministic. */
  private val ks: Q = (s, dir) => {
    val docs = t(s, dir, "documents").filter(col("n_chars").isNotNull)
    val spine = docs.groupBy("n_chars")
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cp"),
        sum(when(col("lang") === "en", 0L).otherwise(1L)).as("cq"))
    val w = Window.orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = docs.agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("np"),
      sum(when(col("lang") === "en", 0L).otherwise(1L)).as("nq"))
    spine
      .withColumn("fp", sum(col("cp")).over(w))
      .withColumn("fq", sum(col("cq")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("n_chars"), col("np"), col("nq"),
        abs(col("fp").cast("decimal(38,0)") * col("nq") -
          col("fq").cast("decimal(38,0)") * col("np")).as("dnum"))
      .orderBy(col("dnum").desc, col("n_chars"))
      .limit(1)
      .select(col("np").as("n_en"), col("nq").as("n_other"),
        col("n_chars").as("at_chars"),
        expr("CAST((dnum * 1000000) div (np * nq) AS BIGINT)").as("ks_d_ppm"))
  }
  private val ksSql =
    """WITH d AS (SELECT lang, n_chars FROM documents WHERE n_chars IS NOT NULL),
      |spine AS (
      |  SELECT n_chars,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cp,
      |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS cq
      |  FROM d GROUP BY n_chars),
      |cum AS (
      |  SELECT n_chars,
      |    SUM(cp) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
      |    SUM(cq) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fq
      |  FROM spine),
      |tot AS (
      |  SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS np,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nq
      |  FROM d)
      |SELECT np AS n_en, nq AS n_other, n_chars AS at_chars,
      |  CAST((dnum * 1000000) // (np * nq) AS BIGINT) AS ks_d_ppm
      |FROM (
      |  SELECT n_chars, np, nq,
      |    abs(CAST(fp AS HUGEINT) * nq - CAST(fq AS HUGEINT) * np) AS dnum
      |  FROM cum, tot
      |  ORDER BY dnum DESC, n_chars LIMIT 1)""".stripMargin

  // -------------------------------------------------------- g4_bfs_hops

  /** G4: bounded-hop multi-source BFS over the g1 bipartite
    * supplier↔part graph — hop distance from a seed set (node ≡ 0
    * mod 97, a scattered ~1% sample across both namespaces) after 3
    * rounds, -1 = unreached. See BfsOps for the per-round shuffle
    * shape; `assumeDistinct` holds by the g1 mirror-of-distinct
    * construction (disjoint odd/even namespaces). */
  private val bfsSeedMod = 97
  private val bfsHops = 3
  private val g4: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(col("l_suppkey"), col("l_partkey"))
    val fwd = li.select((col("l_suppkey") * 2 + 1).as("src"),
      (col("l_partkey") * 2).as("dst")).distinct()
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    // Seeds come from the RAW table, not the edge plan: every endpoint
    // is both src and dst under the mirror, so {2s+1} ∪ {2p} IS the
    // node set — and a seeds subtree hanging off `edges` would
    // re-execute the whole distinct+mirror lineage that BfsOps
    // checkpoints internally (measured: the seed-off-edges form held
    // g4 at 4.0 s after the base cut; this one reads a filtered ~1%
    // slice). Seed duplicates would be harmless (min-combine), the
    // distinct is a tiny-set courtesy.
    val seeds = li.select((col("l_suppkey") * 2 + 1).as("node"))
      .union(li.select((col("l_partkey") * 2).as("node")))
      .filter(col("node") % bfsSeedMod === 0).distinct()
    // dimensionNodes: node universe = supplier ∪ part catalog (the g1
    // argument) — the ≤|V|-row distance table rides broadcast rounds.
    BfsOps.multiSourceBfs(edges, "src", "dst", seeds,
        maxHops = bfsHops, assumeDistinct = true, dimensionNodes = true,
        sourcesSpanNodes = true)
      .orderBy("node")
  }
  private def g4Round(i: Int): String =
    s"""d$i AS (
       |  SELECT node, MIN(h) AS h FROM (
       |    SELECT node, h FROM d${i - 1}
       |    UNION ALL
       |    SELECT e.dst, d${i - 1}.h + 1 FROM e JOIN d${i - 1} ON e.src = d${i - 1}.node)
       |  GROUP BY node)""".stripMargin
  private val g4Sql =
    s"""WITH e AS (
       |  SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst
       |  FROM lineitem
       |  UNION
       |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem),
       |n AS (SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
       |d0 AS (SELECT node, CAST(0 AS BIGINT) AS h FROM n WHERE node % $bfsSeedMod = 0),
       |${(1 to bfsHops).map(g4Round).mkString(",\n")}
       |SELECT n.node, CAST(COALESCE(d$bfsHops.h, -1) AS BIGINT) AS hops
       |FROM n LEFT JOIN d$bfsHops ON n.node = d$bfsHops.node
       |ORDER BY n.node""".stripMargin

  // ------------------------------------------------------ g5_kcore_peel

  /** G5: iterated k-core peeling (3 rounds toward the 3-core) on the
    * g1/g4 bipartite supply graph — the density filter that strips
    * low-engagement fringe before community/influence analysis (a
    * crawl-graph build prunes leaf chains exactly this way). Each round
    * is ONE degree aggregate (map-side combined count on the mirrored
    * edge list) and two keyed semi-joins restricting edges to surviving
    * endpoints; 3 rounds stay one lazy DAG (the PageRankOps/BfsOps
    * measurement). A FIXED round count is a defined REPORT of the
    * peeling front — full-core convergence iterates to fixpoint with
    * periodic lineage truncation, same loop body. Output: nodes
    * surviving round 3 with their residual degree. */
  private val kcoreK = 3
  private val kcoreRounds = 3
  private val g5: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(col("l_suppkey"), col("l_partkey"))
    val fwd = li.select((col("l_suppkey") * 2 + 1).as("src"),
      (col("l_partkey") * 2).as("dst")).distinct()
    // Eager BETWEEN-round checkpoints, UNLIKE PageRank's lazy short
    // loop: each peel round reads edges_{i-1} TWICE (degree pass +
    // semi-join input), so a lazy DAG doubles the base subtree per
    // round — 2^3 re-executions of the distinct+mirror by round 3.
    // Measured at sf0.1: 9.5 s lazy -> 3.0 s checkpointed. The edge
    // list shrinks monotonically, so each materialization is smaller
    // than the last. The LAST round is exempt (same-JVM A/B): its
    // only consumer is the terminal degree
    // aggregate, which reads it ONCE — cutting it was a pure extra
    // materialization barrier (4.25/4.14/4.36 s with the last cut vs
    // 3.36/3.65/3.89 s without, parity checksummed; jobs 17 -> 16).
    // Batching 2 rounds per cut (round 1 lazy) measured NEUTRAL vs
    // this form locally and re-enters round 1's semi-joins ×3 per
    // consumer at scale — between-round cuts stay.
    // Re-probed (same-JVM A/B, parity checksummed): FUSING each round
    // into two COUNT-OVER-WINDOW
    // passes (deg(src), deg(dst) attached per edge row, one filter — 3
    // fewer driver jobs) LOST 0/4 alternating pairs, 4.79-5.57 vs
    // 3.99-4.70 s. The window form ships the FULL mirrored edge list
    // through two unsalted exchanges per round where this form ships
    // map-side-combined per-node counts and lets AQE broadcast the
    // shrinking survivor set — worse locally AND the wrong 100 TB shape
    // (a hub's whole partition lands in one window task). REJECTED.
    var edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .checkpointed()
    for (i <- 1 to kcoreRounds) {
      val keep = edges.groupBy("src").agg(count(lit(1)).as("d"))
        .filter(col("d") >= kcoreK).select(col("src").as("node"))
      // No join hint on the survivor semi-joins, deliberately (the
      // connectedComponents rationale): `keep` is
      // per-node but post-AGGREGATE over checkpointed edges, so its
      // size estimate is sound and Spark's adaptive broadcast flips to
      // keyed joins exactly when real sizes demand it — while peel
      // rounds SHRINK, re-entering the broadcast regime late even at
      // web scale. Hinting shuffle_hash here measured 3.1 -> 4.9 s
      // (two forced 32-task exchanges per round on data the round
      // holds in one partition).
      edges = edges
        .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
      if (i < kcoreRounds) edges = edges.checkpointed()
    }
    edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
      .orderBy("node")
  }
  private def g5Round(i: Int): String =
    s"""k$i AS (SELECT src AS node FROM (
       |  SELECT src, COUNT(*) AS d FROM e${i - 1} GROUP BY src) WHERE d >= $kcoreK),
       |e$i AS (
       |  SELECT e.src, e.dst FROM e${i - 1} e
       |  JOIN k$i a ON e.src = a.node JOIN k$i b ON e.dst = b.node)""".stripMargin
  private val g5Sql =
    s"""WITH e0 AS (
       |  SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst
       |  FROM lineitem
       |  UNION
       |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem),
       |${(1 to kcoreRounds).map(g5Round).mkString(",\n")}
       |SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
       |FROM e$kcoreRounds GROUP BY src ORDER BY node""".stripMargin

  // ------------------------------------------------------ t_burstiness

  /** T-BURST: top-20 bursty terms by variance-to-mean ratio of per-doc
    * term frequency, zeros included (Church–Gale burstiness — content
    * words clump, function words spread; a quality pipeline uses the
    * signal to separate topical from boilerplate vocabulary). With
    * n = Σtf, s2 = Σtf², N docs:
    *   vmr_ppm = (N·s2 − n²)·10⁶ div (N·n)
    * — zero-docs never materialize (the identity absorbs them), the
    * numerator is nonnegative by Cauchy–Schwarz so truncation agrees,
    * and products lift to DECIMAL(38,0) ≙ HUGEINT. One tokenizer pass
    * to per-(doc,term) tf, one vocab-bounded term fold, df floor, then
    * a TakeOrdered top-20. */
  private val burstMinDf = 3
  private val burstK = 20
  private val burst: Q = (s, dir) => {
    import graft.queries.{RetrievalQueries => RQ}
    val docs = t(s, dir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("nn"))
    RQ.tokenTf(Tables.fanOut(docs), "doc_id")
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("n"),
        sum((col("tf") * col("tf")).cast("decimal(38,0)")).as("s2"))
      .filter(col("df") >= burstMinDf)
      .crossJoin(broadcast(nDocs))
      .select(col("term"), col("df"), col("n"),
        expr("CAST(((nn * s2 - CAST(n AS DECIMAL(38,0)) * n) * 1000000) div (nn * CAST(n AS DECIMAL(38,0))) AS BIGINT)")
          .as("vmr_ppm"))
      .orderBy(col("vmr_ppm").desc, col("term"))
      .limit(burstK)
      .orderBy(col("vmr_ppm").desc, col("term"))
  }
  private val burstSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |       FROM tok GROUP BY doc_id, term),
       |st AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS n,
       |    SUM(CAST(tf AS HUGEINT) * tf) AS s2
       |  FROM tf GROUP BY term),
       |nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS nn FROM documents)
       |SELECT term, df, n,
       |  CAST(((nn * s2 - CAST(n AS HUGEINT) * n) * 1000000) //
       |    (nn * CAST(n AS HUGEINT)) AS BIGINT) AS vmr_ppm
       |FROM st, nn WHERE df >= $burstMinDf
       |ORDER BY vmr_ppm DESC, term LIMIT $burstK""".stripMargin

  // --------------------------------------------------- t_tfidf_keywords

  /** T-TFIDF: per-document top-3 keywords by tf·idf for the first 30
    * doc ids — the extractive keyword primitive (faceting, index
    * previews, weak topic labels). idf quantizes as
    * lnq(N) − lnq(df) over the FULL corpus (df computed before the
    * doc-id restriction — a keyword report for a slice still weights
    * by global rarity); score_fp = tf · idf_fp is exact integer math.
    * The per-doc top-3 is a row_number window PARTITIONED by doc_id
    * (parallel across docs, the w1 class — never a global sort). */
  private val tfidfDocs = 30
  private val tfidfK = 3
  private val tfidf: Q = (s, dir) => {
    import graft.queries.{RetrievalQueries => RQ}
    val docs = t(s, dir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("nn"))
    val tf = RQ.tokenTf(Tables.fanOut(docs), "doc_id")
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_fp").desc, col("term"))
    tf.filter(col("doc_id") < tfidfDocs)
      .join(df, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        (col("tf") * (expr(lnFp("nn")) - expr(lnFp("df")))).as("score_fp"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= tfidfK)
      .select(col("doc_id"), col("rank"), col("term"), col("score_fp"))
      .orderBy("doc_id", "rank")
  }
  private val tfidfSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |       FROM tok GROUP BY doc_id, term),
       |dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
       |sc AS (
       |  SELECT doc_id, term, tf * (${lnFp("nn")} - ${lnFp("df")}) AS score_fp
       |  FROM tf JOIN dft USING (term), nn
       |  WHERE doc_id < $tfidfDocs)
       |SELECT doc_id, rank, term, score_fp FROM (
       |  SELECT doc_id, term, score_fp,
       |    CAST(row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score_fp DESC, term) AS INT) AS rank
       |  FROM sc)
       |WHERE rank <= $tfidfK ORDER BY doc_id, rank""".stripMargin

  // ----------------------------------------------------------- a22_hhi

  /** A22: per-language Herfindahl–Hirschman concentration of doc
    * counts across sources — the mix-health scalar (is a language
    * slice one crawl dump or a diversified blend?) read next to
    * o7_domain_cap before fixing quota gates.
    *   hhi_ppm = Σ_s c_s² · 10⁶ div tot²  (10⁶ = single source).
    * Two stacked map-side-combined aggregates, squares lifted to
    * DECIMAL(38,0) ≙ HUGEINT. */
  private val hhi: Q = (s, dir) =>
    t(s, dir, "documents")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("ss"))
      .select(col("lang"), col("n_docs"), col("n_sources"),
        expr("CAST((ss * 1000000) div (CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT)")
          .as("hhi_ppm"))
      .orderBy("lang")
  private val hhiSql =
    """WITH c AS (
      |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents GROUP BY lang, source)
      |SELECT lang, CAST(SUM(c) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_sources,
      |  CAST((SUM(CAST(c AS HUGEINT) * c) * 1000000) //
      |    (CAST(SUM(c) AS HUGEINT) * SUM(c)) AS BIGINT) AS hhi_ppm
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------ w14_debounce

  /** W14: per-user event debounce — drop events closer than one hour to
    * the previously KEPT-OR-NOT event (lag-based: the standard burst
    * filter that precedes cadence analytics; a retry storm collapses to
    * its first row). One shuffle on user_id, lag over the (ts,
    * event_id) total order (w12's tie rule), exact epoch-µs compare.
    * Summary output (total vs kept) so the gate's effect is auditable
    * before anyone applies it. */
  private val debounceGapUs = 3600000000L // 1 hour
  private val w14: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("tu"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tu"))
      .withColumn("prev", lag(col("tu"), 1).over(w))
      .withColumn("keep",
        col("prev").isNull || col("tu") - col("prev") >= debounceGapUs)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("user_id")
  }
  private val w14Sql =
    s"""WITH g AS (
       |  SELECT user_id,
       |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS gap
       |  FROM events)
       |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_total,
       |  CAST(SUM(CASE WHEN gap IS NULL OR gap >= $debounceGapUs
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  // ----------------------------------------------------- w17_rate_limit

  /** W17: per-user token-bucket admission — the batch replay of
    * [[graft.streaming.StreamingRateLimit]] (SAME `advance` fold, so
    * batch/stream parity holds by construction, not by test alone).
    * Cap 2 tokens, 1 token/hour refill at integer µtoken resolution;
    * rejected events still advance the refill clock. Summary output
    * (total vs admitted per user) so the gate's effect is auditable
    * before anyone enforces it at ingest.
    *
    * The clamped two-sided recurrence (cap above, spend-on-admit below)
    * has NO window-expressible closed form — CUSUM's reflection trick
    * needs a one-sided clamp — so the batch form is a per-user typed
    * fold (`groupByKey.mapGroups`): one shuffle on user_id, state two
    * longs, per-user event counts bounded (the sessionization-fold
    * class; max 99 on the fixture, and a user's event history is
    * humanly bounded at any corpus scale). The oracle replays the
    * identical recurrence as a rank-stepped recursive CTE — truncating
    * integer division IS the defined semantics, shared by both. */
  private val w17: Q = (s, dir) => {
    import s.implicits._
    Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tu"), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (u, it) =>
        val evs = it.map(t => StreamingRateLimit.Ev(t._1, t._2, t._3)).toSeq
        val (_, res) = StreamingRateLimit.advance(None, evs)
        (u, res.size.toLong, res.count(_._2).toLong)
      }
      .toDF("user_id", "n_total", "n_admitted")
      .orderBy("user_id")
  }
  private val w17Sql =
    s"""WITH RECURSIVE ev AS (
       |  SELECT user_id, epoch_us(ts) AS tu, event_id,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events),
       |step AS (
       |  SELECT user_id, rn, tu,
       |    CAST(${StreamingRateLimit.CapUtok - StreamingRateLimit.CostUtok}
       |      AS BIGINT) AS tok,
       |    CAST(1 AS BIGINT) AS adm
       |  FROM ev WHERE rn = 1
       |  UNION ALL
       |  SELECT e.user_id, e.rn, e.tu,
       |    CASE WHEN least(${StreamingRateLimit.CapUtok},
       |           s.tok + (e.tu - s.tu) // ${StreamingRateLimit.RefillDiv})
       |           >= ${StreamingRateLimit.CostUtok}
       |      THEN least(${StreamingRateLimit.CapUtok},
       |             s.tok + (e.tu - s.tu) // ${StreamingRateLimit.RefillDiv})
       |           - ${StreamingRateLimit.CostUtok}
       |      ELSE least(${StreamingRateLimit.CapUtok},
       |             s.tok + (e.tu - s.tu) // ${StreamingRateLimit.RefillDiv}) END,
       |    CASE WHEN least(${StreamingRateLimit.CapUtok},
       |           s.tok + (e.tu - s.tu) // ${StreamingRateLimit.RefillDiv})
       |           >= ${StreamingRateLimit.CostUtok} THEN 1 ELSE 0 END
       |  FROM step s JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1)
       |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_total,
       |  CAST(SUM(adm) AS BIGINT) AS n_admitted
       |FROM step GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------- t_ngram_novelty

  /** T-NOVEL: per-document novelty — the fraction of a doc's DISTINCT
    * word-3-gram shingles first seen in THIS doc under the doc_id
    * order (heaps-curve resolution at document grain; a crawl pipeline
    * reads the novelty drop-off to decide when a source is mined out).
    * One shingle pass (the dedup family's distinct_kgrams kernel — the
    * short-doc single-gram convention is shared with its oracles), a
    * vocab-keyed MIN fold, one join back on the shingle key; novelty
    * is an exact nonneg integer ratio. */
  private val novel: Q = (s, dir) => {
    val sh = Tables.fanOut(t(s, dir, "documents"))
      .select(col("doc_id"),
        explode(expr("distinct_kgrams(ascii_alpha_tokens(text, 3), 3)")).as("g"))
    val fs = sh.groupBy("g").agg(min(col("doc_id")).as("fd"))
    sh.join(fs, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("n_new"))
      .select(col("doc_id"), col("n_shingles"), col("n_new"),
        expr("(n_new * 1000000) div n_shingles").as("novelty_ppm"))
      .orderBy("doc_id")
  }
  private val novelSql =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(toks) - 2, 1) + 1),
      |    j -> array_to_string(toks[j:j+2], ' ')))) AS g
      |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]{3,}') AS toks
      |        FROM documents)),
      |fs AS (SELECT g, MIN(doc_id) AS fd FROM sh GROUP BY g)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(SUM(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |  CAST((SUM(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
      |    AS BIGINT) AS novelty_ppm
      |FROM sh JOIN fs USING (g) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------- g7_link_predict

  /** G7: top-20 supplier pairs by Adamic–Adar over shared parts — the
    * link-prediction primitive (two suppliers stocking the same niche
    * parts are "close" even though the bipartite graph never joins
    * them). Weight per common part = 10¹² div lnq(deg) — rare parts
    * count more; the quantized-log weight is exact integer math and
    * deg ≥ 2 keeps the divisor positive. Pair generation is the
    * inverted-index join on the part key with a degree cap (the
    * SparseSimOps df-cap argument: a ubiquitous part contributes
    * quadratic pairs and near-zero weight — Adamic–Adar itself says
    * to ignore it). TakeOrdered top-20. */
  private val aaDegCap = 64
  private val aa: Q = (s, dir) => {
    // Measured three-way bake-off (sf0.1, 3 runs each): letting AQE
    // broadcast the 1.1M-row pair list for the self-join is SLOW AND
    // UNSTABLE (4-11 s — driver-side hash-relation build + memory
    // pressure); merge-hinting the pair join is stable 3.5 s; cutting
    // the distinct once (three consumers) plus broadcasting only the
    // part-vocab-sized weight table and merging the pair join won it.
    // Broadcast is for DIM-sized sides; a same-sized self-join wants
    // the keyed merge (isolation median 3.1 s: merge join + one
    // broadcast). Bake-off (min of 4 GC'd reps):
    // this merge form 3.88 s; shuffle_hash pair join 4.14 s (a wash —
    // no sort, but the hash build over 590k rows costs the same);
    // collect_set-per-part + in-row combination explode 6.1-13.9 s
    // LOSES both ways tried (higher-order transform/flatten lambdas
    // are interpreted; the codegen'd posexplode+slice variant drags
    // the 30-long array through 9M slice allocations). The cost here
    // is the genuine ~9M-pair volume, not the join strategy.
    //
    // CONSTANT-FACTOR FLOOR: two more
    // forms measured (4 GC'd reps each) — the native
    // packed_pairs kernel over per-part supplier lists (the form that
    // wins a19: no interpreted lambdas, one primitive array per part,
    // codegen'd explode, single-long agg key) lands 2.4-3.6 s, and the
    // hash self-join with a PACKED aggregate key lands 2.6-3.4 s; the
    // standing merge/hash joins read 2.1-3.3 s in the same session.
    // Five strategies inside one noise band ⇒ the time is the ~9M-pair
    // aggregate volume itself, which every correct Adamic-Adar on this
    // graph must touch; DuckDB's 0.23 s is the same volume through an
    // in-L2 single-process hash table. Declared a floor: further work
    // goes to queries with an actual plan defect. (a19's basket-form
    // audit reached the same verdict — packed_pairs wins its isolated
    // pair stage but the basket collect's object-heavy aggregate costs
    // more than the join it removes; see the a19 comment.)
    val e = t(s, dir, "lineitem")
      .select(col("l_suppkey").as("s"), col("l_partkey").as("p")).distinct()
      .checkpointed()
    val w = e.groupBy("p").agg(count(lit(1)).as("d"))
      .filter(col("d") >= 2 && col("d") <= aaDegCap)
      .select(col("p"),
        expr(s"1000000000000L div ${lnFp("d")}").as("w_fp"))
    e.join(broadcast(w), Seq("p"))
      .join(e.select(col("p"), col("s").as("s2")).hint("merge"), Seq("p"))
      .filter(col("s") < col("s2"))
      .groupBy(col("s").as("s1"), col("s2"))
      .agg(count(lit(1)).as("n_common"), sum(col("w_fp")).as("aa_fp"))
      .orderBy(col("aa_fp").desc, col("s1"), col("s2"))
      .limit(20)
      .orderBy(col("aa_fp").desc, col("s1"), col("s2"))
  }
  private val aaSql =
    s"""WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
       |w AS (
       |  SELECT p, 1000000000000 // ${lnFp("d")} AS w_fp FROM (
       |    SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY p)
       |  WHERE d >= 2 AND d <= $aaDegCap)
       |SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS n_common,
       |  CAST(SUM(w_fp) AS BIGINT) AS aa_fp
       |FROM e a JOIN w USING (p) JOIN e b ON a.p = b.p AND a.s < b.s
       |GROUP BY a.s, b.s
       |ORDER BY aa_fp DESC, s1, s2 LIMIT 20""".stripMargin

  // ------------------------------------------------------------ maps

  val queries: Map[String, Q] = Map(
    "t_pmi_pairs" -> pmi,
    "t_ks_drift" -> ks,
    "g4_bfs_hops" -> g4,
    "g5_kcore_peel" -> g5,
    "t_burstiness" -> burst,
    "t_tfidf_keywords" -> tfidf,
    "a22_hhi" -> hhi,
    "w14_debounce" -> w14,
    "w17_rate_limit" -> w17,
    "t_ngram_novelty" -> novel,
    "g7_link_predict" -> aa)

  val oracle: Map[String, String] = Map(
    "t_pmi_pairs" -> pmiSql,
    "t_ks_drift" -> ksSql,
    "g4_bfs_hops" -> g4Sql,
    "g5_kcore_peel" -> g5Sql,
    "t_burstiness" -> burstSql,
    "t_tfidf_keywords" -> tfidfSql,
    "a22_hhi" -> hhiSql,
    "w14_debounce" -> w14Sql,
    "w17_rate_limit" -> w17Sql,
    "t_ngram_novelty" -> novelSql,
    "g7_link_predict" -> aaSql)
}
