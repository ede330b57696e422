package graft.queries

import graft.Checkpoints.CheckpointSyntax

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Retrieval / LM-quality scoring over the documents corpus: BM25 top-k
  * (hard-negative mining, quality retrieval) and unigram-LM negative
  * log-likelihood (the CCNet-family perplexity quality filter).
  *
  * Cross-engine exactness discipline: every floating-point scoring term
  * is quantized to fixed-point BIGINT (`floor(1e6 * x)`) BEFORE any
  * aggregation, so sums are order-independent integer math and the
  * DuckDB oracle hash-compares bit-exactly (same convention as
  * a10_ordered_concat / the fixed-point cents sums). The arithmetic
  * inside the quantizer is written ONCE as SQL text shared verbatim by
  * both engines (same parse tree, same IEEE evaluation order), with
  * every literal routed through CAST(x AS DOUBLE) because a bare `0.5`
  * parses as DECIMAL in both Spark and DuckDB and decimal arithmetic
  * diverges between them.
  */
object RetrievalQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------- t_bm25

  /** T-BM25: top-5 documents per query under BM25 (k1=1.2, b=0.75) with
    * the log-free RSJ idf `(N - df + 0.5) / (df + 0.5)` — a documented
    * variant choice: it is the textbook idf without the final ln(), so
    * both engines evaluate only +,-,*,/ on doubles (each correctly
    * rounded and order-pinned by the shared expression text), where a
    * transcendental could differ in the last ulp across libm
    * implementations and flip a floor() at a quantization boundary.
    *
    * Scale shape (100 TB): the query-term set is SMALL BY DEFINITION —
    * it prunes the exploded posting rows at the scan (broadcast semi
    * join) BEFORE any shuffle, so the corpus-wide work is one explode
    * (row-local) + one broadcast filter; the df table and the per-term
    * scored rows then aggregate per (q_id, doc_id) with map-side
    * combine, and the bounded-buffer top-k aggregator (TopKOps) keeps
    * k rows per query, never a per-group sort. Corpus scalars (N,
    * total token mass) ride a 1-row broadcast, not a collect.
    *
    * Ref behavior anchor: the reference ranks/filters corpus rows by
    * text-match quality before alignment (tts_data_pipeline
    * pre_processing filters + WER gates); BM25 is that curation step
    * at retrieval scale. */
  private val bm25K = 5
  private val bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "spark", 1 -> "join",
    2 -> "hash", 2 -> "merge",
    3 -> "window", 3 -> "sort",
    4 -> "customer", 4 -> "query", 4 -> "batch",
    5 -> "dup", 5 -> "scan")
  /** Per-(query-term, doc) fixed-point BM25 contribution — shared
    * verbatim with the DuckDB oracle (columns: tf, df, dl BIGINT;
    * n_docs BIGINT; avgdl DOUBLE). `private[queries]`: t_rrf_fusion's
    * ranker A must stay THE audited BM25 — one definition, not a copy. */
  private[queries] val bm25ScoreSql =
    "CAST(floor(CAST(1000000 AS DOUBLE) " +
      "* ((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) " +
      "* (tf * CAST(2.2 AS DOUBLE) " +
      "/ (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) " +
      "+ CAST(0.75 AS DOUBLE) * dl / avgdl)))) AS BIGINT)"
  /** One tokenizer pass for the fixed-query retrieval family
    * (t_bm25_topk / t_ndcg_eval / t_rrf_fusion's ranker A): tf_map over
    * the fanned corpus, dl folded from the map (= token count), and the
    * map pruned ROW-LOCALLY to the literal query vocabulary (a handful
    * of terms — map_filter, no broadcast, no shuffle), then eagerly
    * materialized. nllScores measured that checkpointing the FULL tf
    * table loses to recompute (300k exploded rows cost more than a
    * tokenize pass) — but the pruned table is ≤|qterms| map entries per
    * doc, so materializing it is ~free while the tokenize kernel was
    * re-running 3x in bm25 (stats, dft, scored) and 5x in ndcg (those
    * plus rel feeding both DCG branches). Measured r10 (TimeSome, min
    * of 3 on the same slow-VM session): bm25 2.69→2.16 s, ndcg
    * 3.33→2.96 s, rrf 2.06→2.17 s (a wash at fixture size — but it
    * retires ranker A's doc_id-keyed dl join, the right trade at
    * corpus scale); the residue is the family's sequential small-job
    * floor, not the tokenizer. Rows with an empty pruned map are
    * KEPT — the corpus scalars (n_docs, tot_dl) count every
    * document. */
  private[queries] def qtermPostings(docs: DataFrame, terms: Seq[String]): DataFrame =
    docs.select(col("doc_id"),
        expr("tf_map(ascii_alpha_tokens(text, 3))").as("tfm"))
      .select(col("doc_id"),
        expr("aggregate(map_values(tfm), 0L, (a, x) -> a + CAST(x AS LONG))")
          .as("dl"),
        map_filter(col("tfm"), (k, _) => k.isin(terms: _*)).as("tfq"))
      .checkpointed()

  private val bm25: Q = (s, dir) => {
    // Tokenizer kernels dominate the map stage: fan the narrow fixture
    // scan out (Tables.fanOut scaladoc) or it runs on one core; the
    // qtermPostings checkpoint runs the kernel ONCE for the whole query.
    val docs = Tables.fanOut(t(s, dir, "documents"))
    import s.implicits._
    val qdf = bm25Queries.toDF("q_id", "term")
    val pd = qtermPostings(docs, bm25Queries.map(_._2).distinct)
    // one row per (doc, matched query term) with its tf + the doc length
    val posted = pd.select(col("doc_id"), col("dl"),
        explode(col("tfq")).as(Seq("term", "tf")))
      .withColumn("tf", col("tf").cast("long"))
    // corpus scalars ride the checkpoint: dl is the full token count
    val stats = pd.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("tot_dl"))
    // document frequency over the pruned postings (tf_map emits each
    // term once per doc, so count(*) IS the doc frequency)
    val dft = posted.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = posted
      .join(broadcast(dft), Seq("term"))
      .join(broadcast(qdf), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", expr("CAST(tot_dl AS DOUBLE) / n_docs"))
      .select(col("q_id"), col("doc_id"), expr(bm25ScoreSql).as("s_fp"))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("s_fp")).as("score_fp"))
    graft.operators.TopKOps.topKByValue(
        scored, Seq("q_id"), col("score_fp"), col("doc_id"), bm25K,
        orderName = "score_fp", tieName = "doc_id")
      .orderBy("q_id", "rank")
  }
  private val bm25QueryValues = bm25Queries
    .map { case (q, term) => s"($q, '$term')" }.mkString(", ")
  private val bm25Sql =
    s"""WITH q(q_id, term) AS (VALUES $bm25QueryValues),
       |tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
       |  FROM documents),
       |dlt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
       |tf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
       |  WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term),
       |st AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    (SELECT CAST(COALESCE(SUM(dl), 0) AS BIGINT) FROM dlt) AS tot_dl
       |  FROM documents),
       |dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |sc AS (
       |  SELECT q.q_id, tf.doc_id, $bm25ScoreSql AS s_fp
       |  FROM tf
       |  JOIN dft USING (term) JOIN q USING (term) JOIN dlt USING (doc_id),
       |    (SELECT n_docs, CAST(tot_dl AS DOUBLE) / n_docs AS avgdl FROM st)),
       |agg AS (
       |  SELECT q_id, doc_id, CAST(SUM(s_fp) AS BIGINT) AS score_fp
       |  FROM sc GROUP BY q_id, doc_id)
       |SELECT q_id, CAST(rn AS INT) AS rank, score_fp, doc_id FROM (
       |  SELECT q_id, doc_id, score_fp,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY score_fp DESC, doc_id) AS rn
       |  FROM agg)
       |WHERE rn <= $bm25K ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------- t_ndcg_eval

  /** T-NDCG: NDCG@5 of the BM25 ranking against corpus-wide graded
    * relevance — the ranking-quality audit for the retrieval family
    * (does the curation ranker actually surface the most relevant
    * docs?). Relevance is label-free: rel(q, doc) = number of DISTINCT
    * q-terms the doc contains — the standard term-coverage
    * pseudo-label. The ideal ranking is CORPUS-WIDE top-5 by
    * (rel DESC, doc_id), not a re-sort of the retrieved set, so the
    * metric is recall-aware: a relevant doc BM25 missed lowers it.
    *
    * Exactness: the only transcendental is ln(pos+1) for pos 1..5 —
    * distinct small integers, quantized lnq = floor(1e6·ln) (the
    * unigram-NLL discipline); the discount w(pos) = 10¹² div lnq(pos+1)
    * and both DCG sums are pure BIGINT. DCG ≤ IDCG by the rearrangement
    * argument (IDCG maximizes over every 5-subset and order), so
    * ndcg_ppm ∈ [0, 10⁶] — pinned in RetrievalSpec.
    *
    * Scale shape: the rel table is the bm25 posting prune (broadcast
    * semi join on the tiny term set) + one map-side-combined count;
    * both rankings are bounded-buffer top-k (TopKOps) — never a global
    * or per-group sort; the final fold is 5 rows per query.
    *
    * One-aggregate fold (r12, profiled on ndcg ITSELF — the prior
    * "family small-job floor" claim was inherited, VERDICT r11 item 1):
    * rel (count of matched terms) and score_fp (sum of per-term BM25)
    * are the SAME (q_id, doc_id) grain over the same posted rows, so
    * ONE groupBy emits both and is checkpointed; the ranked⋈rel join
    * then reads the tiny checkpointed table instead of re-running the
    * explode+groupBy subtree, and the ideal branch reads it too. Job
    * census (sf0.1, same JVM): the standing form launched
    * 19 jobs, THREE of them 0.7-0.8 s — the rel subtree recomputed per
    * consumer; folded = 18 jobs, none over 0.5 s. A/B alternating
    * GC-separated reps: standing min 2.62 / med 3.07 s vs folded min
    * 2.05 / med 2.30 s (~25% cut), results bit-identical. dft also
    * drops its distinct: dt is already unique per (doc, term). The
    * residue IS now a measured floor: 18 sequential small jobs ×
    * local[32]'s per-job floor + the tokenize checkpoint. */
  private val ndcgWSql =
    "CAST(1000000000000 div CAST(floor(CAST(1000000 AS DOUBLE) " +
      "* ln(CAST(rank + 1 AS DOUBLE))) AS BIGINT) AS BIGINT)"
  private val ndcg: Q = (s, dir) => {
    val docs = Tables.fanOut(t(s, dir, "documents"))
    import s.implicits._
    val qdf = bm25Queries.toDF("q_id", "term")
    // ONE tokenizer pass feeds BOTH the BM25 ranking and the relevance
    // labels (the round-7 tf-sharing finding: the tokenize kernel is
    // the dominant per-row cost in this family — rebuilding postings
    // for rel would double it). tf_map emits each term once per doc,
    // so the posted rows per (q, doc) COUNT the distinct matched
    // terms = rel.
    val pd = qtermPostings(docs, bm25Queries.map(_._2).distinct)
    val dt = pd.select(col("doc_id"), col("dl"),
        explode(col("tfq")).as(Seq("term", "tf")))
      .withColumn("tf", col("tf").cast("long"))
    val stats = pd.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("tot_dl"))
    // dt is unique per (doc, term) — count(*) IS the doc frequency
    val dft = dt.groupBy("term").agg(count(lit(1)).as("df"))
    val perDoc = dt.join(broadcast(qdf), Seq("term"))
      .join(broadcast(dft), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", expr("CAST(tot_dl AS DOUBLE) / n_docs"))
      .select(col("q_id"), col("doc_id"), expr(bm25ScoreSql).as("s_fp"))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("s_fp")).as("score_fp"), count(lit(1)).as("rel"))
      .checkpointed()
    val ranked = graft.operators.TopKOps.topKByValue(
      perDoc, Seq("q_id"), col("score_fp"), col("doc_id"), bm25K,
      orderName = "score_fp", tieName = "doc_id")
    // every ranked doc came from perDoc, so rel is always matched —
    // the old left-join + coalesce(0) was vacuous by construction
    val dcg = perDoc
      .join(broadcast(ranked.select("q_id", "doc_id", "rank")),
        Seq("q_id", "doc_id"))
      .select(col("q_id"), (col("rel") * expr(ndcgWSql)).as("g"))
      .groupBy("q_id").agg(sum(col("g")).as("dcg_fp"))
    val ideal = graft.operators.TopKOps.topKByValue(
        perDoc, Seq("q_id"), col("rel"), col("doc_id"), bm25K,
        orderName = "rel", tieName = "doc_id")
      .select(col("q_id"), (col("rel") * expr(ndcgWSql)).as("g"))
      .groupBy("q_id").agg(sum(col("g")).as("idcg_fp"))
    dcg.join(ideal, Seq("q_id"))
      .select(col("q_id"), col("dcg_fp"), col("idcg_fp"),
        expr("CAST(CASE WHEN idcg_fp > 0 THEN (dcg_fp * 1000000) div idcg_fp END AS BIGINT)")
          .as("ndcg_ppm"))
      .orderBy("q_id")
  }
  private val ndcgSql =
    s"""WITH q(q_id, term) AS (VALUES $bm25QueryValues),
       |tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
       |  FROM documents),
       |dlt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
       |tf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
       |  WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term),
       |st AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    (SELECT CAST(COALESCE(SUM(dl), 0) AS BIGINT) FROM dlt) AS tot_dl
       |  FROM documents),
       |dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |sc AS (
       |  SELECT q.q_id, tf.doc_id, $bm25ScoreSql AS s_fp
       |  FROM tf
       |  JOIN dft USING (term) JOIN q USING (term) JOIN dlt USING (doc_id),
       |    (SELECT n_docs, CAST(tot_dl AS DOUBLE) / n_docs AS avgdl FROM st)),
       |agg AS (
       |  SELECT q_id, doc_id, CAST(SUM(s_fp) AS BIGINT) AS score_fp
       |  FROM sc GROUP BY q_id, doc_id),
       |topk AS (
       |  SELECT q_id, doc_id, rank FROM (
       |    SELECT q_id, doc_id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY score_fp DESC, doc_id) AS rank
       |    FROM agg)
       |  WHERE rank <= $bm25K),
       |rel AS (
       |  SELECT q.q_id, tf.doc_id, CAST(COUNT(*) AS BIGINT) AS rel
       |  FROM tf JOIN q USING (term) GROUP BY q.q_id, tf.doc_id),
       |dcg AS (
       |  SELECT topk.q_id,
       |    CAST(SUM(COALESCE(rel.rel, 0) * (1000000000000 //
       |      CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(rank + 1 AS DOUBLE))) AS BIGINT)))
       |      AS BIGINT) AS dcg_fp
       |  FROM topk LEFT JOIN rel
       |    ON rel.q_id = topk.q_id AND rel.doc_id = topk.doc_id
       |  GROUP BY topk.q_id),
       |irk AS (
       |  SELECT q_id, rel,
       |    row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, doc_id) AS rank
       |  FROM rel),
       |idcg AS (
       |  SELECT q_id,
       |    CAST(SUM(rel * (1000000000000 //
       |      CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(rank + 1 AS DOUBLE))) AS BIGINT)))
       |      AS BIGINT) AS idcg_fp
       |  FROM irk WHERE rank <= $bm25K GROUP BY q_id)
       |SELECT dcg.q_id, dcg_fp, idcg_fp,
       |  CAST(CASE WHEN idcg_fp > 0 THEN (dcg_fp * 1000000) // idcg_fp END AS BIGINT)
       |    AS ndcg_ppm
       |FROM dcg JOIN idcg USING (q_id) ORDER BY q_id""".stripMargin

  // ------------------------------------------------------ t_unigram_nll

  /** T-NLL: per-document unigram-LM negative log-likelihood — the CCNet
    * quality signal (docs scored against an LM trained on the corpus
    * itself; gibberish and rare-token spam score high, fluent text low).
    *
    * Exactness: ln() IS transcendental, so it is applied only to
    * DISTINCT INTEGER inputs (a term's corpus count, the total token
    * mass) and immediately quantized — `lnq(n) = floor(1e6 * ln(n))` —
    * after which the document score
    * `nll_fp = dl * lnq(total) - Σ_t tf_t * lnq(cnt_t)` is pure
    * order-independent integer math. A cross-libm last-ulp disagreement
    * would have to land exactly on a floor boundary of one of the few
    * hundred distinct count values to diverge (~1e-9-probability class,
    * vs certain divergence for float sums of per-token logs).
    *
    * Scale shape (100 TB): one shuffle builds the unigram count table
    * (vocab-sized, Zipf-bounded); scoring joins the exploded (doc, term,
    * tf) rows against it ON TERM — written as a plain join, which AQE
    * broadcasts while the vocab fits and shuffle-joins beyond that (the
    * honest shape when a web-scale vocab outgrows a broadcast) — then
    * re-aggregates per doc with map-side combine. The total-mass scalar
    * rides a 1-row broadcast. nll_per_tok_fp divides two NONNEGATIVE
    * ints so truncating (Spark div) and floor (DuckDB //) division
    * agree. */
  private[queries] val lnqSql =
    "CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(cnt AS DOUBLE))) AS BIGINT)"
  private[queries] val lnqTotSql =
    "CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(tot AS DOUBLE))) AS BIGINT)"

  /** Exploded (carryCols..., term, tf BIGINT) rows — the one tokenizer
    * every retrieval/curation scorer builds on. */
  private[queries] def tokenTf(df: DataFrame, carryCols: String*): DataFrame =
    df.select(carryCols.map(col) :+
        explode(expr("tf_map(ascii_alpha_tokens(text, 3))")).as(Seq("term", "tf")): _*)
      .withColumn("tf", col("tf").cast("long"))

  /** The unigram-NLL scorer as a reusable builder: (doc_id, dl, nll_fp,
    * nll_per_tok_fp) per document, unordered. Both the registered
    * t_unigram_nll query and t_rrf_fusion's quality ranker read THIS —
    * the 'same ranker' claim is structural, not a copy. */
  private[queries] def nllScores(docs: DataFrame): DataFrame = {
    // Measured-first note (sf0.1): recomputing the tokenized rows for the
    // count-table side (0.62 s median of 7) beats localCheckpointing them
    // once and reading twice (0.73 s) — materializing ~300k exploded
    // token rows costs more than a second tokenizer pass over 5k docs,
    // the same recompute-beats-materialize result dedup_span_scrub
    // measured for its window table.
    val tf = tokenTf(Tables.fanOut(docs), "doc_id")
    val cnt = tf.groupBy("term")
      .agg(sum(col("tf")).as("cnt"))
    val tot = cnt.agg(sum(col("cnt")).as("tot"))
    tf.join(cnt, Seq("term"))
      .select(col("doc_id"), col("tf"), expr(lnqSql).as("lnq"))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("lnq")).as("sum_fp"),
        sum(col("tf")).as("dl"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("dl"),
        (col("dl") * expr(lnqTotSql) - col("sum_fp")).as("nll_fp"))
      .withColumn("nll_per_tok_fp", expr("nll_fp div dl"))
  }

  private val unigramNll: Q = (s, dir) =>
    nllScores(t(s, dir, "documents")).orderBy("doc_id")
  private val unigramNllSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
       |  GROUP BY doc_id, term),
       |cnt AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY term),
       |tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM cnt),
       |doc AS (
       |  SELECT doc_id,
       |    CAST(SUM(tf * $lnqSql) AS BIGINT) AS sum_fp,
       |    CAST(SUM(tf) AS BIGINT) AS dl
       |  FROM tf JOIN cnt USING (term) GROUP BY doc_id)
       |SELECT doc_id, dl, nll_fp, nll_fp // dl AS nll_per_tok_fp FROM (
       |  SELECT doc_id, dl, dl * (SELECT $lnqTotSql FROM tt) - sum_fp AS nll_fp
       |  FROM doc)
       |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- emb_rp_project

  /** EMB-RP: signed random projection of the 64-dim embeddings to 16
    * dims (JL-style reduction feeding cheaper downstream distance work)
    * via the rp_project native kernel. The ±1 matrix is the md5-parity
    * hyperplane family, so sign(proj[i]) IS bit i of the LSH bucket
    * (pinned in RetrievalSpec) — bucketing and reduction share one
    * geometry. Row-local and shuffle-free; each coordinate is the same
    * left-assoc no-init double fold the oracle's list_reduce performs,
    * so the projected doubles agree bit-exactly; the registered output
    * joins them as floor(x*1e6) micro-units (the a10 fixed-point-string
    * pattern) because the driver's pandas comparator cannot hash raw
    * array cells. The array-returning rp_project kernel itself
    * (functions/VectorExprs.scala) stays as-is for internal reuse. */
  private val rp: Q = (s, dir) =>
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        call_function("rp_project", col("embedding"), lit(16), lit(64)).as("proj"))
      .select(col("vec_id"), concat_ws(",", transform(col("proj"),
        x => floor(x * lit(1e6)).cast("bigint").cast("string"))).as("proj_fp"))
      .orderBy("vec_id")
  private val rpSql =
    """SELECT vec_id, array_to_string(list_transform(
      |  list_transform(range(16), i -> list_reduce(
      |    list_transform(range(1, 65), j -> CAST(embedding[j] AS DOUBLE) *
      |      ((ascii(substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j - 1 AS VARCHAR)), 1, 1)) % 2) * 2 - 1)),
      |    (x, y) -> x + y)),
      |  x -> CAST(floor(x * 1000000.0) AS BIGINT)), ',') AS proj_fp
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------ t_bigram_nll

  /** T-BIGRAM: per-document NLL under a corpus BIGRAM LM with add-1
    * smoothing — the next modeling step past t_unigram_nll (word-order
    * violations, shuffled/templated text, and collocation-free spam
    * score high where a unigram model is blind; CCNet-class pipelines
    * use exactly this escalation before paying for a neural scorer).
    *
    *   P(w2|w1) = (c2(w1 w2) + 1) / (c1(w1) + V)
    *   nll_fp   = Σ_bigrams tf · (lnq(c1 + V) − lnq(c2 + 1))
    *
    * lnq = floor(1e6·ln) over DISTINCT INTEGERS only (ln(a/b) split as
    * lnq(a) − lnq(b), the Moore–Lewis trick), so the score is exact
    * integer math after a few hundred quantized logs. Bigrams come from
    * the SAME codegen'd kgrams kernel the minhash family shingles with
    * (k = 2, adjacency-ordered, non-distinct); degenerate sub-2-token
    * grams are excluded by the contains-space filter on the Spark side
    * and by range(1, len) construction in the oracle — a 2-token gram
    * contains exactly one space, so the two constructions agree.
    *
    * Scale shape: one shuffle to per-doc bigram tf; the model tables
    * (c2 by bigram, c1 folded FROM c2 — never a second corpus pass; V
    * as a 1-row broadcast) are vocab-bounded; scoring joins tf → c2 →
    * c1 on model keys (AQE broadcasts while they fit, the unigram-NLL
    * argument) and re-aggregates per doc map-side. */
  private val bigramNll: Q = (s, dir) => {
    val docs = Tables.fanOut(t(s, dir, "documents"))
    // ONE tokenize pass (r12, JobCensus): the former form ran the
    // tokenizer twice — 10.25 s task-time for the bigram pass and a
    // SECOND 7.94 s pass just to count the distinct unigram vocabulary
    // for the +V smoothing term. Unigram rows now ride the bigram
    // explode with a NULL doc_id, so the one (doc_id, gram) groupBy
    // collapses them to GLOBAL vocab rows (the checkpoint grows by
    // |vocab| only, not |tokens|) and V is a plain count of the
    // null-keyed rows — no second tokenize, no countDistinct shuffle.
    // The per-doc gram table stays a SHUFFLED aggregate consumed three
    // ways (c2 for the scoring join, c2 again under c1, the scoring
    // join itself) — unlike nllScores' row-local tf, each recompute
    // replays tokenize + kgrams + the exchange, so materializing once
    // wins where the unigram family measured recompute-cheaper.
    val g = docs
      .select(col("doc_id"), expr("ascii_alpha_tokens(text, 3)").as("__toks"))
      .select(explode(concat(
        transform(col("__toks"), t =>
          struct(lit(null).cast("long").as("d"), t.as("g"))),
        transform(expr("filter(kgrams(__toks, 2), b -> contains(b, ' '))"),
          b => struct(col("doc_id").as("d"), b.as("g"))))).as("s"))
      .select(col("s.d").as("doc_id"), col("s.g").as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("tf"))
      .checkpointed()
    val tf = g.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("gram").as("bg"), col("tf"))
    val c2 = tf.groupBy("bg").agg(sum(col("tf")).as("c2"))
    val c1 = c2.withColumn("w1", split(col("bg"), " ").getItem(0))
      .groupBy("w1").agg(sum(col("c2")).as("c1"))
    val v = g.filter(col("doc_id").isNull).agg(count(lit(1)).as("v"))
    tf.join(c2, "bg")
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(c1, "w1")
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("tf"),
        (expr("CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(c1 + v AS DOUBLE))) AS BIGINT)") -
          expr("CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(c2 + 1 AS DOUBLE))) AS BIGINT)"))
          .as("lnq_diff"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("lnq_diff")).as("nll_fp"))
      .withColumn("nll_per_bg_fp", expr("nll_fp div n_bigrams"))
      .orderBy("doc_id")
  }
  private val bigramNllSql =
    """WITH tok AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]{3,}') AS toks
      |  FROM documents),
      |uni AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v FROM (
      |  SELECT unnest(toks) AS t FROM tok)),
      |bgr AS (
      |  SELECT doc_id, array_to_string(toks[j:j+1], ' ') AS bg
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS j FROM tok)),
      |tf AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS tf FROM bgr GROUP BY 1, 2),
      |c2t AS (SELECT bg, CAST(SUM(tf) AS BIGINT) AS c2 FROM tf GROUP BY bg),
      |c1t AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c2) AS BIGINT) AS c1
      |        FROM c2t GROUP BY 1),
      |sc AS (
      |  SELECT tf.doc_id, tf.tf,
      |    CAST(floor(CAST(1000000 AS DOUBLE) *
      |      ln(CAST(c1t.c1 + (SELECT v FROM uni) AS DOUBLE))) AS BIGINT) -
      |    CAST(floor(CAST(1000000 AS DOUBLE) *
      |      ln(CAST(c2t.c2 + 1 AS DOUBLE))) AS BIGINT) AS lnq_diff
      |  FROM tf JOIN c2t USING (bg)
      |       JOIN c1t ON c1t.w1 = string_split(tf.bg, ' ')[1])
      |SELECT doc_id, n_bigrams, nll_fp, nll_fp // n_bigrams AS nll_per_bg_fp
      |FROM (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(tf * lnq_diff) AS BIGINT) AS nll_fp
      |  FROM sc GROUP BY doc_id)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ registry

  val queries: Map[String, Q] = Map(
    "t_bm25_topk" -> bm25,
    "t_ndcg_eval" -> ndcg,
    "t_unigram_nll" -> unigramNll,
    "t_bigram_nll" -> bigramNll,
    "emb_rp_project" -> rp)

  val oracle: Map[String, String] = Map(
    "t_bm25_topk" -> bm25Sql,
    "t_ndcg_eval" -> ndcgSql,
    "t_unigram_nll" -> unigramNllSql,
    "t_bigram_nll" -> bigramNllSql,
    "emb_rp_project" -> rpSql)
}
