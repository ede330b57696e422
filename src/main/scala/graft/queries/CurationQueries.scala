package graft.queries

import graft.Checkpoints.CheckpointSyntax

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-curation selection operators (beyond-reference, SURVEY §2.11
  * spirit): DSIR-style discriminative data selection, reciprocal-rank
  * fusion of independent rankers, and embedding-space outlier filtering.
  * These are the "pick WHICH data to train on" counterparts to the
  * dedup/quality family (reference context: the pipeline curates corpus
  * rows by quality gates before alignment — tts_data_pipeline
  * pre_processing filters; these operators are that curation step at
  * pre-training scale).
  *
  * Cross-engine exactness discipline (same as RetrievalQueries): every
  * score is integer fixed-point BEFORE aggregation; ratio comparisons are
  * exact 128-bit cross-multiplications — scala BigInt on the collected
  * bounded profile Spark-side, HUGEINT on the oracle side — so 1e13-token
  * corpus counts cannot overflow; quantizers are SQL text shared verbatim
  * by both engines.
  */
object CurationQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------- o12_dsir

  /** O12: DSIR-flavored data selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") — pick raw-corpus
    * documents that look like a target domain, using hashed n-gram
    * features. Divergence from the paper, chosen for cross-engine
    * exactness: the paper weights documents by Σ log(p_target/p_raw)
    * over hashed features; a transcendental per bucket would make the
    * selection boundary float-fragile, so each hash bucket instead
    * votes ±1 by the EXACT ratio comparison
    * `ct·totR > cr·totT` (128-bit cross-multiply), and a document's
    * score is its tf-weighted vote sum — the sign of the paper's
    * log-ratio, not its magnitude. Rank order at the selection boundary
    * is then pure integer math.
    *
    * Scale shape (100 TB): tokenize + bucket is row-local (one md5 per
    * distinct term per doc); the bucket profile aggregates with map-side
    * combine to B=1024 rows of bounded model state (collected once, like
    * the k-means centroids); the votes ride the scoring plan as a
    * literal lookup array, so scoring is join-free and single-job; the
    * final top-N is TakeOrderedAndProject (bounded heap per partition +
    * driver merge of N-row partials), never a global sort.
    */
  private val dsirB = 1024
  private val dsirN = 100
  private val dsirTarget = "src0"
  private val dsir: Q = (s, dir) => {
    // Tokenize dominates both passes: fan the narrow fixture scan out
    // (Tables.fanOut scaladoc) or each pass runs on one core.
    val docs = Tables.fanOut(t(s, dir, "documents"))
    val tf = RetrievalQueries.tokenTf(docs, "doc_id", "lang", "source")
      // h1-only bucket (CmsOps.bucket(term, 0, B) would still compute the
      // unused h2 — a second md5 pass per row)
      .withColumn("bucket",
        conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long") % dsirB)
    // The bucket profile is BOUNDED MODEL STATE (≤B rows regardless of
    // corpus size — the k-means/IVF centroid precedent), so collect it
    // once and turn the ±1 votes into a literal lookup array: scoring is
    // then tokenize → md5 → element_at → aggregate in ONE job, with no
    // join, no broadcast build, and no serial job-launch chain (measured
    // 2.14 s → ~0.7 s at sf0.1 — a derive-votes-as-a-plan form re-ran
    // the profile sub-DAG and paid three extra job launches). Votes use
    // BigInt cross-multiplication on the collected ≤B-row profile —
    // exact at any corpus scale, identical to the oracle's HUGEINT
    // compare. The remaining constant factor vs the oracle is the
    // SECOND tokenize pass (profile job, then scoring job — the scoring
    // plan cannot start before the collected profile exists);
    // materializing the tokenized rows instead was measured to LOSE in
    // this family (nllScores: checkpoint 0.73 s vs recompute 0.62 s),
    // so the two-pass recompute is the chosen form.
    val profRows = tf.groupBy("bucket").agg(
        sum(when(col("source") === dsirTarget, col("tf")).otherwise(0L)).as("ct"),
        sum(when(col("source") =!= dsirTarget, col("tf")).otherwise(0L)).as("cr"))
      .collect()
    val totT = profRows.map(_.getLong(1)).sum
    val totR = profRows.map(_.getLong(2)).sum
    val vote = Array.fill[Long](dsirB)(-1L)
    profRows.foreach { r =>
      if (BigInt(r.getLong(1)) * totR > BigInt(r.getLong(2)) * totT)
        vote(r.getLong(0).toInt) = 1L
    }
    tf.filter(col("source") =!= dsirTarget)
      .withColumn("vote",
        element_at(typedLit(vote.toSeq), (col("bucket") + 1).cast("int")))
      .groupBy("doc_id", "lang", "source")
      .agg(sum(col("tf") * col("vote")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(dsirN)
      .orderBy("doc_id")
  }
  private val dsirSql =
    s"""WITH tf AS (
       |  SELECT doc_id, lang, source, term, CAST(COUNT(*) AS BIGINT) AS tf,
       |    CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % $dsirB AS bucket
       |  FROM (
       |    SELECT doc_id, lang, source,
       |      unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
       |    FROM documents)
       |  GROUP BY doc_id, lang, source, term),
       |prof AS (
       |  SELECT bucket,
       |    CAST(SUM(CASE WHEN source = '$dsirTarget' THEN tf ELSE 0 END) AS BIGINT) AS ct,
       |    CAST(SUM(CASE WHEN source <> '$dsirTarget' THEN tf ELSE 0 END) AS BIGINT) AS cr
       |  FROM tf GROUP BY bucket),
       |tot AS (
       |  SELECT CAST(SUM(ct) AS BIGINT) AS tot_t, CAST(SUM(cr) AS BIGINT) AS tot_r
       |  FROM prof),
       |votes AS (
       |  SELECT bucket,
       |    CASE WHEN CAST(ct AS HUGEINT) * tot_r > CAST(cr AS HUGEINT) * tot_t
       |      THEN 1 ELSE -1 END AS vote
       |  FROM prof, tot)
       |SELECT doc_id, lang, source, score FROM (
       |  SELECT doc_id, lang, source, CAST(SUM(tf * vote) AS BIGINT) AS score
       |  FROM tf JOIN votes USING (bucket)
       |  WHERE source <> '$dsirTarget'
       |  GROUP BY doc_id, lang, source
       |  ORDER BY score DESC, doc_id LIMIT $dsirN)
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ t_rrf

  /** T-RRF: reciprocal-rank fusion (Cormack et al. 2009) of two
    * independent rankers over the corpus — BM25 relevance for a fixed
    * query (the retrieval signal) and unigram-LM per-token NLL (the
    * CCNet quality signal, lower = more fluent). RRF is THE standard
    * hybrid-retrieval combiner (lexical × semantic/quality) and needs
    * no score calibration between rankers — only ranks.
    *
    * Exactness: the textbook contribution 1/(60+rank) is replaced by
    * its integer fixed-point `1e9 div (60+rank)` — order-identical for
    * every rank ≤ 1e9 and exact in both engines. A document absent
    * from one ranker's top-20 contributes 0 from that ranker (the
    * standard list-truncated RRF), surfaced as rank 0 in the output.
    *
    * Scale shape: both rankers end in a bounded top-20
    * (TakeOrderedAndProject); fusion then full-outer-joins two 20-row
    * lists — driver-trivial at any corpus size. The corpus-wide work is
    * the two rankers', each already audited (t_bm25_topk,
    * t_unigram_nll); the BM25 side prunes exploded postings to the
    * query's terms at the scan via a literal IN filter.
    *
    * Bake-off, CLOSED: this query runs the tokenizer
    * kernel three times (ranker A's pruned checkpoint + twice inside
    * nllScores), so a fused form was measured — ONE tokenize pass
    * checkpointed as the full (doc_id, dl, tfm) map table, both rankers
    * exploding from it. Same-JVM alternating reps at sf0.1: standing
    * min 1.79 / med 2.84 s vs fused min 2.26 / med 3.08 s — fused
    * LOSES ~25%: materializing every doc's full term map costs more
    * than two extra tokenize passes, the three-consumer confirmation of
    * nllScores' two-consumer recompute-beats-materialize measurement.
    * The standing time is the two rankers' sequential floor; at real
    * corpus scale the rankers' jobs overlap under scheduler pools and
    * the tokenize kernel is embarrassingly parallel, so the fixture
    * penalty does not compound.
    *
    * Re-probe, CLOSED AGAIN: after the EXPLODED-tokens checkpoint won
    * for dedup_lsh_recall, the same shape was measured here — ONE
    * tokenize pass checkpointed as exploded (doc_id, term, tf) rows,
    * both rankers (and ranker A's dl join) reading it. Same-JVM
    * alternating reps at sf0.1, parity-checked: standing med 2.93 s /
    * 16 jobs, fused med 2.83 s / 14 jobs (wash, within rep spread),
    * exploded med 4.21 s / 22 jobs — exploded LOSES ~45%. Unlike
    * lsh_recall (three fingerprint branches re-running the SAME
    * scan+union), rrf's three tokenize passes each feed a DIFFERENT
    * downstream reduction (pruned postings, term counts, per-doc NLL),
    * so the checkpoint's write+read+re-agg jobs are pure additions.
    * Standing form stays.
    */
  private val rrfTerms = Seq("customer", "query", "batch")
  private val rrfListK = 20
  private val rrfOutK = 10
  private val rrfKConst = 60
  private val rrfScale = 1000000000L
  private val rrf: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    // --- ranker A: BM25 for the fixed query (RetrievalQueries'
    // bm25ScoreSql — the audited scorer, one definition; postings, doc
    // lengths, and corpus scalars all ride the one-tokenizer-pass
    // qtermPostings checkpoint, which also retires the separate
    // dl-table join this ranker used to pay) ---------------------------
    val pd = RetrievalQueries.qtermPostings(Tables.fanOut(docs), rrfTerms)
    val stats = pd.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("tot_dl"))
    val posted = pd.select(col("doc_id"), col("dl"),
        explode(col("tfq")).as(Seq("term", "tf")))
      .withColumn("tf", col("tf").cast("long"))
    val dft = posted.groupBy("term").agg(count(lit(1)).as("df"))
    val bmScored = posted
      .join(broadcast(dft), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", expr("CAST(tot_dl AS DOUBLE) / n_docs"))
      .select(col("doc_id"), expr(RetrievalQueries.bm25ScoreSql).as("s_fp"))
      .groupBy("doc_id").agg(sum("s_fp").as("bm_fp"))
    val bmTop = bmScored
      .orderBy(col("bm_fp").desc, col("doc_id")).limit(rrfListK)
      .withColumn("bm_rank", row_number()
        .over(Window.orderBy(col("bm_fp").desc, col("doc_id"))))
      .select("doc_id", "bm_rank")
    // --- ranker B: unigram-NLL quality (ascending) — the SAME builder
    // the registered t_unigram_nll runs -------------------------------
    val qTop = RetrievalQueries.nllScores(docs)
      .select(col("doc_id"), col("nll_per_tok_fp").as("q_fp"))
      .orderBy(col("q_fp").asc, col("doc_id")).limit(rrfListK)
      .withColumn("q_rank", row_number()
        .over(Window.orderBy(col("q_fp").asc, col("doc_id"))))
      .select("doc_id", "q_rank")
    // --- fusion ------------------------------------------------------
    bmTop.join(qTop, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("bm_rank"), lit(0)).as("bm_rank"),
        coalesce(col("q_rank"), lit(0)).as("q_rank"))
      // `div`, not `/`: Spark's `/` on integral types is DOUBLE division.
      .withColumn("rrf_fp",
        expr(s"CASE WHEN bm_rank > 0 THEN $rrfScale div ($rrfKConst + bm_rank) ELSE 0 END") +
        expr(s"CASE WHEN q_rank > 0 THEN $rrfScale div ($rrfKConst + q_rank) ELSE 0 END"))
      .orderBy(col("rrf_fp").desc, col("doc_id")).limit(rrfOutK)
      .select(col("doc_id"), col("rrf_fp"),
        col("bm_rank").cast("int").as("bm_rank"),
        col("q_rank").cast("int").as("q_rank"))
      .orderBy("doc_id")
  }
  private val rrfTermList = rrfTerms.map(t => s"'$t'").mkString(", ")
  private val rrfSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
       |  FROM documents),
       |dlt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
       |ptf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
       |  WHERE term IN ($rrfTermList) GROUP BY doc_id, term),
       |st AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    (SELECT CAST(COALESCE(SUM(dl), 0) AS BIGINT) FROM dlt) AS tot_dl
       |  FROM documents),
       |dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM ptf GROUP BY term),
       |bm AS (
       |  SELECT doc_id, CAST(SUM(s_fp) AS BIGINT) AS bm_fp FROM (
       |    SELECT ptf.doc_id, ${RetrievalQueries.bm25ScoreSql} AS s_fp
       |    FROM ptf JOIN dft USING (term) JOIN dlt USING (doc_id),
       |      (SELECT n_docs, CAST(tot_dl AS DOUBLE) / n_docs AS avgdl FROM st))
       |  GROUP BY doc_id),
       |bmtop AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm_fp DESC, doc_id) AS BIGINT) AS bm_rank
       |  FROM (SELECT doc_id, bm_fp FROM bm ORDER BY bm_fp DESC, doc_id LIMIT $rrfListK)),
       |atf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
       |  GROUP BY doc_id, term),
       |cnt AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM atf GROUP BY term),
       |tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM cnt),
       |doc AS (
       |  SELECT doc_id,
       |    CAST(SUM(tf * ${RetrievalQueries.lnqSql}) AS BIGINT) AS sum_fp,
       |    CAST(SUM(tf) AS BIGINT) AS dl
       |  FROM atf JOIN cnt USING (term) GROUP BY doc_id),
       |q AS (
       |  SELECT doc_id,
       |    (dl * (SELECT ${RetrievalQueries.lnqTotSql} FROM tt) - sum_fp) // dl AS q_fp
       |  FROM doc),
       |qtop AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY q_fp ASC, doc_id) AS BIGINT) AS q_rank
       |  FROM (SELECT doc_id, q_fp FROM q ORDER BY q_fp ASC, doc_id LIMIT $rrfListK)),
       |fused AS (
       |  SELECT COALESCE(bmtop.doc_id, qtop.doc_id) AS doc_id,
       |    COALESCE(bm_rank, 0) AS bm_rank, COALESCE(q_rank, 0) AS q_rank
       |  FROM bmtop FULL OUTER JOIN qtop ON bmtop.doc_id = qtop.doc_id)
       |SELECT doc_id, rrf_fp, CAST(bm_rank AS INT) AS bm_rank, CAST(q_rank AS INT) AS q_rank
       |FROM (
       |  SELECT doc_id, bm_rank, q_rank,
       |    (CASE WHEN bm_rank > 0 THEN $rrfScale // ($rrfKConst + bm_rank) ELSE 0 END +
       |     CASE WHEN q_rank > 0 THEN $rrfScale // ($rrfKConst + q_rank) ELSE 0 END) AS rrf_fp
       |  FROM fused
       |  ORDER BY rrf_fp DESC, doc_id LIMIT $rrfOutK)
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- o13

  /** O13: Moore–Lewis cross-entropy difference selection (Moore & Lewis
    * 2010, "Intelligent Selection of Language Model Training Data") —
    * the classic in-domain selection: score each out-of-domain document
    * by H_in(doc) − H_out(doc) under two unigram LMs (one trained on the
    * target domain, one on the whole corpus) and keep the lowest-scoring
    * (most in-domain-like) N. Complements o12: DSIR votes on hashed
    * feature SIGNS, Moore–Lewis ranks by log-likelihood MAGNITUDE.
    *
    * Exactness (t_unigram_nll's discipline): ln() touches only distinct
    * integer inputs via `lnq(n) = floor(1e6·ln(n))`, after which both
    * NLLs and their difference are order-independent integer sums. The
    * target LM is add-1 smoothed over the corpus vocabulary (an
    * out-of-domain doc's terms may be absent from the target corpus);
    * the general LM needs no smoothing (every scored term occurs in the
    * corpus by construction). The per-token normalization divides a
    * possibly NEGATIVE sum, where Spark's `div` (truncate) and DuckDB's
    * `//` (floor) diverge — so the quotient is made exact first by
    * subtracting the nonnegative mod (`x − ((x % dl + dl) % dl)`), after
    * which truncate == floor == exact division.
    *
    * Scale shape: identical to t_unigram_nll — the vocab-sized count
    * tables join the exploded (doc, term, tf) rows (AQE broadcasts while
    * they fit), per-doc re-aggregation combines map-side, and the
    * selection is a bounded-heap TakeOrderedAndProject, never a global
    * sort. The two corpus scalars (smoothed target mass, general mass)
    * ride 1-row broadcasts. */
  private val mlN = 100
  private val mlLnq = (c: String) =>
    s"CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST($c AS DOUBLE))) AS BIGINT)"
  private val ml: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val tf = RetrievalQueries.tokenTf(docs, "doc_id", "lang", "source")
    // general LM: counts over the WHOLE corpus; target LM: src0 only
    // the LM count table is vocab-bounded model state consumed by its
    // totals AND the scoring join — checkpoint so the tokenize+shuffle
    // under it runs once per pass, not per consumer (the pmi/zipf
    // treatment; the fixture-size gain is floor-bound, the cut removes
    // a corpus-scaled replay)
    val cnt = tf.groupBy("term").agg(
      sum("tf").as("cg"),
      sum(when(col("source") === dsirTarget, col("tf")).otherwise(0L)).as("ct"))
      .checkpointed()
    val scal = cnt.agg(
      sum("cg").as("tot_g"),
      (sum("ct") + count(lit(1))).as("tot_ts"), // totT + V (add-1 mass)
      count(lit(1)).as("v"))
    tf.filter(col("source") =!= dsirTarget)
      .join(cnt, Seq("term"))
      .select(col("doc_id"), col("lang"), col("source"), col("tf"),
        expr(mlLnq("ct + 1")).as("lnq_t"), expr(mlLnq("cg")).as("lnq_g"))
      .groupBy("doc_id", "lang", "source")
      .agg(sum(col("tf") * (col("lnq_g") - col("lnq_t"))).as("sum_fp"),
        sum("tf").as("dl"))
      .crossJoin(broadcast(scal))
      // score = NLL_t − NLL_g = dl·(lnq(totT+V) − lnq(totG)) + Σtf·(lnq_g − lnq_t)
      .withColumn("score_fp",
        col("dl") * (expr(mlLnq("tot_ts")) - expr(mlLnq("tot_g"))) + col("sum_fp"))
      .withColumn("ml_per_tok_fp",
        expr("(score_fp - ((score_fp % dl + dl) % dl)) div dl"))
      .select("doc_id", "lang", "source", "dl", "ml_per_tok_fp")
      .orderBy(col("ml_per_tok_fp").asc, col("doc_id")).limit(mlN)
      .orderBy("doc_id")
  }
  private val mlSql =
    s"""WITH tf AS (
       |  SELECT doc_id, lang, source, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (
       |    SELECT doc_id, lang, source,
       |      unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
       |    FROM documents)
       |  GROUP BY doc_id, lang, source, term),
       |cnt AS (
       |  SELECT term, CAST(SUM(tf) AS BIGINT) AS cg,
       |    CAST(SUM(CASE WHEN source = '$dsirTarget' THEN tf ELSE 0 END) AS BIGINT) AS ct
       |  FROM tf GROUP BY term),
       |scal AS (
       |  SELECT CAST(SUM(cg) AS BIGINT) AS tot_g,
       |    CAST(SUM(ct) + COUNT(*) AS BIGINT) AS tot_ts,
       |    CAST(COUNT(*) AS BIGINT) AS v
       |  FROM cnt),
       |doc AS (
       |  SELECT doc_id, lang, source,
       |    CAST(SUM(tf * (${mlLnq("cg")} - ${mlLnq("ct + 1")})) AS BIGINT) AS sum_fp,
       |    CAST(SUM(tf) AS BIGINT) AS dl
       |  FROM tf JOIN cnt USING (term)
       |  WHERE source <> '$dsirTarget'
       |  GROUP BY doc_id, lang, source),
       |sc AS (
       |  SELECT doc_id, lang, source, dl,
       |    dl * ((SELECT ${mlLnq("tot_ts")} FROM scal) -
       |          (SELECT ${mlLnq("tot_g")} FROM scal)) + sum_fp AS score_fp
       |  FROM doc)
       |SELECT doc_id, lang, source, dl, ml_per_tok_fp FROM (
       |  SELECT doc_id, lang, source, dl,
       |    (score_fp - ((score_fp % dl + dl) % dl)) // dl AS ml_per_tok_fp
       |  FROM sc
       |  ORDER BY ml_per_tok_fp ASC, doc_id LIMIT $mlN)
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ emb_outlier

  /** EMB-OUTLIER: embedding-space outlier filter — the top-5 vectors
    * farthest from their label's centroid, per label (the embedding-side
    * mislabeled/junk-data screen: CLIP-score-style filtering where the
    * "score" is distance to the class prototype).
    *
    * Exactness: coordinates are clamped to [-1,1] and quantized to
    * nonnegative 1e-6 fixed-point BEFORE any aggregation; the centroid is
    * the per-dimension integer mean `S div n` (floor == truncate for
    * nonnegative operands, so Spark `div` and DuckDB `//` agree), and the
    * outlier score Σ(q−c)² ≤ 64·(2e6)² ≈ 2.6e14 is pure int64 — no float
    * sum anywhere, so the result is partition-order-independent and
    * replays bit-for-bit. The 1e-6 centroid quantization is the
    * documented divergence from an exact-mean L2 (it perturbs each
    * coordinate deviation by < 1 ulp of the quantizer, never the top-5
    * set on non-adversarial data, and deterministically if it does).
    *
    * Scale shape (100 TB): centroid pass aggregates with map-side
    * combine to labels×64 rows; the centroid table broadcasts; scoring
    * re-aggregates per vec_id, where map-side combine is COMPLETE (all
    * 64 exploded rows of a vector share its input row, hence its
    * partition), so the shuffle carries ~1 row per vector; the per-label
    * top-5 is TopKOps' bounded-buffer aggregator, never a window sort.
    *
    * Cost (JobCensus, sf0.1): 8 driver jobs, Σ task-time ~0.6 s
    * of a 1.37 s wall, heaviest stage 0.18 s over 10 rows — pure
    * job-count × host planning floor; shape already minimal. */
  private val embOutK = 5
  private val embDim = 64
  /** Shared quantizer text; `v` = the raw float coordinate. */
  private def embQSql(v: String): String =
    s"CAST(floor(CAST(1000000 AS DOUBLE) * (CAST(1 AS DOUBLE) + " +
      s"least(greatest(CAST($v AS DOUBLE), CAST(-1 AS DOUBLE)), " +
      s"CAST(1 AS DOUBLE)))) AS BIGINT)"
  private val embOutlier: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("label"), col("pos"),
        expr(embQSql("v")).as("qv"))
    val cent = e.groupBy("label", "pos")
      .agg(sum("qv").as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), expr("s div n").as("c"))
    val scored = e.join(broadcast(cent), Seq("label", "pos"))
      .groupBy("vec_id", "label")
      .agg(sum((col("qv") - col("c")) * (col("qv") - col("c"))).as("score"))
    graft.operators.TopKOps.topKByValue(
        scored, Seq("label"), col("score"), col("vec_id"), embOutK,
        orderName = "score", tieName = "vec_id")
      .orderBy("label", "rank")
  }
  private val embOutlierSql =
    s"""WITH e AS (
       |  SELECT vec_id, label, i AS pos,
       |    ${embQSql("embedding[i + 1]")} AS qv
       |  FROM embeddings, range($embDim) t(i)),
       |cent AS (
       |  SELECT label, pos, CAST(SUM(qv) AS BIGINT) // COUNT(*) AS c
       |  FROM e GROUP BY label, pos),
       |sc AS (
       |  SELECT vec_id, label, CAST(SUM((qv - c) * (qv - c)) AS BIGINT) AS score
       |  FROM e JOIN cent USING (label, pos) GROUP BY vec_id, label)
       |SELECT label, CAST(rn AS INT) AS rank, score, vec_id FROM (
       |  SELECT label, score, vec_id,
       |    row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id) AS rn
       |  FROM sc)
       |WHERE rn <= $embOutK ORDER BY label, rank""".stripMargin

  // ----------------------------------------------- pipe_curation_pass

  /** Flagship composition #2 — the curation family as ONE
    * declarative plan: Gopher-rule quality gate (row-local integer
    * mask) → √-temperature language rebalancing over the SURVIVORS
    * (quotas from post-gate counts, rank-by-hash) → sequence packing at
    * a 512-token budget, sharded by language. Like pipe_pretrain_pack,
    * each stage is the operator its own query verifies
    * (t_gopher_gate / o11_temperature_mix / w7_sequence_pack) and
    * Catalyst plans the chain together: the gate's kernels run inside
    * the sampling window's scan, and the pack window reads the
    * sample's shuffle. The oracle replays the identical composition,
    * with the gate's stats CTEs shared verbatim from TextQueries. */
  private val pipeCurN = 300L
  private val pipeCurBudget = 512
  private val pipeCur: Q = (s, dir) => {
    // sqrtTemperatureSample is two-pass by contract (stratum counts,
    // then the rank window) — each pass would re-run the gopher stats
    // kernels over the full corpus. Materialize the survivors once;
    // the checkpoint is post-gate (survivor-sized), and the quota/rank/
    // pack stages all read it. Measured (TimeSome, min of 3):
    // 2.68 -> 1.98 s. The operator itself stays recompute-simple —
    // at corpus scale materializing is the CALLER's call, made here
    // where the upstream is a measured-expensive kernel chain.
    val kept = graft.operators.CorpusOps.gopherKeep(
      Tables.fanOut(t(s, dir, "documents")), "text")
      .checkpointed()
    val mixed = graft.operators.QuotaOps.sqrtTemperatureSample(
      kept, "lang", pipeCurN,
      graft.operators.SketchOps.portableHash(col("doc_id")), Seq(col("doc_id")))
    graft.operators.PackOps.packSequences(mixed, "lang", Seq("doc_id"),
        graft.functions.TextFns.token_count(col("text")), pipeCurBudget)
      .select(col("lang"), col("doc_id"), col("n_tok"), col("tok_start"),
        col("seq_first"), col("seq_offset"), col("n_seqs"))
      .orderBy("lang", "doc_id")
  }
  private val pipeCurSql =
    s"""WITH raw AS (SELECT doc_id, text AS raw FROM documents),
       |${TextQueries.gopherStatsCtes},
       |surv AS (
       |  SELECT d.doc_id, d.lang, d.text FROM documents d
       |  JOIN (SELECT doc_id FROM m
       |        WHERE ${graft.operators.CorpusOps.gopherMaskSql} = 0) k
       |  ON d.doc_id = k.doc_id),
       |cnt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM surv GROUP BY lang),
       |iq AS (SELECT lang, CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS r FROM cnt),
       |q AS (SELECT lang, ($pipeCurN * r) // (SELECT CAST(SUM(r) AS BIGINT) FROM iq) AS quota FROM iq),
       |mixed AS (
       |  SELECT lang, doc_id, text FROM (
       |    SELECT lang, doc_id, text,
       |      row_number() OVER (PARTITION BY lang
       |        ORDER BY ((doc_id % 999999937 + 999999937) * 123456791 + 7919) % 999999937,
       |                 doc_id) AS rn
       |    FROM surv) d JOIN q USING (lang)
       |  WHERE rn <= quota)
       |SELECT lang, doc_id, n_tok, tok_start,
       |  tok_start // $pipeCurBudget AS seq_first,
       |  tok_start % $pipeCurBudget AS seq_offset,
       |  (tok_start + n_tok - 1) // $pipeCurBudget - tok_start // $pipeCurBudget + 1 AS n_seqs
       |FROM (
       |  SELECT lang, doc_id, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tok AS tok_start
       |  FROM (
       |    SELECT lang, doc_id,
       |      CAST(len(regexp_extract_all(text, '${graft.functions.TextFns.bpeTokenPat}')) AS BIGINT) AS n_tok
       |    FROM mixed)
       |  WHERE n_tok > 0)
       |ORDER BY lang, doc_id""".stripMargin

  // ------------------------------------------------------------ registry

  val queries: Map[String, Q] = Map(
    "o12_dsir_select" -> dsir,
    "o13_moore_lewis" -> ml,
    "t_rrf_fusion" -> rrf,
    "emb_outlier_filter" -> embOutlier,
    "pipe_curation_pass" -> pipeCur)

  val oracle: Map[String, String] = Map(
    "o12_dsir_select" -> dsirSql,
    "o13_moore_lewis" -> mlSql,
    "t_rrf_fusion" -> rrfSql,
    "emb_outlier_filter" -> embOutlierSql,
    "pipe_curation_pass" -> pipeCurSql)
}
