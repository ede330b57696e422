package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-frequency operators: decisions about a line/fragment that
  * depend on how many DOCUMENTS it appears in — the C4/RefinedWeb-style
  * boilerplate pass (navigation chrome, cookie banners, shared
  * headers/footers repeat across a crawl; real prose doesn't).
  */
object CorpusOps {

  /** The Gopher-rule fail bitmask over precomputed integer facts
    * (words, chars, alpha, n_lines, n_dup_lines, top_bigram_cnt,
    * n_bigrams): five rules, each a cross-multiplied INTEGER comparison
    * so no float exists anywhere and a second engine replays the text
    * verbatim. Bits: 1 word-count band, 2 mean-word-length band,
    * 4 duplicate-line cap, 8 top-bigram cap, 16 alphabetic floor. */
  val gopherMaskSql: String =
    "CAST(CASE WHEN words BETWEEN 30 AND 10000 THEN 0 ELSE 1 END " +
      "+ CASE WHEN 3 * words <= chars - words + 1 " +
      "AND chars - words + 1 <= 5 * words THEN 0 ELSE 2 END " +
      "+ CASE WHEN n_dup_lines * 10 <= n_lines * 3 THEN 0 ELSE 4 END " +
      "+ CASE WHEN top_bigram_cnt * 5 <= n_bigrams THEN 0 ELSE 8 END " +
      "+ CASE WHEN alpha * 10 >= words * 8 THEN 0 ELSE 16 END AS INT)"

  /** The mask's input facts + fail_mask as appended columns — the ONE
    * definition both [[gopherGate]] and [[gopherKeep]] build on (a rule
    * input edited in only one of two copies would let the gate and the
    * keep-filter silently disagree). */
  private def withGopherFacts(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .withColumn("words", expr(s"ws_word_count($textCol)").cast("long"))
      .withColumn("chars", length(col(textCol)).cast("long"))
      .withColumn("alpha",
        size(expr(s"ascii_alpha_tokens($textCol, 1)")).cast("long"))
      .withColumn("__r", expr(s"rep_stats($textCol)"))
      .withColumn("n_lines", col("__r.n_lines"))
      .withColumn("n_dup_lines", col("__r.n_dup_lines"))
      .withColumn("top_bigram_cnt", col("__r.top_bigram_cnt"))
      .withColumn("n_bigrams", col("__r.n_bigrams"))
      .withColumn("fail_mask", expr(gopherMaskSql))

  /** The Gopher-family quality gate as a pure per-row projection: emits
    * the repetition/length facts, the per-rule fail bitmask, and the
    * keep verdict. Zero shuffles, zero state — which is also why it
    * drops into Structured Streaming unchanged (stateless transforms
    * need no watermark and work under any trigger; pinned by
    * FileStreamSpec's batch-parity case). Requires the
    * [[graft.GraftExtensions]] functions `ws_word_count`,
    * `ascii_alpha_tokens` and `rep_stats`, which sessions built by
    * [[graft.Sessions.builder]] have installed. */
  def gopherGate(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    withGopherFacts(docs, textCol)
      .withColumn("n_words", col("words"))
      .withColumn("keep", col("fail_mask") === 0)
      .select(col(idCol), col("n_words"), col("n_lines"),
        col("n_dup_lines"), col("top_bigram_cnt"), col("n_bigrams"),
        col("fail_mask"), col("keep"))

  /** The gate as a FILTER that preserves the caller's columns: compute
    * the mask row-locally, keep fail_mask == 0 rows, drop the scratch.
    * The pipeline form of [[gopherGate]] (which emits the audit facts
    * instead) — same rules, same kernels, zero shuffles. */
  def gopherKeep(docs: DataFrame, textCol: String): DataFrame =
    withGopherFacts(docs, textCol)
      .filter(col("fail_mask") === 0)
      .drop("words", "chars", "alpha", "__r", "n_lines", "n_dup_lines",
        "top_bigram_cnt", "n_bigrams", "fail_mask")

  /** Intra-document repetition signals (the Gopher-family quality
    * filters): per document, the fraction of non-blank lines that are
    * repeats of an earlier line, and the share of the most common token
    * bigram among all bigram occurrences — high values of either mark
    * templated/spammy text.
    *
    * Scale shape: ZERO shuffles. These are per-DOCUMENT facts and a
    * document's text lives in one row, so the whole computation is the
    * row-local `rep_stats` kernel (TokenKernels.repStats) inside
    * whole-stage codegen — the earlier two-branch explode + double
    * groupBy + join form shuffled the corpus four times to aggregate
    * values each row already owned. Docs whose text is null or has no
    * non-blank line are dropped (the join-on-doc semantics of the
    * aggregation form, which the oracle SQL replays). Divisions are
    * double-cast on both engines for a bit-exact oracle. */
  def repetitionSignals(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), expr(s"rep_stats($textCol)").as("__r"))
      .filter(col("__r.n_lines") > 0)
      .select(col(idCol),
        col("__r.n_lines").as("n_lines"),
        col("__r.n_dup_lines").as("n_dup_lines"),
        (col("__r.n_dup_lines").cast("double") / col("__r.n_lines"))
          .as("dup_line_frac"),
        col("__r.top_bigram_cnt").as("top_bigram_cnt"),
        col("__r.n_bigrams").as("n_bigrams"),
        (col("__r.top_bigram_cnt").cast("double") / col("__r.n_bigrams"))
          .as("top_bigram_frac"))

  /** Benchmark-contamination scores: for every document, the fraction of
    * its DISTINCT token `shingleK`-grams that appear anywhere in the
    * benchmark set — the standard eval-decontamination signal. Same
    * tokenizer and shingle construction as the MinHash dedup family, so
    * the DuckDB oracle reuses that replay verbatim.
    *
    * Scale shape: ZERO shuffles on the corpus side. The benchmark n-gram
    * set is SMALL BY DEFINITION (eval suites are a few MB against a
    * 100 TB corpus): it is collected once — bounded MODEL state, the same
    * justification as the k-means/IVF centroid matrices — and shipped as
    * a `SparkContext.broadcast` (one copy per executor; an
    * expression-literal would instead ride every task's serialized plan,
    * and the previous broadcast-JOIN form still exploded the corpus to
    * one row per (doc, gram) and re-aggregated per doc — a full
    * explode + hash-probe + shuffle to compute counts each row already
    * owns). Per-doc distinct grams are row-local (`array_distinct`); the
    * membership count is a UDF over the broadcast set — a UDF, not a
    * native expression, precisely BECAUSE the set is a Broadcast handle
    * (documented UDF-justification convention, see KMeansOps). */
  def contaminationScores(
      docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, shingleK: Int = 3): DataFrame = {
    // Tokens are projected into their own column before shingling so
    // the kernel sees one materialized array per row.
    def withGrams(df: DataFrame, textC: String, keep: Seq[Column]): DataFrame =
      df.withColumn("__toks", expr(s"ascii_tokens($textC)"))
        .select(keep :+ expr(s"distinct_kgrams(__toks, $shingleK)").as("__ng"): _*)
    // Bounded collect: the distinct benchmark n-gram set (model state).
    val benchGrams: Array[String] = withGrams(bench, benchTextCol, Seq.empty)
      .select(explode(col("__ng")).as("__g"))
      .distinct() // cross-DOC distinct: not row-local
      .collect().map(_.getString(0))
    val bc = docs.sparkSession.sparkContext.broadcast(benchGrams.toSet)
    val hitCount = udf((ngs: Seq[String]) => ngs.count(bc.value.contains))
    withGrams(docs, textCol, Seq(col(idCol)))
      .select(col(idCol),
        size(col("__ng")).cast("long").as("n_grams"),
        hitCount(col("__ng")).cast("long").as("n_hit"))
      .withColumn("contamination",
        col("n_hit").cast("double") / col("n_grams"))
  }

  /** Remove lines that occur in at least `minDocs` distinct documents,
    * preserving each document's remaining line order.
    *
    * Scale shape (100 TB): pass 1 aggregates distinct-doc counts with
    * ONE shuffle on the line hash (map-side partial counts); the
    * surviving boilerplate set is tiny BY CONSTRUCTION (a line must
    * recur across >= minDocs documents to qualify), so pass 2's
    * left_anti join broadcasts it against the exploded lines — AQE picks
    * the broadcast automatically at that size. Reassembly sorts
    * in-group: array_sort over (pos, line) structs inside the collected
    * group, not a global sort. Blank lines are never treated as
    * boilerplate (they'd match across every document trivially) — they
    * are preserved verbatim through reassembly. A document consisting
    * ENTIRELY of boilerplate drops out of the result (it has no content
    * left to carry). */
  def stripBoilerplate(
      df: DataFrame, idCol: String, textCol: String, minDocs: Long): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val boiler = lines
      .filter(trim(col("__line")) =!= "")
      .groupBy("__line")
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select("__line")
    val kept = lines.join(boiler,
      lines("__line") === boiler("__line"), "left_anti")
    kept
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("__pos"), col("__line"))).as("__parts"))
      .select(col(idCol),
        array_join(
          transform(array_sort(col("__parts")), p => p("__line")),
          "\n").as("text"))
  }
}
