package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Exact duplicated-span detection and removal — the fixed-k bounded
  * form of ExactSubstr dedup (Lee et al. 2021, "Deduplicating Training
  * Data Makes Language Models Better"), as reusable operators. Every
  * k-char window of the cleaned text is hashed with the base-257
  * mod-1e9+7 rolling family ([[TextFns.charKgramHashes]]); a hash
  * landing in ≥ 2 distinct documents is an exactly-repeated span.
  *
  * `capChars` bounds how much of each document participates. It is a
  * FIXTURE/BUDGET parameter, not an operator constant (a hard-coded
  * 300 would silently ignore 99% of a real document): the
  * registered oracle queries pass 300 to keep the gate fixtures small;
  * a production caller passes None and every window of every document
  * participates. All arithmetic is exact at full document length — the
  * exemplar is a struct argmin (lexicographic `min(struct(id, pos))`),
  * not the `id·10⁶ + pos` packing, so positions beyond 10⁶ cannot
  * corrupt it (SpanDedupSpec pins the boundary).
  *
  * Scale shape: the window explode is row-local (one row per window);
  * the single shuffle groups by span hash. Carrying ~Σ|doc| window rows
  * is the inherent price of exact all-window detection — Lee et al. pay
  * the same Σ|doc| in their suffix-array construction, which is the
  * classic single-machine route (build SA over the concatenated corpus,
  * scan adjacent ranks for length-≥k repeats). The Spark-native
  * equivalent here trades the SA's O(n log n) sort for one hash shuffle
  * and gains embarrassing parallelism plus incremental re-runs; a true
  * variable-length ExactSubstr (longest repeated substring, not fixed
  * k) would layer binary-search-over-k on these same window tables or
  * a distributed DC3 suffix array — documented as the extension path,
  * not built, since fixed-k span removal is what the training-data
  * pipeline consumes. [[graft.queries.DedupQueries]]'s winnow_pairs is
  * the SAMPLED cheap path when only document pairing (not span
  * localization) is needed.
  */
object SpanDedupOps {

  /** Cleaned k-char windows: one row per (id, pos, h). `capChars` —
    * see class doc; None = whole document. */
  def windows(docs: DataFrame, idCol: String, textCol: String,
      k: Int, capChars: Option[Int]): DataFrame = {
    val text = capChars match {
      case Some(c) => substring(col(textCol), 1, c)
      case None    => col(textCol)
    }
    docs.select(col(idCol),
      posexplode(TextFns.charKgramHashesUdf(text, lit(k)))
        .as(Seq("pos", "h")))
  }

  /** Top-N most-repeated spans: (h, n_docs, n_occ, ex_doc, ex_pos) for
    * every hash seen in ≥ `minDocs` distinct documents, ranked by
    * occurrence count; exemplar = lexicographically least (id, pos). */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int, topN: Int, capChars: Option[Int],
      minDocs: Int = 2): DataFrame =
    windows(docs, idCol, textCol, k, capChars)
      .groupBy("h")
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(struct(col(idCol), col("pos"))).as("__ex"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h"), col("n_docs"), col("n_occ"),
        col(s"__ex.$idCol").as("ex_doc"),
        col("__ex.pos").cast("long").as("ex_pos"))
      .orderBy(col("n_occ").desc, col("h"))
      .limit(topN)

  /** The APPLY side: scrub every cross-document-repeated k-span from
    * the cleaned text. Output: (id, n_dup_windows, cl_len, n_cut,
    * text_scrubbed). All occurrences are cut (the conservative form
    * needing no occurrence-election pass); overlapping spans merge
    * implicitly via per-char marking. Per-doc position lists are
    * bounded by (capped) document length — row-local state, never a
    * driver collect. */
  def scrub(docs: DataFrame, idCol: String, textCol: String,
      k: Int, capChars: Option[Int]): DataFrame = {
    val text = capChars match {
      case Some(c) => substring(col(textCol), 1, c)
      case None    => col(textCol)
    }
    // Recompute-beats-materialize: see the measured bake-off note at the
    // dedup_span_scrub query (localCheckpoint of the window table lost).
    val w = windows(docs, idCol, textCol, k, capChars)
    val dup = w.groupBy("h")
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= 2).select("h")
    // No join hints: the duplicate-hash set and the per-doc position
    // table are fact-scaled, but both are post-AGGREGATE with sound
    // size estimates — AQE broadcasts them while genuinely small and
    // flips keyed as the corpus grows (the estimate-soundness
    // doctrine, ARCHITECTURE.md; hinting measured flat-to-slower at sf0.1).
    val dupPos = w.join(dup, Seq("h"))
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("pos"))).as("pos"))
    docs.join(dupPos, Seq(idCol), "left")
      .select(col(idCol),
        size(coalesce(col("pos"), typedLit(Seq.empty[Int]))).as("n_dup_windows"),
        TextFns.scrubSpansWithLenUdf(text,
          coalesce(col("pos"), typedLit(Seq.empty[Int])), lit(k)).as("__s"))
      .select(col(idCol), col("n_dup_windows"),
        col("__s._1").as("cl_len"), col("__s._2").as("text_scrubbed"))
      .withColumn("n_cut", col("cl_len") - length(col("text_scrubbed")))
      .select(col(idCol), col("n_dup_windows"), col("cl_len"),
        col("n_cut"), col("text_scrubbed"))
  }
}
