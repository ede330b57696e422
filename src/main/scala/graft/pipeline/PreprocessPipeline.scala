package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checkpoints.CheckpointSyntax
import graft.functions.TextFns
import graft.io.IoOps
import graft.operators.{AudioOps, MergeOps, RegroupOps}

/** §3.2 — the big transform (pre_processing/process_all.py):
  *   text:  binary "PDFs" -> extract (Externals) -> sentence tokenize
  *          (F10) -> normalize (F7) -> >=3-word filter (F6) -> stateful
  *          regroup (W3) -> per-book text lines + metrics
  *   audio: part tree (S9) -> decode (S11) -> min-sample-rate gate
  *          (F5/A7) -> resample 24k -> book length over the ordered
  *          parts (A10) -> metrics
  *   merge: J3 upsert of both metric sets into the book catalog.
  *
  * Scale shape: one shuffle per phase. The text regroup shuffles on book
  * id. The audio phase shuffles once, the compressed parts on book id
  * (the reference's process-pool granularity, repartition($"book_id")
  * before per-book work); decoding and resampling run in the task that
  * receives the book, so no decoded sample leaves it. The
  * upsert shuffles nothing: it broadcasts the small metrics tables.
  */
object PreprocessPipeline {

  final case class BookAudio(
    book_id: String, sample_rate: Int, n_samples: Long,
    audio_duration_s: Double, qualified: Boolean)

  val TargetSr = 24000
  val MinSr = 16000
  val RegroupThreshold = 20

  /** Text phase: returns (regrouped lines DF, per-book text metrics DF).
    *
    * The regrouped lines are materialised eagerly, once, through
    * [[graft.Checkpoints.cp]] (durable under a checkpoint directory):
    * the call runs the extraction job, and both returned frames read the
    * materialised lines. Each PDF is extracted once per call. */
  def processText(spark: SparkSession, pdfGlob: String,
      ext: Externals = StubExternals): (DataFrame, DataFrame) = {
    val docs = IoOps.readBinaryTree(spark, pdfGlob)
      .select(col("book_id"), col("content"))
      .mapPartitions { rows =>
        rows.map(r => (r.getString(0), ext.extractPdfText(r.getAs[Array[Byte]](1))))
      }(Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .toDF("book_id", "text")

    val sentences = docs
      .select(col("book_id"),
        posexplode(expr("regexp_extract_all(text, '[^.!?]+[.!?]?', 0)"))
          .as(Seq("idx", "raw")))
      .select(col("book_id"), (col("idx") + 1).as("rn"),
        TextFns.normalizeTextUdf(col("raw")).as("sentence"))                 // F7
      .withColumn("sentence", TextFns.strip_punct(col("sentence")))          // F8
      .withColumn("sentence", TextFns.ws_collapse(col("sentence")))
      .withColumn("wc", TextFns.word_count(col("sentence")))
      .filter(col("wc") >= 3)                                                // F6
    // Regroup directly on the book_id string — a 32-bit hash surrogate
    // would silently interleave colliding books at corpus scale.
    val grouped = RegroupOps.regroupSentences(
        sentences, "book_id", "rn", "sentence", "wc", RegroupThreshold)      // W3
      .select(col("doc_id").as("book_id"), col("grp_idx"),
        col("grp_text"), col("grp_wc"))
      // Consumers: the caller's lines write and the metrics below.
      .checkpointed()

    val metrics = grouped.groupBy("book_id").agg(
      sum(col("grp_wc")).as("word_count"),                                   // F11/A4
      count(lit(1)).cast("bigint").as("num_sentences"),
      sum(length(col("grp_text"))).cast("bigint").as("text_size"))
    (grouped, metrics)
  }

  /** Audio phase: per-book decode -> gate -> resample -> metrics.
    *
    * One shuffle, of the compressed parts: they are repartitioned on
    * book id and sorted by (book id, part index) inside each partition,
    * so every book arrives as one run of adjacent rows in part order
    * (W2/O5). No decoded sample array is shuffled, and a task holds one
    * resampled part at a time: the metrics need only the book's length,
    * which is the sum of its resampled part lengths (the ordered concat
    * and the peak normalisation keep the length), and its lowest part
    * rate. */
  def processAudio(spark: SparkSession, wavGlob: String,
      ext: Externals = StubExternals): DataFrame = {
    IoOps.readBinaryTree(spark, wavGlob)
      .select(col("book_id"), col("utt_idx"), col("content"))
      .repartition(col("book_id")) // one-book-per-task like the process pool
      .sortWithinPartitions("book_id", "utt_idx")                            // W2/O5
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[BookAudio] {
          def hasNext: Boolean = it.hasNext
          def next(): BookAudio = {
            val book = it.head.getString(0)
            var nSamples = 0L
            var minSr = Int.MaxValue
            while (it.hasNext && it.head.getString(0) == book) {
              val (samples, sr) = ext.decodeAudio(it.next().getAs[Array[Byte]](2)) // S11
              nSamples += AudioOps.linearResample(samples, sr, TargetSr).length
              minSr = math.min(minSr, sr)
            }
            BookAudio(book, TargetSr, nSamples,
              AudioOps.durationSeconds(nSamples, TargetSr), minSr >= MinSr)  // F5/A7
          }
        }
      }(Encoders.product[BookAudio])
      .toDF()
  }

  /** J3: merge both metric sets into the catalog (process_all.py:770-844). */
  def updateCatalog(catalog: DataFrame, textMetrics: DataFrame,
      audioMetrics: DataFrame): DataFrame = {
    val t = MergeOps.upsert(catalog,
      textMetrics.withColumnRenamed("book_id", "id"),
      Seq("id"), Seq("word_count", "num_sentences", "text_size"))
    MergeOps.upsert(t,
      audioMetrics.select(col("book_id").as("id"),
        col("sample_rate"), col("qualified").cast("string").as("quality")),
      Seq("id"), Seq("sample_rate", "quality"))
  }
}
