package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Checkpoints.CheckpointSyntax
import graft.io.IoOps
import graft.operators.{EncodeOps, WerAgg}

/** §3.3 — alignment post-processing, QC, publish
  * (aeneas_batch_align.py run() -> whisper_qc -> push_to_hf):
  *   segments TSV (S3) -> derive duration/id (P3/P4) -> outlier band
  *   (2.2-F4) + exclusion (J6) -> line-id join to text (J7/S8/W4) ->
  *   utterance table -> per-book sample (O4) -> stub ASR -> corpus WER
  *   (A8) -> book gate (2.2-F7) -> duration sum (A4) + speaker label
  *   encode (A9) -> JSONL publish (K4).
  */
object AlignPublishPipeline {

  val segSchema: StructType = StructType(Seq(
    StructField("start", DoubleType), StructField("end", DoubleType),
    StructField("raw_id", StringType), StructField("book_id", StringType),
    StructField("speaker_id", StringType)))

  final case class PublishResult(
    utterances: DataFrame, bookWer: DataFrame, corpusHours: Double)

  /** Aligns, gates and publishes; writes JSONL under `outDir`.
    *
    * Three intermediates are materialised eagerly, once each, through
    * [[graft.Checkpoints.cp]] (durable under a checkpoint directory):
    * the utterance table, the per-book WER and the published table. The
    * call runs those jobs; the returned `utterances` and `bookWer` read
    * the materialised rows, so the segment and line files are scanned and
    * each sampled utterance is transcribed once per call. */
  def run(spark: SparkSession, segTsv: String, linesPath: String,
      outDir: String, samplePct: Double = 0.05, werThreshold: Double = 50.0,
      minDur: Double = 3.0, maxDur: Double = 12.0,
      ext: Externals = StubExternals): PublishResult = {

    // S3 scan + P3/P4 derive; a non-numeric raw_id becomes a null id,
    // which J7 drops, instead of failing the run under ANSI casts
    val segs = IoOps.readTsv(spark, segTsv, segSchema)
      .withColumn("id", regexp_replace(col("raw_id"), "f", "").try_cast("double")) // P4
      .withColumn("duration", round(col("end") - col("start"), 4))                 // P3
    // 2.2-F4/A12 band + J6 exclusion: a (book_id, id) with any copy out of
    // band loses every copy. One window pass over the file, not a
    // self-anti-join that scans it once per side. Null keys group here
    // where the anti-join kept them; J7 drops them either way.
    val outOfBand = coalesce(!col("duration").between(minDur, maxDur), lit(false))
    val kept = segs
      .withColumn("excluded", max(outOfBand).over(Window.partitionBy("book_id", "id")))
      .filter(!col("excluded"))

    // S8/W4: per-book text lines with 0-based ids; J7: id-1 arithmetic join
    val lines = IoOps.readTextLines(spark, linesPath)
      .select(regexp_extract(col("line"), "^([^|]+)\\|", 1).as("book_id"),
        regexp_extract(col("line"), "^[^|]+\\|(\\d+)\\|", 1).cast("double").as("line_no"),
        regexp_extract(col("line"), "^[^|]+\\|\\d+\\|(.*)$", 1).as("text"))
    val utts = kept.alias("s")
      .join(lines.alias("l"),
        col("s.book_id") === col("l.book_id") &&
          col("s.id") - 1 === col("l.line_no"), "inner")                       // J7
      .select(col("s.speaker_id"), col("s.book_id"),
        col("s.id").cast("int").as("utt_idx"), col("s.start"), col("s.end"),
        col("s.duration"), col("l.text"))
      // Consumers: the md5 sample, the QC semi-join (corpus hours, publish).
      .checkpointed()

    // O4: per-book fractional sample (min 1), md5-keyed determinism
    val w = Window.partitionBy("book_id")
    val sampled = utts
      .withColumn("rn", row_number().over(w.orderBy(
        md5(concat_ws("_", col("book_id"), col("utt_idx"))), col("utt_idx"))))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("rn") <= greatest(floor(col("cnt") * samplePct), lit(1)))

    // stub ASR + A8 corpus WER + 2.2-F7 gate
    val transcribed = sampled.withColumn("hyp",
      udf((t: String) => ext.transcribe(Array.empty[Float], t)).apply(col("text")))
    val bookWer = transcribed.groupBy("book_id")
      .agg(WerAgg.asUdaf(col("text"), col("hyp")).as("corpus_wer"))            // A8
      // Consumers: the QC gate below, the caller's bookWer.
      .checkpointed()
    val qualifiedBooks = bookWer.filter(col("corpus_wer") < werThreshold)      // 2.2-F7
      .select("book_id")
    val qualified = utts.join(broadcast(qualifiedBooks), Seq("book_id"), "left_semi") // J5

    // A4 duration sum + A9 speaker label encode + K4 publish
    // coalesce: sum over zero qualified rows is null — an empty corpus
    // reports 0 hours instead of NPEing the publish run.
    val corpusHours = qualified.agg(
      coalesce(sum(col("duration").cast("decimal(18,4)")).cast("double"), lit(0.0))
        .divide(3600.0).as("h")).collect()(0).getDouble(0)
    val published = EncodeOps.dictEncode(qualified, "speaker_id", "speaker_label")
      // Consumers: the JSONL write, the caller's utterances.
      .checkpointed()
    IoOps.writeJsonl(published.orderBy("book_id", "utt_idx"), outDir)          // K4
    PublishResult(published, bookWer, corpusHours)
  }

  /** K6 — cut each utterance out of its book's decoded audio and write
    * `<book>_<idx>.wav` + `.txt` pairs (reference aeneas_batch_align.py
    * :329-424 per-utterance cuts, process_all.py:429-432 soundfile.write).
    *
    * Utterance spans are collect_list'd per book FIRST so each book's
    * sample array is joined exactly once (spans per book are bounded;
    * book audio is the heavy side), then sliced and written
    * executor-side — no per-segment subprocess, no driver collect.
    * The span lists are pinned as the broadcast side: left to AQE, a
    * small corpus has both sides under the broadcast threshold and the
    * side whose stage finished first was broadcast, in some passes the
    * float arrays. With the pin the sample arrays never leave the
    * partition that holds them; a shuffle-hash join with the spans as
    * build side, the other pin that keeps them out of a broadcast,
    * shuffles them and took 964 vs 805 ms median for this step of a
    * corpus pass (4-core VM, 10 alternating same-JVM pairs, the
    * broadcast won 9). The span table is text, about 100 bytes
    * per utterance, so a 10^6-utterance call broadcasts about 100 MB.
    * `outDir` must be executor-visible storage.
    *
    * @param utts      rows of (book_id, utt_idx: int, start, end: double, text)
    * @param bookAudio rows of (book_id, samples: array<float>, sr: int)
    * @return number of utterance pairs written
    */
  def materializeUtterances(
      utts: DataFrame, bookAudio: DataFrame, outDir: String): Long = {
    val spans = utts.groupBy("book_id").agg(
      collect_list(struct(col("utt_idx"), col("start"), col("end"), col("text")))
        .as("spans"))
    val joined = broadcast(spans).join(bookAudio, Seq("book_id"))
      .select(col("book_id"), col("spans"), col("samples"), col("sr").cast("int"))
    val perBook = joined.mapPartitions { rows =>
      // Executor-side mkdir (idempotent, once per partition): a
      // driver-side mkdir only exists on the driver's filesystem on a
      // real cluster and every writing task would fail.
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      rows.map { r =>
        val book = r.getString(0)
        val samples = r.getSeq[Float](2).toArray
        val sr = r.getInt(3)
        val ss = r.getSeq[org.apache.spark.sql.Row](1)
        ss.foreach { s =>
          val stem = f"${book}_${s.getInt(0)}%04d"
          val cut = graft.operators.AudioOps.sliceSeconds(
            samples, sr, s.getDouble(1), s.getDouble(2))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, stem + ".wav"),
            graft.operators.AudioOps.encodePcm16Wav(cut, sr))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, stem + ".txt"),
            s.getString(3).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        ss.length.toLong
      }
    }(org.apache.spark.sql.Encoders.scalaLong)
    perBook.agg(coalesce(sum(col("value")), lit(0L))).collect()(0).getLong(0)
  }
}
