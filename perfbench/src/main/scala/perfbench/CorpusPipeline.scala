package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.IoOps
import graft.operators.AudioOps
import graft.pipeline._

/** Decoder counters. Spark ships the externals into tasks by
  * serialisation, so the counts live in this JVM-wide object (local mode
  * runs every task in the driver JVM). */
object ExternStats {
  val counters: Map[String, LongAdder] = Seq(
    "pdf_calls", "pdf_ns", "pdf_bytes", "audio_calls", "audio_ns", "audio_bytes", "failures")
    .map(_ -> new LongAdder).toMap
  def snapshot: Map[String, Long] = counters.map { case (k, v) => k -> v.sum }
}

/** The traced run's decoder binding: times and counts each call, then
  * delegates to [[JavaSoundExternals]]. */
object TimingExternals extends Externals {
  private def timed[T](kind: String, bytes: Int)(f: => T): T = {
    val t = System.nanoTime()
    try f
    catch { case e: Throwable => ExternStats.counters("failures").increment(); throw e }
    finally {
      ExternStats.counters(s"${kind}_calls").increment()
      ExternStats.counters(s"${kind}_ns").add(System.nanoTime() - t)
      ExternStats.counters(s"${kind}_bytes").add(bytes)
    }
  }
  override def fetchBookMetadata(url: String): BookMeta = JavaSoundExternals.fetchBookMetadata(url)
  override def extractPdfText(bytes: Array[Byte]): String =
    timed("pdf", bytes.length)(JavaSoundExternals.extractPdfText(bytes))
  override def decodeAudio(bytes: Array[Byte]): (Array[Float], Int) =
    timed("audio", bytes.length)(JavaSoundExternals.decodeAudio(bytes))
  override def transcribe(samples: Array[Float], refText: String): String =
    JavaSoundExternals.transcribe(samples, refText)
  override def resizeImage(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
    JavaSoundExternals.resizeImage(bytes, w, h)
}

/** In-memory transport: payloads by url from a broadcast, and a seeded
  * set of urls whose first attempt in a task fails. */
final class MemFetcher(payloads: Broadcast[Map[String, Array[Byte]]], failFirst: Set[String])
    extends DownloadStage.Fetcher {
  @transient private lazy val failed = mutable.Set[String]()
  override def fetch(url: String): Array[Byte] = {
    if (failFirst(url) && failed.add(url)) throw new java.io.IOException(s"transient failure: $url")
    payloads.value.getOrElse(url, throw new java.io.FileNotFoundException(url))
  }
  override def backoff(retry: Int): Unit = ()
}

/** What one pipeline iteration produced, as the checks read it. */
final case class CorpusObserved(
    downloadsOk: Int, downloadAttempts: Long, downloadBytes: Long,
    textWords: Map[String, Long],
    audio: Map[String, (Boolean, Double)],
    catalog: Map[String, (Long, String)],
    wer: Map[String, Double],
    corpusHours: Double,
    pairs: Long)

object CorpusChecks {
  /** Every mismatch between an iteration's outputs and the generator's
    * expectations; empty when the iteration is correct. */
  def check(c: CorpusInputs.Corpus, o: CorpusObserved): Seq[String] = {
    val tasks = c.books.map(1 + _.parts.length).sum
    val ids = c.books.map(_.id).toSet
    val errs = mutable.ArrayBuffer[String]()
    def want(cond: Boolean, msg: => String): Unit = if (!cond) errs += msg
    want(o.downloadsOk == tasks, s"downloads ok ${o.downloadsOk} != $tasks")
    want(o.downloadAttempts == tasks + c.failFirst.size,
      s"download attempts ${o.downloadAttempts} != ${tasks + c.failFirst.size}")
    want(o.catalog.keySet == ids, s"catalog ids ${o.catalog.keySet} != $ids")
    want(o.textWords.keySet == ids, s"text books ${o.textWords.keySet} != $ids")
    want(o.audio.keySet == ids, s"audio books ${o.audio.keySet} != $ids")
    want(o.wer.keySet == ids, s"WER books ${o.wer.keySet} != $ids")
    c.books.foreach { b =>
      o.textWords.get(b.id).foreach(w => want(w == b.words, s"${b.id}: words $w != ${b.words}"))
      o.catalog.get(b.id).foreach { case (w, q) =>
        want(w == b.words, s"${b.id}: catalog word_count $w != ${b.words}")
        want(q == b.qualified.toString, s"${b.id}: catalog quality $q != ${b.qualified}")
      }
      o.audio.get(b.id).foreach { case (q, d) =>
        want(q == b.qualified, s"${b.id}: sample-rate gate $q != ${b.qualified}")
        want(math.abs(d - b.audioSeconds) < 0.01, s"${b.id}: audio ${d}s != ${b.audioSeconds}s")
      }
      o.wer.get(b.id).foreach(w =>
        want(math.abs(w - CorpusInputs.ExpectedWer) < 1e-9, s"${b.id}: WER $w != ${CorpusInputs.ExpectedWer}"))
    }
    want(math.abs(o.corpusHours - c.corpusHours) <= 1e-12 * math.max(1.0, c.corpusHours),
      s"corpus hours ${o.corpusHours} != ${c.corpusHours}")
    want(o.pairs == c.materialized, s"utterance pairs ${o.pairs} != ${c.materialized}")
    errs.toSeq
  }
}

/** The paper's five-stage pipeline on the real decoders, one iteration per
  * operation: catalog -> download -> text and audio preprocessing ->
  * catalog upsert -> align/QC/publish -> utterance materialisation. */
final class CorpusPipeline(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._

  private var corpus: CorpusInputs.Corpus = _
  private var inputs: Path = _
  private var payloads: Broadcast[Map[String, Array[Byte]]] = _
  private val download = mutable.Map[String, Double]().withDefaultValue(0.0)

  // One pass takes seconds, so a run's budget would otherwise time a
  // single pass; two give the percentiles two samples.
  override def minOps: Int = 2

  override def generate(dir: Path): Unit = {
    val c = CorpusInputs.generate(seed)
    Files.createDirectories(dir.resolve("urls"))
    Files.write(dir.resolve("urls/urls.txt"), (c.urlLines.mkString("\n") + "\n").getBytes(UTF_8))
    Files.createDirectories(dir.resolve("segments"))
    Files.write(dir.resolve("segments/segments.tsv"), c.segmentTsv.getBytes(UTF_8))
    corpus = c
  }

  override def prepare(dir: Path): (Int, Int) = {
    inputs = dir
    payloads = spark.sparkContext.broadcast(corpus.payloads)
    val warm = op(-1, new Tracer(spark))
    cleanup(-1)
    if (!warm.ok) System.err.println(s"[perfbench] warm-up: ${warm.detail}")
    (1, if (warm.ok) 0 else 1)
  }

  private def iterDir(i: Int): Path = inputs.getParent.resolve(s"iter-$i")

  override def cleanup(i: Int): Unit = Main.deleteTree(iterDir(i))

  override def op(i: Int, tr: Tracer): OpResult = {
    val c = corpus
    val it = iterDir(i)
    val ext: Externals = if (tr.active) TimingExternals else JavaSoundExternals
    val pdfDir = it.resolve("downloads/pdf")
    val audioDir = it.resolve("downloads/audio")

    val catalog = tr.span("pipeline.catalog") {
      CatalogPipeline.run(spark, inputs.resolve("urls").toString + "/*.txt",
        it.resolve("catalog").toString, ext)
    }
    val status = tr.span("pipeline.download") {
      val tasks = c.books.flatMap { b =>
        (b.pdfUrl, pdfDir.resolve(s"${b.speaker}/${b.id}_1.pdf").toString) +:
          b.parts.map(p => (p.url, audioDir.resolve(s"${b.speaker}/${p.file}").toString))
      }.toDF("url", "dest")
      DownloadStage.run(tasks, new MemFetcher(payloads, c.failFirst))
        .select("ok", "attempts", "n_bytes").collect()
    }
    val textRows = tr.span("pipeline.text") {
      val (grouped, metrics) = PreprocessPipeline.processText(spark, s"$pdfDir/*/*.pdf", ext)
      IoOps.writeTextLines(
        grouped.select(concat_ws("|", col("book_id"), col("grp_idx"), col("grp_text")).as("line")),
        "line", it.resolve("lines").toString)
      metrics.collect()
    }
    val audioRows = tr.span("pipeline.audio") {
      PreprocessPipeline.processAudio(spark, s"$audioDir/*/*", ext).collect()
    }
    val catalogRows = tr.span("pipeline.upsert") {
      val textM = spark.createDataFrame(java.util.Arrays.asList(textRows: _*), textRows.head.schema)
      val audioM = spark.createDataFrame(java.util.Arrays.asList(audioRows.map(r =>
        Row(r.getAs[String]("book_id"), r.getAs[Int]("sample_rate"), r.getAs[Boolean]("qualified"))): _*),
        StructType(Seq(StructField("book_id", StringType), StructField("sample_rate", IntegerType),
          StructField("qualified", BooleanType))))
      PreprocessPipeline.updateCatalog(catalog, textM, audioM)
        .select("id", "word_count", "quality").collect()
    }
    val (published, werRows) = tr.span("pipeline.align_publish") {
      val r = AlignPublishPipeline.run(spark, inputs.resolve("segments").toString + "/*.tsv",
        it.resolve("lines").toString + "/*.txt", it.resolve("publish").toString, ext = ext)
      (r, r.bookWer.collect())
    }
    val qualified = audioRows.filter(_.getAs[Boolean]("qualified")).map(_.getAs[String]("book_id"))
    val pairs = tr.span("pipeline.materialize") {
      val bookAudio = IoOps.readBinaryTree(spark, s"$audioDir/*/*")
        .filter(col("book_id").isin(qualified.toIndexedSeq: _*))
        .select("book_id", "utt_idx", "content").as[(String, Int, Array[Byte])]
        .map { case (b, k, bytes) =>
          val (s, sr) = ext.decodeAudio(bytes)
          (b, k, AudioOps.linearResample(s, sr, PreprocessPipeline.TargetSr))
        }
        .groupByKey(_._1)
        .mapGroups((b, ps) => (b, AudioOps.concatParts(ps.toSeq.sortBy(_._2).map(_._3))))
        .toDF("book_id", "samples")
        .withColumn("sr", lit(PreprocessPipeline.TargetSr))
      AlignPublishPipeline.materializeUtterances(
        published.utterances.filter(col("book_id").isin(qualified.toIndexedSeq: _*)),
        bookAudio, it.resolve("utterances").toString)
    }

    val obs = CorpusObserved(
      downloadsOk = status.count(_.getBoolean(0)),
      downloadAttempts = status.map(_.getInt(1).toLong).sum,
      downloadBytes = status.map(_.getLong(2)).sum,
      textWords = textRows.map(r => r.getAs[String]("book_id") -> r.getAs[Long]("word_count")).toMap,
      audio = audioRows.map(r => r.getAs[String]("book_id") ->
        (r.getAs[Boolean]("qualified"), r.getAs[Double]("audio_duration_s"))).toMap,
      catalog = catalogRows.map(r => r.getString(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1), String.valueOf(r.get(2)))).toMap,
      wer = werRows.map(r => r.getString(0) -> r.getDouble(1)).toMap,
      corpusHours = published.corpusHours,
      pairs = pairs)
    if (tr.active) {
      download("download.attempts") += obs.downloadAttempts
      download("download.ok") += obs.downloadsOk
      download("download.bytes") += obs.downloadBytes
    }
    val errs = CorpusChecks.check(c, obs)
    OpResult(errs.isEmpty, c.books.length.toLong, "iteration", errs.mkString("; "))
  }

  override def layerMetrics(tr: Tracer, tracedOps: Int): Map[String, Double] = {
    val e = ExternStats.snapshot // only traced operations bind TimingExternals
    val spanMs = tr.allSpans.groupBy(_.name).view.mapValues(_.map(_.ms).sum).toMap
    val roots = tr.roots.map(_.ms).sum
    val stages = spanMs.filter(_._1.startsWith("pipeline.")).values.sum
    val books = corpus.books.length.toDouble * tracedOps
    def perMin(stage: String) =
      spanMs.get(stage).filter(_ > 0).map(ms => books / (ms / 60000.0)).getOrElse(0.0)
    Map(
      "extern.pdf_calls" -> e("pdf_calls").toDouble, "extern.pdf_ms" -> e("pdf_ns") / 1e6,
      "extern.pdf_bytes" -> e("pdf_bytes").toDouble,
      "extern.audio_calls" -> e("audio_calls").toDouble, "extern.audio_ms" -> e("audio_ns") / 1e6,
      "extern.audio_bytes" -> e("audio_bytes").toDouble, "extern.failures" -> e("failures").toDouble,
      "download.attempts" -> download("download.attempts"),
      "download.bytes" -> download("download.bytes"),
      "download.useful_ratio" ->
        (if (download("download.attempts") > 0) download("download.ok") / download("download.attempts") else 0.0),
      "pipeline.unexplained_ms" -> (roots - stages),
      "pipeline.text_docs_per_min" -> perMin("pipeline.text"),
      "pipeline.audio_books_per_min" -> perMin("pipeline.audio"))
  }
}
