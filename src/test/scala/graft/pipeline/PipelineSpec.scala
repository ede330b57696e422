package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{PlanWalk, TestSpark}
import graft.obs.Tally
import graft.io.IoOps

/** [[StubExternals]] with a count of each expensive per-row call. Spark
  * ships the externals into tasks by serialisation, so the counts live in
  * this JVM-wide object (local mode runs every task in the driver JVM). */
object CountingExternals extends Externals {
  val fetches, pdfs, transcripts = new AtomicLong
  def reset(): Unit = Seq(fetches, pdfs, transcripts).foreach(_.set(0))

  override def fetchBookMetadata(url: String): BookMeta = {
    fetches.incrementAndGet(); StubExternals.fetchBookMetadata(url)
  }
  override def extractPdfText(bytes: Array[Byte]): String = {
    pdfs.incrementAndGet(); StubExternals.extractPdfText(bytes)
  }
  override def decodeAudio(bytes: Array[Byte]): (Array[Float], Int) =
    StubExternals.decodeAudio(bytes)
  override def transcribe(samples: Array[Float], refText: String): String = {
    transcripts.incrementAndGet(); StubExternals.transcribe(samples, refText)
  }
  override def resizeImage(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
    StubExternals.resizeImage(bytes, w, h)
}

/** End-to-end golden tests for the three §3 pipelines over FIXTURES.md
  * shapes, externals stubbed deterministically. */
class PipelineSpec extends AnyFunSuite {
  import PipelineSpec.PassOut
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // ------------------------------------------------------------ §3.1
  test("CatalogPipeline: fetch -> widen -> filter -> CSV") {
    val urls = tmp("cat_urls")
    val lines = Seq(
      "http://a/book1, http://t/book1, thuviensach",
      "http://a/book2, http://t/book2, taisachhay",
      "http://a/tvshows/bad, http://t/bad, thuviensach",
      "http://a/book3, http://t/book3, invalid").toDF("line")
    graft.io.IoOps.writeTextLines(lines, "line", urls)
    val out = tmp("cat_out")
    val catalog = CatalogPipeline.run(spark, urls + "/*.txt", out)

    // invalid source dropped (F11) and tvshows filtered (2.2-F1)
    val audioUrls = catalog.select("audio_url").as[String].collect()
    assert(audioUrls.toSet == Set("http://a/book1", "http://a/book2"))
    // narrator wide columns exist up to the observed max (A6/F13)
    assert(catalog.columns.contains("narrator_1_name"))
    // duration parsed to hours (F1), name slugified (F2), id content-keyed (F16)
    val r = catalog.filter(col("audio_url") === "http://a/book1").collect()(0)
    assert(!r.isNullAt(r.fieldIndex("duration_hours")))
    assert(!r.getAs[String]("name").exists(_.isUpper))
    assert(r.getAs[String]("id").matches("[0-9a-f]{8}"))
    // K1 sink wrote a header CSV
    assert(Files.list(Paths.get(out)).toArray.exists(_.toString.endsWith(".csv")))
  }

  // ------------------------------------------------------------ §3.2
  private def writeWav(path: java.nio.file.Path, sr: Int, samples: Array[Short]): Unit = {
    val dataBytes = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(StandardCharsets.US_ASCII)).putInt(36 + dataBytes)
      .put("WAVE".getBytes(StandardCharsets.US_ASCII))
      .put("fmt ".getBytes(StandardCharsets.US_ASCII)).putInt(16)
      .putShort(1).putShort(1).putInt(sr).putInt(sr * 2).putShort(2).putShort(16)
      .put("data".getBytes(StandardCharsets.US_ASCII)).putInt(dataBytes)
    samples.foreach(bb.putShort)
    Files.write(path, bb.array())
  }

  test("PreprocessPipeline text: extract -> tokenize -> normalize -> regroup -> metrics") {
    val pdfs = tmp("pp_pdf")
    val d = Paths.get(pdfs, "spk1"); Files.createDirectories(d)
    val text = ("one two three four five six seven eight. " * 6) +
      "alpha beta gamma delta epsilon zeta eta theta iota kappa."
    Files.write(d.resolve("bookA_1.pdf"), text.getBytes(StandardCharsets.US_ASCII))
    val (grouped, metrics) = PreprocessPipeline.processText(spark, pdfs + "/*/*.pdf")
    val g = grouped.orderBy("grp_idx").collect()
    assert(g.nonEmpty)
    // every emitted group except possibly the tail reaches the threshold
    val wcs = g.map(_.getLong(3))
    assert(wcs.init.forall(_ >= PreprocessPipeline.RegroupThreshold))
    assert(wcs.last >= PreprocessPipeline.RegroupThreshold / 2)
    val m = metrics.collect()(0)
    assert(m.getAs[Long]("word_count") == wcs.sum)
  }

  test("PreprocessPipeline text over REAL PDFs: native extract feeds the " +
      "same tokenize -> regroup -> metrics chain") {
    // r13: S10 is no longer stub-only — JavaSoundExternals routes
    // %PDF- payloads through the native PdfText extractor (linear
    // object scan + FlateDecode + BT/ET text operators), so the text
    // phase runs end-to-end on structurally valid, Flate-compressed
    // PDF documents.
    val pdfs = tmp("pp_realpdf")
    val d = Paths.get(pdfs, "spk1"); Files.createDirectories(d)
    val sentences = (1 to 6).map(i =>
      s"sentence number $i carries exactly eight words total.")
    val pageOps = sentences.grouped(3).map { page =>
      "BT /F1 12 Tf " +
        page.map(s => s"($s) Tj T*").mkString(" ") + " ET"
    }.toSeq
    Files.write(d.resolve("bookR_1.pdf"),
      graft.operators.PdfFixtures.makePdf(pageOps, compress = true))
    val (grouped, metrics) = PreprocessPipeline.processText(
      spark, pdfs + "/*/*.pdf", ext = JavaSoundExternals)
    val g = grouped.orderBy("grp_idx").collect()
    assert(g.nonEmpty, "no regrouped lines from the real-PDF path")
    // 6 sentences x 8 words = 48 words end to end, none dropped; the
    // 20-word regroup threshold packs them into 2 lines of 24 (W3)
    val m = metrics.collect()(0)
    assert(m.getAs[String]("book_id") == "bookR")
    assert(m.getAs[Long]("word_count") == 48L, m.toString)
    assert(m.getAs[Long]("num_sentences") == g.length.toLong, m.toString)
    assert(g.length == 2, g.mkString(", "))
  }

  test("PreprocessPipeline audio: decode -> gate -> resample -> normalize -> concat") {
    val wavs = tmp("pp_wav")
    val d = Paths.get(wavs, "spk1"); Files.createDirectories(d)
    // bookA: two 24k parts; bookB: one 8k part (fails the 16k gate)
    writeWav(d.resolve("bookA_1.wav"), 24000, Array.tabulate(2400)(i => (i % 1000).toShort))
    writeWav(d.resolve("bookA_2.wav"), 24000, Array.tabulate(1200)(i => (i % 500).toShort))
    writeWav(d.resolve("bookB_1.wav"), 8000, Array.tabulate(800)(i => (i % 100).toShort))
    val out = PreprocessPipeline.processAudio(spark, wavs + "/*/*.wav")
      .orderBy("book_id").collect()
    val a = out(0); val b = out(1)
    assert(a.getAs[String]("book_id") == "bookA")
    assert(a.getAs[Boolean]("qualified"))
    assert(a.getAs[Long]("n_samples") == 3600) // 2400 + 1200 at native 24k
    assert(!b.getAs[Boolean]("qualified"))     // 8k < 16k min
    assert(b.getAs[Long]("n_samples") == 2400) // 800 upsampled 8k -> 24k
    assert(math.abs(a.getAs[Double]("audio_duration_s") - 0.15) < 1e-9)
  }

  test("processAudio: a mixed-rate book's row equals the concatenated, normalised book's") {
    val wavs = tmp("pp_wav_mixed")
    val d = Paths.get(wavs, "spk1"); Files.createDirectories(d)
    val parts = Map(
      "bookM" -> Seq(24000 -> 2400, 22050 -> 1777, 16000 -> 1001),
      "bookN" -> Seq(44100 -> 4411, 8000 -> 803, 24000 -> 240))
    for ((b, ps) <- parts; ((sr, n), k) <- ps.zipWithIndex)
      writeWav(d.resolve(s"${b}_${k + 1}.wav"), sr,
        Array.tabulate(n)(i => ((i * 37 + k * 11) % 2000 - 1000).toShort))
    // the reference: the whole book concatenated and peak-normalised
    import graft.operators.AudioOps._
    val expected = parts.map { case (b, ps) =>
      val decoded = ps.indices.map(k => StubExternals.decodeAudio(
        Files.readAllBytes(d.resolve(s"${b}_${k + 1}.wav"))))
      val book = peakNormalize(concatParts(
        decoded.map { case (s, sr) => linearResample(s, sr, 24000) }))
      PreprocessPipeline.BookAudio(b, 24000, book.length.toLong,
        book.length.toDouble / 24000, decoded.map(_._2).min >= PreprocessPipeline.MinSr)
    }.toSet
    val got = PreprocessPipeline.processAudio(spark, wavs + "/*/*.wav")
      .as[PreprocessPipeline.BookAudio].collect().toSet
    assert(got == expected)
    assert(got.map(r => r.book_id -> r.qualified).toMap == Map("bookM" -> true, "bookN" -> false))
  }

  test("PreprocessPipeline merge: metrics upsert into catalog (J3)") {
    val catalog = Seq(
      ("b1", Some(10L), None: Option[Long], None: Option[Long], None: Option[Int], None: Option[String]),
      ("b2", None, None, None, None, None))
      .toDF("id", "word_count", "num_sentences", "text_size", "sample_rate", "quality")
    val textM = Seq(("b1", 100L, 5L, 999L)).toDF("book_id", "word_count", "num_sentences", "text_size")
    val audioM = Seq(("b2", 24000, true)).toDF("book_id", "sample_rate", "qualified")
    val merged = PreprocessPipeline.updateCatalog(catalog, textM, audioM)
      .orderBy("id").collect()
    assert(merged(0).getAs[Long]("word_count") == 100L) // updated
    assert(merged(1).getAs[Int]("sample_rate") == 24000)
    assert(merged(1).getAs[String]("quality") == "true")
  }

  // ------------------------------------------------------------ §3.3
  test("AlignPublishPipeline: outliers -> line join -> QC gate -> publish") {
    val segDir = tmp("ap_seg"); val linesDir = tmp("ap_lines"); val outDir = tmp("ap_out")
    // 6 segments for bookA (one 0.5s outlier, one out-of-range id), 2 for bookB
    val segRows = Seq(
      "0.0\t5.0\tf1\tbookA\tspk1", "5.0\t10.0\tf2\tbookA\tspk1",
      "10.0\t10.5\tf3\tbookA\tspk1", // outlier: 0.5s
      "10.5\t16.0\tf4\tbookA\tspk1", "16.0\t21.0\tf5\tbookA\tspk1",
      "21.0\t99.0\tf9\tbookA\tspk1", // id 9 has no text line -> dropped by J7
      "0.0\t4.0\tf1\tbookB\tspk2", "4.0\t8.0\tf2\tbookB\tspk2")
    graft.io.IoOps.writeTextLines(segRows.toDF("line"), "line", segDir)
    // text lines: book|line_no|text — 5 lines for bookA, 2 for bookB
    val lineRows = (0 until 5).map(i =>
      s"bookA|$i|" + ("w " * 20).trim) ++ Seq("bookB|0|short words here", "bookB|1|more words again")
    graft.io.IoOps.writeTextLines(lineRows.toDF("line"), "line", linesDir)

    val res = AlignPublishPipeline.run(spark, segDir + "/*.txt", linesDir + "/*.txt",
      outDir, samplePct = 0.5, werThreshold = 20.0)
    val utts = res.utterances
    // outlier excluded (J6), out-of-range id dropped (J7)
    assert(utts.filter(col("book_id") === "bookA").count() == 4)
    // WER: stub drops every 7th word -> bookA refs 20 words => ~14% < 20 kept;
    // bookB refs 3 words -> 0 dropped within 3 words? (indices 0..2, none %7==6) -> 0 WER
    val wer = res.bookWer.orderBy("book_id").collect()
    assert(wer.forall(_.getDouble(1) < 20.0))
    // speaker labels dense from 1 (A9)
    val labels = utts.select("speaker_label").distinct().as[Long].collect().sorted
    assert(labels.head == 1L)
    assert(res.corpusHours > 0)
    assert(Files.list(Paths.get(outDir)).toArray.exists(_.toString.endsWith(".json")))
  }

  test("AlignPublishPipeline: the outlier exclusion drops every copy of an id and scans the segments once") {
    val segDir = tmp("ap_seg1"); val linesDir = tmp("ap_lines1")
    val segRows = Seq(
      "0.0\t5.0\tf1\tbookA\tspk1",
      "5.0\t10.0\tf2\tbookA\tspk1", "10.0\t10.5\tf2\tbookA\tspk1", // id 2 twice, one copy 0.5 s
      "10.5\t16.0\tf3\tbookA\tspk1",
      "16.0\t21.0\tfx\tbookA\tspk1", // non-numeric id: null, no line joins it
      "0.0\t4.0\tf2\tbookB\tspk2")   // id 2 of another book stays
    IoOps.writeTextLines(segRows.toDF("line"), "line", segDir)
    val lineRows = (0 until 5).map(i => s"bookA|$i|a b c") ++ Seq("bookB|0|d e f", "bookB|1|g h i")
    IoOps.writeTextLines(lineRows.toDF("line"), "line", linesDir)
    var res: AlignPublishPipeline.PublishResult = null
    val plans = plansOf {
      res = AlignPublishPipeline.run(spark, segDir + "/*.txt", linesDir + "/*.txt", tmp("ap_out1"))
    }
    val kept = res.utterances.select("book_id", "utt_idx").as[(String, Int)].collect().toSet
    assert(kept == Set(("bookA", 1), ("bookA", 3), ("bookB", 2)), kept)
    val segScans = plans.flatMap(PlanWalk.nodes).collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.toString.contains(segDir)) => f
    }
    assert(segScans.length == 1, segScans.mkString("\n"))
  }

  test("AlignPublishPipeline.materializeUtterances: K6 wav/txt pairs, sample-exact cuts") {
    import graft.operators.AudioOps
    val outDir = tmp("ap_wav")
    val sr = 8000
    // bookA: 2s ramp; utterance 1 = [0.5s, 1.0s), utterance 2 = [1.0s, 2.0s)
    val samples = Array.tabulate(2 * sr)(i => (i % 1000) / 2000.0f)
    val bookAudio = Seq(("bookA", samples.toSeq, sr)).toDF("book_id", "samples", "sr")
    val utts = Seq(
      ("bookA", 1, 0.5, 1.0, "first utterance"),
      ("bookA", 2, 1.0, 2.0, "second utterance"))
      .toDF("book_id", "utt_idx", "start", "end", "text")
    val n = AlignPublishPipeline.materializeUtterances(utts, bookAudio, outDir)
    assert(n == 2L)
    val (cut1, sr1) = AudioOps.decodePcm16Wav(
      Files.readAllBytes(Paths.get(outDir, "bookA_0001.wav")))
    assert(sr1 == sr && cut1.length == sr / 2)
    // byte-exact round-trip of the slice: re-encoding the decoded cut
    // reproduces the file, and the cut equals the quantized source span
    val expected = AudioOps.decodePcm16Wav(AudioOps.encodePcm16Wav(
      AudioOps.sliceSeconds(samples, sr, 0.5, 1.0), sr))._1
    assert(cut1.sameElements(expected))
    assert(new String(Files.readAllBytes(Paths.get(outDir, "bookA_0002.txt")),
      java.nio.charset.StandardCharsets.UTF_8) == "second utterance")
  }

  // ------------------------------------------------------- whole pass
  private val passBooks = Seq("bookA", "bookB")
  // Three 4 s segments per book, ids 1..3, each with a text line.
  private val passSegments = 3
  // floor(3 * 0.7) = 2 sampled utterances per book
  private val passSamplePct = 0.7
  private val passSampled = passBooks.length * 2

  /** The inputs of [[corpusPass]] under `root`: two valid urls, one
    * tvshows url (fetched, then filtered) and one invalid url; one PDF per
    * book that regroups into 4 lines; three segments per book. */
  private def writePassInputs(root: Path): Unit = {
    def file(rel: String, text: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, text.getBytes(StandardCharsets.UTF_8))
    }
    file("urls/urls.txt", (passBooks.map(b => s"http://a/$b, http://t/$b, thuviensach") ++
      Seq("http://a/tvshows/x, http://t/x, taisachhay", "http://a/bad, http://t/bad, invalid"))
      .mkString("", "\n", "\n"))
    passBooks.foreach(b => file(s"pdf/spk1/${b}_1.pdf", "mot hai ba bon nam sau bay tam. " * 12))
    file("segments/seg.tsv", passBooks.flatMap(b => (1 to passSegments).map(i =>
      s"${(i - 1) * 4.0}\t${i * 4.0}\tf$i\t$b\tspk1")).mkString("", "\n", "\n"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Every line of every data file under `dir`, sorted (part-file names
    * differ between runs); the utterance pairs by file name and md5. */
  private def written(dir: Path): Seq[String] =
    Files.walk(dir).iterator.asScala.filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_"))
      .flatMap { p =>
        val bytes = Files.readAllBytes(p)
        if (dir.getFileName.toString == "utterances")
          Seq(p.getFileName.toString + " " + java.security.MessageDigest.getInstance("MD5")
            .digest(bytes).map("%02x".format(_)).mkString)
        else new String(bytes, StandardCharsets.UTF_8).split("\n").toSeq
      }.toSeq.sorted

  /** One pass of the paper's pipeline over the [[writePassInputs]] corpus,
    * chained as a corpus pass chains it: catalog, text phase with its
    * lines write, catalog upsert, align/publish, the caller's WER read,
    * utterance materialisation. */
  private def corpusPass(ext: Externals): PassOut = {
    val root = Files.createTempDirectory("corpus_pass")
    writePassInputs(root)
    val catalog = CatalogPipeline.run(spark, s"$root/urls/*.txt", s"$root/catalog", ext)
    val (grouped, textM) = PreprocessPipeline.processText(spark, s"$root/pdf/*/*.pdf", ext)
    IoOps.writeTextLines(
      grouped.select(concat_ws("|", col("book_id"), col("grp_idx"), col("grp_text")).as("line")),
      "line", s"$root/lines")
    val audioM = passBooks.map(b => (b, 24000, true)).toDF("book_id", "sample_rate", "qualified")
    val upserted = PreprocessPipeline.updateCatalog(catalog, textM, audioM)
    val res = AlignPublishPipeline.run(spark, s"$root/segments/*.tsv", s"$root/lines/*.txt",
      s"$root/publish", samplePct = passSamplePct, ext = ext)
    val returned = Map("catalog" -> rows(catalog), "upserted" -> rows(upserted),
      "textMetrics" -> rows(textM), "bookWer" -> rows(res.bookWer),
      "utterances" -> rows(res.utterances))
    val bookAudio = passBooks.map(b =>
      (b, Seq.tabulate(passSegments * 4 * 1000)(i => (i % 100) / 200.0f), 1000))
      .toDF("book_id", "samples", "sr")
    val pairs = AlignPublishPipeline.materializeUtterances(
      res.utterances, bookAudio, s"$root/utterances")
    PassOut(returned, res.corpusHours, pairs,
      Seq("catalog", "lines", "publish", "utterances").map(d => d -> written(root.resolve(d))).toMap)
  }

  test("a pass calls each expensive external once per input") {
    CountingExternals.reset()
    val out = corpusPass(CountingExternals)
    assert(out.pairs == passBooks.length * passSegments)
    assert(CountingExternals.pdfs.get == passBooks.length, "PDF extractions")
    // the tvshows row is fetched (its filter reads the fetched url), the invalid one is not
    assert(CountingExternals.fetches.get == passBooks.length + 1, "metadata fetches")
    assert(CountingExternals.transcripts.get == passSampled, "transcriptions")
  }

  test("a pass writes and returns the same under reliable checkpoints as under local ones") {
    val local = corpusPass(StubExternals)
    val reliable = TestSpark.reliable(_ => corpusPass(StubExternals))
    assert(local.written.values.forall(_.nonEmpty), local.written)
    assert(reliable == local)
  }

  /** The executed plans of the queries `f` runs. */
  private def plansOf(f: => Unit): Seq[SparkPlan] = Tally.of(spark)(f)._2.plans

  test("processAudio shuffles once, the compressed parts, never decoded samples") {
    val wavs = tmp("pp_wav1")
    val d = Paths.get(wavs, "spk1"); Files.createDirectories(d)
    for (b <- Seq("bookA", "bookB"); k <- 1 to 3)
      writeWav(d.resolve(s"${b}_$k.wav"), 24000, Array.tabulate(240 * k)(i => (i % 100).toShort))
    var out: Array[org.apache.spark.sql.Row] = null
    val plans = plansOf { out = PreprocessPipeline.processAudio(spark, wavs + "/*/*.wav").collect() }
    assert(out.map(r => r.getAs[String]("book_id") -> r.getAs[Long]("n_samples")).toMap ==
      Map("bookA" -> 1440L, "bookB" -> 1440L))
    val shuffles = plans.flatMap(PlanWalk.nodes).collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.length == 1, shuffles.mkString("\n"))
    val input = shuffles.head.child.output.map(_.name)
    assert(input.contains("content") && !input.contains("samples"), input)
  }

  test("the catalog CSV and the publish JSONL are one sorted file each, written without a range exchange") {
    val root = Files.createTempDirectory("sorted_sinks")
    def file(rel: String, lines: Seq[String]): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    // hash-derived stub names arrive in no particular order
    file("urls/urls.txt", (1 to 12).map(i => s"http://a/b$i, http://t/b$i, thuviensach"))
    // 11 utterances per book, books listed out of order: utt_idx 10 and 11
    // sort after 9 only numerically
    val books = Seq("bookC", "bookA", "bookB")
    file("segments/seg.tsv", books.flatMap(b => (1 to 11).map(i =>
      s"${(i - 1) * 4.0}\t${i * 4.0}\tf$i\t$b\tspk1")))
    file("lines/lines.txt", books.flatMap(b => (0 until 11).map(i => s"$b|$i|a b c")))
    val plans = plansOf {
      CatalogPipeline.run(spark, s"$root/urls/*.txt", s"$root/catalog")
      AlignPublishPipeline.run(spark, s"$root/segments/*.tsv", s"$root/lines/*.txt", s"$root/publish")
    }
    val writes = plans.filter(PlanWalk.nodes(_).exists(_.isInstanceOf[WriteFilesExec]))
    assert(writes.length == 2, plans.mkString("\n"))
    val ranged = writes.flatMap(PlanWalk.nodes).collect {
      case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[RangePartitioning] => s
    }
    assert(ranged.isEmpty, ranged.mkString("\n"))
    def onePart(dir: String, suffix: String): String = {
      val parts = Files.list(root.resolve(dir)).iterator.asScala
        .filter(_.getFileName.toString.endsWith(suffix)).toSeq
      assert(parts.length == 1, parts)
      parts.head.toString
    }
    val names = spark.read.option("header", "true").csv(onePart("catalog", ".csv"))
      .select("name").as[String].collect().toSeq
    assert(names.length == 12 && names == names.sorted, names)
    val keys = spark.read.json(onePart("publish", ".json"))
      .select("book_id", "utt_idx").as[(String, Long)].collect().toSeq
    assert(keys.length == 33 && keys == keys.sorted, keys)
  }

  test("materializeUtterances never broadcasts the book audio") {
    // Both sides fit the broadcast threshold. The span side is built from
    // an RDD, whose size Spark cannot estimate, and finishes last (its
    // rows pass a slow udf); the audio side is shaped as a corpus pass
    // builds it (parts concatenated per book by groupByKey). Left to
    // choose, Spark broadcasts the audio here on every run.
    val slow = udf { (t: String) => Thread.sleep(200); t }
    val spans = passBooks.flatMap(b => (1 to 2).map(i => (b, i, i - 1.0, i.toDouble, s"$b $i")))
      .toDF("book_id", "utt_idx", "start", "end", "text")
    val utts = spark.createDataFrame(spans.rdd, spans.schema)
      .withColumn("text", slow(col("text")))
    val bookAudio = passBooks.flatMap(b => (1 to 2).map(k => (b, k, Array.tabulate(1500)(_ / 3000.0f))))
      .toDS().groupByKey(_._1)
      .mapGroups((b, parts) => (b, parts.toSeq.sortBy(_._2).flatMap(_._3.toSeq).toArray))
      .toDF("book_id", "samples").withColumn("sr", lit(1000))
    var n = 0L
    val plans = plansOf {
      n = AlignPublishPipeline.materializeUtterances(utts, bookAudio, tmp("ap_pin"))
    }
    assert(n == 4L)
    def carriesSamples(p: SparkPlan) = p.output.exists(_.name == "samples")
    val joins = plans.filter(PlanWalk.nodes(_).exists(carriesSamples))
    assert(joins.nonEmpty, "no executed plan read the book audio")
    val audioBroadcasts = joins.flatMap(PlanWalk.nodes).collect {
      case b: BroadcastExchangeExec if carriesSamples(b.child) => b
    }
    assert(audioBroadcasts.isEmpty, audioBroadcasts.mkString("\n"))
  }
}

object PipelineSpec {
  /** What a pass returned and wrote, comparable by value across passes. */
  private final case class PassOut(
      returned: Map[String, Seq[String]], corpusHours: Double, pairs: Long,
      written: Map[String, Seq[String]])
}
