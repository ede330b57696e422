package graft

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions.{col, concat_ws, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Tally
import graft.pipeline.{AlignPublishPipeline, CatalogPipeline, PreprocessPipeline}

/** A warm run reuses the classes its first run compiled: Spark's
  * generated-class cache holds the working set, and class names carry no
  * per-plan stage id (see [[Sessions]]). The signal is Spark's JVM-wide
  * count of compiled classes; the control shows that a never-seen plan
  * moves it, so a zero is not vacuous. */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def compilesOf(run: => Unit): Long = Tally.of(spark)(run)._2.compiles

  test("Sessions.builder sets the codegen cache size and id-free class names") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Sessions.CodegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("control: the first run of a never-seen plan compiles") {
    // A literal no earlier plan carried is inlined into the generated code.
    val fresh = System.nanoTime()
    val first = compilesOf(spark.range(10).select((col("id") * lit(fresh)).as("x")).collect())
    assert(first > 0)
    assert(compilesOf(spark.range(10).select((col("id") * lit(fresh)).as("x")).collect()) == 0)
  }

  private def wav(sr: Int, n: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + n * 2).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(US_ASCII)).putInt(36 + n * 2).put("WAVE".getBytes(US_ASCII))
      .put("fmt ".getBytes(US_ASCII)).putInt(16).putShort(1).putShort(1)
      .putInt(sr).putInt(sr * 2).putShort(2).putShort(16)
      .put("data".getBytes(US_ASCII)).putInt(n * 2)
    (0 until n).foreach(i => bb.putShort((i % 1000).toShort))
    bb.array()
  }

  /** One pass of the paper's pipeline over fresh directories, as each
    * corpus pass writes its own: catalog, text and audio phases, the
    * catalog upsert, align/publish and utterance materialisation. */
  private def pipelinePass(): Unit = {
    val root = Files.createTempDirectory("codegen_pass")
    def file(rel: String, bytes: Array[Byte]): Unit = {
      val p: Path = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    file("urls/urls.txt", ("http://a/bookA, http://t/bookA, thuviensach\n" +
      "http://a/bookB, http://t/bookB, taisachhay\n").getBytes(UTF_8))
    val catalog = CatalogPipeline.run(spark, s"$root/urls/*.txt", s"$root/catalog")
    val sentence = "mot hai ba bon nam sau bay tam chin muoi. "
    for (b <- Seq("bookA", "bookB")) {
      file(s"pdf/spk1/${b}_1.pdf", (sentence * 8).getBytes(US_ASCII))
      file(s"audio/spk1/${b}_1.wav", wav(24000, 2400))
      file(s"audio/spk1/${b}_2.wav", wav(22050, 2205))
    }
    val (grouped, textM) = PreprocessPipeline.processText(spark, s"$root/pdf/*/*.pdf")
    graft.io.IoOps.writeTextLines(
      grouped.select(concat_ws("|", col("book_id"), col("grp_idx"), col("grp_text")).as("line")),
      "line", s"$root/lines")
    val audioM = PreprocessPipeline.processAudio(spark, s"$root/audio/*/*.wav")
    PreprocessPipeline.updateCatalog(catalog, textM,
      audioM.select("book_id", "sample_rate", "qualified")).collect()
    file("segments/seg.tsv", Seq("bookA", "bookB").flatMap { b =>
      (1 to 3).map(i => s"${(i - 1) * 4.0}\t${i * 4.0}\tf$i\t$b\tspk1")
    }.mkString("", "\n", "\n").getBytes(UTF_8))
    val published = AlignPublishPipeline.run(spark, s"$root/segments/*.tsv",
      s"$root/lines/*.txt", s"$root/publish")
    published.bookWer.collect()
    val bookAudio = Seq(("bookA", Seq.tabulate(24000)(i => (i % 100) / 200.0f), 8000),
      ("bookB", Seq.tabulate(16000)(i => (i % 50) / 100.0f), 8000))
      .toDF("book_id", "samples", "sr")
    AlignPublishPipeline.materializeUtterances(published.utterances, bookAudio,
      s"$root/utterances")
  }

  test("a second pipeline pass compiles no class") {
    val first = compilesOf(pipelinePass())
    assert(first > 0, "the first pass compiled nothing: the counter does not see this path")
    assert(compilesOf(pipelinePass()) == 0)
  }

  test("a second run of the registry's former recompilers compiles no class") {
    val sfDir = "/root/testdata/sf0.001"
    Tables.registerAll(spark, sfDir)
    graft.functions.TextFns.registerAll(spark)
    val names = Seq("dedup_cc_best", "pipe_dedup_pass", "dedup_lsh_recall", "j2_zip_join",
      "t_cms_heavy", "a31_column_profile")
    // The form Bench times, written to the noop sink.
    def run(name: String): Unit =
      Bench.timedForm(spark, sfDir, name).write.format("noop").mode("overwrite").save()
    val warm = names.map { name =>
      run(name)
      name -> compilesOf(run(name))
    }
    assert(warm.forall(_._2 == 0), warm.mkString(", "))
  }
}
