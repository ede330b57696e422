package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every output check accepts the correct result and rejects each
  * deliberately corrupted one, so none of them is vacuous. */
class ChecksSpec extends AnyFunSuite {

  private val corpus = CorpusInputs.generate(4)

  /** What a correct iteration observes, derived from the generator. */
  private val good = {
    val tasks = corpus.books.map(1 + _.parts.length).sum
    CorpusObserved(
      downloadsOk = tasks, downloadAttempts = tasks + corpus.failFirst.size.toLong,
      downloadBytes = corpus.payloads.values.map(_.length.toLong).sum,
      textWords = corpus.books.map(b => b.id -> b.words).toMap,
      audio = corpus.books.map(b => b.id -> ((b.qualified, b.audioSeconds))).toMap,
      catalog = corpus.books.map(b => b.id -> ((b.words, b.qualified.toString))).toMap,
      wer = corpus.books.map(_.id -> CorpusInputs.ExpectedWer).toMap,
      corpusHours = corpus.corpusHours,
      pairs = corpus.materialized)
  }

  test("corpus checks accept the expected outputs") {
    assert(CorpusChecks.check(corpus, good).isEmpty)
  }

  test("corpus checks reject each corrupted output") {
    val b = corpus.books.head
    val corrupted = Map(
      "download failed" -> good.copy(downloadsOk = good.downloadsOk - 1),
      "retry lost" -> good.copy(downloadAttempts = good.downloadAttempts - 1),
      "catalog row missing" -> good.copy(catalog = good.catalog - b.id),
      "word count" -> good.copy(textWords = good.textWords.updated(b.id, b.words - 1)),
      "catalog word count" -> good.copy(catalog = good.catalog.updated(b.id, (b.words + 1, b.qualified.toString))),
      "sample-rate gate" -> good.copy(audio = good.audio.updated(b.id, (!b.qualified, b.audioSeconds))),
      "audio length" -> good.copy(audio = good.audio.updated(b.id, (b.qualified, b.audioSeconds + 0.5))),
      "catalog quality" -> good.copy(catalog = good.catalog.updated(b.id, (b.words, (!b.qualified).toString))),
      "WER" -> good.copy(wer = good.wer.updated(b.id, 100.0 / 7)),
      "corpus hours" -> good.copy(corpusHours = good.corpusHours * (1 + 1e-6)),
      "utterance pairs" -> good.copy(pairs = good.pairs + 1))
    corrupted.foreach { case (what, o) =>
      assert(CorpusChecks.check(corpus, o).nonEmpty, s"$what was not caught")
    }
  }

  test("CDC checks reject a wrong final base and a rewritten untouched bucket") {
    val g = new CdcGen(2)
    g.base(); (0 until 3).foreach(_ => g.batch())
    val exp = g.state.toMap
    val rows = exp.values.toSeq
    assert(CdcChecks.state(exp, rows).isEmpty)
    val r = rows.head
    assert(CdcChecks.state(exp, rows.tail).nonEmpty, "missing key")
    assert(CdcChecks.state(exp, rows :+ r).nonEmpty, "duplicate key")
    assert(CdcChecks.state(exp, rows.tail :+ r.copy(word_count = r.word_count + 1)).nonEmpty, "stale value")
    assert(CdcChecks.state(exp, rows :+ r.copy(book_id = -1L)).nonEmpty, "extra key")
    val files = Map("gbucket=1/a.parquet" -> "00ff", "gbucket=2/b.parquet" -> "11ee")
    assert(CdcChecks.untouched(files, files).isEmpty)
    assert(CdcChecks.untouched(files, files.updated("gbucket=1/a.parquet", "0000")).nonEmpty)
    assert(CdcChecks.untouched(files, files - "gbucket=2/b.parquet").nonEmpty)
    assert(CdcChecks.untouched(files, files + ("gbucket=2/c.parquet" -> "22dd")).nonEmpty)
  }

  test("fingerprints see one changed value, are blind to row order, and cover the sweep") {
    val spark = SparkSession.builder().master("local[2]").getOrCreate()
    try {
      import spark.implicits._
      val rows = (1 to 50).map(i => (i.toLong, s"v$i", i * 0.5))
      val fp = Fingerprint.of(rows.toDF("k", "s", "d"))
      assert(Fingerprint.of(rows.reverse.toDF("k", "s", "d").repartition(3)) == fp)
      assert(Fingerprint.ofNoopWrite(rows.toDF("k", "s", "d")) == fp)
      assert(Fingerprint.of(rows.updated(7, (8L, "v8", 4.0001)).toDF("k", "s", "d")) != fp)
      assert(Fingerprint.of(rows.tail.toDF("k", "s", "d")) != fp)
    } finally spark.stop()
    val expected = Fingerprint.load(java.nio.file.Paths.get("data/fingerprints.tsv"))
    assert(LightSweep.Queries.forall(expected.contains))
  }
}
