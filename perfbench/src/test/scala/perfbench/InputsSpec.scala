package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generators are pure functions of the seed, and what they generate
  * is what the decoders read back. */
class InputsSpec extends AnyFunSuite {

  private def corpusBytes(seed: Long): Seq[Array[Byte]] = {
    val c = CorpusInputs.generate(seed)
    Seq(c.urlLines.mkString("\n").getBytes("UTF-8"), c.segmentTsv.getBytes("UTF-8"),
      c.failFirst.toSeq.sorted.mkString("\n").getBytes("UTF-8")) ++
      c.payloads.toSeq.sortBy(_._1).flatMap { case (u, b) => Seq(u.getBytes("UTF-8"), b) }
  }

  private def cdcBytes(seed: Long): Seq[String] = {
    val g = new CdcGen(seed)
    g.base().map(_.json) ++ (0 until 5).flatMap(_ => g.batch().map(_.json))
  }

  private def lightOrder(seed: Long): Seq[String] = LightSweep.order(seed)

  test("the same seed gives byte-identical inputs, another seed different ones") {
    def same(a: Seq[Array[Byte]], b: Seq[Array[Byte]]) =
      a.length == b.length && a.zip(b).forall { case (x, y) => x.sameElements(y) }
    assert(same(corpusBytes(7), corpusBytes(7)))
    assert(!same(corpusBytes(7), corpusBytes(8)))
    assert(cdcBytes(7) == cdcBytes(7))
    assert(cdcBytes(7) != cdcBytes(8))
    assert(lightOrder(7) == lightOrder(7))
    assert(lightOrder(7) != lightOrder(8))
  }

  test("corpus inputs cover every planted case") {
    val c = CorpusInputs.generate(3)
    assert(c.urlLines.exists(_.endsWith(", invalid")))
    assert(c.urlLines.exists(_.contains("tvshows")))
    assert(c.books.map(_.kind).toSet == CorpusInputs.Kinds.toSet)
    assert(c.books.exists(!_.qualified) && c.books.exists(_.qualified))
    assert(c.books.map(_.id).distinct.length == c.books.length)
    assert(c.failFirst.nonEmpty)
    assert(c.books.forall(b => b.segs.exists(s => s.id == b.outlierId && s.end - s.start < 3.0)))
  }

  test("generated PDFs extract to the generated sentences, with and without /ObjStm") {
    val c = CorpusInputs.generate(5)
    val (plain, packed) = c.books.zipWithIndex.partition(_._2 % 2 == 0)
    assert(plain.nonEmpty && packed.nonEmpty)
    assert(packed.forall(b => new String(b._1.pdf, "ISO-8859-1").contains("/ObjStm")))
    c.books.foreach { b =>
      val words = graft.operators.PdfText.extract(b.pdf).split("\\s+").filter(_.nonEmpty)
      assert(words.mkString(" ") == b.sentences.mkString(" "), b.id)
    }
  }

  test("generated audio decodes at its rate and length through the real externals") {
    val c = CorpusInputs.generate(5)
    c.books.flatMap(_.parts).foreach { p =>
      val (samples, sr) = graft.pipeline.JavaSoundExternals.decodeAudio(p.bytes)
      assert(math.abs(samples.length.toDouble / sr - p.seconds) < 1e-9, p.file)
      assert(samples.exists(_ != 0.0f), s"${p.file} decodes to silence")
    }
  }

  test("CDC activity stays out of the untouched buckets") {
    val g = new CdcGen(9)
    val keys = g.base().map(_.book_id).toSet
    val touched = (0 until 20).flatMap(_ => g.batch()).map(r => CdcGen.bucket(r.book_id)).toSet
    assert(g.untouchedBuckets.nonEmpty)
    assert((touched intersect g.untouchedBuckets).isEmpty)
    assert(keys.map(CdcGen.bucket).intersect(g.untouchedBuckets).nonEmpty)
  }
}
