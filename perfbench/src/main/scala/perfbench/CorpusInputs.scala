package perfbench

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.{ByteBuffer, ByteOrder}

import scala.util.Random

/** Seeded inputs of the corpus pipeline, with the expectations the output
  * checks compare against. Everything here is a pure function of the seed.
  *
  *  - url triples, including `invalid` and `tvshows` rows the catalog drops;
  *  - one Flate-compressed PDF per book (some with an /ObjStm) whose text
  *    goes through a /ToUnicode CMap, so Vietnamese letters survive;
  *  - multi-part audio per book: PCM16 WAV at 24 k or 22.05 k, WAV with an
  *    8 k part (fails the 16 k gate), or MPEG-1 Layer III with count1
  *    spectral lines (the native decoder's class);
  *  - an aligner-style segment TSV per book with one planted outlier and
  *    one segment that has no text line.
  *
  * Every sentence has 10 words and the regroup threshold is 20, so each
  * book's text regroups into exactly one line per sentence pair, each line
  * has 20 words, and the stub ASR's drop-every-7th rule gives a WER of
  * exactly 2/20 = 10 % on every utterance.
  */
object CorpusInputs {
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "một", "hai", "ba", "bốn", "năm", "sáu", "bảy", "tám", "chín", "mười",
    "người", "sách", "đọc", "nghe", "tiếng", "việt", "nhà", "trường", "học",
    "sinh", "ngày", "đêm", "mưa", "nắng", "sông", "núi", "biển", "trời",
    "đất", "cây", "hoa", "lá", "xanh", "đỏ", "vàng", "trắng", "chim", "cá",
    "mèo", "gió")
  val WordsPerSentence = 10
  val Kinds: IndexedSeq[String] = IndexedSeq("wav24", "wav22", "wav8", "mp3")
  // Sizes are fixed so that seeds vary content, not the amount of work.
  val Books = 6
  val LinesPerBook = 5
  val SegmentSeconds: IndexedSeq[Double] = IndexedSeq(3.25, 3.9, 4.55, 5.2, 5.85)
  val OutlierSeconds = 1.5
  val ExpectedWer = 10.0

  final case class Part(url: String, file: String, bytes: Array[Byte], seconds: Double)
  final case class Seg(start: Double, end: Double, id: Int)
  final case class Book(url: String, id: String, speaker: String, kind: String,
      sentences: IndexedSeq[String], pdfUrl: String, pdf: Array[Byte],
      parts: IndexedSeq[Part], segs: IndexedSeq[Seg], outlierId: Int) {
    def lines: Int = sentences.length / 2
    def words: Long = sentences.length.toLong * WordsPerSentence
    def qualified: Boolean = kind != "wav8"
    def audioSeconds: Double = parts.map(_.seconds).sum
    /** Utterances that survive the outlier band and the line join. */
    def keptSegs: IndexedSeq[Seg] =
      segs.filter(s => s.id != outlierId && s.id <= lines)
  }
  final case class Corpus(urlLines: IndexedSeq[String], books: IndexedSeq[Book],
      failFirst: Set[String]) {
    def payloads: Map[String, Array[Byte]] =
      books.flatMap(b => (b.pdfUrl -> b.pdf) +: b.parts.map(p => p.url -> p.bytes)).toMap
    def materialized: Long = books.filter(_.qualified).map(_.keptSegs.length.toLong).sum
    def corpusHours: Double =
      books.flatMap(_.keptSegs).map(s => BigDecimal(s.end) - BigDecimal(s.start)).sum.toDouble / 3600.0
    def segmentTsv: String = books.flatMap(b => b.segs.map(s =>
      String.format(java.util.Locale.ROOT, "%.3f\t%.3f\tf%d\t%s\t%s",
        Double.box(s.start), Double.box(s.end), Int.box(s.id), b.id, b.speaker)))
      .mkString("\n") + "\n"
  }

  /** The catalog's id for a url: what the stub metadata fetch names the
    * book, hashed the way the catalog keys it. */
  def catalogHash(url: String): Int = math.abs(url.hashCode) % 1000
  def catalogId(url: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s"Book Tựa ${catalogHash(url)}".getBytes(UTF_8))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
  }

  def generate(seed: Long): Corpus = {
    val rnd = new Random(seed)
    // Distinct catalog hashes: the stub's names, and so the ids, collide
    // otherwise.
    val used = scala.collection.mutable.Set[Int]()
    val urls = Iterator.from(0).map(k => s"https://sachnoi.example/s$seed/b$k-${rnd.nextInt(1 << 20)}")
      .filter(u => used.add(catalogHash(u))).take(Books).toIndexedSeq
    val kinds = rnd.shuffle((0 until Books).map(i => Kinds(i % Kinds.length)))
    val books = urls.zip(kinds).zipWithIndex.map { case ((u, kind), i) =>
      book(rnd, u, catalogId(u), s"spk${i % 3}", kind, objStm = i % 2 == 1, nParts = 2 + i % 2)
    }
    val extra = IndexedSeq(
      s"https://sachnoi.example/s$seed/gone, https://ebook.example/gone.pdf, invalid",
      s"https://sachnoi.example/tvshows/s$seed, https://ebook.example/tv.pdf, thuviensach")
    val lines = rnd.shuffle(books.map(b => s"${b.url}, ${b.pdfUrl}, thuviensach") ++ extra)
    val all = books.flatMap(b => b.pdfUrl +: b.parts.map(_.url))
    Corpus(lines, books, rnd.shuffle(all).take(all.length / 4).toSet)
  }

  private def book(rnd: Random, url: String, id: String, speaker: String,
      kind: String, objStm: Boolean, nParts: Int): Book = {
    val nLines = LinesPerBook
    val sentences = (0 until 2 * nLines).map(_ =>
      (0 until WordsPerSentence).map(_ => Vocab(rnd.nextInt(Vocab.length))).mkString(" ") + ".")
    val outlier = 1 + rnd.nextInt(nLines)
    // One segment per text line (id = line + 1) with the outlier below the
    // 3 s band floor, then a segment with no text line. The durations are a
    // seeded permutation of fixed values, so every book has the same length.
    val durations = rnd.shuffle(SegmentSeconds).iterator
    var t = 0.0
    val segs = (1 to nLines + 1).map { k =>
      val d = if (k == outlier) OutlierSeconds else durations.next()
      val s = Seg(round3(t), round3(t + d), k)
      t = s.end
      s
    }
    val pdf = Pdf.make(sentences.grouped(4).toSeq, objStm)
    val partDur = t / nParts
    val parts = (1 to nParts).map { k =>
      val sr = kind match {
        case "mp3" => 44100
        case "wav8" if k == nParts => 8000
        case "wav22" => 22050
        case _ => 24000
      }
      if (kind == "mp3") {
        val frames = math.ceil(partDur * sr / 1152).toInt
        Part(s"$url/part$k.mp3", s"${id}_$k.mp3", Audio.mp3(rnd, frames), frames * 1152.0 / sr)
      } else {
        val n = math.round(partDur * sr).toInt
        Part(s"$url/part$k.wav", s"${id}_$k.wav", Audio.wav(rnd, sr, n), n.toDouble / sr)
      }
    }
    Book(url, id, speaker, kind, sentences, s"$url/book.pdf", pdf, parts, segs, outlier)
  }

  private def round3(x: Double): Double = math.round(x * 1000) / 1000.0
}

/** Minimal PDF writer: one simple font whose /ToUnicode CMap maps each
  * byte code to a character of the text, pages of hex-string `Tj` lines
  * in Flate-compressed content streams, and either plain page-tree
  * objects or the same objects packed into a compressed /ObjStm. */
object Pdf {
  def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  def make(pages: Seq[Seq[String]], objStm: Boolean): Array[Byte] = {
    val chars = pages.flatten.mkString(" ").toSeq.distinct.filter(_ != ' ').sorted
    require(chars.length < 200, "too many distinct characters for one-byte codes")
    val code = (chars.zipWithIndex.map { case (c, i) => c -> (0x21 + i) } :+ (' ' -> 0x20)).toMap
    def hex(s: String) = s.map(c => f"${code(c)}%02X").mkString
    val cmap = "/CIDInit /ProcSet findresource begin 12 dict begin begincmap\n" +
      "/CMapName /Perfbench-UCS def /CMapType 2 def\n" +
      "1 begincodespacerange <00> <FF> endcodespacerange\n" +
      code.toSeq.sortBy(_._2).grouped(100).map { g =>
        s"${g.length} beginbfchar\n" +
          g.map { case (c, k) => f"<$k%02X> <${c.toInt}%04X>" }.mkString("\n") + "\nendbfchar\n"
      }.mkString +
      "endcmap CMapName currentdict /CMap defineresource pop end end"
    val nPages = pages.length
    // 1 catalog, 2 pages, 3 font, 4 cmap, 5.. page dicts, then contents.
    val pageNum = (0 until nPages).map(5 + _)
    val contentNum = (0 until nPages).map(5 + nPages + _)
    val dicts = Seq(
      1 -> "<</Type /Catalog /Pages 2 0 R>>",
      2 -> s"<</Type /Pages /Kids [${pageNum.map(n => s"$n 0 R").mkString(" ")}] /Count $nPages>>",
      3 -> "<</Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode 4 0 R>>") ++
      pageNum.zip(contentNum).map { case (p, c) =>
        p -> (s"<</Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] " +
          s"/Resources <</Font <</F1 3 0 R>>>> /Contents $c 0 R>>")
      }
    val streams = (4 -> cmap.getBytes(ISO_8859_1)) +: contentNum.zip(pages).map { case (c, lines) =>
      c -> ("BT /F1 12 Tf 14 TL 72 800 Td\n" +
        lines.map(l => s"<${hex(l + " ")}> Tj T*").mkString("\n") + "\nET").getBytes(ISO_8859_1)
    }
    def stream(data: Array[Byte], extra: String = ""): Array[Byte] = {
      val z = deflate(data)
      s"<</Length ${z.length} /Filter /FlateDecode$extra>>\nstream\n".getBytes(ISO_8859_1) ++
        z ++ "\nendstream".getBytes(ISO_8859_1)
    }
    val top: Seq[(Int, Array[Byte])] =
      if (!objStm) dicts.map { case (n, d) => n -> d.getBytes(ISO_8859_1) } ++
        streams.map { case (n, d) => n -> stream(d) }
      else {
        val bodies = dicts.map(_._2.getBytes(ISO_8859_1))
        val offs = bodies.scanLeft(0)((a, b) => a + b.length + 1).init
        val header = dicts.map(_._1).zip(offs).map { case (n, o) => s"$n $o" }.mkString(" ") + "\n"
        val data = header.getBytes(ISO_8859_1) ++ bodies.flatMap(_ :+ '\n'.toByte)
        val stmNum = 5 + 2 * nPages
        (stmNum -> stream(data, s" /Type /ObjStm /N ${dicts.length} /First ${header.length}")) +:
          streams.map { case (n, d) => n -> stream(d) }
      }
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String) = out.write(s.getBytes(ISO_8859_1))
    w("%PDF-1.5\n%âãÏÓ\n")
    val offsets = scala.collection.mutable.Map[Int, Int]()
    top.sortBy(_._1).foreach { case (n, body) =>
      offsets(n) = out.size()
      w(s"$n 0 obj\n"); out.write(body); w("\nendobj\n")
    }
    val xref = out.size()
    val maxObj = top.map(_._1).max
    w(s"xref\n0 ${maxObj + 1}\n0000000000 65535 f \n")
    (1 to maxObj).foreach(n => w(f"${offsets.getOrElse(n, 0)}%010d 00000 n \n"))
    w(s"trailer\n<</Size ${maxObj + 1} /Root 1 0 R>>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }
}

/** Seeded audio payloads. */
object Audio {
  /** Mono PCM16 WAV: a tone with seeded pitch plus low noise. */
  def wav(rnd: Random, sr: Int, n: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(44 + 2 * n).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(ISO_8859_1)).putInt(36 + 2 * n).put("WAVE".getBytes(ISO_8859_1))
      .put("fmt ".getBytes(ISO_8859_1)).putInt(16).putShort(1.toShort).putShort(1.toShort)
      .putInt(sr).putInt(2 * sr).putShort(2.toShort).putShort(16.toShort)
      .put("data".getBytes(ISO_8859_1)).putInt(2 * n)
    val f = 110.0 + rnd.nextInt(300)
    var i = 0
    while (i < n) {
      val v = 0.3 * math.sin(2 * math.Pi * f * i / sr) + 0.02 * (rnd.nextDouble() - 0.5)
      bb.putShort((v * 32767).toShort)
      i += 1
    }
    bb.array()
  }

  private final class Bits {
    private val buf = scala.collection.mutable.ArrayBuffer[Int]()
    def put(v: Int, n: Int): this.type = {
      (n - 1 to 0 by -1).foreach(i => buf += ((v >> i) & 1)); this
    }
    def size: Int = buf.length
    def bytes(len: Int): Array[Byte] = {
      val out = new Array[Byte](len)
      buf.indices.foreach(i => if (buf(i) == 1) out(i / 8) = (out(i / 8) | (1 << (7 - i % 8))).toByte)
      out
    }
  }

  /** MPEG-1 Layer III, mono, 44.1 kHz, 128 kbit/s (417-byte frames, 1152
    * samples each). Both granules carry seeded count1 quadruples (values
    * in {-1, 0, 1}, count1 table B) and no big-value regions: the class
    * the native decoder handles, with real requantisation, IMDCT and
    * synthesis work per frame. */
  def mp3(rnd: Random, frames: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    (0 until frames).foreach { _ =>
      val main = new Bits
      def granule(): Int = {
        val start = main.size
        (0 until 6 + rnd.nextInt(10)).foreach { _ =>
          val v = Seq.fill(4)(rnd.nextInt(3) - 1)
          main.put(~v.foldLeft(0)((a, x) => (a << 1) | (if (x == 0) 0 else 1)) & 0xf, 4)
          v.foreach(x => if (x != 0) main.put(if (x < 0) 1 else 0, 1))
        }
        main.size - start
      }
      val gain = 150 + rnd.nextInt(30)
      val p0 = granule(); val p1 = granule()
      val side = new Bits
      side.put(0, 9).put(0, 5).put(0, 4) // main_data_begin, private bits, scfsi
      Seq(p0, p1).foreach { p =>
        side.put(p, 12).put(0, 9).put(gain, 8).put(0, 4).put(0, 1)
          .put(0, 5).put(0, 5).put(0, 5).put(0, 4).put(0, 3)
          .put(0, 1).put(0, 1).put(1, 1)
      }
      val f = new Array[Byte](417)
      f(0) = 0xff.toByte; f(1) = 0xfb.toByte; f(2) = 0x90.toByte; f(3) = 0xc0.toByte
      System.arraycopy(side.bytes(17), 0, f, 4, 17)
      val m = main.bytes((main.size + 7) / 8)
      System.arraycopy(m, 0, f, 21, m.length)
      out.write(f)
    }
    out.toByteArray
  }
}
