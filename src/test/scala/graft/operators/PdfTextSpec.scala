package graft.operators

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

/** PdfText (S10) against STRUCTURALLY VALID PDF documents built by the
  * test itself — header, catalog/pages/page/font objects, content
  * stream, xref table with computed byte offsets, trailer — so the
  * extractor is exercised on the real container format, not on a
  * convenient fragment. Covers: uncompressed and FlateDecode'd content
  * streams, literal-string escapes and nesting, octal escapes, hex
  * strings, TJ arrays with kern numbers, line-break operators, the
  * indirect-/Length fallback, multi-page order, and malformed-input
  * hardening (never throws).
  */
class PdfTextSpec extends AnyFunSuite {

  import PdfFixtures.makePdf

  private val hello =
    "BT /F1 12 Tf 72 712 Td (Hello World) Tj ET"

  test("uncompressed content stream in a valid single-page PDF") {
    assert(PdfText.extract(makePdf(Seq(hello), compress = false)) ==
      "Hello World")
  }

  test("FlateDecode content stream (Inflater path)") {
    assert(PdfText.extract(makePdf(Seq(hello), compress = true)) ==
      "Hello World")
  }

  test("indirect /Length falls back to the endstream keyword") {
    assert(PdfText.extract(
      makePdf(Seq(hello), compress = true, indirectLength = true)) ==
      "Hello World")
  }

  test("literal-string escapes, nesting, and octal codes") {
    val ops = """BT /F1 12 Tf (a\(b\)c) Tj (nested (parens) ok) Tj (\101\102) Tj ET"""
    assert(PdfText.extract(makePdf(Seq(ops), compress = true)) ==
      "a(b)cnested (parens) okAB")
  }

  test("hex strings decode, odd digit count pads") {
    // 48 65 6C 6C 6F = Hello ; <4 9> with odd nibble count -> 0x49 = I
    val ops = "BT <48656C6C6F> Tj <49> Tj ET"
    assert(PdfText.extract(makePdf(Seq(ops), compress = false)) == "HelloI")
  }

  test("TJ arrays show strings in order, kern numbers are positioning") {
    val ops = "BT /F1 12 Tf [(Wor) -120 (ld) 88 (!)] TJ ET"
    assert(PdfText.extract(makePdf(Seq(ops), compress = true)) == "World!")
  }

  test("TJ word-gap kerns become spaces; letter kerns do not (TeX PDFs)") {
    // TeX emits no space glyphs: interword glue is a kern ~-250 to
    // -350 milli-em, letter kerning stays above ~-100
    val ops = "BT /F1 12 Tf [(Hello) -250 (Wor) -90 (ld) -333 (again)] TJ ET"
    assert(PdfText.extract(makePdf(Seq(ops), compress = true)) ==
      "Hello World again")
    // numbers outside arrays (coordinates, dash patterns) never space
    val ops2 = "BT /F1 12 Tf -500 -700 Td (x) Tj [(a) -200 (b)] TJ ET"
    assert(PdfText.extract(makePdf(Seq(ops2), compress = false)) == "xa b")
  }

  test("Td/TD/T* and quote operators break lines") {
    val ops = "BT /F1 12 Tf (line one) Tj 0 -14 Td (line two) Tj T* (line three) ' ET"
    val got = PdfText.extract(makePdf(Seq(ops), compress = true))
    assert(got == "line one\nline two\nline three", got)
  }

  test("multi-page documents concatenate pages in file order") {
    val p1 = "BT (page one) Tj ET"
    val p2 = "BT (page two) Tj ET"
    val got = PdfText.extract(makePdf(Seq(p1, p2), compress = true))
    assert(got == "page one\n\npage two", got)
  }

  test("text outside BT/ET and non-show operands are not emitted") {
    // the (Ignored) string is an operand of a non-show operator; the
    // second stream carries no BT at all (e.g. a graphics-only page)
    val ops = "(Ignored) Tf BT (Shown) Tj ET"
    val gfx = "0 0 612 792 re f"
    val got = PdfText.extract(makePdf(Seq(ops, gfx), compress = false))
    assert(got == "Shown", got)
  }

  test("ASCIIHexDecode filter") {
    val pdf = PdfFixtures.makePdfEnc(Seq(hello),
      raw => (" /Filter /ASCIIHexDecode", PdfFixtures.asciiHexEncode(raw)))
    assert(PdfText.extract(pdf) == "Hello World")
  }

  test("ASCII85Decode filter, and the [ASCII85 Flate] chain in order") {
    val p85 = PdfFixtures.makePdfEnc(Seq(hello),
      raw => (" /Filter /ASCII85Decode", PdfFixtures.ascii85Encode(raw)))
    assert(PdfText.extract(p85) == "Hello World")
    val chained = PdfFixtures.makePdfEnc(Seq(hello),
      raw => (" /Filter [/ASCII85Decode /FlateDecode]",
        PdfFixtures.ascii85Encode(PdfFixtures.deflate(raw))))
    assert(PdfText.extract(chained) == "Hello World")
  }

  // ------------------------------- LZW + RunLength filters (r14)

  test("LZWDecode known-answer: hand-packed 9-bit code stream") {
    // The code sequence for "BT (ABAB) Tj ET", worked out by hand from
    // §7.4.4 and packed big-endian at 9 bits — fully independent of
    // the fixture encoder, so encoder and decoder cannot self-validate
    // a shared transcription slip. The decoder builds 258='BT',
    // 259='T ', 260=' (', 261='(A', 262='AB' as it consumes the first
    // six literals; code 262 then emits "AB" from the table — a real
    // table-reference hit, not just literals.
    val codes: Seq[Int] = Seq(256, 'B', 'T', ' ', '(', 'A', 'B', 262,
      ')', ' ', 'T', 'j', ' ', 'E', 'T', 257)
    var acc = 0L; var nbits = 0
    val bytes = scala.collection.mutable.ArrayBuffer[Byte]()
    for (c <- codes) {
      acc = (acc << 9) | c; nbits += 9
      while (nbits >= 8) { bytes += ((acc >> (nbits - 8)) & 0xff).toByte; nbits -= 8 }
    }
    if (nbits > 0) bytes += ((acc << (8 - nbits)) & 0xff).toByte
    val pdf = PdfFixtures.makePdfEnc(Seq("BT (ABAB) Tj ET"),
      _ => (" /Filter /LZWDecode", bytes.toArray))
    assert(PdfText.extract(pdf) == "ABAB")
  }

  test("LZWDecode round-trip through the fixture encoder") {
    val pdf = PdfFixtures.makePdfEnc(Seq(hello),
      raw => (" /Filter /LZWDecode", PdfFixtures.lzwEncode(raw)))
    assert(PdfText.extract(pdf) == "Hello World")
  }

  test("LZW round-trip across the 9->10->11-bit width boundaries") {
    // >1800 distinct-ish table entries force two width bumps; the
    // early-change off-by-one would garble everything past code 510
    val lines = (0 until 600).map(i => s"(line$i ${i * 7 % 997}) Tj T*")
    val ops = "BT " + lines.mkString(" ") + " ET"
    val pdf = PdfFixtures.makePdfEnc(Seq(ops),
      raw => (" /Filter /LZWDecode", PdfFixtures.lzwEncode(raw)))
    val got = PdfText.extract(pdf)
    assert(got.startsWith("line0 0"), got.take(40))
    assert(got.contains("line599 " + (599 * 7 % 997)), got.takeRight(40))
    assert(got.linesIterator.size == 600)
  }

  // ----------------- /DecodeParms predictors (§7.4.4.4, r15)

  // known-answer vectors for "BT (AAAA) Tj ET" at Columns 5, derived
  // by hand from the PNG spec §6 filter definitions (checked against
  // an independent Python derivation) — fully independent of the
  // fixture encoder, so encoder and decoder cannot self-validate a
  // shared transcription slip
  private val predictorContent = "BT (AAAA) Tj ET"

  private def predictorPdf(filtered: Seq[Int], parms: String,
      flate: Boolean = true): Array[Byte] = {
    val raw = filtered.map(_.toByte).toArray
    PdfFixtures.makePdfEnc(Seq(predictorContent),
      _ => (s" /Filter /FlateDecode /DecodeParms $parms",
        if (flate) PdfFixtures.deflate(raw) else raw))
  }

  test("PNG Sub predictor known-answer (hand-derived rows)") {
    val filtered = Seq(
      0x01, 0x42, 0x12, 0xcc, 0x08, 0x19,
      0x01, 0x41, 0x00, 0x00, 0xe8, 0xf7,
      0x01, 0x54, 0x16, 0xb6, 0x25, 0x0f)
    val pdf = predictorPdf(filtered, "<</Predictor 11 /Columns 5>>")
    assert(PdfText.extract(pdf) == "AAAA")
  }

  test("PNG Up predictor known-answer (hand-derived rows)") {
    val filtered = Seq(
      0x02, 0x42, 0x54, 0x20, 0x28, 0x41,
      0x02, 0xff, 0xed, 0x21, 0x01, 0xdf,
      0x02, 0x13, 0x29, 0xdf, 0x1c, 0x34)
    val pdf = predictorPdf(filtered, "<</Predictor 12 /Columns 5>>")
    assert(PdfText.extract(pdf) == "AAAA")
  }

  test("PNG Paeth predictor known-answer (hand-derived rows)") {
    val filtered = Seq(
      0x04, 0x42, 0x12, 0xcc, 0x08, 0x19,
      0x04, 0xff, 0xed, 0x21, 0xe8, 0xdf,
      0x04, 0x13, 0x16, 0xb6, 0x25, 0x0f)
    val pdf = predictorPdf(filtered, "<</Predictor 14 /Columns 5>>")
    assert(PdfText.extract(pdf) == "AAAA")
  }

  test("TIFF predictor 2 known-answer (hand-derived differencing)") {
    val filtered = Seq(
      0x42, 0x12, 0xcc, 0x08, 0x19,
      0x41, 0x00, 0x00, 0xe8, 0xf7,
      0x54, 0x16, 0xb6, 0x25, 0x0f)
    val pdf = predictorPdf(filtered, "<</Predictor 2 /Columns 5>>")
    assert(PdfText.extract(pdf) == "AAAA")
  }

  test("PNG predictor round-trip, mixed filters per row incl. Average, " +
      "with a partial final row") {
    // 7 columns over a longer stream: the per-row tag cycles through
    // all five PNG filters; the stream length is deliberately not a
    // row multiple so the truncated-final-row path runs
    val ops = "BT (the predictor pass must invert every filter) Tj ET"
    val raw = ops.getBytes(StandardCharsets.ISO_8859_1)
    assert(raw.length % 7 != 0)
    val pdf = PdfFixtures.makePdfEnc(Seq(ops),
      r => (" /Filter /FlateDecode /DecodeParms <</Predictor 15 /Columns 7>>",
        PdfFixtures.deflate(
          PdfFixtures.pngPredictEncode(r, 7, filterForRow = _ % 5))))
    assert(PdfText.extract(pdf) ==
      "the predictor pass must invert every filter")
  }

  test("PNG predictor with /Colors 3 uses pixel-width left neighbors") {
    val ops = "BT (three color components shift the sub distance) Tj ET"
    val pdf = PdfFixtures.makePdfEnc(Seq(ops),
      r => (" /Filter /FlateDecode /DecodeParms " +
        "<</Predictor 15 /Colors 3 /Columns 6>>",
        PdfFixtures.deflate(
          PdfFixtures.pngPredictEncode(r, 6, colors = 3,
            filterForRow = i => Seq(1, 3, 4)(i % 3)))))
    assert(PdfText.extract(pdf) ==
      "three color components shift the sub distance")
  }

  test("a dict claiming a multi-GB row decodes the truncated row it " +
      "actually holds without allocating the claim") {
    // hostile-input bound: /Columns 1<<24 x /Colors 60 x 16 bpc claims
    // a ~2 GB row; the filtered stream holds ONE Up-tagged row of 15
    // bytes (Up over the zero previous row = identity). Row buffers
    // must size to the data (lim = min(rowLen, data.length)) — an
    // OutOfMemoryError is an Error the never-throws catch cannot see —
    // and the truncated row still decodes.
    val raw = predictorContent.getBytes(StandardCharsets.ISO_8859_1)
    val filtered = 0x02.toByte +: raw
    val pdf = PdfFixtures.makePdfEnc(Seq(predictorContent),
      _ => (" /Filter /FlateDecode /DecodeParms <</Predictor 12 " +
        "/Columns 16777216 /Colors 60 /BitsPerComponent 16>>",
        PdfFixtures.deflate(filtered)))
    assert(PdfText.extract(pdf) == "AAAA")
  }

  test("predictor'd LZWDecode (the pre-1.5 archive class)") {
    val ops = "BT (lzw with png rows) Tj ET"
    val pdf = PdfFixtures.makePdfEnc(Seq(ops),
      r => (" /Filter /LZWDecode /DecodeParms <</Predictor 12 /Columns 5>>",
        PdfFixtures.lzwEncode(PdfFixtures.pngPredictEncode(r, 5))))
    assert(PdfText.extract(pdf) == "lzw with png rows")
  }

  test("/DecodeParms as an ARRAY aligned with a filter chain") {
    // [ASCIIHex Flate] with parms [null <<Predictor>>]: the predictor
    // binds to the Flate slot, not the hex slot
    val ops = "BT (aligned parms) Tj ET"
    val pdf = PdfFixtures.makePdfEnc(Seq(ops),
      r => (" /Filter [/ASCIIHexDecode /FlateDecode] " +
        "/DecodeParms [null <</Predictor 12 /Columns 5>>]",
        PdfFixtures.asciiHexEncode(PdfFixtures.deflate(
          PdfFixtures.pngPredictEncode(r, 5)))))
    assert(PdfText.extract(pdf) == "aligned parms")
  }

  test("LZW /EarlyChange 0 shifts the width bump (round-trip)") {
    val lines = (0 until 600).map(i => s"(ec$i ${i * 11 % 991}) Tj T*")
    val ops = "BT " + lines.mkString(" ") + " ET"
    val pdf = PdfFixtures.makePdfEnc(Seq(ops),
      raw => (" /Filter /LZWDecode /DecodeParms <</EarlyChange 0>>",
        PdfFixtures.lzwEncode(raw, earlyChange = 0)))
    val got = PdfText.extract(pdf)
    assert(got.startsWith("ec0 0"), got.take(40))
    assert(got.contains("ec599 " + (599 * 11 % 991)), got.takeRight(40))
  }

  test("an EarlyChange-0 stream decoded with the default would garble: " +
      "the parm is load-bearing") {
    val lines = (0 until 600).map(i => s"(x$i) Tj T*")
    val ops = "BT " + lines.mkString(" ") + " ET"
    val enc = PdfFixtures.lzwEncode(
      ops.getBytes(StandardCharsets.ISO_8859_1), earlyChange = 0)
    // same bytes, NO parm dict: the early-change decode desyncs at the
    // first width boundary and the corrupt-code arm fails closed
    val pdf = PdfFixtures.makePdfEnc(Seq(ops),
      _ => (" /Filter /LZWDecode", enc))
    val got = PdfText.extract(pdf)
    assert(!got.contains("x599"), got.takeRight(40))
  }

  test("a predictor'd /ObjStm expands (qpdf-style object streams)") {
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.objStmObj(10, Seq(
        1 -> "<</Type /Catalog /Pages 2 0 R>>",
        2 -> "<</Type /Pages /Kids [3 0 R] /Count 1>>",
        3 -> ("<</Type /Page /Parent 2 0 R /Resources " +
          "<</Font <</F1 5 0 R>>>> /Contents 4 0 R>>"),
        5 -> "<</Type /Font /Encoding /WinAnsiEncoding>>"),
        pngPredictorColumns = 8),
      PdfFixtures.streamObj(4,
        "BT /F1 12 Tf (ab) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = true)))
    // 0x97 decodes as an emdash only if the predictor'd ObjStm's font
    // dict resolved — the raw fallback has no font context
    assert(PdfText.extract(pdf) == "a—b")
  }

  test("unsupported predictor shapes fail CLOSED (no garbage text)") {
    val raw = predictorContent.getBytes(StandardCharsets.ISO_8859_1)
    // predictor value outside 1/2/10..15
    val p99 = PdfFixtures.makePdfEnc(Seq(predictorContent),
      _ => (" /Filter /FlateDecode /DecodeParms <</Predictor 99>>",
        PdfFixtures.deflate(raw)))
    assert(PdfText.extract(p99) == "")
    // TIFF differencing at sub-byte depth: not implemented, must refuse
    val tiff4 = PdfFixtures.makePdfEnc(Seq(predictorContent),
      _ => (" /Filter /FlateDecode /DecodeParms " +
        "<</Predictor 2 /BitsPerComponent 4 /Columns 5>>",
        PdfFixtures.deflate(raw)))
    assert(PdfText.extract(tiff4) == "")
    // an INDIRECT parms entry could hide a /Predictor: fail closed
    val indirect = PdfFixtures.makePdfEnc(Seq(predictorContent),
      _ => (" /Filter /FlateDecode /DecodeParms 77 0 R",
        PdfFixtures.deflate(raw)))
    assert(PdfText.extract(indirect) == "")
    // a corrupt PNG row tag (5) aborts the stream
    val badTag = predictorPdf(
      Seq(0x05, 0x42, 0x54, 0x20, 0x28, 0x41), "<</Predictor 12 /Columns 5>>")
    assert(PdfText.extract(badTag) == "")
  }

  test("a parm dict WITHOUT /Predictor leaves the stream unchanged") {
    val raw = predictorContent.getBytes(StandardCharsets.ISO_8859_1)
    val pdf = PdfFixtures.makePdfEnc(Seq(predictorContent),
      _ => (" /Filter /FlateDecode /DecodeParms <</Columns 5>>",
        PdfFixtures.deflate(raw)))
    assert(PdfText.extract(pdf) == "AAAA")
  }

  test("RunLengthDecode round-trip, and the [RunLength Flate] chain") {
    val pdf = PdfFixtures.makePdfEnc(Seq(hello),
      raw => (" /Filter /RunLengthDecode", PdfFixtures.runLengthEncode(raw)))
    assert(PdfText.extract(pdf) == "Hello World")
    val chained = PdfFixtures.makePdfEnc(Seq(hello),
      raw => (" /Filter [/RunLengthDecode /FlateDecode]",
        PdfFixtures.runLengthEncode(PdfFixtures.deflate(raw))))
    assert(PdfText.extract(chained) == "Hello World")
  }

  test("RunLengthDecode repeat runs decode (129..255 form)") {
    // 0xFE = repeat next byte 257-254=3 times: 'aaa'
    def lit(s: String): Seq[Byte] =
      (s.length - 1).toByte +: s.getBytes(StandardCharsets.ISO_8859_1).toSeq
    val payload = (lit("BT (") ++ Seq(0xFE.toByte, 'a'.toByte) ++
      lit(") Tj ET") :+ 0x80.toByte).toArray
    val pdf = PdfFixtures.makePdfEnc(Seq("BT (aaa) Tj ET"),
      _ => (" /Filter /RunLengthDecode", payload))
    assert(PdfText.extract(pdf) == "aaa")
  }

  test("corrupt LZW degrades to empty text, never throws") {
    val junk = Array.tabulate[Byte](64)(i => (i * 37 + 11).toByte)
    val pdf = PdfFixtures.makePdfEnc(Seq(hello),
      _ => (" /Filter /LZWDecode", junk))
    PdfText.extract(pdf) // must not throw
    // LZW with a declared /Predictor fails closed (never produced for
    // content streams; predictors belong to xref/image data)
    val pdf2 = PdfFixtures.makePdfEnc(Seq(hello),
      raw => (" /Filter /LZWDecode /DecodeParms <</Predictor 12>>",
        PdfFixtures.lzwEncode(raw)))
    assert(PdfText.extract(pdf2) == "")
  }

  // ------------------------------------------ Type0/CID + ToUnicode

  private val cmapText =
    """/CIDInit /ProcSet findresource begin
      |12 dict begin
      |begincmap
      |/CMapName /Adobe-Identity-UCS def
      |1 begincodespacerange
      |<0000> <FFFF>
      |endcodespacerange
      |4 beginbfchar
      |<0001> <0048>
      |<0002> <00EA>
      |<0003> <006C>
      |<0004> <D83DDE00>
      |endbfchar
      |2 beginbfrange
      |<0010> <0013> <0041>
      |<0020> <0021> [<0058> <0059>]
      |endbfrange
      |endcmap
      |CMapName currentdict /CMap defineresource pop
      |end end""".stripMargin

  private def cidPdf(content: String, compressCmap: Boolean = true): Array[Byte] =
    PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>"),
      PdfFixtures.textObj(3,
        "<</Type /Page /Parent 2 0 R /Resources <</Font <</F1 5 0 R " +
          "/F2 8 0 R>>>> /Contents 4 0 R>>"),
      PdfFixtures.streamObj(4,
        content.getBytes(StandardCharsets.ISO_8859_1), compress = false),
      PdfFixtures.textObj(5,
        "<</Type /Font /Subtype /Type0 /BaseFont /AAAAAA+Custom " +
          "/Encoding /Identity-H /ToUnicode 6 0 R>>"),
      PdfFixtures.streamObj(6,
        cmapText.getBytes(StandardCharsets.ISO_8859_1), compressCmap),
      PdfFixtures.textObj(8,
        "<</Type /Font /Subtype /Type1 /BaseFont /Helvetica>>")))

  test("Type0 font: 2-byte codes decode through the bfchar ToUnicode map") {
    val got = PdfText.extract(cidPdf("BT /F1 12 Tf <000100020003> Tj ET"))
    assert(got == "Hêl", got) // Hêl
  }

  test("ToUnicode bfrange: continuous run and the array form") {
    assert(PdfText.extract(cidPdf("BT /F1 12 Tf <0010001100120013> Tj ET"))
      == "ABCD")
    assert(PdfText.extract(cidPdf("BT /F1 12 Tf <00200021> Tj ET")) == "XY")
  }

  test("ToUnicode multi-code-unit target (surrogate pair) survives") {
    val got = PdfText.extract(cidPdf("BT /F1 12 Tf <0004> Tj ET"))
    assert(got == "😀", got.map(_.toInt.toHexString).mkString(","))
  }

  test("font switching: CID font and simple font alternate in one stream") {
    val got = PdfText.extract(cidPdf(
      "BT /F1 12 Tf <0001> Tj /F2 12 Tf (ello ) Tj /F1 12 Tf <00100012> Tj ET"))
    assert(got == "Hello AC", got)
  }

  test("uncompressed ToUnicode CMap works too") {
    assert(PdfText.extract(
      cidPdf("BT /F1 12 Tf <0001> Tj ET", compressCmap = false)) == "H")
  }

  test("per-page resources: the same /F1 name binds different fonts per page") {
    // page 1's /F1 is the CID font; page 2's /F1 is a simple font
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [3 0 R 4 0 R] /Count 2>>"),
      PdfFixtures.textObj(3,
        "<</Type /Page /Parent 2 0 R /Resources <</Font <</F1 7 0 R>>>> " +
          "/Contents 5 0 R>>"),
      PdfFixtures.textObj(4,
        "<</Type /Page /Parent 2 0 R /Resources <</Font <</F1 9 0 R>>>> " +
          "/Contents 6 0 R>>"),
      PdfFixtures.streamObj(5,
        "BT /F1 12 Tf <00100011> Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = true),
      PdfFixtures.streamObj(6,
        "BT /F1 12 Tf (plain latin) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = true),
      PdfFixtures.textObj(7,
        "<</Type /Font /Subtype /Type0 /ToUnicode 8 0 R>>"),
      PdfFixtures.streamObj(8,
        cmapText.getBytes(StandardCharsets.ISO_8859_1), compress = true),
      PdfFixtures.textObj(9,
        "<</Type /Font /Subtype /Type1 /BaseFont /Helvetica>>")))
    assert(PdfText.extract(pdf) == "AB\n\nplain latin")
  }

  test("kids-order beats file order for page sequencing") {
    // object numbers/file order reversed vs the /Kids array
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [4 0 R 3 0 R] /Count 2>>"),
      PdfFixtures.textObj(3,
        "<</Type /Page /Parent 2 0 R /Contents 5 0 R>>"),
      PdfFixtures.textObj(4,
        "<</Type /Page /Parent 2 0 R /Contents 6 0 R>>"),
      PdfFixtures.streamObj(5,
        "BT (second) Tj ET".getBytes(StandardCharsets.ISO_8859_1), compress = false),
      PdfFixtures.streamObj(6,
        "BT (first) Tj ET".getBytes(StandardCharsets.ISO_8859_1), compress = false)))
    assert(PdfText.extract(pdf) == "first\n\nsecond")
  }

  // --------------------------------------- r13 review regressions

  test("per-line BT/ET blocks and Tm positioning break lines (Chrome/gs style)") {
    val ops = "BT (Hello) Tj ET BT (World) Tj ET"
    assert(PdfText.extract(makePdf(Seq(ops), compress = false))
      == "Hello\nWorld")
    val tm = "BT 1 0 0 1 72 700 Tm (line one) Tj 1 0 0 1 72 686 Tm (line two) Tj ET"
    assert(PdfText.extract(makePdf(Seq(tm), compress = false))
      == "line one\nline two")
  }

  test("/Contents via an indirect ARRAY object resolves its stream refs") {
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>"),
      PdfFixtures.textObj(3, "<</Type /Page /Parent 2 0 R /Contents 4 0 R>>"),
      PdfFixtures.textObj(4, "[5 0 R 6 0 R]"),
      PdfFixtures.streamObj(5,
        "BT (part one ) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = false),
      PdfFixtures.streamObj(6,
        "BT (part two) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = false)))
    assert(PdfText.extract(pdf) == "part one\npart two")
  }

  test("fonts inherit from the /Pages node when the page has no /Resources") {
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2,
        "<</Type /Pages /Kids [3 0 R] /Count 1 " +
          "/Resources <</Font <</F1 5 0 R>>>>>>"),
      PdfFixtures.textObj(3, "<</Type /Page /Parent 2 0 R /Contents 4 0 R>>"),
      PdfFixtures.streamObj(4,
        "BT /F1 12 Tf <0001> Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = false),
      PdfFixtures.textObj(5, "<</Type /Font /Subtype /Type0 /ToUnicode 6 0 R>>"),
      PdfFixtures.streamObj(6,
        cmapText.getBytes(StandardCharsets.ISO_8859_1), compress = true)))
    assert(PdfText.extract(pdf) == "H")
  }

  test("'N 0 obj' text inside stream data cannot clobber a real object") {
    // an uncompressed embedded attachment containing "3 0 obj" — the
    // phantom must not replace page object 3
    val attachment = ("this is an attachment containing 3 0 obj\n" +
      "<</Type /Page /Contents 99 0 R>>\nendobj text").getBytes(
      StandardCharsets.ISO_8859_1)
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>"),
      PdfFixtures.streamObj(20, attachment, compress = false),
      PdfFixtures.textObj(3, "<</Type /Page /Parent 2 0 R /Contents 4 0 R>>"),
      PdfFixtures.streamObj(4,
        "BT (real text) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = false)))
    assert(PdfText.extract(pdf) == "real text")
  }

  test("inline image binary with a '(' byte does not swallow later text") {
    val img = new String(Array[Byte](40, 1, 2, 3, 40, 41, 5),
      StandardCharsets.ISO_8859_1) // contains '(' and ')'
    val ops = s"BT (before ) Tj ET BI /W 2 /H 2 /BPC 8 ID $img EI BT (after) Tj ET"
    assert(PdfText.extract(makePdf(Seq(ops), compress = false))
      == "before\nafter")
  }

  test("a CMap source code past Int range drops the entry, not the document") {
    val bad = cmapText.replace("<0003> <006C>", "<FFFFFFFFFF> <006C>")
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>"),
      PdfFixtures.textObj(3,
        "<</Type /Page /Parent 2 0 R /Resources <</Font <</F1 5 0 R>>>> " +
          "/Contents 4 0 R>>"),
      PdfFixtures.streamObj(4,
        "BT /F1 12 Tf <00010002> Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = false),
      PdfFixtures.textObj(5, "<</Type /Font /Subtype /Type0 /ToUnicode 6 0 R>>"),
      PdfFixtures.streamObj(6, bad.getBytes(StandardCharsets.ISO_8859_1),
        compress = false)))
    assert(PdfText.extract(pdf) == "Hê")
  }

  test("junk-prefixed PDFs still route to the native extractor at the seam") {
    val junk = "HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n\r\n"
      .getBytes(StandardCharsets.ISO_8859_1)
    val whole = junk ++ makePdf(Seq(hello), compress = true)
    assert(graft.pipeline.JavaSoundExternals.extractPdfText(whole)
      == "Hello World")
  }

  // ------------------- simple-font /Encoding fidelity (r14, Annex D)

  /** Single page, one font whose dict body is `fontBody`, extra
    * objects appended verbatim (e.g. an indirect /Encoding dict). */
  private def simplePdf(fontBody: String, content: String,
      extra: Seq[(Int, Array[Byte])] = Seq.empty): Array[Byte] =
    PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>"),
      PdfFixtures.textObj(3,
        "<</Type /Page /Parent 2 0 R /Resources <</Font <</F1 5 0 R>>>> " +
          "/Contents 4 0 R>>"),
      PdfFixtures.streamObj(4,
        content.getBytes(StandardCharsets.ISO_8859_1), compress = false),
      PdfFixtures.textObj(5, fontBody)) ++ extra)

  test("WinAnsiEncoding decodes the 0x80-0x9F punctuation CP1252 range") {
    // 0x93/0x94 curly dquotes, 0x91/0x92 curly squotes, 0x96 endash,
    // 0x97 emdash, 0x85 ellipsis, 0x80 Euro, 0x99 trademark
    val content = "BT /F1 12 Tf (Hi x ab" +
      "c 5) Tj ET"
    val got = PdfText.extract(simplePdf(
      "<</Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/Encoding /WinAnsiEncoding>>", content))
    assert(got == "“Hi” ‘x’ a–b—c… €5™", got)
  }

  test("WinAnsiEncoding: Latin-1 letters pass through; undefined codes emit nothing") {
    // 0xE9 é, 0xC4 Ä stay; 0x81/0x8D/0x9D are undefined in WinAnsi
    val content = "BT /F1 12 Tf (café Äok) Tj ET"
    val got = PdfText.extract(simplePdf(
      "<</Type /Font /Encoding /WinAnsiEncoding>>", content))
    assert(got == "café Äok", got)
  }

  test("MacRomanEncoding decodes the Apple high range") {
    // 0x8E é, 0xD0 endash, 0xD2/0xD3 curly dquotes, 0xA5 bullet,
    // 0xDE fi ligature
    val content = "BT /F1 12 Tf (caf ÒqÓ aÐb ¥ Þn) Tj ET"
    val got = PdfText.extract(simplePdf(
      "<</Type /Font /Encoding /MacRomanEncoding>>", content))
    assert(got == "café “q” a–b • ﬁn", got)
  }

  test("StandardEncoding maps 0x27/0x60 to curly quotes and the ligature codes") {
    // 0x27 quoteright, 0x60 quoteleft, 0xAE fi, 0xD0 emdash
    val content = "BT /F1 12 Tf (don't `x' ®n aÐb) Tj ET"
    val got = PdfText.extract(simplePdf(
      "<</Type /Font /Encoding /StandardEncoding>>", content))
    assert(got == "don’t ‘x’ ﬁn a—b", got)
  }

  test("/Encoding dict: /BaseEncoding + /Differences remap, consecutive codes") {
    // Differences: 65 -> Z, 66 -> emdash (consecutive), 200 -> fi; the
    // base (WinAnsi) still decodes everything else
    val content = "BT /F1 12 Tf (AB È cd) Tj ET"
    val got = PdfText.extract(simplePdf(
      "<</Type /Font /Encoding <</Type /Encoding " +
        "/BaseEncoding /WinAnsiEncoding " +
        "/Differences [65 /Z /emdash 200 /fi]>>>>", content))
    assert(got == "Z— ﬁ c–d", got)
  }

  test("/Differences without /BaseEncoding bases on StandardEncoding (TeX form)") {
    // a TeX-style remap of low codes: 11 -> ff, 12 -> fi, 13 -> fl;
    // untouched codes keep Standard semantics (0x27 -> quoteright)
    val content = "BT /F1 12 Tf (eort ecient don't) Tj ET"
    val got = PdfText.extract(simplePdf(
      "<</Type /Font /Encoding <</Differences [11 /ff /fi /fl]>>>>",
      content))
    assert(got == "eﬀort eﬁcient don’t", got)
  }

  test("indirect /Encoding object resolves; uniXXXX and gNN names in /Differences") {
    // 65 -> uni0142 (ł, the AGL algorithmic form), 66 -> g42 (subset-
    // private: NO text, not the base glyph), 67 -> a.sc (suffix rule)
    val enc = "<</Type /Encoding /BaseEncoding /WinAnsiEncoding " +
      "/Differences [65 /uni0142 /g42 /a.sc]>>"
    val got = PdfText.extract(simplePdf(
      "<</Type /Font /Encoding 7 0 R>>",
      "BT /F1 12 Tf (ABCd) Tj ET",
      extra = Seq(PdfFixtures.textObj(7, enc))))
    assert(got == "ład", got)
  }

  test("an indirect /Encoding resolving to a CMap STREAM builds no byte table") {
    // a Type0 font may point /Encoding at an embedded CMap stream; a
    // simple-font byte table built from the stream's dict would decode
    // its 2-byte CID text as StandardEncoding garbage — the font must
    // stay unbound (Latin-1 fallback, the documented unmapped-CID seam)
    val got = PdfText.extract(simplePdf(
      "<</Type /Font /Subtype /Type0 /Encoding 7 0 R>>",
      "BT /F1 12 Tf (plain bytes) Tj ET",
      extra = Seq(PdfFixtures.streamObj(7,
        "%!PS fake cmap data".getBytes(StandardCharsets.ISO_8859_1),
        compress = false, dictExtra = " /Type /CMap"))))
    assert(got == "plain bytes", got)
  }

  test("/ToUnicode wins over /Encoding when both are present") {
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>"),
      PdfFixtures.textObj(3,
        "<</Type /Page /Parent 2 0 R /Resources <</Font <</F1 5 0 R>>>> " +
          "/Contents 4 0 R>>"),
      PdfFixtures.streamObj(4,
        "BT /F1 12 Tf <0001> Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = false),
      PdfFixtures.textObj(5,
        "<</Type /Font /Subtype /Type0 /Encoding /WinAnsiEncoding " +
          "/ToUnicode 6 0 R>>"),
      PdfFixtures.streamObj(6,
        cmapText.getBytes(StandardCharsets.ISO_8859_1), compress = true)))
    assert(PdfText.extract(pdf) == "H")
  }

  test("fonts with no /Encoding at all keep the Latin-1 byte fallback") {
    val content = "BT /F1 12 Tf (plain café) Tj ET"
    val got = PdfText.extract(simplePdf(
      "<</Type /Font /Subtype /Type1 /BaseFont /Helvetica>>", content))
    assert(got == "plain café", got)
  }

  test("an /Encoding inside a NESTED dict value does not bind the font " +
      "(top-level key lookup, r14 ADVICE)") {
    // 0xA5 is '¥' in Latin-1 but '•' in MacRoman — binding the nested
    // /Encoding would decode the wrong byte table
    val content = "BT /F1 12 Tf (y¥z) Tj ET"
    val got = PdfText.extract(simplePdf(
      "<</Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/FontInfo <</Encoding /MacRomanEncoding>>>>", content))
    assert(got == "y¥z", got)
  }

  test("a longer key like /EncodingFoo does not bind as /Encoding " +
      "(delimiter required, r14 ADVICE)") {
    val content = "BT /F1 12 Tf (y¥z) Tj ET"
    val got = PdfText.extract(simplePdf(
      "<</Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/EncodingFoo /MacRomanEncoding>>", content))
    assert(got == "y¥z", got)
  }

  // ------------------------------- Form XObjects (§8.10 Do, r14)

  /** A /Subtype /Form XObject stream object. */
  private def formObj(num: Int, ops: String, resources: String = "")
      : (Int, Array[Byte]) = {
    val res = if (resources.isEmpty) "" else s" /Resources $resources"
    PdfFixtures.streamObj(num,
      ops.getBytes(StandardCharsets.ISO_8859_1), compress = true,
      dictExtra = s" /Type /XObject /Subtype /Form /BBox [0 0 612 792]$res")
  }

  test("text drawn only through a Form XObject extracts (header/watermark class)") {
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>"),
      PdfFixtures.textObj(3,
        "<</Type /Page /Parent 2 0 R /Resources <</XObject <</X1 5 0 R>>>> " +
          "/Contents 4 0 R>>"),
      PdfFixtures.streamObj(4,
        "q 1 0 0 1 0 0 cm /X1 Do Q".getBytes(StandardCharsets.ISO_8859_1),
        compress = false),
      formObj(5, "BT (from the form) Tj ET")))
    assert(PdfText.extract(pdf) == "from the form")
  }

  test("a form's own /Resources fonts decode its text; page text interleaves") {
    // the form carries a WinAnsi font and an 0x97 emdash byte; the page
    // shows its own text before and after the Do
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>"),
      PdfFixtures.textObj(3,
        "<</Type /Page /Parent 2 0 R /Resources <</XObject <</F 5 0 R>>>> " +
          "/Contents 4 0 R>>"),
      PdfFixtures.streamObj(4,
        "BT (before) Tj ET /F Do BT (after) Tj ET"
          .getBytes(StandardCharsets.ISO_8859_1), compress = false),
      formObj(5, "BT /F1 9 Tf (ab) Tj ET",
        resources = "<</Font <</F1 6 0 R>>>>"),
      PdfFixtures.textObj(6,
        "<</Type /Font /Encoding /WinAnsiEncoding>>")))
    assert(PdfText.extract(pdf) == "before\na—b\nafter")
  }

  test("nested forms recurse; a reference cycle terminates; images are skipped") {
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>"),
      PdfFixtures.textObj(3,
        "<</Type /Page /Parent 2 0 R /Resources " +
          "<</XObject <</A 5 0 R /Img 7 0 R>>>> /Contents 4 0 R>>"),
      PdfFixtures.streamObj(4,
        "/A Do /Img Do".getBytes(StandardCharsets.ISO_8859_1),
        compress = false),
      // A draws text, then invokes B; B invokes A again (cycle) and
      // draws its own text — the cycle arm must terminate silently
      formObj(5, "BT (outer) Tj ET /B Do",
        resources = "<</XObject <</B 6 0 R>>>>"),
      formObj(6, "/A Do BT (inner) Tj ET",
        resources = "<</XObject <</A 5 0 R>>>>"),
      // an image XObject whose (fake) data contains BT: never recursed
      PdfFixtures.streamObj(7,
        "BT (not text) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = false,
        dictExtra = " /Type /XObject /Subtype /Image /Width 2 /Height 2")))
    val got = PdfText.extract(pdf)
    assert(got == "outer\ninner", got)
  }

  test("an image-only page (one /Image XObject, no BT) extracts empty " +
      "via the cheap short-circuit (r14 ADVICE)") {
    // scanned-book layout: every page is a single /Image draw; the
    // text gate must NOT fall through to a full content scan just
    // because an XObject exists — only /Form subtypes can carry text
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>"),
      PdfFixtures.textObj(3,
        "<</Type /Page /Parent 2 0 R /Resources " +
          "<</XObject <</Img 5 0 R>>>> /Contents 4 0 R>>"),
      PdfFixtures.streamObj(4,
        "q 612 0 0 792 0 0 cm /Img Do Q".getBytes(StandardCharsets.ISO_8859_1),
        compress = false),
      PdfFixtures.streamObj(5,
        Array.tabulate[Byte](64)(i => (i * 37 + 11).toByte),
        compress = false,
        dictExtra = " /Type /XObject /Subtype /Image /Width 2 /Height 2")))
    assert(PdfText.extract(pdf) == "")
  }

  test("the same form invoked twice on one page renders twice (not a cycle)") {
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>"),
      PdfFixtures.textObj(3,
        "<</Type /Page /Parent 2 0 R /Resources <</XObject <</S 5 0 R>>>> " +
          "/Contents 4 0 R>>"),
      PdfFixtures.streamObj(4,
        "/S Do /S Do".getBytes(StandardCharsets.ISO_8859_1),
        compress = false),
      formObj(5, "BT (stamp) Tj ET")))
    assert(PdfText.extract(pdf) == "stamp\nstamp")
  }

  // --------------------------- PDF 1.5 object streams (§7.5.7, r14)

  test("catalog/page/font dicts inside an /ObjStm resolve, font decode intact") {
    // everything structural lives compressed in the object stream —
    // the layout of every pdftex document since ~2005; the WinAnsi
    // font must still bind so 0x97 decodes as an emdash, proving the
    // font-aware path (not the raw fallback) ran
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.objStmObj(10, Seq(
        1 -> "<</Type /Catalog /Pages 2 0 R>>",
        2 -> "<</Type /Pages /Kids [3 0 R] /Count 1>>",
        3 -> ("<</Type /Page /Parent 2 0 R /Resources " +
          "<</Font <</F1 5 0 R>>>> /Contents 4 0 R>>"),
        5 -> "<</Type /Font /Encoding /WinAnsiEncoding>>")),
      PdfFixtures.streamObj(4,
        "BT /F1 12 Tf (ab) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = true)))
    assert(PdfText.extract(pdf) == "a—b")
  }

  test("an appended top-level redefinition beats the earlier /ObjStm " +
      "copy of the same object (incremental update)") {
    // incremental updates append plain `N 0 obj` bodies AFTER the
    // original object stream; the appended definition is the live one.
    // inOrder: precedence is FILE position, so the fixture must place
    // the redefinition after the ObjStm like a real updater does.
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.objStmObj(10, Seq(
        1 -> "<</Type /Catalog /Pages 2 0 R>>",
        2 -> "<</Type /Pages /Kids [3 0 R] /Count 1>>",
        3 -> "<</Type /Page /Parent 2 0 R /Contents 4 0 R>>")),
      PdfFixtures.streamObj(4,
        "BT (stale) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = false),
      PdfFixtures.streamObj(6,
        "BT (updated) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = false),
      // top-level page 3 re-points /Contents at object 6
      PdfFixtures.textObj(3, "<</Type /Page /Parent 2 0 R /Contents 6 0 R>>")),
      inOrder = true)
    assert(PdfText.extract(pdf) == "updated")
  }

  test("a LATER /ObjStm copy beats the earlier stale top-level body " +
      "(qpdf --object-streams / Acrobat full-save layout)") {
    // a full-save rewriter recompresses the live definitions into a
    // NEW object stream at the END of the file while a stale top-level
    // body may survive earlier; precedence is file position in both
    // directions (r14 ADVICE)
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>"),
      // stale top-level page points at the old content stream
      PdfFixtures.textObj(3, "<</Type /Page /Parent 2 0 R /Contents 4 0 R>>"),
      PdfFixtures.streamObj(4,
        "BT (stale) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = false),
      PdfFixtures.streamObj(6,
        "BT (updated) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = false),
      // the live page dict lives in an ObjStm written at the file end
      PdfFixtures.objStmObj(10, Seq(
        3 -> "<</Type /Page /Parent 2 0 R /Contents 6 0 R>>"))),
      inOrder = true)
    assert(PdfText.extract(pdf) == "updated")
  }

  test("of two /ObjStm copies of one object, the later-in-file stream " +
      "wins regardless of object number") {
    // object 20 (earlier in file) carries the stale copy; object 10
    // (LATER in file) carries the live one — a number-ordered merge
    // would pick the stale copy
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.objStmObj(20, Seq(
        1 -> "<</Type /Catalog /Pages 2 0 R>>",
        2 -> "<</Type /Pages /Kids [3 0 R] /Count 1>>",
        3 -> "<</Type /Page /Parent 2 0 R /Contents 4 0 R>>")),
      PdfFixtures.streamObj(4,
        "BT (stale) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = false),
      PdfFixtures.streamObj(6,
        "BT (updated) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = false),
      PdfFixtures.objStmObj(10, Seq(
        3 -> "<</Type /Page /Parent 2 0 R /Contents 6 0 R>>"))),
      inOrder = true)
    assert(PdfText.extract(pdf) == "updated")
  }

  test("encrypted documents expand their (encrypted) /ObjStm dicts: " +
      "decrypt-then-expand order") {
    // an RC4 (V2/R3) document whose page/font dicts live inside an
    // ObjStm — the container stream is encrypted like any stream, so
    // expansion MUST run after crypt detection with the ObjStm's own
    // per-object key; the WinAnsi font inside proves the expanded
    // dicts drive font decode too (0x97 -> emdash)
    val o = Array.tabulate[Byte](32)(i => (i * 11 + 5).toByte)
    val fileId = Array.tabulate[Byte](16)(i => (i * 13 + 1).toByte)
    val key = PdfCrypt.fileKey(o, -44, fileId, r = 3, keyBytes = 16)
    val ctx = PdfCrypt.Ctx(key, aes = false)
    val u = PdfCrypt.emptyUserU(key, fileId, r = 3).padTo(32, 0.toByte)
    def enc(num: Int, raw: Array[Byte]): Array[Byte] = {
      val c = javax.crypto.Cipher.getInstance("ARCFOUR")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(
          PdfCrypt.objKey(ctx, num, 0), "ARCFOUR"))
      c.doFinal(raw)
    }
    def hx(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02X").mkString
    // plaintext ObjStm body (header + contained dicts), then deflate,
    // then encrypt with object 10's key — the §7.6.2 write order
    val contained = Seq(
      1 -> "<</Type /Catalog /Pages 2 0 R>>",
      2 -> "<</Type /Pages /Kids [3 0 R] /Count 1>>",
      3 -> ("<</Type /Page /Parent 2 0 R /Resources " +
        "<</Font <</F1 5 0 R>>>> /Contents 4 0 R>>"),
      5 -> "<</Type /Font /Encoding /WinAnsiEncoding>>")
    val bodies = contained.map(_._2.getBytes(StandardCharsets.ISO_8859_1))
    val offs = bodies.scanLeft(0)((a, b) => a + b.length + 1).init
    val hdr = (contained.map(_._1) zip offs)
      .map { case (n, off) => s"$n $off" }.mkString(" ") + "\n"
    val stmPlain = hdr.getBytes(StandardCharsets.ISO_8859_1) ++
      bodies.flatMap(b => b :+ '\n'.toByte)
    val stmData = enc(10, PdfFixtures.deflate(stmPlain))
    val content = enc(4, PdfFixtures.deflate(
      "BT /F1 12 Tf (a\u0097b) Tj ET".getBytes(StandardCharsets.ISO_8859_1)))
    def stmObj(num: Int, dict: String, data: Array[Byte]): (Int, Array[Byte]) = {
      val head = (dict + "\nstream\n").getBytes(StandardCharsets.ISO_8859_1)
      val tail = "\nendstream".getBytes(StandardCharsets.ISO_8859_1)
      num -> (head ++ data ++ tail)
    }
    val pdf = PdfFixtures.assemble(Seq(
      stmObj(10, s"<</Type /ObjStm /N ${contained.size} /First ${hdr.length} " +
        s"/Length ${stmData.length} /Filter /FlateDecode>>", stmData),
      stmObj(4, s"<</Length ${content.length} /Filter /FlateDecode>>", content),
      PdfFixtures.textObj(9,
        s"<</Filter /Standard /Length 128 /O <${hx(o)}> /P -44 /R 3 " +
          s"/U <${hx(u)}> /V 2>>")),
      trailerExtra = s" /Encrypt 9 0 R /ID [<${hx(fileId)}> <${hx(fileId)}>]")
    assert(PdfText.extract(pdf) == "a—b")
  }

  test("a malformed /ObjStm degrades, never throws") {
    // /First past the decoded data: the expansion skips the stream and
    // the raw fallback still finds the page text
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.streamObj(10, "1 0\n<</Broken>>".getBytes(
        StandardCharsets.ISO_8859_1), compress = true,
        dictExtra = " /Type /ObjStm /N 1 /First 99999"),
      PdfFixtures.streamObj(4,
        "BT (survives) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = false)))
    assert(PdfText.extract(pdf) == "survives")
  }

  // ------------------------------------------ r13 ADVICE regressions

  test("/Filter with only unrecognized names fails CLOSED (no raw bytes as text)") {
    // the stream claims /JBIG2Decode but holds raw bytes containing BT
    // text operators — before r14 those bytes flowed through decode()
    // unchanged and the raw fallback emitted them as page text
    val pdf = PdfFixtures.makePdfEnc(Seq(hello),
      raw => (" /Filter /JBIG2Decode", raw))
    assert(PdfText.extract(pdf) == "")
  }

  test("dict balancing is string-aware: '>>' inside a literal string value") {
    // the (x>>y) value sits BEFORE /Contents — a non-string-aware
    // dictEnd truncates the page dict there and loses the content ref
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>"),
      PdfFixtures.textObj(3,
        "<</Type /Page /Note (x>>y) /Parent 2 0 R /Contents 4 0 R>>"),
      PdfFixtures.streamObj(4,
        "BT (string aware) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = false)))
    assert(PdfText.extract(pdf) == "string aware")
  }

  test("dict balancing is string-aware: '<<' inside a literal string value") {
    // '(a<<b)' would over-extend the dict across the *next* object
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>"),
      PdfFixtures.textObj(3,
        "<</Type /Page /Note (a<<b) /Parent 2 0 R /Contents 4 0 R>>"),
      PdfFixtures.streamObj(4,
        "BT (not swallowed) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
        compress = false)))
    assert(PdfText.extract(pdf) == "not swallowed")
  }

  test("raw-fallback stream scan is string-aware too") {
    // no object graph at all (no 'N 0 obj' wrappers): the blind
    // streams() scanner must skip the (x>>y) span to find the stream
    val body = "BT (blind scan) Tj ET"
    val raw = (s"%PDF-1.4\n<</Note (x>>y) /Length ${body.length}>>\n" +
      s"stream\n$body\nendstream\n").getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfText.extract(raw) == "blind scan")
  }

  // ------------------------- standard security handler (empty pwd)

  test("RC4-encrypted document (V2/R3, owner-locked, empty user pwd) decodes") {
    val pdf = PdfFixtures.encryptedPdf("BT (rc4 secret text) Tj ET", "rc4")
    assert(PdfText.extract(pdf) == "rc4 secret text")
  }

  test("AES-128-encrypted document (V4/R4 AESV2) decodes") {
    val pdf = PdfFixtures.encryptedPdf("BT (aes secret text) Tj ET", "aes")
    assert(PdfText.extract(pdf) == "aes secret text")
  }

  test("V4 RC4 with Acrobat's alphabetical key order: the crypt filter's " +
      "byte-unit /Length 16 must not shadow the top-level bit length") {
    val pdf = PdfFixtures.encryptedPdf("BT (v4 rc4 text) Tj ET", "rc4v4")
    assert(PdfText.extract(pdf) == "v4 rc4 text")
  }

  test("/EncryptMetadata false changes the key derivation (R4)") {
    val pdf = PdfFixtures.encryptedPdf("BT (no meta crypt) Tj ET", "aes",
      encryptMetadata = false)
    assert(PdfText.extract(pdf) == "no meta crypt")
  }

  test("/P written as an unsigned 32-bit int derives the same key") {
    val pdf = PdfFixtures.encryptedPdf("BT (unsigned perms) Tj ET", "rc4",
      p = 4294963392L) // == -3904 truncated, the PDFBox/pdf.js reading
    assert(PdfText.extract(pdf) == "unsigned perms")
  }

  test("an /O literal containing '<<' does not blank the Encrypt dict's keys") {
    // topLevel() blanks nested <<>> bodies before /V and /R are read;
    // 32 random /O bytes contain "<<" in ~0.1% of encrypted documents
    // and a non-string-aware depth count would blank everything after
    // the string — silently demoting a supported RC4 document to
    // fail-closed (the dictEnd r13 ADVICE class, applied to topLevel)
    val o = Array.tabulate[Byte](32)(i =>
      if (i == 5 || i == 6) '<'.toByte else (i * 11 + 5).toByte)
    val fileId = Array.tabulate[Byte](16)(i => (i * 13 + 1).toByte)
    val key = PdfCrypt.fileKey(o, -44, fileId, r = 3, keyBytes = 16)
    val ctx = PdfCrypt.Ctx(key, aes = false)
    val u = PdfCrypt.emptyUserU(key, fileId, r = 3).padTo(32, 0.toByte)
    val c = javax.crypto.Cipher.getInstance("ARCFOUR")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(PdfCrypt.objKey(ctx, 4, 0), "ARCFOUR"))
    val data = c.doFinal(PdfFixtures.deflate(
      "BT (literal O key) Tj ET".getBytes(StandardCharsets.ISO_8859_1)))
    def hx(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02X").mkString
    val oLit = new String(o.map(b => (b & 0xff).toChar)) // no (, ), \ bytes by construction
    val pdf = PdfFixtures.assemble(Seq(
      PdfFixtures.textObj(1, "<</Type /Catalog /Pages 2 0 R>>"),
      PdfFixtures.textObj(2, "<</Type /Pages /Kids [3 0 R] /Count 1>>"),
      PdfFixtures.textObj(3, "<</Type /Page /Parent 2 0 R /Contents 4 0 R>>"),
      4 -> (s"<</Length ${data.length} /Filter /FlateDecode>>\nstream\n"
        .getBytes(StandardCharsets.ISO_8859_1) ++ data ++
        "\nendstream".getBytes(StandardCharsets.ISO_8859_1)),
      PdfFixtures.textObj(9,
        s"<</Filter /Standard /Length 128 /O ($oLit) /P -44 /R 3 " +
          s"/U <${hx(u)}> /V 2>>")),
      trailerExtra = s" /Encrypt 9 0 R /ID [<${hx(fileId)}> <${hx(fileId)}>]")
    assert(PdfText.extract(pdf) == "literal O key")
  }

  test("AES-256 R6 document (V5 /AESV3, empty user pwd) decodes") {
    val pdf = PdfFixtures.encryptedPdfV5("BT (aes256 body) Tj ET")
    assert(PdfText.extract(pdf) == "aes256 body")
  }

  test("AES-256 R5 legacy document decodes (single-SHA-256 hash)") {
    val pdf = PdfFixtures.encryptedPdfV5("BT (r5 body) Tj ET", r = 5)
    assert(PdfText.extract(pdf) == "r5 body")
  }

  test("V5 with a real user password fails CLOSED (forged /U hash)") {
    val pdf = PdfFixtures.encryptedPdfV5("BT (locked) Tj ET", forgeU = true)
    assert(PdfText.extract(pdf) == "")
  }

  test("V5 with a tampered /Perms fails CLOSED (Algorithm 13 gate)") {
    val pdf = PdfFixtures.encryptedPdfV5("BT (tampered) Tj ET", badPerms = true)
    assert(PdfText.extract(pdf) == "")
  }

  test("V5 with /Perms absent is tolerated (R5-era producers)") {
    val pdf = PdfFixtures.encryptedPdfV5("BT (no perms) Tj ET",
      omitPerms = true)
    assert(PdfText.extract(pdf) == "no perms")
  }

  test("V5 with an unsupported crypt filter (no /AESV3) fails CLOSED") {
    val good = PdfFixtures.encryptedPdfV5("BT (x) Tj ET")
    val s = new String(good, StandardCharsets.ISO_8859_1)
      .replace("/AESV3", "/AESV9")
    assert(PdfText.extract(s.getBytes(StandardCharsets.ISO_8859_1)) == "")
  }

  test("a real (non-empty) user password fails CLOSED via the /U gate") {
    val pdf = PdfFixtures.encryptedPdf("BT (locked) Tj ET", "rc4",
      forgeU = true)
    assert(PdfText.extract(pdf) == "")
  }

  test("unsupported encryption scheme fails CLOSED: empty text, no throw") {
    // forge /V 5 (AES-256): detectCrypt must refuse, and NOTHING may
    // flow — not even an unfiltered stream's raw ciphertext
    val pdf = PdfFixtures.encryptedPdf(
      "BT (unreachable) Tj ET", "rc4", vOverride = Some(5))
    assert(PdfText.extract(pdf) == "")
  }

  test("seeded fuzz: bit-flipped, truncated, and spliced documents never throw") {
    // the never-throws contract across every r13/r14 code path —
    // object graph, ObjStm expansion, encodings, LZW, crypt, XObject
    // recursion — under deterministic corruption (fixed seed: a
    // failure reproduces exactly)
    val rnd = new scala.util.Random(20260816L)
    val bases: IndexedSeq[Array[Byte]] = IndexedSeq(
      makePdf(Seq(hello), compress = true),
      makePdf(Seq(hello, "BT (p2) Tj ET"), compress = false),
      cidPdf("BT /F1 12 Tf <00010002> Tj ET"),
      PdfFixtures.encryptedPdf("BT (x) Tj ET", "aes"),
      PdfFixtures.encryptedPdf("BT (x) Tj ET", "rc4"),
      PdfFixtures.encryptedPdfV5("BT (x) Tj ET"),
      PdfFixtures.makePdfEnc(Seq(hello),
        raw => (" /Filter /LZWDecode", PdfFixtures.lzwEncode(raw))),
      // predictor'd streams (r15): corrupted row tags, torn rows, and
      // mangled /DecodeParms must all degrade, never throw
      PdfFixtures.makePdfEnc(Seq(hello),
        raw => (" /Filter /FlateDecode /DecodeParms <</Predictor 15 /Columns 7>>",
          PdfFixtures.deflate(
            PdfFixtures.pngPredictEncode(raw, 7, filterForRow = _ % 5)))),
      PdfFixtures.makePdfEnc(Seq(hello),
        raw => (" /Filter /LZWDecode /DecodeParms <</Predictor 2 /Columns 5>>",
          PdfFixtures.lzwEncode(PdfFixtures.tiffPredictEncode(raw, 5)))),
      PdfFixtures.assemble(Seq(
        PdfFixtures.objStmObj(10, Seq(
          1 -> "<</Type /Catalog /Pages 2 0 R>>",
          2 -> "<</Type /Pages /Kids [3 0 R] /Count 1>>",
          3 -> "<</Type /Page /Parent 2 0 R /Contents 4 0 R>>")),
        PdfFixtures.streamObj(4,
          "BT (objstm) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
          compress = true))),
      PdfFixtures.assemble(Seq(
        PdfFixtures.objStmObj(10, Seq(
          1 -> "<</Type /Catalog /Pages 2 0 R>>",
          2 -> "<</Type /Pages /Kids [3 0 R] /Count 1>>",
          3 -> "<</Type /Page /Parent 2 0 R /Contents 4 0 R>>"),
          pngPredictorColumns = 6),
        PdfFixtures.streamObj(4,
          "BT (predstm) Tj ET".getBytes(StandardCharsets.ISO_8859_1),
          compress = true))))
    for (_ <- 1 to 1500) {
      val base = bases(rnd.nextInt(bases.size))
      val b = java.util.Arrays.copyOf(base, base.length)
      rnd.nextInt(3) match {
        case 0 => // up to 8 random bit flips
          for (_ <- 0 to rnd.nextInt(8)) {
            val i = rnd.nextInt(b.length)
            b(i) = (b(i) ^ (1 << rnd.nextInt(8))).toByte
          }
          PdfText.extract(b)
        case 1 => // truncation at a random point
          PdfText.extract(java.util.Arrays.copyOfRange(b, 0, rnd.nextInt(b.length)))
        case 2 => // splice a random slice of one doc into another
          val other = bases(rnd.nextInt(bases.size))
          val from = rnd.nextInt(other.length)
          val len = math.min(rnd.nextInt(200), other.length - from)
          val at = rnd.nextInt(b.length)
          val spliced = java.util.Arrays.copyOfRange(b, 0, at) ++
            java.util.Arrays.copyOfRange(other, from, from + len) ++
            java.util.Arrays.copyOfRange(b, at, b.length)
          PdfText.extract(spliced)
      }
    }
  }

  test("malformed inputs never throw") {
    assert(PdfText.extract(null) == "")
    assert(PdfText.extract(Array.emptyByteArray) == "")
    assert(PdfText.extract("not a pdf at all".getBytes) == "")
    // valid header, truncated mid-stream
    val whole = makePdf(Seq(hello), compress = true)
    for (cut <- Seq(10, whole.length / 2, whole.length - 5)) {
      val t = java.util.Arrays.copyOfRange(whole, 0, cut)
      PdfText.extract(t) // must not throw; content may be partial/empty
    }
    // stream that claims FlateDecode but holds junk
    val junk = ("%PDF-1.4\n1 0 obj\n<</Length 8 /Filter /FlateDecode>>\n" +
      "stream\nZZZZZZZZ\nendstream\nendobj\n").getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfText.extract(junk) == "")
    // oversized /Length must fall to the endstream fallback, not throw
    // (also when the graph path fails and the RAW path re-parses it)
    val bigLen = ("%PDF-1.4\n1 0 obj\n<</Length 99999999999999>>\nstream\n" +
      "BT (ok) Tj ET\nendstream\nendobj\n").getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfText.extract(bigLen) == "ok")
  }

  test("real-world PDFs: a TeX manual and a DocBook/FO spec extract as readable text") {
    // Two producer families the synthetic fixtures only imitate, as the
    // libtasn1-doc and shared-mime-info packages install them: the TeX
    // manual carries word-gap kerns and /Differences encodings. A C1
    // control character (0x80-0x9F) in the output is a byte that an
    // encoding failed to map.
    val docs = Seq(
      "/usr/share/doc/libtasn1-doc/libtasn1.pdf" ->
        ("Abstract Syntax Notation One (ASN.1) library", 36, 60000),
      "/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf" ->
        ("Shared MIME-info Database", 17, 30000))
    for ((path, (title, pages, minChars)) <- docs) {
      val file = java.nio.file.Paths.get(path)
      assume(java.nio.file.Files.exists(file), s"$path is not installed")
      val text = PdfText.extract(java.nio.file.Files.readAllBytes(file))
      assert(text.contains(title), path)
      assert(text.length >= minChars, s"$path: ${text.length} chars")
      assert(text.split("\n\n").length == pages, path)
      assert(!text.exists(c => c >= 0x80 && c <= 0x9F), s"$path: C1 control characters")
    }
  }
}
