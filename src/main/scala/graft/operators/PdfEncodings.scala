package graft.operators

/** Simple-font byte encodings for PDF text extraction (ISO 32000-1:2008
  * Annex D; reference behavior:
  * `tts_data_pipeline/pre_processing/process_all.py:265-279`,
  * PyMuPDF's simple-font decode): fonts WITHOUT a /ToUnicode CMap
  * decode through these tables, not a Latin-1 byte fallback, which
  * would mangle WinAnsi 0x80-0x9F (curly quotes, dashes, €, ™) and
  * every TeX-era /Encoding /Differences remap.
  *
  * Structure mirrors the spec's: Annex D publishes each encoding as a
  * table of code → GLYPH NAME; the Adobe Glyph List (AGL, a published
  * Adobe specification) maps glyph names to Unicode. Both are public
  * printed data. The base tables here are built from the Annex D name
  * tables resolved through an AGL subset covering every name the three
  * encodings use plus the names real /Differences arrays carry (TeX
  * ligatures ff/fi/fl/ffi/ffl, Greek, accents); names outside the
  * subset resolve through the AGL specification's algorithmic
  * `uniXXXX` / `uXXXXXX` forms, and anything else decodes to nothing
  * (a subset-private `gNN` name has no text meaning in the file).
  *
  * Annex D notes honored: WinAnsiEncoding maps 0xA0 to SPACE and 0xAD
  * to HYPHEN (the table lists the same glyph at both codes, unlike
  * CP1252's nbsp/soft-hyphen); MacRomanEncoding is the Apple layout
  * with 0xDB as CURRENCY (the pre-Euro form Annex D prints) and the
  * 0xF0 Apple logo undefined. AGL maps /Omega → U+2126 and /Delta →
  * U+2206 (the letterlike forms), the two deliberate deviations from
  * the Apple codec's Greek codepoints.
  */
private[operators] object PdfEncodings {

  // ------------------------------------------------- AGL subset

  /** name → codepoint; letters/digits added programmatically below. */
  private val aglPairs: Seq[(String, Int)] = Seq(
    // ASCII punctuation
    "space" -> 0x20, "exclam" -> 0x21, "quotedbl" -> 0x22,
    "numbersign" -> 0x23, "dollar" -> 0x24, "percent" -> 0x25,
    "ampersand" -> 0x26, "quotesingle" -> 0x27, "parenleft" -> 0x28,
    "parenright" -> 0x29, "asterisk" -> 0x2A, "plus" -> 0x2B,
    "comma" -> 0x2C, "hyphen" -> 0x2D, "period" -> 0x2E, "slash" -> 0x2F,
    "colon" -> 0x3A, "semicolon" -> 0x3B, "less" -> 0x3C, "equal" -> 0x3D,
    "greater" -> 0x3E, "question" -> 0x3F, "at" -> 0x40,
    "bracketleft" -> 0x5B, "backslash" -> 0x5C, "bracketright" -> 0x5D,
    "asciicircum" -> 0x5E, "underscore" -> 0x5F, "grave" -> 0x60,
    "braceleft" -> 0x7B, "bar" -> 0x7C, "braceright" -> 0x7D,
    "asciitilde" -> 0x7E,
    // typographic punctuation
    "quoteleft" -> 0x2018, "quoteright" -> 0x2019,
    "quotedblleft" -> 0x201C, "quotedblright" -> 0x201D,
    "quotesinglbase" -> 0x201A, "quotedblbase" -> 0x201E,
    "endash" -> 0x2013, "emdash" -> 0x2014, "ellipsis" -> 0x2026,
    "dagger" -> 0x2020, "daggerdbl" -> 0x2021, "bullet" -> 0x2022,
    "perthousand" -> 0x2030, "guilsinglleft" -> 0x2039,
    "guilsinglright" -> 0x203A, "guillemotleft" -> 0xAB,
    "guillemotright" -> 0xBB, "fraction" -> 0x2044, "florin" -> 0x192,
    "trademark" -> 0x2122, "minus" -> 0x2212,
    // currency
    "cent" -> 0xA2, "sterling" -> 0xA3, "currency" -> 0xA4,
    "yen" -> 0xA5, "Euro" -> 0x20AC,
    // Latin-1 symbols
    "exclamdown" -> 0xA1, "brokenbar" -> 0xA6, "section" -> 0xA7,
    "dieresis" -> 0xA8, "copyright" -> 0xA9, "ordfeminine" -> 0xAA,
    "logicalnot" -> 0xAC, "registered" -> 0xAE, "macron" -> 0xAF,
    "degree" -> 0xB0, "plusminus" -> 0xB1, "twosuperior" -> 0xB2,
    "threesuperior" -> 0xB3, "acute" -> 0xB4, "mu" -> 0xB5,
    "paragraph" -> 0xB6, "periodcentered" -> 0xB7, "cedilla" -> 0xB8,
    "onesuperior" -> 0xB9, "ordmasculine" -> 0xBA, "onequarter" -> 0xBC,
    "onehalf" -> 0xBD, "threequarters" -> 0xBE, "questiondown" -> 0xBF,
    "multiply" -> 0xD7, "divide" -> 0xF7,
    // Latin-1 letters
    "Agrave" -> 0xC0, "Aacute" -> 0xC1, "Acircumflex" -> 0xC2,
    "Atilde" -> 0xC3, "Adieresis" -> 0xC4, "Aring" -> 0xC5, "AE" -> 0xC6,
    "Ccedilla" -> 0xC7, "Egrave" -> 0xC8, "Eacute" -> 0xC9,
    "Ecircumflex" -> 0xCA, "Edieresis" -> 0xCB, "Igrave" -> 0xCC,
    "Iacute" -> 0xCD, "Icircumflex" -> 0xCE, "Idieresis" -> 0xCF,
    "Eth" -> 0xD0, "Ntilde" -> 0xD1, "Ograve" -> 0xD2, "Oacute" -> 0xD3,
    "Ocircumflex" -> 0xD4, "Otilde" -> 0xD5, "Odieresis" -> 0xD6,
    "Oslash" -> 0xD8, "Ugrave" -> 0xD9, "Uacute" -> 0xDA,
    "Ucircumflex" -> 0xDB, "Udieresis" -> 0xDC, "Yacute" -> 0xDD,
    "Thorn" -> 0xDE, "germandbls" -> 0xDF,
    "agrave" -> 0xE0, "aacute" -> 0xE1, "acircumflex" -> 0xE2,
    "atilde" -> 0xE3, "adieresis" -> 0xE4, "aring" -> 0xE5, "ae" -> 0xE6,
    "ccedilla" -> 0xE7, "egrave" -> 0xE8, "eacute" -> 0xE9,
    "ecircumflex" -> 0xEA, "edieresis" -> 0xEB, "igrave" -> 0xEC,
    "iacute" -> 0xED, "icircumflex" -> 0xEE, "idieresis" -> 0xEF,
    "eth" -> 0xF0, "ntilde" -> 0xF1, "ograve" -> 0xF2, "oacute" -> 0xF3,
    "ocircumflex" -> 0xF4, "otilde" -> 0xF5, "odieresis" -> 0xF6,
    "oslash" -> 0xF8, "ugrave" -> 0xF9, "uacute" -> 0xFA,
    "ucircumflex" -> 0xFB, "udieresis" -> 0xFC, "yacute" -> 0xFD,
    "thorn" -> 0xFE, "ydieresis" -> 0xFF,
    // Latin Extended + accents
    "Scaron" -> 0x160, "scaron" -> 0x161, "Zcaron" -> 0x17D,
    "zcaron" -> 0x17E, "Ydieresis" -> 0x178, "OE" -> 0x152, "oe" -> 0x153,
    "Lslash" -> 0x141, "lslash" -> 0x142, "dotlessi" -> 0x131,
    "circumflex" -> 0x2C6, "caron" -> 0x2C7, "breve" -> 0x2D8,
    "dotaccent" -> 0x2D9, "ring" -> 0x2DA, "ogonek" -> 0x2DB,
    "tilde" -> 0x2DC, "hungarumlaut" -> 0x2DD,
    // ligatures (TeX /Differences staples)
    "ff" -> 0xFB00, "fi" -> 0xFB01, "fl" -> 0xFB02,
    "ffi" -> 0xFB03, "ffl" -> 0xFB04,
    // math (MacRoman high range)
    "notequal" -> 0x2260, "infinity" -> 0x221E, "lessequal" -> 0x2264,
    "greaterequal" -> 0x2265, "partialdiff" -> 0x2202,
    "summation" -> 0x2211, "product" -> 0x220F, "integral" -> 0x222B,
    "approxequal" -> 0x2248, "radical" -> 0x221A, "lozenge" -> 0x25CA,
    "Omega" -> 0x2126, "Delta" -> 0x2206,
    // Greek (TeX math /Differences)
    "Gamma" -> 0x393, "Theta" -> 0x398, "Lambda" -> 0x39B, "Xi" -> 0x39E,
    "Pi" -> 0x3A0, "Sigma" -> 0x3A3, "Upsilon" -> 0x3A5, "Phi" -> 0x3A6,
    "Psi" -> 0x3A8, "alpha" -> 0x3B1, "beta" -> 0x3B2, "gamma" -> 0x3B3,
    "delta" -> 0x3B4, "epsilon" -> 0x3B5, "zeta" -> 0x3B6, "eta" -> 0x3B7,
    "theta" -> 0x3B8, "iota" -> 0x3B9, "kappa" -> 0x3BA,
    "lambda" -> 0x3BB, "nu" -> 0x3BD, "xi" -> 0x3BE, "omicron" -> 0x3BF,
    "pi" -> 0x3C0, "rho" -> 0x3C1, "sigma" -> 0x3C3, "sigma1" -> 0x3C2,
    "tau" -> 0x3C4, "upsilon" -> 0x3C5, "phi" -> 0x3C6, "chi" -> 0x3C7,
    "psi" -> 0x3C8, "omega" -> 0x3C9)

  private val agl: Map[String, String] =
    (aglPairs.map { case (n, cp) => n -> new String(Character.toChars(cp)) } ++
      (('A' to 'Z') ++ ('a' to 'z')).map(c => c.toString -> c.toString) ++
      Seq("zero", "one", "two", "three", "four", "five", "six", "seven",
        "eight", "nine").zipWithIndex.map { case (n, i) => n -> ('0' + i).toChar.toString }
    ).toMap

  /** Glyph name → extracted text: the AGL subset, then the AGL
    * specification's algorithmic forms `uniXXXX` (one or more 4-hex-
    * digit groups, surrogates excluded) and `uXXXX..uXXXXXX`; suffixed
    * variants like `a.sc` resolve through their base name (the AGL
    * rule: strip everything from the first period). None = no text
    * meaning (subset-private gNN/cidNN names). */
  def glyphText(name0: String): Option[String] = {
    val name = {
      val dot = name0.indexOf('.')
      if (dot > 0) name0.substring(0, dot) else name0
    }
    agl.get(name).orElse(uniForm(name))
  }

  private val UniRe = "uni((?:[0-9A-Fa-f]{4})+)".r
  private val URe = "u([0-9A-Fa-f]{4,6})".r

  private def uniForm(name: String): Option[String] = name match {
    case UniRe(hex) =>
      val sb = new StringBuilder
      var ok = true
      var i = 0
      while (i < hex.length) {
        val cp = Integer.parseInt(hex.substring(i, i + 4), 16)
        if (cp >= 0xD800 && cp <= 0xDFFF) ok = false else sb.append(cp.toChar)
        i += 4
      }
      if (ok) Some(sb.toString) else None
    case URe(hex) =>
      val cp = Integer.parseInt(hex, 16)
      if (cp >= 0xD800 && cp <= 0xDFFF || cp > 0x10FFFF) None
      else Some(new String(Character.toChars(cp)))
    case _ => None
  }

  // ---------------------------------------------- Annex D name tables

  /** ASCII 0x20-0x7E common to all three encodings EXCEPT 0x27/0x60
    * (quoteright/quoteleft in Standard, quotesingle/grave in
    * WinAnsi and MacRoman). */
  private val asciiCommon: Seq[(Int, String)] =
    Seq(
      0x20 -> "space", 0x21 -> "exclam", 0x22 -> "quotedbl",
      0x23 -> "numbersign", 0x24 -> "dollar", 0x25 -> "percent",
      0x26 -> "ampersand", 0x28 -> "parenleft", 0x29 -> "parenright",
      0x2A -> "asterisk", 0x2B -> "plus", 0x2C -> "comma",
      0x2D -> "hyphen", 0x2E -> "period", 0x2F -> "slash",
      0x3A -> "colon", 0x3B -> "semicolon", 0x3C -> "less",
      0x3D -> "equal", 0x3E -> "greater", 0x3F -> "question",
      0x40 -> "at", 0x5B -> "bracketleft", 0x5C -> "backslash",
      0x5D -> "bracketright", 0x5E -> "asciicircum",
      0x5F -> "underscore", 0x7B -> "braceleft", 0x7C -> "bar",
      0x7D -> "braceright", 0x7E -> "asciitilde") ++
      (0 to 9).map(i => (0x30 + i) ->
        Seq("zero", "one", "two", "three", "four", "five", "six",
          "seven", "eight", "nine")(i)) ++
      ('A' to 'Z').map(c => c.toInt -> c.toString) ++
      ('a' to 'z').map(c => c.toInt -> c.toString)

  private val stdHigh: Seq[(Int, String)] = Seq(
    0x27 -> "quoteright", 0x60 -> "quoteleft",
    0xA1 -> "exclamdown", 0xA2 -> "cent", 0xA3 -> "sterling",
    0xA4 -> "fraction", 0xA5 -> "yen", 0xA6 -> "florin",
    0xA7 -> "section", 0xA8 -> "currency", 0xA9 -> "quotesingle",
    0xAA -> "quotedblleft", 0xAB -> "guillemotleft",
    0xAC -> "guilsinglleft", 0xAD -> "guilsinglright", 0xAE -> "fi",
    0xAF -> "fl", 0xB1 -> "endash", 0xB2 -> "dagger",
    0xB3 -> "daggerdbl", 0xB4 -> "periodcentered", 0xB6 -> "paragraph",
    0xB7 -> "bullet", 0xB8 -> "quotesinglbase", 0xB9 -> "quotedblbase",
    0xBA -> "quotedblright", 0xBB -> "guillemotright",
    0xBC -> "ellipsis", 0xBD -> "perthousand", 0xBF -> "questiondown",
    0xC1 -> "grave", 0xC2 -> "acute", 0xC3 -> "circumflex",
    0xC4 -> "tilde", 0xC5 -> "macron", 0xC6 -> "breve",
    0xC7 -> "dotaccent", 0xC8 -> "dieresis", 0xCA -> "ring",
    0xCB -> "cedilla", 0xCD -> "hungarumlaut", 0xCE -> "ogonek",
    0xCF -> "caron", 0xD0 -> "emdash",
    0xE1 -> "AE", 0xE3 -> "ordfeminine", 0xE8 -> "Lslash",
    0xE9 -> "Oslash", 0xEA -> "OE", 0xEB -> "ordmasculine",
    0xF1 -> "ae", 0xF5 -> "dotlessi", 0xF8 -> "lslash",
    0xF9 -> "oslash", 0xFA -> "oe", 0xFB -> "germandbls")

  /** The Latin-1 letter/symbol run WinAnsi shares with ISO 8859-1 at
    * 0xC0-0xFF, in code order. */
  private val latin1Tail: Seq[(Int, String)] =
    Seq("Agrave", "Aacute", "Acircumflex", "Atilde", "Adieresis",
      "Aring", "AE", "Ccedilla", "Egrave", "Eacute", "Ecircumflex",
      "Edieresis", "Igrave", "Iacute", "Icircumflex", "Idieresis",
      "Eth", "Ntilde", "Ograve", "Oacute", "Ocircumflex", "Otilde",
      "Odieresis", "multiply", "Oslash", "Ugrave", "Uacute",
      "Ucircumflex", "Udieresis", "Yacute", "Thorn", "germandbls",
      "agrave", "aacute", "acircumflex", "atilde", "adieresis",
      "aring", "ae", "ccedilla", "egrave", "eacute", "ecircumflex",
      "edieresis", "igrave", "iacute", "icircumflex", "idieresis",
      "eth", "ntilde", "ograve", "oacute", "ocircumflex", "otilde",
      "odieresis", "divide", "oslash", "ugrave", "uacute",
      "ucircumflex", "udieresis", "yacute", "thorn", "ydieresis")
      .zipWithIndex.map { case (n, i) => (0xC0 + i) -> n }

  private val winHigh: Seq[(Int, String)] = Seq(
    0x27 -> "quotesingle", 0x60 -> "grave",
    0x80 -> "Euro", 0x82 -> "quotesinglbase", 0x83 -> "florin",
    0x84 -> "quotedblbase", 0x85 -> "ellipsis", 0x86 -> "dagger",
    0x87 -> "daggerdbl", 0x88 -> "circumflex", 0x89 -> "perthousand",
    0x8A -> "Scaron", 0x8B -> "guilsinglleft", 0x8C -> "OE",
    0x8E -> "Zcaron", 0x91 -> "quoteleft", 0x92 -> "quoteright",
    0x93 -> "quotedblleft", 0x94 -> "quotedblright", 0x95 -> "bullet",
    0x96 -> "endash", 0x97 -> "emdash", 0x98 -> "tilde",
    0x99 -> "trademark", 0x9A -> "scaron", 0x9B -> "guilsinglright",
    0x9C -> "oe", 0x9E -> "zcaron", 0x9F -> "Ydieresis",
    0xA0 -> "space", // Annex D: space, not CP1252's nbsp
    0xA1 -> "exclamdown", 0xA2 -> "cent", 0xA3 -> "sterling",
    0xA4 -> "currency", 0xA5 -> "yen", 0xA6 -> "brokenbar",
    0xA7 -> "section", 0xA8 -> "dieresis", 0xA9 -> "copyright",
    0xAA -> "ordfeminine", 0xAB -> "guillemotleft",
    0xAC -> "logicalnot",
    0xAD -> "hyphen", // Annex D: hyphen, not CP1252's soft hyphen
    0xAE -> "registered", 0xAF -> "macron", 0xB0 -> "degree",
    0xB1 -> "plusminus", 0xB2 -> "twosuperior",
    0xB3 -> "threesuperior", 0xB4 -> "acute", 0xB5 -> "mu",
    0xB6 -> "paragraph", 0xB7 -> "periodcentered", 0xB8 -> "cedilla",
    0xB9 -> "onesuperior", 0xBA -> "ordmasculine",
    0xBB -> "guillemotright", 0xBC -> "onequarter", 0xBD -> "onehalf",
    0xBE -> "threequarters", 0xBF -> "questiondown") ++ latin1Tail

  private val macHigh: Seq[(Int, String)] = Seq(
    0x27 -> "quotesingle", 0x60 -> "grave",
    0x80 -> "Adieresis", 0x81 -> "Aring", 0x82 -> "Ccedilla",
    0x83 -> "Eacute", 0x84 -> "Ntilde", 0x85 -> "Odieresis",
    0x86 -> "Udieresis", 0x87 -> "aacute", 0x88 -> "agrave",
    0x89 -> "acircumflex", 0x8A -> "adieresis", 0x8B -> "atilde",
    0x8C -> "aring", 0x8D -> "ccedilla", 0x8E -> "eacute",
    0x8F -> "egrave", 0x90 -> "ecircumflex", 0x91 -> "edieresis",
    0x92 -> "iacute", 0x93 -> "igrave", 0x94 -> "icircumflex",
    0x95 -> "idieresis", 0x96 -> "ntilde", 0x97 -> "oacute",
    0x98 -> "ograve", 0x99 -> "ocircumflex", 0x9A -> "odieresis",
    0x9B -> "otilde", 0x9C -> "uacute", 0x9D -> "ugrave",
    0x9E -> "ucircumflex", 0x9F -> "udieresis",
    0xA0 -> "dagger", 0xA1 -> "degree", 0xA2 -> "cent",
    0xA3 -> "sterling", 0xA4 -> "section", 0xA5 -> "bullet",
    0xA6 -> "paragraph", 0xA7 -> "germandbls", 0xA8 -> "registered",
    0xA9 -> "copyright", 0xAA -> "trademark", 0xAB -> "acute",
    0xAC -> "dieresis", 0xAD -> "notequal", 0xAE -> "AE",
    0xAF -> "Oslash", 0xB0 -> "infinity", 0xB1 -> "plusminus",
    0xB2 -> "lessequal", 0xB3 -> "greaterequal", 0xB4 -> "yen",
    0xB5 -> "mu", 0xB6 -> "partialdiff", 0xB7 -> "summation",
    0xB8 -> "product", 0xB9 -> "pi", 0xBA -> "integral",
    0xBB -> "ordfeminine", 0xBC -> "ordmasculine", 0xBD -> "Omega",
    0xBE -> "ae", 0xBF -> "oslash", 0xC0 -> "questiondown",
    0xC1 -> "exclamdown", 0xC2 -> "logicalnot", 0xC3 -> "radical",
    0xC4 -> "florin", 0xC5 -> "approxequal", 0xC6 -> "Delta",
    0xC7 -> "guillemotleft", 0xC8 -> "guillemotright",
    0xC9 -> "ellipsis", 0xCA -> "space", 0xCB -> "Agrave",
    0xCC -> "Atilde", 0xCD -> "Otilde", 0xCE -> "OE", 0xCF -> "oe",
    0xD0 -> "endash", 0xD1 -> "emdash", 0xD2 -> "quotedblleft",
    0xD3 -> "quotedblright", 0xD4 -> "quoteleft", 0xD5 -> "quoteright",
    0xD6 -> "divide", 0xD7 -> "lozenge", 0xD8 -> "ydieresis",
    0xD9 -> "Ydieresis", 0xDA -> "fraction", 0xDB -> "currency",
    0xDC -> "guilsinglleft", 0xDD -> "guilsinglright", 0xDE -> "fi",
    0xDF -> "fl", 0xE0 -> "daggerdbl", 0xE1 -> "periodcentered",
    0xE2 -> "quotesinglbase", 0xE3 -> "quotedblbase",
    0xE4 -> "perthousand", 0xE5 -> "Acircumflex",
    0xE6 -> "Ecircumflex", 0xE7 -> "Aacute", 0xE8 -> "Edieresis",
    0xE9 -> "Egrave", 0xEA -> "Iacute", 0xEB -> "Icircumflex",
    0xEC -> "Idieresis", 0xED -> "Igrave", 0xEE -> "Oacute",
    0xEF -> "Ocircumflex", // 0xF0 Apple logo: not in Annex D
    0xF1 -> "Ograve", 0xF2 -> "Uacute", 0xF3 -> "Ucircumflex",
    0xF4 -> "Ugrave", 0xF5 -> "dotlessi", 0xF6 -> "circumflex",
    0xF7 -> "tilde", 0xF8 -> "macron", 0xF9 -> "breve",
    0xFA -> "dotaccent", 0xFB -> "ring", 0xFC -> "cedilla",
    0xFD -> "hungarumlaut", 0xFE -> "ogonek", 0xFF -> "caron")

  private def build(entries: Seq[(Int, String)]): Array[String] = {
    val t = new Array[String](256)
    for ((c, n) <- entries; s <- glyphText(n)) t(c) = s
    t
  }

  /** 256-entry code → text tables; null = code undefined in the
    * encoding (decodes to nothing — no glyph means no text). */
  val standard: Array[String] = build(asciiCommon ++ stdHigh)
  val winAnsi: Array[String] = build(asciiCommon ++ winHigh)
  val macRoman: Array[String] = build(asciiCommon ++ macHigh)

  /** Base-encoding lookup by the /Encoding or /BaseEncoding name.
    * MacExpertEncoding (ornaments/small-caps forms) is deliberately
    * absent — no running text lives in it. */
  def byName(name: String): Option[Array[String]] = name match {
    case "WinAnsiEncoding" => Some(winAnsi)
    case "MacRomanEncoding" => Some(macRoman)
    case "StandardEncoding" => Some(standard)
    case _ => None
  }
}
