package graft.functions

import java.text.Normalizer
import java.util.regex.Pattern

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar text functions re-expressing the reference's normalization surface
  * (SURVEY.md §2.8). Semantics match the reference exactly where cited; each
  * function is exposed three ways: a plain Scala function (unit-testable), a
  * `Column` combinator, and a SQL-registered function (see [[registerAll]]).
  *
  * Pure column expressions are preferred (codegen'd); UDFs are used only
  * where Java regex/Unicode work can't be expressed as builtins.
  */
object TextFns {

  // ---------------------------------------------------------------- F1
  /** "HH:MM:SS"/"MM:SS" (also ";" separators, empty components skipped) to
    * a duration. Garbage/null => null. Reference:
    * tts_data_pipeline/__init__.py:32-73 (convert_duration).
    */
  private val sepPat = Pattern.compile("[;:]+")
  def convertDuration(timeStr: String, unit: String): Option[Double] = {
    if (timeStr == null) return None
    val cleaned = sepPat.matcher(timeStr.trim).replaceAll(":")
    val parts = cleaned.split(":", -1)
    try {
      var total = 0L
      var idx = 0
      for (num <- parts.reverse) {
        if (num.nonEmpty) {
          total += num.trim.toLong * math.pow(60, idx).toLong
          idx += 1
        }
      }
      unit.toLowerCase(java.util.Locale.ROOT) match {
        case "second" => Some(total.toDouble)
        case "minute" => Some(round4(total / 60.0))
        case "hour"   => Some(round4(total / 3600.0))
        case _        => None
      }
    } catch { case _: Exception => None }
  }

  private def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  val durationToHoursUdf = udf((s: String) => convertDuration(s, "hour"))
  val durationToSecondsUdf = udf((s: String) => convertDuration(s, "second"))
  /** Column API rides the codegen'd native expression (NativeExprs);
    * the UDF stays registered for the generic SQL-UDF path. */
  def duration_to_hours(c: Column): Column =
    Column(DurationToHoursExpr(expression(c)))

  // ---------------------------------------------------------------- F2
  /** NFD de-accent, strip punct except `-`/word/space, lower, every space
    * char -> hyphen (no whitespace collapse — `str.replace(" ", "-")`).
    * NB: NFD does not decompose Vietnamese `đ`; it survives. Reference:
    * tts_data_pipeline/__init__.py:10-29 (normalize_name).
    */
  private val namePunctPat = Pattern.compile("(?U)[^\\w\\s\\-]")
  def normalizeName(name: String): String = {
    if (name == null) return null
    val nfd = Normalizer.normalize(name, Normalizer.Form.NFD)
    val sb = new StringBuilder(nfd.length)
    nfd.foreach { c =>
      if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
    }
    // Python \w is unicode-aware; Java needs (?U)
    // Locale.ROOT everywhere case is folded: Python's str.lower/upper are
    // locale-independent, and a Turkish-locale JVM would otherwise fold
    // I<->ı differently than the reference and the SQL oracle.
    namePunctPat.matcher(sb.toString).replaceAll("")
      .toLowerCase(java.util.Locale.ROOT).replace(" ", "-")
  }
  val normalizeNameUdf = udf((s: String) => Option(s).map(normalizeName))
  def normalize_name(c: Column): Column = Column(NormalizeNameExpr(expression(c)))

  /** Classic-Column bridge (Spark 4 Column wraps a ColumnNode, not an
    * Expression; conversion goes through the graftshim re-export). */
  private def expression(c: Column) =
    org.apache.spark.sql.graftshim.Shim.expression(c)
  private def Column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graftshim.Shim.column(e)

  // ---------------------------------------------------------------- F3
  /** Digit-by-digit Vietnamese words; < 10 => single word. Reference:
    * pre_processing/process_all.py:224-228 (number_to_vietnamese_words).
    */
  private val viDigitWords = Array(
    "không", "một", "hai", "ba", "bốn", "năm", "sáu", "bảy", "tám", "chín")
  def viDigits(num: Long): String =
    if (num >= 0 && num < 10) viDigitWords(num.toInt)
    else num.toString.map(c => if (c.isDigit) viDigitWords(c - '0') else c.toString)
      .mkString(" ")
  val viDigitsUdf = udf((n: java.lang.Long) => Option(n).map(x => viDigits(x.longValue())))
  def vi_digits(c: Column): Column = viDigitsUdf(c.cast("long"))

  // ---------------------------------------------------------------- F4
  /** Number-format disambiguation: "1,234.5" (comma thousands) vs "1.234,5"
    * (dot thousands) by first-separator position. Reference:
    * pre_processing/process_all.py:195-209 (_normalize_numbers).
    */
  private val numberPat =
    Pattern.compile("\\b\\d{1,3}(?:[.,]\\d{3})*(?:[.,]\\d+)?\\b")
  def normalizeNumberFormats(text: String): String = {
    if (text == null) return null
    val m = numberPat.matcher(text)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val s = m.group()
      val rep =
        if (s.contains(",") && s.contains(".")) {
          if (s.indexOf(',') < s.indexOf('.')) s.replace(",", "")
          else s.replace(".", "").replace(",", ".")
        } else s
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(rep))
    }
    m.appendTail(sb)
    sb.toString
  }
  val normalizeNumberFormatsUdf = udf((s: String) => Option(s).map(normalizeNumberFormats))

  // ---------------------------------------------------------------- F5
  /** Currency canonicalization inside `<number><symbol>` spans:
    * đ/vnđ/₫ -> VND, $ -> USD, then uppercase the span. Reference:
    * pre_processing/process_all.py:230-241 (_normalize_currency).
    */
  private val currencyPat = Pattern.compile(
    "(?iU)\\b\\d+(?:[.,]\\d+)?\\s*(?:VND|vnđ|đ|USD|\\$|€|¥|₫)\\b")
  def normalizeCurrency(text: String): String = {
    if (text == null) return null
    val m = currencyPat.matcher(text)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      var v = m.group()
      // Reference dict order applies "đ"->"VND" FIRST, so "vnđ" becomes
      // "vnVND" (-> "VNVND" after upper) and the "vnđ" rule never fires.
      // Replicated exactly (process_all.py:235-238), quirk and all.
      v = v.replace("đ", "VND").replace("vnđ", "VND")
        .replace("$", "USD").replace("₫", "VND")
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(
        v.toUpperCase(java.util.Locale.ROOT)))
    }
    m.appendTail(sb)
    sb.toString
  }
  val normalizeCurrencyUdf = udf((s: String) => Option(s).map(normalizeCurrency))

  // ---------------------------------------------------------------- F6
  /** `d/m/y` (2-digit year: <=30 -> 20xx else 19xx) -> spoken Vietnamese
    * "ngày D tháng M năm YYYY" with F3 digit words (year digit-by-digit).
    * Reference: pre_processing/process_all.py:243-255 (_normalize_dates).
    */
  private val datePat = Pattern.compile("\\b(\\d{1,2})[/-](\\d{1,2})[/-](\\d{2,4})\\b")
  def normalizeDates(text: String): String = {
    if (text == null) return null
    val m = datePat.matcher(text)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val day = m.group(1).toInt
      val month = m.group(2).toInt
      var year = m.group(3)
      if (year.length == 2)
        year = (if (year.toInt <= 30) "20" else "19") + year
      val yearWords = year.map(d => viDigitWords(d - '0')).mkString(" ")
      val rep = s"ngày ${viDigits(day.toLong)} tháng ${viDigits(month.toLong)} năm $yearWords"
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(rep))
    }
    m.appendTail(sb)
    sb.toString
  }
  val normalizeDatesUdf = udf((s: String) => Option(s).map(normalizeDates))

  // ---------------------------------------------------------------- F8
  /** ASCII punctuation strip (python string.punctuation). Native translate
    * — codegen'd, no UDF. Reference: pre_processing/process_all.py:281-283.
    */
  val asciiPunct = """!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~"""
  def strip_punct(c: Column): Column = translate(c, asciiPunct, "")

  // ---------------------------------------------------------------- F9
  /** Curly quote/dash/ellipsis strip + whitespace collapse + trim.
    * Reference: push_to_hf.py:27-49 / whisper_qc.py:100-122. */
  def clean_quotes(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "[“”‘’–•…]", ""), "\\s+", " "))

  /** Whitespace collapse + trim (used standalone in the full pipeline). */
  def ws_collapse(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** HTML strip for web-corpus ingest: script/style blocks WITH their
    * content (code is not text), then every remaining tag, then the
    * five core entities (a single pass, &amp; decoded LAST so
    * double-escapes like `&amp;lt;` resolve one level — the defined
    * non-recursive rule), then whitespace collapse. Regex subset is
    * deliberately RE2-safe (non-greedy + inline flags, no
    * backreferences) so the DuckDB oracle runs the IDENTICAL patterns;
    * script and style are matched separately because the
    * backreference-free alternation `</(script|style)>` could
    * cross-close malformed nesting. All chained builtins — codegen'd,
    * no UDF. */
  def strip_html(c: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noBlocks, "(?s)<[^>]*>", " ")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    ws_collapse(entities.foldLeft(noTags) { case (acc, (e, r)) =>
      replace(acc, lit(e), lit(r))
    })
  }

  // ---------------------------------------------------------------- F11
  /** Whitespace word count. Reference: process_all.py:318-332. */
  def word_count(c: Column): Column =
    org.apache.spark.sql.functions.call_function("ws_word_count", c)

  // ---------------------------------------------------------------- F7 (composed pipeline)
  /** Full reference normalize pipeline (URL strip -> NFC -> number/currency/
    * date/digit-words -> ws collapse -> lower). The underthesea step is
    * approximated by NFC only (documented divergence, SURVEY §7.5).
    * Reference: pre_processing/process_all.py:165-193. */
  private val urlPat = Pattern.compile("https?://\\S+")
  private val wsPat = Pattern.compile("\\s+")
  def normalizeText(text: String): String = {
    if (text == null || text.isEmpty) return ""
    var t = urlPat.matcher(text).replaceAll("")
    t = Normalizer.normalize(t, Normalizer.Form.NFC)
    t = normalizeNumberFormats(t)
    t = normalizeCurrency(t)
    t = normalizeDates(t)
    t = numberPat.matcher(t).replaceAll { mr =>
      val numStr = mr.group().replace(",", "").replace(".", "")
      try viDigits(numStr.toLong)
      catch { case _: Exception => mr.group() }
    }
    wsPat.matcher(t.trim).replaceAll(" ").toLowerCase(java.util.Locale.ROOT)
  }
  val normalizeTextUdf = udf((s: String) => Option(s).map(normalizeText))

  // ---------------------------------------------------------------- F12
  /** Python-repr literal parse (subset: dict/list/str/num) for CSV cells
    * holding `{'id': 'x', 'name': "Quốc Thịnh"}`. Apostrophes inside
    * double-quoted strings are why a real parser beats quote-swapping.
    * Reference: __init__.py:291-292, download.py:225 (ast.literal_eval).
    * Returns a JSON string (feed to from_json with a schema).
    */
  def pyLiteralToJson(s: String): String = {
    if (s == null) return null
    val p = new PyLiteralParser(s)
    try p.parseToJson()
    catch { case _: Exception => null }
  }
  val pyLiteralToJsonUdf = udf((s: String) => Option(s).map(pyLiteralToJson))

  // --------------------------------------------------- fingerprinting
  /** Document fingerprint: md5 of the lowercased, whitespace-collapsed text.
    * Cheap canonical-form exact-dup key (training-data pipeline surface). */
  def fingerprint(c: Column): Column = md5(lower(ws_collapse(c)))

  /** Winnowing fingerprints (the MOSS scheme): polynomial rolling hashes
    * of char k-grams over the cleaned text, then the minimum VALUE of
    * each w-hash window, distinct + sorted (keeping values, not
    * positions, makes the selection tie-insensitive).
    * The standard guarantee: two documents sharing any substring of at
    * least w + k - 1 cleaned chars share at least one fingerprint —
    * a local, position-independent near-dup signal (vs the md5
    * canonical-form key, which only catches whole-doc duplicates).
    * Pure 64-bit integer math (base 257 mod 1e9+7, products bounded by
    * ~2.6e11), so any engine replays it exactly. */
  /** Shared clean step for the char-gram hash family: lowercase, keep
    * ASCII [a-z0-9] only (NOT isLetterOrDigit, which admits Unicode
    * letters) so it is exactly the oracle's regex class. Locale.ROOT:
    * default-locale lowercasing is JVM-environment-dependent (Turkish
    * 'I' -> dotless 'ı', which the ASCII filter then drops) while the
    * oracle's lower() is locale-independent. Whole-string lowercase
    * FIRST (context-sensitive mappings — final sigma — make per-char
    * lowercasing non-equivalent), then one pass into a char array.
    * Returns (buffer, length-used). */
  private def cleanAlnum(text: String): (Array[Char], Int) = {
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    val clean = new Array[Char](lower.length)
    var cn = 0
    var ci = 0
    while (ci < lower.length) {
      val ch = lower.charAt(ci)
      if ((ch >= 'a' && ch <= 'z') || (ch >= '0' && ch <= '9')) {
        clean(cn) = ch
        cn += 1
      }
      ci += 1
    }
    (clean, cn)
  }

  /** ALL char-k-gram rolling hashes of the cleaned text, index = window
    * position — winnowing's UNSAMPLED sibling, for exact duplicated-span
    * detection (the fixed-k bounded form of Lee et al. 2021's
    * ExactSubstr dedup). Same base-257 mod 1e9+7 hash as
    * [[winnowFingerprints]], so each window replays in SQL as a no-init
    * list_reduce over the window's BIGINT char codes; positions are
    * coordinates in the CLEANED text (the dedup signal's space), not raw
    * offsets. */
  def charKgramHashes(text: String, k: Int): Seq[Long] = {
    if (text == null || k <= 0) return Seq.empty
    val (clean, cn) = cleanAlnum(text)
    val n = cn - k + 1
    if (n <= 0) return Seq.empty
    val M = 1000000007L
    val B = 257L
    // True rolling update — h' = (h − c_out·B^(k−1))·B + c_in (mod M) —
    // O(n) total instead of O(n·k); values identical to the from-scratch
    // fold (the OperatorsSpec subset/position tests pin this).
    var pow = 1L // B^(k-1) mod M
    var j = 1
    while (j < k) { pow = pow * B % M; j += 1 }
    val out = new Array[Long](n)
    var h = 0L
    var i = 0
    while (i < k) { h = (h * B + clean(i).toLong) % M; i += 1 }
    out(0) = h
    i = 1
    while (i < n) {
      h = ((h - clean(i - 1).toLong * pow % M + M) % M * B
        + clean(i + k - 1).toLong) % M
      out(i) = h
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }
  val charKgramHashesUdf = udf { (s: String, k: Int) => charKgramHashes(s, k) }

  /** Cut every char of the CLEANED text covered by a k-window starting
    * at any of `positions` — the apply side of exact duplicated-span
    * dedup. Char-level marking makes interval merging implicit (a char
    * survives iff NO dup window covers it), which is also the form a
    * SQL oracle can replay as a per-char EXISTS.
    *
    * Out-of-range positions take the INTERSECTION of their window with
    * the text: a negative p cuts [0, p+k) and a p near the end cuts
    * [p, cn) — each position means "a duplicated window starts here",
    * so the in-bounds part of that window is still duplicated material.
    * Pipeline-produced positions are always in range; the clamp rule is
    * the public-kernel contract (pinned in OperatorsSpec). */
  def scrubSpans(text: String, positions: Seq[Int], k: Int): String = {
    if (text == null) return null
    val (clean, cn) = cleanAlnum(text)
    scrubClean(clean, cn, positions, k)
  }
  /** [[scrubSpans]] on an already-cleaned buffer — lets callers that
    * need other facts from the same cleaning reuse ONE cleanAlnum pass. */
  private def scrubClean(
      clean: Array[Char], cn: Int, positions: Seq[Int], k: Int): String = {
    if (positions == null || positions.isEmpty)
      return new String(clean, 0, cn)
    val cut = new Array[Boolean](cn)
    positions.foreach { p =>
      var c = math.max(p, 0)
      val end = math.min(p.toLong + k, cn.toLong).toInt
      while (c < end) { cut(c) = true; c += 1 }
    }
    val sb = new java.lang.StringBuilder(cn)
    var c = 0
    while (c < cn) { if (!cut(c)) sb.append(clean(c)); c += 1 }
    sb.toString
  }

  /** scrubSpans plus the cleaned length, in ONE kernel pass and ONE
    * cleaning space: deriving the cleaned length from a separate
    * Spark-side lower()+regexp projection would use a DIFFERENT
    * lowercasing (UTF8String falls back to default-locale toLowerCase on
    * non-ASCII input, vs cleanAlnum's Locale.ROOT), so n_cut could go
    * negative on a Turkish-locale JVM. The struct keeps both facts in
    * the kernel's space, from a single cleanAlnum call. */
  val scrubSpansWithLenUdf = udf { (s: String, pos: Seq[Int], k: Int) =>
    if (s == null) null
    else {
      val (clean, cn) = cleanAlnum(s)
      (cn.toLong, scrubClean(clean, cn, pos, k))
    }
  }

  def winnowFingerprints(text: String, k: Int = 5, w: Int = 4): Seq[Long] = {
    if (text == null) return Seq.empty
    val (clean, cn) = cleanAlnum(text)
    val n = cn - k + 1
    if (n <= 0) return Seq.empty
    val M = 1000000007L
    val B = 257L
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = 0L
      var j = 0
      while (j < k) { h = (h * B + clean(i + j).toLong) % M; j += 1 }
      hashes(i) = h
      i += 1
    }
    // Sorted distinct minima via primitive sort + in-place dedup — the
    // boxed SortedSet this replaces was the row's dominant allocation.
    val nWin = math.max(n - w + 1, 1)
    val mins = new Array[Long](nWin)
    var s = 0
    while (s < nWin) {
      var best = hashes(s)
      var j = s + 1
      val end = math.min(s + w, n)
      while (j < end) { if (hashes(j) < best) best = hashes(j); j += 1 }
      mins(s) = best
      s += 1
    }
    java.util.Arrays.sort(mins)
    var m = 0
    var r = 0
    while (r < nWin) {
      if (m == 0 || mins(r) != mins(m - 1)) { mins(m) = mins(r); m += 1 }
      r += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      java.util.Arrays.copyOf(mins, m))
  }
  val winnowFingerprintUdf = udf { (s: String) =>
    winnowFingerprints(s).mkString(",")
  }

  /** Array form for joins over individual fingerprints (the string form
    * above exists for the hash-exact oracle column compare). */
  val winnowFingerprintArrUdf = udf { (s: String) => winnowFingerprints(s) }

  // --------------------------------------------------- language id
  /** Tiny rule-based language scorer: stopword-regex hit counts per
    * language, argmax with alphabetical tie-break. Deterministic and
    * SQL-expressible (oracle replicates the same CASE cascade). */
  val langStopwords: Seq[(String, String)] = Seq(
    "de" -> "\\b(der|die|das|und|ist|nicht)\\b",
    "en" -> "\\b(the|a|of|and|is|to)\\b",
    "es" -> "\\b(el|la|los|de|que|es)\\b",
    "fr" -> "\\b(le|les|des|et|est|une)\\b",
    "zh" -> "(的|了|是|我|不|在)")
  def lang_scores(c: Column): Seq[(String, Column)] =
    langStopwords.map { case (l, pat) => l -> regexp_count(c, lit(pat)) }
  /** Argmax cascade over ALREADY-PROJECTED score columns; ties ->
    * alphabetically first (matches oracle CASE cascade); null text ->
    * null (regexp_count(null) is null, so every when() below would be
    * unknown and fall through to the last language otherwise). */
  def lang_argmax(text: Column, scores: Seq[(String, Column)]): Column = {
    val argmax = scores.foldRight(lit(scores.last._1)) { case ((l, s), elseCol) =>
      val geAll = scores.map(_._2).map(s >= _).reduce(_ && _)
      when(geAll, lit(l)).otherwise(elseCol)
    }
    when(text.isNull, lit(null)).otherwise(argmax)
  }

  /** One-column convenience form. NOTE: each regexp_count score appears
    * ~n_langs times in the cascade and codegen's subexpression
    * elimination does NOT dedupe them inside a grouping key — measured
    * 2.5x slower than projecting `lang_scores` once and cascading over
    * the column refs (the two-step shape t_lang_id uses). Prefer that
    * shape in any per-row hot path. */
  def lang_id(c: Column): Column = lang_argmax(c, lang_scores(c))

  // --------------------------------------------------- quality scoring
  /** Heuristic document quality score in [0,1]: length, mean word length,
    * alpha ratio. Pure column arithmetic (SQL-expressible for the oracle). */
  def quality_score(text: Column): Column = {
    val words = word_count(text).cast("double")
    val chars = length(text).cast("double")
    val meanWordLen = when(words > 0, (chars - (words - 1)) / words).otherwise(lit(0.0))
    val lenScore = least(words / lit(100.0), lit(1.0))
    val wordLenScore = when(meanWordLen.between(3.0, 10.0), lit(1.0)).otherwise(lit(0.5))
    round(lenScore * 0.6 + wordLenScore * 0.4, 4)
  }

  // --------------------------------------------------- PII redaction
  /** Replace URLs, emails, and phone-like digit runs with typed tags —
    * the standard pre-training scrub pass. Order matters and is fixed:
    * URLs first (an email-shaped substring inside a URL must become part
    * of <URL>, not <EMAIL>), then emails, then phones. RE2-compatible
    * patterns (no lookarounds/backrefs) so the DuckDB oracle replays the
    * same three regexp_replace passes verbatim. */
  val piiUrlPat = "https?://[^\\s]+"
  val piiEmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiPhonePat = "\\+?[0-9][0-9 .-]{7,}[0-9]"
  def redact_pii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, piiUrlPat, "<URL>"),
        piiEmailPat, "<EMAIL>"),
      piiPhonePat, "<PHONE>")

  // --------------------------------------------------- token counting
  /** BPE-ish token count: letter runs, single digits, single non-space
    * punctuation. RE2-compatible pattern so the DuckDB oracle matches. */
  val bpeTokenPat = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def token_count(c: Column): Column =
    org.apache.spark.sql.functions.call_function("bpe_count", c)

  // ---------------------------------------------------------------- F20
  /** Unicode-escape decode: '\n','\t','\r','\\','\uXXXX','\xNN' sequences
    * in the *text* become the characters they denote — the reference's
    * `encode('utf-8').decode('unicode_escape')` (file.py:106-113). */
  def unicodeUnescape(s: String): String = {
    if (s == null) return null
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'u' if i + 6 <= s.length =>
            try { sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6 }
            catch { case _: NumberFormatException => sb.append(c); i += 1 }
          case 'x' if i + 4 <= s.length =>
            try { sb.append(Integer.parseInt(s.substring(i + 2, i + 4), 16).toChar); i += 4 }
            catch { case _: NumberFormatException => sb.append(c); i += 1 }
          case _ => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
  val unicodeUnescapeUdf = udf((s: String) => Option(s).map(unicodeUnescape))

  /** Register UDF-backed functions for spark.sql use. */
  def registerAll(spark: SparkSession): Unit = {
    spark.udf.register("duration_to_hours", durationToHoursUdf)
    spark.udf.register("duration_to_seconds", durationToSecondsUdf)
    spark.udf.register("normalize_name", normalizeNameUdf)
    spark.udf.register("vi_digits", viDigitsUdf)
    spark.udf.register("normalize_number_formats", normalizeNumberFormatsUdf)
    spark.udf.register("normalize_currency", normalizeCurrencyUdf)
    spark.udf.register("normalize_dates", normalizeDatesUdf)
    spark.udf.register("normalize_vi", normalizeTextUdf)
    spark.udf.register("py_literal_to_json", pyLiteralToJsonUdf)
    spark.udf.register("winnow_fingerprint", winnowFingerprintUdf)
    spark.udf.register("char_kgram_hashes", charKgramHashesUdf)
  }
}

/** Recursive-descent parser for the python-literal subset the reference
  * stores in CSV cells (dicts, lists, strings with either quote, ints,
  * floats, True/False/None). Emits JSON. (SURVEY §7.5 "F12 hard part".)
  */
private[functions] final class PyLiteralParser(s: String) {
  private var i = 0
  private def err() = throw new IllegalArgumentException(s"pyliteral at $i")
  private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
  private def peek: Char = if (i < s.length) s.charAt(i) else 0.toChar

  def parseToJson(): String = {
    ws(); val out = value(); ws()
    if (i != s.length) err()
    out
  }

  private def value(): String = peek match {
    case '{' => dict()
    case '[' => list()
    case '(' => tuple()
    case '\'' | '"' => jsonString(str())
    case c if c.isDigit || c == '-' || c == '+' || c == '.' => number()
    case 'T' => lit("True", "true")
    case 'F' => lit("False", "false")
    case 'N' => lit("None", "null")
    case _ => err()
  }

  private def lit(py: String, js: String): String = {
    if (!s.startsWith(py, i)) err()
    i += py.length; js
  }

  private def number(): String = {
    val start = i
    if (peek == '-' || peek == '+') i += 1
    var done = false
    while (i < s.length && !done) {
      val c = s.charAt(i)
      if (c.isDigit || c == '.' || c == 'e' || c == 'E') i += 1
      else if ((c == '+' || c == '-') && i > start &&
        (s.charAt(i - 1) == 'e' || s.charAt(i - 1) == 'E')) i += 1
      else done = true
    }
    val tok = s.substring(start, i)
    java.lang.Double.parseDouble(tok) // validate
    tok
  }

  private def str(): String = {
    val quote = peek
    i += 1
    val sb = new StringBuilder
    while (i < s.length && s.charAt(i) != quote) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        val n = s.charAt(i + 1)
        sb.append(n match {
          case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
          case '\\' => '\\'; case '\'' => '\''; case '"' => '"'
          case other => other
        })
        i += 2
      } else { sb.append(c); i += 1 }
    }
    if (i >= s.length) err()
    i += 1 // closing quote
    sb.toString
  }

  private def jsonString(v: String): String =
    "\"" + v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def dict(): String = {
    i += 1; ws()
    val sb = new StringBuilder("{")
    var first = true
    while (peek != '}') {
      if (!first) { if (peek != ',') err(); i += 1; ws() }
      if (peek == '}') { /* trailing comma */ }
      else {
        val k = peek match {
          case '\'' | '"' => jsonString(str())
          case _ => err()
        }
        ws()
        if (peek != ':') err()
        i += 1; ws()
        val v = value()
        sb.append(if (first) "" else ",").append(k).append(":").append(v)
        first = false
        ws()
      }
    }
    i += 1
    sb.append("}").toString
  }

  private def seq(open: Char, close: Char): String = {
    i += 1; ws()
    val sb = new StringBuilder("[")
    var first = true
    while (peek != close) {
      if (!first) { if (peek != ',') err(); i += 1; ws() }
      if (peek == close) { /* trailing comma */ }
      else {
        val v = value()
        sb.append(if (first) "" else ",").append(v)
        first = false
        ws()
      }
    }
    i += 1
    sb.append("]").toString
  }
  private def list(): String = seq('[', ']')
  private def tuple(): String = seq('(', ')')
}
