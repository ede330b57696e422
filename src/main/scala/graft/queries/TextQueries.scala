package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Scalar-function surface (SURVEY §2.8) + text-analysis operators
  * (lang-id, quality, token count, fingerprint) as named queries with
  * DuckDB oracles. Inputs are synthesized from the driver's tables in
  * controlled shapes so every UDF's behavior is SQL-replicable exactly
  * (the same construction appears in both engines).
  */
object TextQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Vietnamese digit words as a DuckDB CTE (mirrors TextFns.viDigitWords). */
  private val vwCte =
    """vw AS (SELECT ['không','một','hai','ba','bốn','năm','sáu','bảy','tám','chín'] AS w)"""
  // two-digit spoken number (reference digit-by-digit style, n in 0..99)
  private def sqlTwoDigit(n: String) =
    s"CASE WHEN $n < 10 THEN w[$n + 1] ELSE w[$n // 10 + 1] || ' ' || w[$n % 10 + 1] END"

  // ---------------------------------------------------------- 2.8-F1
  /** Duration parse incl. ';' separator cleanup and garbage -> null.
    * Whole-minute durations keep the 4-decimal round off .5 boundaries. */
  private val fnDur: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val h = (col("o_orderkey") % 12).cast("int")
    val m = (col("o_custkey") % 60).cast("int")
    o.withColumn("dur_str",
        when(col("o_orderkey") % 11 === 0, lit("garbage"))
          .when(col("o_orderkey") % 7 === 0, format_string("%d;%02d", h, m))
          .otherwise(format_string("%d:%02d:00", h, m)))
      .select(col("o_orderkey"), col("dur_str"),
        TextFns.duration_to_hours(col("dur_str")).as("hours"))
      .orderBy("o_orderkey")
  }
  // "%d;%02d" parses as 2 parts [h, m] -> m + 60h SECONDS (the reference's
  // MM:SS reading of 2-part strings), then /3600 for hours.
  private val fnDurSql =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 11 = 0 THEN 'garbage'
      |       WHEN o_orderkey % 7 = 0 THEN printf('%d;%02d', o_orderkey % 12, o_custkey % 60)
      |       ELSE printf('%d:%02d:00', o_orderkey % 12, o_custkey % 60) END AS dur_str,
      |  CASE WHEN o_orderkey % 11 = 0 THEN NULL
      |       WHEN o_orderkey % 7 = 0 THEN round(((o_custkey % 60) + 60 * (o_orderkey % 12)) / 3600.0, 4)
      |       ELSE round(((o_orderkey % 12) * 3600 + (o_custkey % 60) * 60) / 3600.0, 4) END AS hours
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------- 2.8-F2
  /** normalize_name over ASCII names (strip punct except -, lower,
    * space->hyphen; NFD de-accent is a no-op on ASCII). */
  private val fnName: Q = (s, dir) =>
    t(s, dir, "part")
      .select(col("p_partkey"), col("p_name"),
        TextFns.normalize_name(concat(col("p_name"), lit("#x!"))).as("norm"))
      .orderBy("p_partkey")
  private val fnNameSql =
    """SELECT p_partkey, p_name,
      |  replace(lower(regexp_replace(p_name || '#x!', '[^\w \t-]', '', 'g')), ' ', '-') AS norm
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------- 2.8-F3
  private val fnDigits: Q = (s, dir) =>
    t(s, dir, "lineitem").filter(col("l_linenumber") === 1)
      .select(col("l_orderkey"),
        col("l_quantity").cast("long").as("n"),
        TextFns.vi_digits(col("l_quantity").cast("long")).as("spoken"))
      .orderBy("l_orderkey")
  private val fnDigitsSql =
    "WITH " + vwCte + ", base AS (" +
    "SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS n FROM lineitem WHERE l_linenumber = 1)" +
    s"""
      |SELECT l_orderkey, n, ${sqlTwoDigit("n")} AS spoken
      |FROM base, vw ORDER BY l_orderkey""".stripMargin

  // ---------------------------------------------------------- 2.8-F4
  /** Number-format disambiguation on controlled '1,234.56' / '1.234,56'
    * inputs — both normalize to '1234.56'. */
  private val fnNumFmt: Q = (s, dir) => {
    val p = t(s, dir, "part")
    val th = format_string("%03d", (col("p_partkey") % 1000).cast("int"))
    val fr = format_string("%02d", (col("p_size") % 90 + 10).cast("int"))
    p.withColumn("raw",
        when(col("p_partkey") % 2 === 0,
          concat(lit("gia 1,"), th, lit("."), fr, lit(" xong")))
          .otherwise(concat(lit("gia 1."), th, lit(","), fr, lit(" xong"))))
      .select(col("p_partkey"), col("raw"),
        TextFns.normalizeNumberFormatsUdf(col("raw")).as("norm"))
      .orderBy("p_partkey")
  }
  private val fnNumFmtSql =
    """SELECT p_partkey,
      |  CASE WHEN p_partkey % 2 = 0
      |    THEN 'gia 1,' || printf('%03d', p_partkey % 1000) || '.' || printf('%02d', p_size % 90 + 10) || ' xong'
      |    ELSE 'gia 1.' || printf('%03d', p_partkey % 1000) || ',' || printf('%02d', p_size % 90 + 10) || ' xong' END AS raw,
      |  'gia 1' || printf('%03d', p_partkey % 1000) || '.' || printf('%02d', p_size % 90 + 10) || ' xong' AS norm
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------- 2.8-F5
  /** Currency canonicalization incl. the reference's đ-before-vnđ quirk
    * ('N vnđ' -> 'N VNVND'). */
  private val fnCurrency: Q = (s, dir) => {
    val sup = t(s, dir, "supplier")
    val num = (col("s_suppkey") * 7 % 1000).cast("string")
    sup.withColumn("raw",
        when(col("s_suppkey") % 3 === 0, concat(num, lit(" vnđ")))
          .when(col("s_suppkey") % 3 === 1, concat(num, lit("đ")))
          .otherwise(concat(num, lit(" VND"))))
      .select(col("s_suppkey"), col("raw"),
        TextFns.normalizeCurrencyUdf(col("raw")).as("norm"))
      .orderBy("s_suppkey")
  }
  private val fnCurrencySql =
    """SELECT s_suppkey,
      |  CASE WHEN s_suppkey % 3 = 0 THEN CAST(s_suppkey * 7 % 1000 AS VARCHAR) || ' vnđ'
      |       WHEN s_suppkey % 3 = 1 THEN CAST(s_suppkey * 7 % 1000 AS VARCHAR) || 'đ'
      |       ELSE CAST(s_suppkey * 7 % 1000 AS VARCHAR) || ' VND' END AS raw,
      |  CASE WHEN s_suppkey % 3 = 0 THEN CAST(s_suppkey * 7 % 1000 AS VARCHAR) || ' VNVND'
      |       WHEN s_suppkey % 3 = 1 THEN CAST(s_suppkey * 7 % 1000 AS VARCHAR) || 'VND'
      |       ELSE CAST(s_suppkey * 7 % 1000 AS VARCHAR) || ' VND' END AS norm
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------- 2.8-F6
  /** d/m/yy date -> spoken Vietnamese, 2-digit year pivot <=30 -> 20xx. */
  private val fnDates: Q = (s, dir) => {
    val o = Tables.fanOut(t(s, dir, "orders"))
    o.withColumn("dstr", format_string("%d/%d/%02d",
        dayofmonth(col("o_orderdate")), month(col("o_orderdate")),
        (col("o_orderkey") % 100).cast("int")))
      .select(col("o_orderkey"), col("dstr"),
        TextFns.normalizeDatesUdf(col("dstr")).as("spoken"))
      .orderBy("o_orderkey")
  }
  private val sqlYearWords =
    "w[y // 1000 + 1] || ' ' || w[(y // 100) % 10 + 1] || ' ' || w[(y // 10) % 10 + 1] || ' ' || w[y % 10 + 1]"
  private val sqlSpokenDate =
    s"'ngày ' || ${sqlTwoDigit("d")} || ' tháng ' || ${sqlTwoDigit("m")} || ' năm ' || $sqlYearWords"

  private val fnDatesSql =
    "WITH " + vwCte + """, base AS (
      |  SELECT o_orderkey,
      |    CAST(date_part('day', o_orderdate) AS INT) AS d,
      |    CAST(date_part('month', o_orderdate) AS INT) AS m,
      |    CAST(o_orderkey % 100 AS INT) AS yy
      |  FROM orders),
      |yb AS (SELECT *, CASE WHEN yy <= 30 THEN 2000 + yy ELSE 1900 + yy END AS y FROM base)
      |SELECT o_orderkey, printf('%d/%d/%02d', d, m, yy) AS dstr,
      |""".stripMargin +
    s"  $sqlSpokenDate AS spoken\nFROM yb, vw ORDER BY o_orderkey"

  // ---------------------------------------------------------- 2.8-F7
  /** Full normalize pipeline on a controlled Vietnamese sentence: URL
    * strip -> number/date normalization -> digit words -> collapse/lower. */
  private val fnPipeline: Q = (s, dir) => {
    // 5-regex-pass UDF per row: fan the narrow fixture scan out or the
    // map stage runs on one core (Tables.fanOut scaladoc).
    val o = Tables.fanOut(t(s, dir, "orders"))
    val q = (col("o_custkey") % 90 + 10).cast("int") // 2-digit
    val n3 = format_string("%03d", (col("o_orderkey") % 1000).cast("int"))
    o.withColumn("raw", concat(
        lit("Xem http://ex.vn/a Hôm nay "),
        format_string("%d/%d/%02d", dayofmonth(col("o_orderdate")),
          month(col("o_orderdate")), (col("o_orderkey") % 100).cast("int")),
        lit(" tôi có "), q, lit(" quyển, giá 1,"), n3, lit(" đồng")))
      .select(col("o_orderkey"), col("raw"),
        TextFns.normalizeTextUdf(col("raw")).as("norm"))
      .orderBy("o_orderkey")
  }
  private val fnPipelineSql =
    "WITH " + vwCte + """, base AS (
      |  SELECT o_orderkey,
      |    CAST(date_part('day', o_orderdate) AS INT) AS d,
      |    CAST(date_part('month', o_orderdate) AS INT) AS m,
      |    CAST(o_orderkey % 100 AS INT) AS yy,
      |    CAST(o_custkey % 90 + 10 AS INT) AS q,
      |    printf('%03d', o_orderkey % 1000) AS n3
      |  FROM orders),
      |yb AS (SELECT *, CASE WHEN yy <= 30 THEN 2000 + yy ELSE 1900 + yy END AS y FROM base)
      |SELECT o_orderkey,
      |  'Xem http://ex.vn/a Hôm nay ' || printf('%d/%d/%02d', d, m, yy)
      |    || ' tôi có ' || q || ' quyển, giá 1,' || n3 || ' đồng' AS raw,
      |""".stripMargin +
    s"  'xem hôm nay ' || $sqlSpokenDate || ' tôi có ' || ${sqlTwoDigit("q")}" +
    " || ' quyển, giá ' || w[2] || ' ' || w[CAST(n3[1] AS INT) + 1] || ' ' || w[CAST(n3[2] AS INT) + 1] || ' ' || w[CAST(n3[3] AS INT) + 1] || ' đồng' AS norm" +
    "\nFROM yb, vw ORDER BY o_orderkey"

  // ---------------------------------------------------------- 2.8-F8
  private val fnPunct: Q = (s, dir) =>
    t(s, dir, "part")
      .withColumn("raw", concat(lit("a.b,c- "), col("p_type"), lit("!?")))
      .select(col("p_partkey"), col("raw"),
        TextFns.strip_punct(col("raw")).as("stripped"))
      .orderBy("p_partkey")
  private val fnPunctSql =
    """SELECT p_partkey, 'a.b,c- ' || p_type || '!?' AS raw,
      |  translate('a.b,c- ' || p_type || '!?', '!"#$%&''()*+,-./:;<=>?@[\]^_`{|}~', '') AS stripped
      |FROM part ORDER BY p_partkey""".stripMargin

  // --------------------------------------------------- fn_strip_html
  /** Web-corpus HTML strip ([[TextFns.strip_html]]): script/style
    * blocks with content, tags, core entities, whitespace collapse —
    * the ingest step between a crawler's raw page and every text
    * operator in this engine. The raw page is CONSTRUCTED around part
    * rows (the fn-family convention) with a `<` inside the script
    * body, a style block, and double-escaped-free entities, so the
    * pins cover the tricky cases. Row-local, chained codegen'd
    * builtins; the oracle replays the identical RE2-safe patterns. */
  private val htmlPre =
    "<html><head><style>p {color: red}</style></head><body><p class=\"x\">"
  private val htmlPost =
    " &amp; sons &lt;est. 1999&gt; &quot;brand&quot;</p>" +
      "<script>var a = 1 < 2;</script><br/>tail</body></html>"
  private val fnHtml: Q = (s, dir) =>
    t(s, dir, "part")
      .withColumn("raw", concat(lit(htmlPre), col("p_type"), lit(htmlPost)))
      .select(col("p_partkey"), col("raw"),
        TextFns.strip_html(col("raw")).as("clean"))
      .orderBy("p_partkey")
  private val fnHtmlSql =
    """WITH r AS (
      |  SELECT p_partkey,
      |    '<html><head><style>p {color: red}</style></head><body><p class="x">'
      |    || p_type ||
      |    ' &amp; sons &lt;est. 1999&gt; &quot;brand&quot;</p><script>var a = 1 < 2;</script><br/>tail</body></html>'
      |    AS raw
      |  FROM part)
      |SELECT p_partkey, raw,
      |  trim(regexp_replace(
      |    replace(replace(replace(replace(replace(replace(
      |      regexp_replace(regexp_replace(regexp_replace(raw,
      |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
      |        '(?s)<[^>]*>', ' ', 'g'),
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
      |    '\s+', ' ', 'g')) AS clean
      |FROM r ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------- 2.8-F9
  private val fnQuotes: Q = (s, dir) =>
    t(s, dir, "customer")
      .withColumn("raw",
        concat(lit("“ "), regexp_replace(col("c_name"), "#", " # "), lit(" ”–…")))
      .select(col("c_custkey"), col("raw"),
        TextFns.clean_quotes(col("raw")).as("cleaned"))
      .orderBy("c_custkey")
  private val fnQuotesSql =
    """SELECT c_custkey, '“ ' || replace(c_name, '#', ' # ') || ' ”–…' AS raw,
      |  trim(regexp_replace(regexp_replace('“ ' || replace(c_name, '#', ' # ') || ' ”–…', '[“”‘’–•…]', '', 'g'), '\s+', ' ', 'g')) AS cleaned
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------- 2.8-F10
  /** Sentence tokenize as a generator: text -> (idx, sentence) rows. */
  private val fnSent: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(expr("regexp_extract_all(text, '[^.!?]+[.!?]?', 0)"))
          .as(Seq("sent_idx", "sentence")))
      .orderBy("doc_id", "sent_idx")
  private val fnSentSql =
    """SELECT doc_id, CAST(gs - 1 AS INT) AS sent_idx, s AS sentence FROM (
      |  SELECT doc_id, unnest(arr) AS s, generate_subscripts(arr, 1) AS gs
      |  FROM (SELECT doc_id, regexp_extract_all(text, '[^.!?]+[.!?]?') AS arr FROM documents) t)
      |ORDER BY doc_id, sent_idx""".stripMargin

  // ---------------------------------------------------------- 2.8-F11
  private val fnWc: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFns.word_count(col("text")).cast("bigint").as("wc"))
      .orderBy("doc_id")
  private val fnWcSql =
    """SELECT doc_id,
      |  CASE WHEN trim(regexp_replace(text, '\s+', ' ', 'g')) = '' THEN 0
      |       ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS wc
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- 2.8-F12
  /** Python-literal parse incl. apostrophe inside a double-quoted string. */
  private val fnPyLit: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val k = col("c_custkey")
    c.withColumn("raw", concat(
        lit("{'id': 'c"), k, lit("', 'name': \"O'Brien-"), k,
        lit("\", 'age': "), (k % 99), lit(", 'ok': "),
        when(k % 2 === 0, lit("True")).otherwise(lit("False")),
        lit(", 'tags': ['x', 'y'], 'score': "), (k % 9), lit(".5}")))
      .select(k, col("raw"), TextFns.pyLiteralToJsonUdf(col("raw")).as("json"))
      .orderBy("c_custkey")
  }
  private val fnPyLitSql =
    """SELECT c_custkey,
      |  '{''id'': ''c' || c_custkey || ''', ''name'': "O''Brien-' || c_custkey
      |    || '", ''age'': ' || (c_custkey % 99) || ', ''ok'': '
      |    || CASE WHEN c_custkey % 2 = 0 THEN 'True' ELSE 'False' END
      |    || ', ''tags'': [''x'', ''y''], ''score'': ' || (c_custkey % 9) || '.5}' AS raw,
      |  '{"id":"c' || c_custkey || '","name":"O''Brien-' || c_custkey
      |    || '","age":' || (c_custkey % 99) || ',"ok":'
      |    || CASE WHEN c_custkey % 2 = 0 THEN 'true' ELSE 'false' END
      |    || ',"tags":["x","y"],"score":' || (c_custkey % 9) || '.5}' AS json
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------- 2.8-F13
  /** Variable-length array -> fixed wide columns (narrator expansion). */
  private val fnWide: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    c.withColumn("narrators", expr(
        "transform(sequence(1, 1 + cast(c_custkey % 3 as int)), " +
        "i -> concat('n', c_custkey, '_', i))"))
      .select(col("c_custkey"),
        expr("try_element_at(narrators, 1)").as("narrator_1"),
        expr("try_element_at(narrators, 2)").as("narrator_2"),
        expr("try_element_at(narrators, 3)").as("narrator_3"))
      .orderBy("c_custkey")
  }
  private val fnWideSql =
    """SELECT c_custkey, arr[1] AS narrator_1, arr[2] AS narrator_2, arr[3] AS narrator_3
      |FROM (SELECT c_custkey,
      |        list_transform(range(1, 2 + CAST(c_custkey % 3 AS INT)),
      |          i -> 'n' || c_custkey || '_' || i) AS arr
      |      FROM customer)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------- 2.8-F14
  /** url -> filename/stem/ext parsing with the reference's '.mp3' default. */
  private val fnUrl: Q = (s, dir) => {
    val p = t(s, dir, "part")
    val fname = when(col("p_partkey") % 4 === 0,
        concat(regexp_replace(col("p_name"), " ", "-")))
      .otherwise(concat(regexp_replace(col("p_name"), " ", "-"), lit(".pdf")))
    p.withColumn("url", concat(lit("https://host/dir/"), fname))
      .select(col("p_partkey"), col("url"),
        regexp_extract(col("url"), "([^/]+)$", 1).as("fname"),
        regexp_extract(regexp_extract(col("url"), "([^/]+)$", 1), "^([^.]*)", 1).as("stem"),
        when(regexp_extract(col("url"), "([^/]+)$", 1).contains("."),
          regexp_extract(col("url"), "(\\.[^./]*)$", 1))
          .otherwise(lit(".mp3")).as("ext"))
      .orderBy("p_partkey")
  }
  private val fnUrlSql =
    """SELECT p_partkey, url,
      |  regexp_extract(url, '([^/]+)$', 1) AS fname,
      |  regexp_extract(regexp_extract(url, '([^/]+)$', 1), '^([^.]*)', 1) AS stem,
      |  CASE WHEN contains(regexp_extract(url, '([^/]+)$', 1), '.')
      |       THEN regexp_extract(url, '(\.[^./]*)$', 1) ELSE '.mp3' END AS ext
      |FROM (SELECT p_partkey,
      |        'https://host/dir/' || replace(p_name, ' ', '-')
      |          || CASE WHEN p_partkey % 4 = 0 THEN '' ELSE '.pdf' END AS url
      |      FROM part)
      |ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------- text analysis ops

  /** Two-step shape: project the five regexp_count scores ONCE, then
    * argmax over the projected columns — the inline lang_id form repeats
    * each regexp per cascade branch and codegen CSE does not save it
    * (measured 2.5x slower at sf0.1; see TextFns.lang_id). */
  private val tLang: Q = (s, dir) => {
    // One lang_hits kernel eval per row, projected ONCE and unpacked —
    // projecting per-language regexp_count columns ran five full-text
    // regex scans per row (0.48 s at sf0.1; the kernel form is one byte
    // scan, bit-compatible with the regex family — see TokenKernels).
    val scored = t(s, dir, "documents")
      .select(col("text"), expr("lang_hits(text)").as("__hits"))
      .select(
        (col("text") +: TextFns.langStopwords.zipWithIndex.map {
          case ((l, _), i) => col("__hits").getItem(i).as(s"s_$l")
        }): _*)
    val refs = TextFns.langStopwords.map { case (l, _) => l -> col(s"s_$l") }
    scored
      .groupBy(TextFns.lang_argmax(col("text"), refs).as("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("pred_lang")
  }
  private val tLangSql = {
    val scores = TextFns.langStopwords.map { case (l, pat) =>
      s"len(regexp_extract_all(text, '$pat')) AS s_$l"
    }.mkString(", ")
    val langs = TextFns.langStopwords.map(_._1)
    val cascade = langs.dropRight(1).map { l =>
      val ge = langs.map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $ge THEN '$l'"
    }.mkString(" ")
    s"""SELECT pred_lang, COUNT(*) AS n FROM (
       |  SELECT CASE WHEN text IS NULL THEN NULL $cascade ELSE '${langs.last}' END AS pred_lang
       |  FROM (SELECT text, $scores FROM documents))
       |GROUP BY pred_lang ORDER BY pred_lang""".stripMargin
  }

  private val tQuality: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), TextFns.quality_score(col("text")).as("quality"))
      .orderBy("doc_id")
  private val tQualitySql =
    """SELECT doc_id,
      |  round(least(words / 100.0, 1.0) * 0.6 +
      |        CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END * 0.4, 4) AS quality
      |FROM (SELECT doc_id, words,
      |        CASE WHEN words > 0 THEN (chars - (words - 1)) / words ELSE 0.0 END AS mwl
      |      FROM (SELECT doc_id,
      |              CAST(CASE WHEN trim(regexp_replace(text, '\s+', ' ', 'g')) = '' THEN 0
      |                   ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS DOUBLE) AS words,
      |              CAST(length(text) AS DOUBLE) AS chars
      |            FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** Characteristic terms per document: top-3 tokens by an integer-scaled
    * tf/df score — score = (tf * 1e6) div df, integer division, so both
    * engines rank identical integers (a float idf's ln() is not
    * guaranteed bit-identical across libm implementations; rarity
    * weighting survives the simplification). Scale shape: one explode ->
    * two aggregations (doc-term tf with map-side combine; term df over
    * the doc-term pairs) -> shuffle join on term -> top-k window
    * partitioned by doc (high-cardinality key). */
  private val tTopTerms: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    // Per-doc term frequency is row-local: explode the pre-counted
    // tf_map instead of one row per occurrence + groupBy(doc, term).
    val docTerm = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(expr("tf_map(ascii_alpha_tokens(text, 3))"))
          .as(Seq("term", "__tf")))
      .select(col("doc_id"), col("term"), col("__tf").cast("bigint").as("tf"))
    val df_ = docTerm.groupBy("term").agg(count(lit(1)).as("df"))
    docTerm.join(df_, Seq("term"))
      .withColumn("score", expr("(tf * 1000000L) div df"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term"))))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rk")
  }
  private val tTopTermsSql =
    """WITH dt AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
      |    FROM documents)
      |  GROUP BY doc_id, term),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM dt GROUP BY term)
      |SELECT doc_id, rk, term, tf, df, score FROM (
      |  SELECT dt.doc_id, dt.term, dt.tf, dfreq.df,
      |    (dt.tf * 1000000) // dfreq.df AS score,
      |    CAST(row_number() OVER (PARTITION BY dt.doc_id
      |      ORDER BY (dt.tf * 1000000) // dfreq.df DESC, dt.term) AS INT) AS rk
      |  FROM dt JOIN dfreq USING (term))
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  private val tTok: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFns.token_count(col("text")).cast("bigint").as("n_tokens"))
      .orderBy("doc_id")
  private val tTokSql =
    s"""SELECT doc_id, len(regexp_extract_all(text, '${TextFns.bpeTokenPat.replace("\\", "\\")}')) AS n_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Corpus distribution stats: exact p50/p90/p99 token counts per lang
    * (StatsOps.exactPercentiles — histogram-reduce shape, the inputs a
    * QC stage derives its thresholds from). Discrete type-1 quantile:
    * smallest value whose cumulative frequency reaches ceil(q*n),
    * replayed as plain SQL. */
  private val tLenStats: Q = (s, dir) =>
    graft.operators.StatsOps.exactPercentiles(
      t(s, dir, "documents")
        .select(col("lang"), TextFns.token_count(col("text")).cast("bigint").as("n_tokens")),
      "lang", "n_tokens", Seq(0.5, 0.9, 0.99))
      .orderBy("lang")
  private val tLenStatsSql =
    s"""WITH wc AS (
       |  SELECT lang, len(regexp_extract_all(text, '${TextFns.bpeTokenPat.replace("\\", "\\")}')) AS n_tokens
       |  FROM documents),
       |freq AS (
       |  SELECT lang, n_tokens, COUNT(*) AS f FROM wc GROUP BY lang, n_tokens),
       |cum AS (
       |  SELECT lang, n_tokens,
       |    SUM(f) OVER (PARTITION BY lang ORDER BY n_tokens
       |      ROWS UNBOUNDED PRECEDING) AS cf,
       |    SUM(f) OVER (PARTITION BY lang) AS n
       |  FROM freq)
       |SELECT lang,
       |  MIN(CASE WHEN cf >= CEIL(n * 0.5) THEN n_tokens END) AS p50,
       |  MIN(CASE WHEN cf >= CEIL(n * 0.9) THEN n_tokens END) AS p90,
       |  MIN(CASE WHEN cf >= CEIL(n * 0.99) THEN n_tokens END) AS p99
       |FROM cum GROUP BY lang ORDER BY lang""".stripMargin

  /** Winnowing (rolling-hash) fingerprints: k=5 char-gram polynomial
    * hashes, w=4 window minima, distinct+sorted, comma-joined. The
    * 300-char prefix keeps the oracle's interpreted list lambdas cheap;
    * the operator itself has no such limit. Pure integer math — both
    * engines compute identical longs. */
  private val tWinnow: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFns.winnowFingerprintUdf(substring(col("text"), 1, 300)).as("fp"))
      .orderBy("doc_id")
  private val tWinnowSql =
    """WITH c AS (
      |  SELECT doc_id, regexp_replace(lower(substr(text, 1, 300)), '[^a-z0-9]', '', 'g') AS cl
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, len(cl) - 4 AS n,
      |    list_transform(range(1, greatest(len(cl) - 4, 0) + 1), i ->
      |      list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(range(5), j -> CAST(unicode(substr(cl, i + j, 1)) AS BIGINT))),
      |        (a, x) -> (a * 257 + x) % 1000000007)) AS hs
      |  FROM c)
      |SELECT doc_id,
      |  CASE WHEN cl IS NULL OR n <= 0 THEN '' ELSE
      |    array_to_string(list_sort(list_distinct(
      |      list_transform(range(1, greatest(n - 3, 1) + 1), s ->
      |        list_min(hs[s : least(s + 3, n)])))), ',')
      |  END AS fp
      |FROM h JOIN c USING (doc_id) ORDER BY doc_id""".stripMargin

  private val tFp: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")
  private val tFpSql =
    """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** PII scrub over a constructed corpus: every doc gets a planted
    * email, phone, and URL appended to a real-text prefix; both engines
    * run the same three ordered regexp_replace passes (URL first so an
    * email-shaped substring inside a URL stays part of <URL>). */
  private val tPii: Q = (s, dir) => {
    val raw = concat(substring(col("text"), 1, 80),
      lit(" contact user"), col("doc_id"), lit("@example.com or +84 90 123 45"),
      pmod(col("doc_id"), lit(100)), lit(" at https://ex.vn/b/"), col("doc_id"), lit(" ok"))
    t(s, dir, "documents")
      .select(col("doc_id"), raw.as("raw"), TextFns.redact_pii(raw).as("redacted"))
      .orderBy("doc_id")
  }
  private val tPiiSql =
    s"""SELECT doc_id, raw,
       |  regexp_replace(regexp_replace(regexp_replace(raw,
       |    '${TextFns.piiUrlPat}', '<URL>', 'g'),
       |    '${TextFns.piiEmailPat}', '<EMAIL>', 'g'),
       |    '${TextFns.piiPhonePat}', '<PHONE>', 'g') AS redacted
       |FROM (
       |  SELECT doc_id, substr(text, 1, 80) || ' contact user' || doc_id ||
       |    '@example.com or +84 90 123 45' || (doc_id % 100) ||
       |    ' at https://ex.vn/b/' || doc_id || ' ok' AS raw
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Boilerplate strip over a corpus with a planted shared header and
    * footer (df = corpus size) around unique per-doc lines. */
  private val tBoiler: Q = (s, dir) => {
    val corp = t(s, dir, "documents").select(col("doc_id"),
      concat(lit("SHARED HEADER\n"), substring(col("text"), 1, 60),
        lit("\nDOC "), col("doc_id"), lit(" BODY\nCOMMON FOOTER")).as("raw"))
    graft.operators.CorpusOps.stripBoilerplate(corp, "doc_id", "raw", minDocs = 100L)
      .orderBy("doc_id")
  }
  private val tBoilerSql =
    """WITH raw AS (
      |  SELECT doc_id, 'SHARED HEADER' || chr(10) || substr(text, 1, 60) || chr(10) ||
      |    'DOC ' || doc_id || ' BODY' || chr(10) || 'COMMON FOOTER' AS raw
      |  FROM documents),
      |lines AS (
      |  SELECT doc_id, gs - 1 AS pos, line FROM (
      |    SELECT doc_id, unnest(string_split(raw, chr(10))) AS line,
      |           generate_subscripts(string_split(raw, chr(10)), 1) AS gs FROM raw)),
      |boiler AS (
      |  SELECT line FROM (
      |    SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines
      |    WHERE trim(line) <> '' GROUP BY line)
      |  WHERE df >= 100),
      |kept AS (SELECT l.* FROM lines l ANTI JOIN boiler b USING (line))
      |SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS text
      |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Decontamination scores: benchmark = the five lowest-id documents,
    * so those five score 1.0 by construction and everything else scores
    * its true 3-gram overlap. Same tokenizer/shingle replay as the
    * MinHash oracle family. */
  private val tDecon: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    graft.operators.CorpusOps.contaminationScores(
        docs, "doc_id", "text",
        docs.filter(col("doc_id") < 5), "text", shingleK = 3)
      .orderBy("doc_id")
  }
  private val tDeconSql =
    """WITH bset AS (
      |  SELECT DISTINCT ng FROM (
      |    SELECT unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
      |      j -> array_to_string(toks[j:j+2], ' '))) AS ng
      |    FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |          FROM documents WHERE doc_id < 5))),
      |dng AS (
      |  SELECT DISTINCT doc_id, ng FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
      |      j -> array_to_string(toks[j:j+2], ' '))) AS ng
      |    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |          FROM documents)))
      |SELECT doc_id, COUNT(*) AS n_grams,
      |  COUNT(CASE WHEN b.ng IS NOT NULL THEN 1 END) AS n_hit,
      |  CAST(COUNT(CASE WHEN b.ng IS NOT NULL THEN 1 END) AS DOUBLE) / COUNT(*)
      |    AS contamination
      |FROM dng d LEFT JOIN bset b USING (ng)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Repetition signals over a corpus with planted repetition: every
    * third doc gets its first 40 chars appended twice as extra lines, so
    * duplicate-line and bigram-dominance signals are non-trivially
    * exercised on both engines. */
  private val tRepetition: Q = (s, dir) => {
    val corp = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\n"), substring(col("text"), 1, 40),
          lit("\n"), substring(col("text"), 1, 40)))
        .otherwise(col("text")).as("raw"))
    graft.operators.CorpusOps.repetitionSignals(corp, "doc_id", "raw")
      .orderBy("doc_id")
  }
  // DuckDB SUM(BIGINT) widens to HUGEINT (int128), which normalizes
  // differently from Spark's int64 in arrow/pandas readers and breaks
  // the correctness gate's value hash even when every value is equal —
  // hence the CAST(... AS BIGINT) on each SUM.
  // No `--` comments in oracle SQL: GenOracleBody flattens to one line.
  private val tRepetitionSql =
    """WITH raw AS (
      |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
      |    THEN text || chr(10) || substr(text, 1, 40) || chr(10) || substr(text, 1, 40)
      |    ELSE text END AS raw
      |  FROM documents),
      |lstat AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
      |    CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dup_lines FROM (
      |    SELECT doc_id, line, COUNT(*) AS c FROM (
      |      SELECT doc_id, unnest(list_filter(string_split(raw, chr(10)),
      |        x -> trim(x) <> '')) AS line FROM raw)
      |    GROUP BY doc_id, line)
      |  GROUP BY doc_id),
      |gstat AS (
      |  SELECT doc_id, MAX(c) AS top_bigram_cnt,
      |    CAST(SUM(c) AS BIGINT) AS n_bigrams FROM (
      |    SELECT doc_id, g, COUNT(*) AS c FROM (
      |      SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
      |        j -> array_to_string(toks[j:j+1], ' '))) AS g
      |      FROM (SELECT doc_id, regexp_extract_all(lower(raw), '[a-z0-9]+') AS toks
      |            FROM raw))
      |    GROUP BY doc_id, g)
      |  GROUP BY doc_id)
      |SELECT doc_id, n_lines, n_dup_lines,
      |  CAST(n_dup_lines AS DOUBLE) / n_lines AS dup_line_frac,
      |  top_bigram_cnt, n_bigrams,
      |  CAST(top_bigram_cnt AS DOUBLE) / n_bigrams AS top_bigram_frac
      |FROM lstat JOIN gstat USING (doc_id) ORDER BY doc_id""".stripMargin

  /** T-GG: the Gopher-family rule gate — the curation decision the
    * repetition/quality signals exist to feed — as ONE shuffle-free
    * row-local pass: word-count band, mean-word-length band, duplicate
    * -line cap, top-bigram cap, alphabetic-word floor, each an INTEGER
    * comparison (`a*10 <= b*3`-style cross-multiplication, so no float
    * exists anywhere and the oracle hash-compares trivially). Output is
    * a per-rule fail bitmask + the keep verdict, the shape a pipeline
    * filters on while keeping per-rule attrition auditable. Runs over
    * the same planted corpus as t_repetition so the repetition rules
    * actually fire; thresholds (words 30..10000, mwl 3..5, dup<=30%,
    * bigram<=20%, alpha>=80%) are the Gopher-style bands adapted to the
    * synthetic corpus' distributions. Scale shape: pure map over the
    * scan — zero shuffles, the ideal 100 TB form. */
  private val gopherMaskSql = graft.operators.CorpusOps.gopherMaskSql
  private val tGopherGate: Q = (s, dir) => {
    val raw = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\n"), substring(col("text"), 1, 40),
          lit("\n"), substring(col("text"), 1, 40)))
        .otherwise(col("text")).as("raw"))
    graft.operators.CorpusOps.gopherGate(raw, "doc_id", "raw")
      .orderBy("doc_id")
  }
  /** The gate's stats CTE chain (expects a `raw(doc_id, raw)` CTE in
    * scope, yields `m` with the mask inputs) — shared with
    * pipe_curation_pass so the gate replay has ONE definition. */
  private[queries] val gopherStatsCtes: String =
    s"""base AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN trim(regexp_replace(raw, '\\s+', ' ', 'g')) = '' THEN 0
       |      ELSE len(string_split(trim(regexp_replace(raw, '\\s+', ' ', 'g')), ' '))
       |      END AS BIGINT) AS words,
       |    CAST(length(raw) AS BIGINT) AS chars,
       |    CAST(len(regexp_extract_all(lower(raw), '[a-z]+')) AS BIGINT) AS alpha
       |  FROM raw WHERE raw IS NOT NULL),
       |lstat AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
       |    CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dup_lines FROM (
       |    SELECT doc_id, line, COUNT(*) AS c FROM (
       |      SELECT doc_id, unnest(list_filter(string_split(raw, chr(10)),
       |        x -> trim(x) <> '')) AS line FROM raw)
       |    GROUP BY doc_id, line)
       |  GROUP BY doc_id),
       |gstat AS (
       |  SELECT doc_id, MAX(c) AS top_bigram_cnt,
       |    CAST(SUM(c) AS BIGINT) AS n_bigrams FROM (
       |    SELECT doc_id, g, COUNT(*) AS c FROM (
       |      SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
       |        j -> array_to_string(toks[j:j+1], ' '))) AS g
       |      FROM (SELECT doc_id, regexp_extract_all(lower(raw), '[a-z0-9]+') AS toks
       |            FROM raw))
       |    GROUP BY doc_id, g)
       |  GROUP BY doc_id),
       |m AS (
       |  SELECT b.doc_id, words, chars, alpha,
       |    COALESCE(n_lines, 0) AS n_lines,
       |    COALESCE(n_dup_lines, 0) AS n_dup_lines,
       |    top_bigram_cnt, n_bigrams
       |  FROM base b
       |  LEFT JOIN lstat USING (doc_id) JOIN gstat USING (doc_id))""".stripMargin

  private val tGopherGateSql =
    s"""WITH raw AS (
       |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
       |    THEN text || chr(10) || substr(text, 1, 40) || chr(10) || substr(text, 1, 40)
       |    ELSE text END AS raw
       |  FROM documents),
       |$gopherStatsCtes
       |SELECT doc_id, words AS n_words, n_lines, n_dup_lines,
       |  top_bigram_cnt, n_bigrams, $gopherMaskSql AS fail_mask,
       |  $gopherMaskSql = 0 AS keep
       |FROM m ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- unicode kernels

  /** Unicode NFC normalization (UnicodeExprs.NfcNormalizeExpr): the
    * fixture text is pure ASCII, so each row gets a DECOMPOSED suffix
    * built identically in both engines (combining acute + circumflex +
    * ring, all BMP) — NFC must compose it (post_cp < pre_cp) and leave
    * the ASCII prefix untouched. java.text.Normalizer and DuckDB's
    * utf8proc both implement Unicode canonical composition, so the
    * composed string itself hash-compares exactly. */
  private val fnNfc: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("raw",
        concat(substring(col("text"), 1, 60), lit("éôå")))
      .select(col("doc_id"),
        expr("nfc_normalize(raw)").as("norm"),
        // builtin length == codepoints in BOTH engines (Spark's
        // UTF8String.numChars walks UTF-8 lead bytes; UnicodeExprsSpec
        // pins the astral case)
        length(col("raw")).as("pre_cp"),
        length(expr("nfc_normalize(raw)")).as("post_cp"))
      .orderBy("doc_id")
  private val fnNfcSql =
    """SELECT doc_id,
      |  nfc_normalize(substr(text, 1, 60) || 'e' || chr(769) || 'o' || chr(770) || 'a' || chr(778)) AS norm,
      |  CAST(length(substr(text, 1, 60) || 'e' || chr(769) || 'o' || chr(770) || 'a' || chr(778)) AS INT) AS pre_cp,
      |  CAST(length(nfc_normalize(substr(text, 1, 60) || 'e' || chr(769) || 'o' || chr(770) || 'a' || chr(778))) AS INT) AS post_cp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Grapheme-cluster vs codepoint length (UnicodeExprs): a repeated
    * decomposed e+combining-acute suffix gives per-row variety; UAX #29
    * (java.text.BreakIterator) and DuckDB length_grapheme agree each
    * pair is ONE cluster, so g_len = 50 + r while cp_len = 50 + 2r. */
  private val tGrapheme: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("raw", concat(substring(col("text"), 1, 50),
        array_join(array_repeat(lit("é"),
          (col("doc_id") % 3 + 1).cast("int")), "")))
      .select(col("doc_id"),
        length(col("raw")).as("cp_len"),
        expr("grapheme_len(raw)").as("g_len"))
      .orderBy("doc_id")
  private val tGraphemeSql =
    """SELECT doc_id,
      |  CAST(length(substr(text, 1, 50) || repeat('e' || chr(769), doc_id % 3 + 1)) AS INT) AS cp_len,
      |  CAST(length_grapheme(substr(text, 1, 50) || repeat('e' || chr(769), doc_id % 3 + 1)) AS INT) AS g_len
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- t_readability

  /** T-READ: Flesch-style readability score per document, in integer
    * milli-points — the quality-gate cousin of `t_quality` that scores
    * SENTENCE/WORD SHAPE rather than character ratios. The three counts
    * are regex-run counts on the RAW text (no lower() — the character
    * classes carry both cases, so there is no cross-engine lowercasing
    * seam on non-ASCII input):
    *   words     = runs of [A-Za-z]+
    *   syllables = runs of [AEIOUYaeiouy]+ (the standard vowel-group
    *               heuristic; a DEFINED approximation, not dictionary
    *               syllabification)
    *   sentences = runs of [.!?]+, floored at 1
    * score_milli = 206835 − (1015·w) div s − (84600·syl) div w — the
    * Flesch reading-ease constants scaled ×1000, with floor division as
    * the DEFINED rounding (all operands non-negative, so Spark's
    * truncating `div` and DuckDB's `//` agree). Row-local, shuffle-free;
    * at 100 TB this is a pure map over the scan. */
  private val tRead: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        expr("CAST(size(regexp_extract_all(text, '[A-Za-z]+', 0)) AS BIGINT)")
          .as("n_words"),
        expr("CAST(size(regexp_extract_all(text, '[AEIOUYaeiouy]+', 0)) AS BIGINT)")
          .as("n_syll"),
        expr("CAST(greatest(1, size(regexp_extract_all(text, '[.!?]+', 0))) AS BIGINT)")
          .as("n_sents"))
      .filter(col("n_words") > 0)
      .withColumn("flesch_milli", expr(
        "206835 - (1015 * n_words) div n_sents - (84600 * n_syll) div n_words"))
      .orderBy("doc_id")
  private val tReadSql =
    """WITH c AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words,
      |    CAST(len(regexp_extract_all(text, '[AEIOUYaeiouy]+')) AS BIGINT) AS n_syll,
      |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS n_sents
      |  FROM documents)
      |SELECT doc_id, n_words, n_syll, n_sents,
      |  206835 - (1015 * n_words) // n_sents - (84600 * n_syll) // n_words
      |    AS flesch_milli
      |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ registry

  val queries: Map[String, Q] = Map(
    "t_readability" -> tRead,
    "fn_nfc_normalize" -> fnNfc,
    "t_grapheme_len" -> tGrapheme,
    "fn_duration_hours" -> fnDur,
    "fn_normalize_name" -> fnName,
    "fn_vi_digits" -> fnDigits,
    "fn_number_format" -> fnNumFmt,
    "fn_currency" -> fnCurrency,
    "fn_dates" -> fnDates,
    "fn_normalize_pipeline" -> fnPipeline,
    "fn_strip_punct" -> fnPunct,
    "fn_strip_html" -> fnHtml,
    "fn_clean_quotes" -> fnQuotes,
    "fn_sentence_tokenize" -> fnSent,
    "fn_word_count" -> fnWc,
    "fn_py_literal" -> fnPyLit,
    "fn_narrator_wide" -> fnWide,
    "fn_url_parse" -> fnUrl,
    "t_lang_id" -> tLang,
    "t_quality" -> tQuality,
    "t_token_count" -> tTok,
    "t_length_stats" -> tLenStats,
    "t_top_terms" -> tTopTerms,
    "t_winnow_fingerprint" -> tWinnow,
    "t_fingerprint" -> tFp,
    "t_pii_redact" -> tPii,
    "t_boilerplate" -> tBoiler,
    "t_decontaminate" -> tDecon,
    "t_repetition" -> tRepetition,
    "t_gopher_gate" -> tGopherGate)

  val oracle: Map[String, String] = Map(
    "t_readability" -> tReadSql,
    "fn_nfc_normalize" -> fnNfcSql,
    "t_grapheme_len" -> tGraphemeSql,
    "fn_duration_hours" -> fnDurSql,
    "fn_normalize_name" -> fnNameSql,
    "fn_vi_digits" -> fnDigitsSql,
    "fn_number_format" -> fnNumFmtSql,
    "fn_currency" -> fnCurrencySql,
    "fn_dates" -> fnDatesSql,
    "fn_normalize_pipeline" -> fnPipelineSql,
    "fn_strip_punct" -> fnPunctSql,
    "fn_strip_html" -> fnHtmlSql,
    "fn_clean_quotes" -> fnQuotesSql,
    "fn_sentence_tokenize" -> fnSentSql,
    "fn_word_count" -> fnWcSql,
    "fn_py_literal" -> fnPyLitSql,
    "fn_narrator_wide" -> fnWideSql,
    "fn_url_parse" -> fnUrlSql,
    "t_lang_id" -> tLangSql,
    "t_quality" -> tQualitySql,
    "t_token_count" -> tTokSql,
    "t_length_stats" -> tLenStatsSql,
    "t_top_terms" -> tTopTermsSql,
    "t_winnow_fingerprint" -> tWinnowSql,
    "t_fingerprint" -> tFpSql,
    "t_pii_redact" -> tPiiSql,
    "t_boilerplate" -> tBoilerSql,
    "t_decontaminate" -> tDeconSql,
    "t_repetition" -> tRepetitionSql,
    "t_gopher_gate" -> tGopherGateSql)
}
