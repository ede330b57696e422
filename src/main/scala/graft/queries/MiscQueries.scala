package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The remaining (non-★) SURVEY §2 inventory rows, each still oracle-backed:
  * file-type/filename predicates (2.2 F8/F9/F11), sequence-number extraction
  * (A13), the metadata fan-out explode join (J8) with filename composition
  * (F15), content-keyed ids (F16 determinism variant), numeric-aware
  * filename sort (O5), and chunked batch iteration (W5).
  */
object MiscQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** 2.8-F19: map merge with dict {**row, **update} last-win semantics
    * (process_all.py:816, tts_data_pipeline/file.py:94-102). The merged
    * map is serialized to a sorted k=v string so the verify surface stays
    * scalar; map_concat needs spark.sql.mapKeyDedupPolicy=LAST_WIN (set in
    * Sessions.builder). The oracle constructs the expected merge directly,
    * so it checks the last-win override, not just concatenation. */
  private val f19: Q = (s, dir) =>
    t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
      .withColumn("m1", map(
        lit("status"), col("o_orderstatus"), lit("prio"), col("o_orderpriority")))
      .withColumn("m2", map(
        lit("prio"), concat(lit("X"), col("o_orderpriority")),
        lit("cust"), col("o_custkey").cast("string")))
      .select(col("o_orderkey"),
        concat_ws(",", transform(array_sort(map_entries(map_concat(col("m1"), col("m2")))),
          e => concat(e.getField("key"), lit("="), e.getField("value")))).as("merged"))
      .orderBy("o_orderkey")
  private val f19Sql =
    """SELECT o_orderkey,
      |  'cust=' || CAST(o_custkey AS VARCHAR) || ',prio=X' || o_orderpriority ||
      |    ',status=' || o_orderstatus AS merged
      |FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin

  /** 2.2-F8: non-mp3 files diverted to the unqualified set
    * (crawler/utils.py:107-111). */
  private val f8: Q = (s, dir) =>
    t(s, dir, "part")
      .withColumn("fname", concat(lit("f"), col("p_partkey"),
        when(col("p_partkey") % 3 === 0, lit(".mp3"))
          .when(col("p_partkey") % 3 === 1, lit(".wav"))
          .otherwise(lit(".txt"))))
      .filter(!col("fname").endsWith(".mp3"))
      .select(col("p_partkey"), col("fname"))
      .orderBy("p_partkey")
  private val f8Sql =
    """SELECT p_partkey, fname FROM (
      |  SELECT p_partkey, 'f' || CAST(p_partkey AS VARCHAR) ||
      |    CASE WHEN p_partkey % 3 = 0 THEN '.mp3'
      |         WHEN p_partkey % 3 = 1 THEN '.wav' ELSE '.txt' END AS fname
      |  FROM part)
      |WHERE NOT ends_with(fname, '.mp3') ORDER BY p_partkey""".stripMargin

  /** 2.2-F9: utterance stem must match `{book}_{digits}`
    * (whisper_qc.py:53-59). */
  private val f9: Q = (s, dir) =>
    t(s, dir, "orders")
      .withColumn("stem",
        when(col("o_orderkey") % 4 === 0, concat(lit("book"), col("o_custkey"), lit("_x")))
          .otherwise(concat(lit("book"), col("o_custkey"), lit("_"), col("o_orderkey"))))
      .filter(col("stem").rlike("_[0-9]+$"))
      .select(col("o_orderkey"), col("stem"))
      .orderBy("o_orderkey")
  private val f9Sql =
    """SELECT o_orderkey, stem FROM (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 4 = 0 THEN 'book' || CAST(o_custkey AS VARCHAR) || '_x'
      |         ELSE 'book' || CAST(o_custkey AS VARCHAR) || '_' || CAST(o_orderkey AS VARCHAR) END AS stem
      |  FROM orders)
      |WHERE regexp_matches(stem, '_[0-9]+$') ORDER BY o_orderkey""".stripMargin

  /** 2.2-F11: source-validity labeling + invalid drop
    * (crawler/utils.py:252-272, metadata.py:396-399). */
  private val f11: Q = (s, dir) =>
    t(s, dir, "nation")
      .withColumn("source",
        when(col("n_nationkey") % 3 === 0, lit("thuviensach"))
          .when(col("n_nationkey") % 3 === 1, lit("taisachhay"))
          .otherwise(lit("invalid")))
      .filter(col("source") =!= "invalid")
      .select(col("n_nationkey"), col("n_name"), col("source"))
      .orderBy("n_nationkey")
  private val f11Sql =
    """SELECT n_nationkey, n_name, source FROM (
      |  SELECT n_nationkey, n_name,
      |    CASE WHEN n_nationkey % 3 = 0 THEN 'thuviensach'
      |         WHEN n_nationkey % 3 = 1 THEN 'taisachhay' ELSE 'invalid' END AS source
      |  FROM nation)
      |WHERE source <> 'invalid' ORDER BY n_nationkey""".stripMargin

  /** A13: trailing-digit sequence number, default 0 (process_all.py:612-617). */
  private val a13: Q = (s, dir) =>
    t(s, dir, "part")
      .withColumn("fname",
        when(col("p_partkey") % 5 === 0, concat(lit("part_nodigit"), lit(".mp3")))
          .otherwise(concat(lit("part_"), col("p_partkey") % 37, lit(".mp3"))))
      // nullif: regexp_extract yields '' on no-match, which ANSI-cast rejects
      .withColumn("seq", coalesce(
        nullif(regexp_extract(col("fname"), "(\\d+)\\.\\w+$", 1), lit(""))
          .cast("int"), lit(0)))
      .select(col("p_partkey"), col("fname"), col("seq"))
      .orderBy("p_partkey")
  private val a13Sql =
    """SELECT p_partkey, fname,
      |  CAST(COALESCE(TRY_CAST(regexp_extract(fname, '(\d+)\.\w+$', 1) AS INT), 0) AS INT) AS seq
      |FROM (
      |  SELECT p_partkey,
      |    CASE WHEN p_partkey % 5 = 0 THEN 'part_nodigit.mp3'
      |         ELSE 'part_' || CAST(p_partkey % 37 AS VARCHAR) || '.mp3' END AS fname
      |  FROM part)
      |ORDER BY p_partkey""".stripMargin

  /** J8 + F15: one text task + N audio tasks per row via array explode,
    * filenames composed `{book}_{idx}{ext}` (crawler/download.py:119-151).
    *
    * Cost (JobCensus, sf0.1): 5 jobs whose walls sum 2.2 s of the
    * census wall;
    * the two ~1 s jobs are the explode fan-out stages themselves
    * (1.2 + 1.0 s task-time over 300k generated rows). The fan-out IS
    * the query; the remainder is jobs × floor. */
  private val j8: Q = (s, dir) => {
    val o = t(s, dir, "orders").filter(col("o_orderkey") % 10 === 0)
      .withColumn("audio_urls", expr(
        "transform(sequence(1, 1 + cast(o_orderkey % 3 as int)), " +
        "i -> concat('http://a/', o_orderkey, '/', i))"))
    val audio = o.select(col("o_orderkey"),
        posexplode(col("audio_urls")).as(Seq("pos", "url")))
      .select(col("o_orderkey"), col("url"),
        format_string("b%d_%d.mp3", col("o_orderkey"), col("pos") + 1).as("fname"),
        lit("audio").as("kind"))
    val text = t(s, dir, "orders").filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"),
        concat(lit("http://t/"), col("o_orderkey")).as("url"),
        format_string("b%d.pdf", col("o_orderkey")).as("fname"),
        lit("text").as("kind"))
    text.unionByName(audio).orderBy("o_orderkey", "kind", "fname")
  }
  private val j8Sql =
    """SELECT * FROM (
      |  SELECT o_orderkey, 'http://t/' || CAST(o_orderkey AS VARCHAR) AS url,
      |    printf('b%d.pdf', o_orderkey) AS fname, 'text' AS kind
      |  FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'http://a/' || CAST(o_orderkey AS VARCHAR) || '/' || CAST(i AS VARCHAR),
      |    printf('b%d_%d.mp3', o_orderkey, i), 'audio'
      |  FROM orders, unnest(list_transform(range(1, 2 + CAST(o_orderkey % 3 AS INT)), x -> x)) u(i)
      |  WHERE o_orderkey % 10 = 0)
      |ORDER BY o_orderkey, kind, fname""".stripMargin

  /** F16 (deterministic variant): content-keyed 8-hex id replacing the
    * reference's secrets.token_hex (SURVEY §7.4 testability note). */
  private val f16: Q = (s, dir) =>
    t(s, dir, "customer")
      .select(col("c_custkey"),
        substring(sha2(col("c_name").cast("binary"), 256), 1, 8).as("book_id"))
      .orderBy("c_custkey")
  private val f16Sql =
    """SELECT c_custkey, substr(sha256(c_name), 1, 8) AS book_id
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** O5: numeric-aware filename sort — by extracted trailing int, not
    * lexicographic (process_all.py:567-569). */
  private val o5: Q = (s, dir) =>
    t(s, dir, "part").filter(col("p_partkey") % 7 === 0)
      .withColumn("fname", concat(lit("seg_"), col("p_partkey") % 101, lit(".wav")))
      .withColumn("seq",
        regexp_extract(col("fname"), "(\\d+)\\.\\w+$", 1).cast("int"))
      .select(col("fname"), col("seq"), col("p_partkey"))
      .orderBy("seq", "p_partkey")
  private val o5Sql =
    """SELECT fname, CAST(regexp_extract(fname, '(\d+)\.\w+$', 1) AS INT) AS seq, p_partkey
      |FROM (SELECT p_partkey, 'seg_' || CAST(p_partkey % 101 AS VARCHAR) || '.wav' AS fname
      |      FROM part WHERE p_partkey % 7 = 0)
      |ORDER BY seq, p_partkey""".stripMargin

  /** W5: chunked batch iteration — rows sliced into fixed-size batches
    * (prepare_prompt_for_vnavc.py:124-143). */
  private val w5: Q = (s, dir) =>
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(Window.orderBy("o_orderkey")))
      .withColumn("batch_id", ((col("rn") - 1) / 500).cast("int"))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("first_key"),
        max(col("o_orderkey")).as("last_key"))
      .orderBy("batch_id")
  private val w5Sql =
    """SELECT batch_id, COUNT(*) AS n, MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key
      |FROM (SELECT o_orderkey,
      |        CAST((row_number() OVER (ORDER BY o_orderkey) - 1) // 500 AS INT) AS batch_id
      |      FROM orders)
      |GROUP BY batch_id ORDER BY batch_id""".stripMargin

  /** 2.8-F20: unicode-escape decode of literal backslash sequences
    * (file.py:106-113). Inputs synthesized with known escapes so the
    * oracle constructs the expected output directly. */
  private val f20: Q = (s, dir) =>
    t(s, dir, "nation")
      .withColumn("raw", concat(lit("l1\\n"), col("n_name"),
        lit("\\tx\\u0041\\x42e")))
      .select(col("n_nationkey"), col("raw"),
        graft.functions.TextFns.unicodeUnescapeUdf(col("raw")).as("decoded"))
      .orderBy("n_nationkey")
  private val f20Sql =
    """SELECT n_nationkey, 'l1\n' || n_name || '\tx' || chr(92) || 'u0041\x42e' AS raw,
      |  'l1' || chr(10) || n_name || chr(9) || 'xABe' AS decoded
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** F18: percentage/rate math — invalid-url ratio (metadata.py:396-399);
    * integer-count division is deterministic in both engines. */
  private val f18: Q = (s, dir) =>
    t(s, dir, "nation")
      .withColumn("valid", col("n_nationkey") % 3 =!= 2)
      .agg(count(when(!col("valid"), 1)).as("n_invalid"),
        count(lit(1)).as("n_total"),
        (count(when(!col("valid"), 1)) * 100.0 / count(lit(1)))
          .as("invalid_pct"))
  private val f18Sql =
    """SELECT COUNT(CASE WHEN n_nationkey % 3 = 2 THEN 1 END) AS n_invalid,
      |  COUNT(*) AS n_total,
      |  COUNT(CASE WHEN n_nationkey % 3 = 2 THEN 1 END) * 100.0 / COUNT(*) AS invalid_pct
      |FROM nation""".stripMargin

  val queries: Map[String, Q] = Map(
    "f19_map_merge" -> f19,
    "fn_unicode_unescape" -> f20,
    "f18_invalid_ratio" -> f18,
    "f8_file_type" -> f8,
    "f9_stem_format" -> f9,
    "f11_validity_partition" -> f11,
    "a13_seq_extract" -> a13,
    "j8_fanout_explode" -> j8,
    "f16_content_keyed_id" -> f16,
    "o5_numeric_sort" -> o5,
    "w5_chunked_batches" -> w5)

  val oracle: Map[String, String] = Map(
    "f19_map_merge" -> f19Sql,
    "fn_unicode_unescape" -> f20Sql,
    "f18_invalid_ratio" -> f18Sql,
    "f8_file_type" -> f8Sql,
    "f9_stem_format" -> f9Sql,
    "f11_validity_partition" -> f11Sql,
    "a13_seq_extract" -> a13Sql,
    "j8_fanout_explode" -> j8Sql,
    "f16_content_keyed_id" -> f16Sql,
    "o5_numeric_sort" -> o5Sql,
    "w5_chunked_batches" -> w5Sql)
}
