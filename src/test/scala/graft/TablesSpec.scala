package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Tally

/** Tables.events must read the SAME (ts, ts_ns) values out of every ts
  * encoding the fixture generator has shipped: int64 nanos (legacy,
  * via nanosAsLong), TIMESTAMP micros, and TIMESTAMP_NTZ micros. The
  * loader seam is the one place that absorbs a fixture-schema change —
  * pin all three paths.
  *
  * Tables resolves each table once per session: a later load lists no
  * file and starts no job, hands out fresh expression ids, is bound to
  * its own session, and re-resolves after `Tables.refresh`. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val microsUtc = 1704067207179575L // 2024-01-01 00:00:07.179575 UTC

  private def writeAndLoad(dir: String, mk: => org.apache.spark.sql.DataFrame) = {
    mk.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"), col("ts_ns"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("events loader: nanos-long, timestamp, and timestamp_ntz files agree") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("tables_events").toString
    val expected = Set((1L, microsUtc, microsUtc * 1000L))

    val asLong = writeAndLoad(s"$root/lng",
      Seq((1L, microsUtc * 1000L)).toDF("event_id", "ts"))
    assert(asLong == expected, s"legacy nanos path: $asLong")

    val asTs = writeAndLoad(s"$root/ts",
      Seq((1L, microsUtc)).toDF("event_id", "us")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts")))
    assert(asTs == expected, s"TIMESTAMP path: $asTs")

    val asNtz = writeAndLoad(s"$root/ntz",
      Seq((1L, microsUtc)).toDF("event_id", "us")
        .select(col("event_id"),
          timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")))
    assert(asNtz == expected, s"TIMESTAMP_NTZ path: $asNtz")
  }

  test("registerAll survives one unreadable table and registers the rest") {
    val root = java.nio.file.Files.createTempDirectory("tables_reg").toString
    import spark.implicits._
    // only two of the ten tables exist; registerAll must not throw and
    // must leave the present ones queryable
    Seq((0, "r0")).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$root/region.parquet")
    Seq((1L, microsUtc * 1000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$root/events.parquet")
    Tables.registerAll(spark, root)
    assert(spark.table("region").count() == 1)
    assert(spark.table("events").select("ts_ns").head().getLong(0) ==
      microsUtc * 1000L)
  }

  test("registerAll returns the names that failed to register") {
    val root = java.nio.file.Files.createTempDirectory("tables_skip").toString
    import spark.implicits._
    Seq((0, "r0")).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$root/region.parquet")
    val skipped = Tables.registerAll(spark, root)
    assert(!skipped.contains("region"))
    assert(skipped.contains("orders") && skipped.contains("events"),
      s"missing tables not reported: $skipped")
  }

  test("fanOut widens a narrow scan to the session parallelism and " +
      "NEVER narrows an already-parallel input") {
    import spark.implicits._
    val p = spark.sparkContext.defaultParallelism
    val narrow = (1 to 100).toDF("x").coalesce(1)
    assert(Tables.fanOut(narrow).rdd.getNumPartitions == p,
      "narrow input not fanned to parallelism")
    // widen-only contract: a scan already wider than the session must
    // pass through untouched (at 100 TB this is the common case — a
    // repartition there would CONCENTRATE the scan)
    val wide = (1 to 100).toDF("x").repartition(p + 7)
    assert(Tables.fanOut(wide).rdd.getNumPartitions == p + 7,
      "fanOut narrowed an already-parallel input")
  }

  /** A fresh directory holding a `nation.parquet` of `n` rows. */
  private def nationDir(n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("tables_cache").toString
    writeNation(dir, n)
    dir
  }

  private def writeNation(dir: String, n: Int): Unit = {
    import spark.implicits._
    (0 until n).map(i => (i, s"n$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/nation.parquet")
  }

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }.get

  test("a second load of a table starts no job and discovers no file") {
    val dir = nationDir(25)
    // Control: the first load lists the files and infers the schema.
    val first = Tally.of(spark)(Tables.load(spark, dir, "nation"))._2
    assert(first.jobs.size >= 1 && first.filesDiscovered >= 1,
      s"the first load ran ${first.jobs} over ${first.filesDiscovered} files: the probe sees nothing")
    val again = Tally.of(spark)(Tables.load(spark, dir, "nation"))._2
    assert((again.jobs.size, again.filesDiscovered) == ((0, 0L)),
      s"a second load ran ${again.jobs} over ${again.filesDiscovered} files")
    assert(Tables.load(spark, dir, "nation").count() == 25)
  }

  test("a self-join of two loads counts as the SQL self-join") {
    val dir = nationDir(25)
    val a = Tables.load(spark, dir, "nation")
    val b = Tables.load(spark, dir, "nation")
    val joined = a.join(b, a("n_regionkey") === b("n_regionkey")).count()
    val path = s"$dir/nation.parquet"
    val sql = spark.sql(
      s"SELECT count(*) FROM parquet.`$path` a JOIN parquet.`$path` b " +
        "ON a.n_regionkey = b.n_regionkey").head().getLong(0)
    assert(sql == 125)
    assert(joined == sql)
  }

  test("after refresh, a rewritten table loads with its new rows") {
    val dir = nationDir(3)
    assert(Tables.load(spark, dir, "nation").count() == 3)
    Tables.refresh(spark)
    writeNation(dir, 7)
    assert(Tables.load(spark, dir, "nation").count() == 7)
  }

  test("a failed load caches nothing: the next load retries") {
    val dir = java.nio.file.Files.createTempDirectory("tables_missing").toString
    intercept[Exception](Tables.load(spark, dir, "nation"))
    writeNation(dir, 4)
    assert(Tables.load(spark, dir, "nation").count() == 4)
  }

  test("a sibling session's load is bound to the sibling session") {
    val dir = nationDir(5)
    val sibling: SparkSession = spark.newSession()
    val mine = relationOf(Tables.load(spark, dir, "nation"))
    val theirs = relationOf(Tables.load(sibling, dir, "nation"))
    assert(mine.sparkSession eq spark)
    assert(theirs.sparkSession eq sibling)
    assert(Tables.load(sibling, dir, "nation").count() == 5)
  }
}
