package graft

import org.apache.spark.sql.functions.{col, lit, raise_error}
import org.scalatest.funsuite.AnyFunSuite

/** A query that throws is not a timing: Bench leaves it out of every
  * timed field and names it under `failed`, on both emitted lines. A
  * timed run that compiles generated classes is counted under
  * `warm_compiles`, one that lists files under `warm_files_discovered`. */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a throwing query is named under failed and left out of total") {
    val (compact, full) = Bench.run(spark, "unused", Seq("ok", "boom"), Nil) {
      case "ok" => spark.range(1000).toDF("id")
      case _ => spark.range(10).select(raise_error(lit("planted failure")))
    }
    for (line <- Seq(compact, full)) {
      assert(line.contains(""""failed":["boom"]"""), line)
      assert(!line.contains(""""boom":"""), s"boom was timed:\n$line")
      val value = """"value":([0-9.Ee-]+)""".r.findFirstMatchIn(line).get.group(1).toDouble
      val ok = """"queries":\{"ok":([0-9.Ee-]+)""".r.findFirstMatchIn(line).get.group(1).toDouble
      assert(math.abs(value - ok) < 1e-3, s"total $value is not the ok query's $ok")
    }
    assert(compact.contains(""""n":1,"""), compact)
  }

  test("warm_compiles counts classes compiled by timed runs, per query") {
    // `fresh` inlines a new literal into its generated code on every run,
    // so each of its 3 timed runs compiles; `ok` compiles only in its
    // warm-up.
    val n = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    val (compact, full) = Bench.run(spark, "unused", Seq("ok", "fresh"), Nil) {
      case "ok" => spark.range(1000).toDF("id")
      case _ => spark.range(1000).select((col("id") * lit(n.incrementAndGet())).as("x"))
    }
    def total(line: String) =
      """"warm_compiles":([0-9]+)""".r.findFirstMatchIn(line).get.group(1).toLong
    assert(total(compact) >= 3, compact)
    assert(total(full) == total(compact), full)
    val byQuery = """"warm_compiles_by_query":\{([^}]*)\}""".r.findFirstMatchIn(full).get.group(1)
    assert(byQuery == s""""fresh":${total(full)}""", full)
  }

  test("warm_files_discovered counts files listed by timed runs, per query") {
    // `reread` resolves a parquet path outside Tables on every run, so each
    // of its 3 timed runs lists the file again; `tables` reads through
    // Tables, which resolved the table in its warm-up.
    val root = java.nio.file.Files.createTempDirectory("bench_files").toString
    spark.range(10).toDF("r_regionkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/region.parquet")
    val (compact, full) = Bench.run(spark, "unused", Seq("tables", "reread"), Nil) {
      case "tables" => Tables.load(spark, root, "region")
      case _ => spark.read.parquet(s"$root/region.parquet")
    }
    def total(line: String) =
      """"warm_files_discovered":([0-9]+)""".r.findFirstMatchIn(line).get.group(1).toLong
    assert(total(compact) >= 3, compact)
    assert(total(full) == total(compact), full)
    val byQuery = """"warm_files_discovered_by_query":\{([^}]*)\}""".r
      .findFirstMatchIn(full).get.group(1)
    assert(byQuery == s""""reread":${total(full)}""", full)
  }
}
