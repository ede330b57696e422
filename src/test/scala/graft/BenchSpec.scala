package graft

import org.apache.spark.sql.functions.{lit, raise_error}
import org.scalatest.funsuite.AnyFunSuite

/** A query that throws is not a timing: Bench leaves it out of every
  * timed field and names it under `failed`, on both emitted lines. */
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
}
