package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins RankOps: the distributed global row number equals the textbook
  * ROW_NUMBER over the same total order regardless of input
  * partitioning, runs are deterministic, and round-robin shards are
  * count-balanced to within one row. */
class RankOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ranked(n: Int, parts: Int): Seq[(Long, Long)] = {
    import spark.implicits._
    val rnd = new scala.util.Random(n * 31 + parts)
    val rows = rnd.shuffle((1L to n.toLong).map(i => (i, rnd.nextInt(50).toLong)))
    RankOps.globalRowNumber(
        rows.toDF("id", "size").repartition(parts),
        Seq(col("size").desc, col("id").asc))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
  }

  test("equals ROW_NUMBER over the total order, across partition counts") {
    for (parts <- Seq(1, 3, 16)) {
      val got = ranked(500, parts)
      val byRank = got.sortBy(_._2).map(_._1)
      assert(got.map(_._2).sorted == (1L to 500L), s"parts=$parts: not a permutation")
      // reconstruct the expected order from the data itself
      val rnd = new scala.util.Random(500 * 31 + parts)
      val rows = rnd.shuffle((1L to 500L).map(i => (i, rnd.nextInt(50).toLong)))
      val expected = rows.sortBy { case (id, size) => (-size, id) }.map(_._1)
      assert(byRank == expected, s"parts=$parts: order drift")
    }
  }

  test("deterministic across repeated runs") {
    assert(ranked(300, 7).sortBy(_._1) == ranked(300, 7).sortBy(_._1))
  }

  test("round-robin shards: counts within one row, assignment = (rank-1) % k") {
    import spark.implicits._
    val rows = (1L to 101L).map(i => (i, (i * 7 % 40)))
    val df = RankOps.roundRobinShards(rows.toDF("id", "size").repartition(5),
      Seq(col("size").desc, col("id").asc), 8)
    val got = df.collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    val counts = got.values.groupBy(identity).view.mapValues(_.size).values.toSeq
    assert(counts.max - counts.min <= 1)
    val expected = rows.sortBy { case (id, size) => (-size, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> i % 8 }.toMap
    assert(got == expected)
  }
}
