package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class KMeansOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vecs(rows: (Int, Array[Float])*) =
    rows.toSeq.toDF("id", "vec")

  test("two clear clusters separate and centroids move to the means") {
    // ids 0,1 seed the two init centroids; points cluster at ~(0,0,0,0)
    // and ~(10,10,10,10).
    val df = vecs(
      (0, Array(0f, 0f, 0f, 0f)), (1, Array(10f, 10f, 10f, 10f)),
      (2, Array(0.5f, 0f, 0f, 0f)), (3, Array(9.5f, 10f, 10f, 10f)),
      (4, Array(0f, 0.5f, 0f, 0f)), (5, Array(10f, 9.5f, 10f, 10f)))
    val out = KMeansOps.fitAssign(df, "id", "vec", k = 2, iters = 2, dim = 4)
      .select("id", "cell").as[(Int, Long)].collect().toMap
    assert(Seq(0, 2, 4).forall(out(_) == 0L))
    assert(Seq(1, 3, 5).forall(out(_) == 1L))
    val cents = KMeansOps.fit(df, "id", "vec", k = 2, iters = 2, dim = 4).toMap
    assert(math.abs(cents(0L)(0) - (0.0 + 0.5 + 0.0) / 3) < 1e-9)
    assert(math.abs(cents(1L)(1) - (10.0 + 10.0 + 9.5) / 3) < 1e-9)
  }

  test("null and short vectors get a null cell, never an NPE") {
    val df = Seq(
      (0, Some(Seq(0f, 0f, 0f, 0f))), (1, Some(Seq(9f, 9f, 9f, 9f))),
      (2, None), (3, Some(Seq(1f, 2f)))).toDF("id", "vec")
    val out = KMeansOps.fitAssign(df, "id", "vec", k = 2, iters = 1, dim = 4)
      .select("id", "cell").collect().map(r => r.getInt(0) -> r.get(1)).toMap
    assert(out(0) == 0L && out(1) == 1L)
    assert(out(2) == null && out(3) == null)
  }

  test("a cell that attracts no vectors is dropped (Lloyd degeneracy)") {
    // init = ids 0,1,2; id 1 duplicates id 0, so the distance tie breaks
    // toward cell 0 and cell 1 ends the first update empty.
    val df = vecs(
      (0, Array(0f, 0f, 0f, 0f)), (1, Array(0f, 0f, 0f, 0f)),
      (2, Array(10f, 10f, 10f, 10f)), (3, Array(0.1f, 0f, 0f, 0f)))
    val cents = KMeansOps.fit(df, "id", "vec", k = 3, iters = 1, dim = 4)
    assert(cents.map(_._1) == Seq(0L, 2L))
  }
}
