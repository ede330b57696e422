package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** k-center greedy invariants (Gonzalez): the radius sequence is
  * non-increasing, centers are distinct, and each recorded radius IS the
  * picked point's min squared distance to the prior set. */
class DiversityOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sqd(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var j = 0
    while (j < a.length) { val d = a(j) - b(j); acc += d * d; j += 1 }
    acc
  }

  test("kCenterGreedy: seed is lowest id; radii non-increasing; radius = " +
      "min-dist to prior set; greedy picks dominate every later candidate") {
    val dim = 4
    val rnd = new scala.util.Random(7)
    val vecs = (1L to 40L).map(id =>
      (id, Array.fill(dim)((rnd.nextInt(2000) - 1000) / 16.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = DiversityOps.kCenterGreedy(df, "vec_id", "embedding", 5, dim)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 6)
    assert(out.head == ((0, 1L, 0.0)), s"seed must be the lowest id: ${out.head}")
    assert(out.map(_._2).distinct.length == 6, "centers repeat")
    val radii = out.tail.map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b },
      s"radii increase: ${radii.mkString(",")}")
    // replay: each pick's radius is its min distance to the prior set,
    // and no un-chosen point was farther at that step
    val byId = vecs.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    for (t <- 1 until out.length) {
      val prior = out.take(t).map(o => byId(o._2))
      val (_, cid, r) = out(t)
      assert(math.abs(prior.map(c => sqd(byId(cid), c)).min - r) == 0.0,
        s"step $t radius is not the min-dist to the prior set")
      val chosenIds = out.take(t).map(_._2).toSet
      for ((id, v) <- vecs if !chosenIds.contains(id)) {
        val d = prior.map(c => sqd(v.map(_.toDouble), c)).min
        assert(d < r || (d == r && id >= cid),
          s"step $t: candidate $id (d=$d) beats pick $cid (r=$r)")
      }
    }
  }
}
