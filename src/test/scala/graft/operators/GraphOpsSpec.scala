package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Connected components (large-star/small-star): correctness on chains,
  * forests, and messy inputs, plus the properties the clustering contract
  * depends on — component id = min member, partitioning invariance. */
class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]) =
    GraphOps.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("chains collapse to their minimum (the case label propagation is slow on)") {
    // one 200-node path + one 3-node path; star rounds must label every
    // path node with the path min well inside the iteration cap
    val path = (0L until 199L).map(i => (i, i + 1))
    val other = Seq((1000L, 1001L), (1001L, 1002L))
    val got = cc(path ++ other)
    assert(got.size == 203)
    (0L to 199L).foreach(n => assert(got(n) == 0L, s"node $n"))
    (1000L to 1002L).foreach(n => assert(got(n) == 1000L))
  }

  test("shared-child shapes converge to one row per node (fixpoint test is exact)") {
    // {(a,c),(b,c)} is the multi-parent trap: no node is both child and
    // center, but it is NOT a fixpoint — a convergence test that misses
    // it emits duplicate rows for c. Also a caterpillar whose rounds
    // pass through multi-parent intermediates.
    val rows = GraphOps.connectedComponents(
      Seq((0L, 2L), (1L, 2L)).toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect()
    assert(rows.length == 3, s"duplicate node rows: ${rows.toSeq}")
    assert(rows.toMap == Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
    val cat = (0L until 50L).map(i => (i, i + 1)) ++
      (0L until 50L).map(i => (i, i + 100L))
    val got = GraphOps.connectedComponents(cat.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect()
    assert(got.length == got.map(_._1).distinct.length, "duplicate node rows")
    assert(got.forall(_._2 == 0L))
  }

  test("duplicate, reversed, and self-loop edges are tolerated") {
    val got = cc(Seq((5L, 3L), (3L, 5L), (5L, 5L), (3L, 5L), (9L, 9L)))
    // 9 only ever appears in a self-loop: isolated, its own component
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 9L))
  }

  test("star graphs and disjoint pairs keep distinct components") {
    val star = (1L to 30L).map(i => (100L, 100L + i)) // hub = min
    val pairs = Seq((500L, 501L), (600L, 601L))
    val got = cc(star ++ pairs)
    star.foreach { case (_, v) => assert(got(v) == 100L) }
    assert(got(100L) == 100L && got(501L) == 500L && got(601L) == 600L)
  }

  test("result is invariant under input partitioning and edge order") {
    val edges = ((0L until 50L).map(i => (i * 7 % 97, i * 13 % 97)) ++
      Seq((200L, 201L))).toDF("a", "b")
    val base = GraphOps.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toSet
    val shuffled = GraphOps.connectedComponents(
        edges.repartition(11, col("b")).orderBy(desc("a")), "a", "b")
      .as[(Long, Long)].collect().toSet
    assert(base == shuffled)
  }

  test("registered clustering query: survivors are cluster minima and cover every pair member") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.DedupQueries.queries("dedup_cc_clusters")(spark, dir)
      .as[(Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, ms) =>
      assert(ms.map(_._1).min == cid, s"cluster $cid id is not its min member")
      assert(ms.count(_._3) == 1 && ms.find(_._3).get._1 == cid,
        s"cluster $cid survivor is not exactly the min")
    }
    // planted near-dups (doc_id + 100000) cluster with their source doc
    val planted = rows.filter(_._1 >= 100000L)
    assert(planted.nonEmpty)
    planted.foreach { case (id, cid, _) =>
      assert(cid <= id - 100000L, s"planted $id not linked to its source")
    }
  }

  // -------------------------------------------------- label propagation

  test("label propagation: disjoint triangles collapse to their min label " +
      "in 2 rounds; repeated runs agree") {
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    def run() = GraphOps.labelPropagation(tri.toDF("a", "b"), "a", "b", 2)
      .as[(Long, Long)].collect().toMap
    val got = run()
    // hand trace: round 1 gives (0→1, 1→0, 2→0); round 2 settles all → 0
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L), s"got $got")
    assert(run() == got, "LPA must be deterministic across runs")
  }

  test("label propagation: the fused round 1 (min neighbor) equals the " +
      "generic join+argmax round on a randomized graph") {
    // r10: with identity seeds every (dst, label=src) count is 1 over a
    // distinct edge list, so round 1's argmax IS min(src) per dst — the
    // operator fuses it to one aggregate. Replay the generic rule here
    // and compare, so a future edit to the fusion can't drift.
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val df = edges.toDF("a", "b")
    val fused = GraphOps.labelPropagation(df, "a", "b", 1)
      .as[(Long, Long)].collect().toMap
    // generic replay: canonical distinct edges, mirrored, identity seed
    val e = df.selectExpr("least(a, b) AS a", "greatest(a, b) AS b").distinct()
    val sym = e.union(e.selectExpr("b", "a")).toDF("src", "dst")
    val seed = sym.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("label"))
    val generic = sym
      .join(seed.select(col("v").as("src"), col("label")), Seq("src"))
      .groupBy(col("dst").as("v"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy("v")
      .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
      .select(col("v"), (-col("m.nl")).as("label"))
      .as[(Long, Long)].collect().toMap
    assert(fused == generic, s"fused $fused\ngeneric $generic")
  }

  test("label propagation: rounds <= 0 is the identity-label seed, " +
      "never a fused round") {
    // r11 (advice): the fused round-1 guard was `rounds == 0`, so a
    // negative rounds silently executed one fused round instead of the
    // historical identity no-op (`1 to rounds` is empty for rounds < 1).
    val df = Seq((0L, 1L), (1L, 2L)).toDF("a", "b")
    for (r <- Seq(0, -1, -5)) {
      val got = GraphOps.labelPropagation(df, "a", "b", r)
        .as[(Long, Long)].collect().toMap
      assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L),
        s"rounds=$r must keep identity labels, got $got")
    }
  }

  test("label propagation: the star oscillation is the defined 2-round report") {
    // Synchronized LPA on a star trades labels hub↔leaves each round —
    // the classic bipartite oscillation. The operator's contract is a
    // FIXED round count (a defined front report, not convergence);
    // round 2 lands hub=5 (its leaves all said 5) and leaves=6 (the
    // hub said 6 in round 1). Pinning it documents the semantics.
    val star = Seq((5L, 6L), (5L, 7L), (5L, 8L))
    val got = GraphOps.labelPropagation(star.toDF("a", "b"), "a", "b", 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(5L -> 5L, 6L -> 6L, 7L -> 6L, 8L -> 6L), s"got $got")
  }

  test("g8_modularity: hand-traced Q on a triangle plus an isolated edge " +
      "(including the negative sparser-than-chance contributions)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_g8").toString
    // order 100 buys parts {1,2,3} -> triangle; order 200 buys {4,5}
    Seq((100L, 1L), (100L, 2L), (100L, 3L), (200L, 4L), (200L, 5L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = graft.SparkEntry.queries("g8_modularity")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // 2-round LP: triangle collapses to label 1; the 4-5 pair OSCILLATES
    // into two singleton communities (documented LP artifact the score
    // correctly penalizes). m=4, 4m^2=64:
    //   c1: 4*4*3 - 6^2 = 12 -> 187500 ppm
    //   c4, c5: 0 - 1 = -1 -> -15625 ppm (truncation toward zero)
    //   Q = 10/64 -> 156250 ppm
    assert(got == Map(
      1L -> ((3L, 3L, 6L, 187500L, 156250L)),
      4L -> ((1L, 0L, 1L, -15625L, 156250L)),
      5L -> ((1L, 0L, 1L, -15625L, 156250L))), got)
  }

  test("ann_trunc_recall: lossless truncation (energy only in the first " +
      "8 dims) recalls 100% at every truncation depth") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_trunc").toString
    val rows = (0L until 30L).map { i =>
      val v = Array.tabulate(64)(j =>
        if (j < 8) ((i * 37 + j * 11) % 97 + 1).toFloat else 0.0f)
      (i, v, (i % 3).toInt)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.SparkEntry.queries("ann_trunc_recall")(spark, dir)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(got.keySet == Set(8, 16, 32))
    got.foreach { case (d, (nBrute, bp)) =>
      assert(nBrute == 100L, s"dim $d truth size $nBrute") // 20 queries x 5
      assert(bp == 10000L, s"dim $d recall $bp — truncation was lossless")
    }
  }

  test("assumeCanonical connected components equals the canon path on " +
      "already-canonical (distinct a < b) edges") {
    // The r15 optimization contract: every pairsWithinBuckets-derived
    // pair list is distinct with id_a < id_b, so cc may skip its
    // re-canonicalization shuffle. Pin value identity on a randomized
    // canonical edge set (chains + shared-child traps included).
    val rnd = new scala.util.Random(7)
    val canonical = (Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) } ++
      (100L until 140L).map(i => (i, i + 1))).distinct
    val df = canonical.toDF("a", "b")
    val base = GraphOps.connectedComponents(df, "a", "b")
      .as[(Long, Long)].collect().toSet
    val fast = GraphOps.connectedComponents(df, "a", "b",
        assumeCanonical = true)
      .as[(Long, Long)].collect().toSet
    assert(fast == base)
  }

  test("assumeCanonical connected components: a NON-canonical input is " +
      "out of contract — documented garbage-in (r15 VERDICT item 5)") {
    // A self-loop-only node is the cheapest stable contract violation:
    // the canon path tolerates it (node 9 gets its own component row);
    // the assumeCanonical path reads components straight off the
    // fixpoint star forest, which a self-loop never enters, so the node
    // SILENTLY DISAPPEARS from the output. This pin documents that the
    // flag is an assertion, not a tolerance — callers feeding anything
    // but pairsWithinBuckets-shaped edges must use the default path
    // (the producer side is pinned in OperatorsSpec).
    val messy = Seq((3L, 5L), (9L, 9L)).toDF("a", "b")
    val canonPath = GraphOps.connectedComponents(messy, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(canonPath == Map(3L -> 3L, 5L -> 3L, 9L -> 9L))
    val outOfContract = GraphOps.connectedComponents(messy, "a", "b",
        assumeCanonical = true)
      .as[(Long, Long)].collect().toMap
    assert(!outOfContract.contains(9L),
      "if the flag path starts tolerating self-loops, fold it back into canon")
    assert(outOfContract == Map(3L -> 3L, 5L -> 3L))
  }

  test("assumeCanonical label propagation equals the canon path on " +
      "already-canonical edges, both round counts") {
    val rnd = new scala.util.Random(11)
    val canonical = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
      .distinct
    val df = canonical.toDF("a", "b")
    for (rounds <- Seq(1, 2)) {
      val base = GraphOps.labelPropagation(df, "a", "b", rounds)
        .as[(Long, Long)].collect().toMap
      val fast = GraphOps.labelPropagation(df, "a", "b", rounds,
          assumeCanonical = true)
        .as[(Long, Long)].collect().toMap
      assert(fast == base, s"rounds=$rounds")
    }
  }

  test("assumeCanonical refuses a non-integral id column, without running a job") {
    val df = Seq((1.0, 2.0), (2.0, 3.0)).toDF("a", "b")
    val jobs = graft.obs.Tally.of(spark) {
      val cc = intercept[IllegalArgumentException](
        GraphOps.connectedComponents(df, "a", "b", assumeCanonical = true))
      assert(cc.getMessage.contains("a is double"), cc.getMessage)
      val lp = intercept[IllegalArgumentException](
        GraphOps.labelPropagation(df, "a", "b", rounds = 1, assumeCanonical = true))
      assert(lp.getMessage.contains("a is double"), lp.getMessage)
    }._2.jobs
    assert(jobs.isEmpty, jobs)
    // the default path still canonicalises (casts) the same input
    assert(GraphOps.connectedComponents(df, "a", "b").count() == 3)
  }
}
