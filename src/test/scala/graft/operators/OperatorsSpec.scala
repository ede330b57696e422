package graft.operators

import org.apache.spark.sql.execution.{LocalTableScanExec, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{PlanWalk, TestSpark}

/** Spark-backed specs for the operator library: merge semantics, corpus
  * WER, dedup, similarity, regrouping — the SURVEY §5.2 risk list. */
class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ------------------------------------------------------------ WerAgg
  test("WerAgg.levenshtein: word-level edit distance") {
    def lev(a: String, b: String) =
      WerAgg.levenshtein(a.split(" ").filter(_.nonEmpty), b.split(" ").filter(_.nonEmpty))
    assert(lev("a b c", "a b c") == 0)
    assert(lev("a b c", "a x c") == 1)
    assert(lev("a b c", "b c") == 1)
    assert(lev("", "a b") == 2)
    assert(lev("a b", "") == 2)
  }

  test("WerAgg: corpus WER is sum-of-edits over sum-of-ref-words, NOT mean of per-row WERs") {
    // row 1: 1 edit / 1 word (WER 100%); row 2: 0 edits / 9 words (WER 0%)
    // mean-of-WERs would be 50; corpus WER = 1/10 = 10.
    val df = Seq(
      ("g", "x", "y"),
      ("g", "a b c d e f g h i", "a b c d e f g h i")).toDF("g", "ref", "hyp")
    val out = df.groupBy("g").agg(WerAgg.asUdaf($"ref", $"hyp").as("wer"))
      .collect()(0).getDouble(1)
    assert(out == 10.0)
  }

  test("WerAgg: empty reference contributes hyp length as edits") {
    val df = Seq(("g", "", "a b")).toDF("g", "ref", "hyp")
    val out = df.groupBy("g").agg(WerAgg.asUdaf($"ref", $"hyp").as("wer"))
      .collect()(0).getDouble(1)
    assert(out == 0.0) // zero ref words -> defined as 0, no div-by-zero
  }

  // ---------------------------------------------------------- MergeOps
  test("MergeOps.upsert: explicit null in update OVERWRITES base (dict-merge semantics)") {
    val base = Seq(("a", Option(1.0), "x"), ("b", Option(2.0), "y")).toDF("k", "v", "o")
    val upd = Seq(("a", None: Option[Double]), ("c", Option(9.0))).toDF("k", "v")
    val out = MergeOps.upsert(base, upd, Seq("k"), Seq("v"))
      .orderBy("k").collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2))))
    assert(out.toSeq == Seq(
      ("a", None, Some("x")),      // matched: null update wins, other col kept
      ("b", Some(2.0), Some("y")), // unmatched base row untouched
      ("c", Some(9.0), None)))     // inserted; non-update col null
  }

  test("MergeOps.upsert: null merge key matches null-safely in BOTH modes — no duplicate row") {
    // Both passes match null-safely: the update join updates the null-key
    // base row, and the insert set's semi-join sees that match, so the
    // row is not re-inserted as well.
    val base = Seq((Option("a"), Option(1.0)), (None: Option[String], Option(2.0)))
      .toDF("k", "v")
    val upd = Seq((None: Option[String], Option(9.0))).toDF("k", "v")
    val out = MergeOps.upsert(base, upd, Seq("k"), Seq("v"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq.sortBy(_.toString)
    assert(out == Seq((None, Some(9.0)), (Some("a"), Some(1.0))))
  }

  test("MergeOps.upsert: a key shared by two base rows updates both and inserts nothing") {
    val base = Seq(("a", 1.0, "x"), ("a", 2.0, "y"), ("b", 3.0, "z")).toDF("k", "v", "o")
    val upd = Seq(("a", 9.0)).toDF("k", "v")
    val out = MergeOps.upsert(base, upd, Seq("k"), Seq("v"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSeq.sorted
    assert(out == Seq(("a", 9.0, "x"), ("a", 9.0, "y"), ("b", 3.0, "z")))
  }

  test("MergeOps.upsert: a two-column key with a null part matches null-safely") {
    val base = Seq((Option("a"), None: Option[Int], 1.0), (Option("a"), Option(1), 2.0))
      .toDF("k1", "k2", "v")
    val upd = Seq((Option("a"), None: Option[Int], 9.0), (None: Option[String], Option(1), 7.0))
      .toDF("k1", "k2", "v")
    val out = MergeOps.upsert(base, upd, Seq("k1", "k2"), Seq("v"))
      .collect().map(r => (Option(r.getString(0)), Option(r.get(1)), r.getDouble(2)))
      .toSeq.sortBy(_.toString)
    assert(out == Seq(
      (None, Some(1), 7.0),       // (null, 1) matches nothing: inserted once
      (Some("a"), None, 9.0),     // (a, null) matched null-safely: updated, not re-inserted
      (Some("a"), Some(1), 2.0))) // untouched
  }

  test("MergeOps.upsert plan: no shuffle, and updates is broadcast once") {
    // base is a range (RangeExec), updates a local table (LocalTableScanExec).
    // The keys are unique, but not provably so (`% 100`): a distinct over
    // them would still plan its shuffle.
    val base = spark.range(50)
      .select((col("id") % 100).as("k"), (col("id") * 2).as("v"), lit("o").as("o"))
    val upd = Seq((1L, 5L), (7L, 9L), (500L, 1L)).toDF("k", "v")
    val out = MergeOps.upsert(base, upd, Seq("k"), Seq("v"))
    assert(out.collect().length == 51) // the adaptive plan below is the executed one
    val nodes = PlanWalk.nodes(out.queryExecution.executedPlan)
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, shuffles.mkString("\n"))
    def reads(p: SparkPlan, leaf: Class[_]) = PlanWalk.nodes(p).exists(leaf.isInstance)
    val updateBroadcasts = nodes.collect {
      case b: BroadcastExchangeExec
          if reads(b.child, classOf[LocalTableScanExec]) && !reads(b.child, classOf[RangeExec]) =>
        b.canonicalized
    }.distinct
    assert(updateBroadcasts.size == 1, updateBroadcasts.mkString("\n"))
  }

  test("MergeOps.upsert refuses a schema outside its contract, without running a job") {
    val base = Seq((1L, 10L)).toDF("id", "a")
    val upd = Seq((1L, 11L, 12L)).toDF("id", "a", "b")
    def refused(why: String)(call: => Any): Unit =
      assert(intercept[IllegalArgumentException](call).getMessage.endsWith(why))
    val t = graft.obs.Tally.of(spark) {
      refused("at least one key")(MergeOps.upsert(base, upd, Nil, Seq("a")))
      refused("carry every key")(MergeOps.upsert(base, upd.drop("id"), Seq("id"), Seq("a")))
      refused("carry every key")(MergeOps.upsert(base.drop("id"), upd, Seq("id"), Seq("a")))
      refused("a base column")(MergeOps.upsert(base, upd, Seq("id"), Seq("a", "b")))
    }._2
    assert(t.jobs.isEmpty, t.jobs)
  }

  // ---------------------------------------------------------- EncodeOps
  test("EncodeOps.dictEncode: dense labels in value order, join preserves rows") {
    val df = Seq(("r1", "b"), ("r2", "a"), ("r3", "b")).toDF("id", "seg")
    val out = EncodeOps.dictEncode(df, "seg", "lbl")
      .orderBy("id").collect().map(r => (r.getAs[String]("id"), r.getAs[Long]("lbl")))
    assert(out.toSeq == Seq(("r1", 2L), ("r2", 1L), ("r3", 2L)))
  }

  // ---------------------------------------------------------- DedupOps
  test("DedupOps.exactDedup: keeps lowest-order row per canonical form") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "different")).toDF("id", "t")
    // ws-collapse + lowercase canonicalization makes 1 and 2 duplicates
    val kept = DedupOps.exactDedup(df, "t", "id").select("id")
      .as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("DedupOps.minHashLshPairs: planted near-dup is found, distinct pairs") {
    val docs = (0L until 20L).map(i => (i, s"document number $i with some shared text corpus " * 3))
    val planted = Seq((100L, docs(5)._2 + " tail"))
    val df = (docs ++ planted).toDF("id", "t")
    val pairs = DedupOps.minHashLshPairs(df, "id", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((5L, 100L)))
    assert(pairs.distinct.length == pairs.length)
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("DedupOps.pairsWithinBuckets output is canonical: distinct, non-null, " +
      "strictly id_a < id_b (the assumeCanonical PRODUCER contract)") {
    // r15's connectedComponents/labelPropagation(assumeCanonical = true)
    // skip re-canonicalization because every LSH-style pair generator
    // ends here; this pin is the PRODUCER side of that cross-module
    // assertion (r15 VERDICT item 5) — an edit that lets a duplicate,
    // reversed, self, or null-endpoint pair escape must fail HERE, not
    // as silently wrong components downstream. Randomized buckets with
    // repeats (same id seen in a bucket several times), singleton and
    // empty-overlap buckets, and null ids (collect_set drops them).
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(600)(
      (rnd.nextInt(7), s"s${rnd.nextInt(5)}", rnd.nextInt(40).toLong))
    val df = rows.toDF("band", "sig", "doc_id")
      .withColumn("doc_id",
        when(col("doc_id") === 0L, lit(null)).otherwise(col("doc_id")))
    val pairs = DedupOps.pairsWithinBuckets(df, "doc_id", Seq("band", "sig"))
      .collect().map(r => (r.get(0), r.get(1)))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => a != null && b != null },
      "null endpoint escaped")
    val longs = pairs.map { case (a, b) =>
      (a.asInstanceOf[Long], b.asInstanceOf[Long]) }
    longs.foreach { case (a, b) => assert(a < b, s"pair ($a, $b) not strict") }
    assert(longs.distinct.length == longs.length, "duplicate pair escaped")
  }

  test("SimilarityOps.*TopKOnSignatures over a shared candidate signature " +
      "table equal the single-lane forms (the ann_recall r16 fold)") {
    // The OnSignatures variants exist so multi-lane audits materialize
    // lshCandidateSignatures once; composing them with the projection
    // must be value-identical to the original 2-sided entry points.
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 80L).map { i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)) }
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 10)
    val sigs = SimilarityOps.lshCandidateSignatures(df, "vec_id", "embedding", 8, 64)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(rows(SimilarityOps.bucketedTopKOnSignatures(q, sigs, "vec_id", "embedding", 5, 8, 64))
      == rows(SimilarityOps.bucketedTopK(q, df, "vec_id", "embedding", 5, 8, 64)))
    assert(rows(SimilarityOps.multiProbeTopKOnSignatures(q, sigs, "vec_id", "embedding", 5, 8, 64))
      == rows(SimilarityOps.multiProbeTopK(q, df, "vec_id", "embedding", 5, 8, 64)))
  }

  test("DedupOps.minHashBlockCol: equals the signature-form block; null text drops") {
    // The row-local column form replaced dedup_ngram_jaccard/curve's
    // signature-table join-back (r10) — pin value identity against the
    // form the DuckDB oracles replay, and the null-lane contract (a
    // null block never equi-joins, matching the old inner join's drop).
    val df = Seq((1L, "alpha beta gamma delta words"),
      (2L, "alpha beta gamma delta words"), (3L, "other content entirely"),
      (4L, null.asInstanceOf[String])).toDF("id", "t")
    val colForm = df.select(col("id"),
        DedupOps.minHashBlockCol("t", 3, 2).as("b"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val sigForm = DedupOps.minHashSignatures(df, "id", "t", 3, 2)
      .select(col("id"), md5(concat_ws(",", col("mh0"), col("mh1"))).as("b"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, b) <- sigForm) assert(colForm(id).contains(b), s"id $id")
    assert(colForm(1L) == colForm(2L)) // identical text, identical block
    assert(colForm(1L) != colForm(3L))
    assert(colForm(4L).isEmpty, "null text must yield a null block")
    assert(!sigForm.contains(4L)) // the signature form drops the row
  }

  test("DedupOps.simHashes: identical docs share hash; zero-token doc gets all bits set") {
    val df = Seq((1L, "same words here"), (2L, "same words here"), (3L, "12345 !!!"))
      .toDF("id", "t")
    val sims = DedupOps.simHashes(df, "id", "t", 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sims(1L) == sims(2L))
    assert(sims(3L) == 0xffffL) // zero votes on every bit -> all >= 0
    // column-form convenience agrees with the exploded hot path
    val colSims = df.select(col("id"), DedupOps.simHash("t", 16).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(colSims == sims)
  }

  test("DedupOps.ngramJaccardPairs: exact blocks, threshold respected") {
    val df = Seq(
      (1L, "en", "alpha beta gamma delta"),
      (2L, "en", "alpha beta gamma epsilon"),
      (3L, "en", "totally unrelated words here"),
      (4L, "de", "alpha beta gamma delta")).toDF("id", "lang", "t")
    val pairs = DedupOps.ngramJaccardPairs(df, "id", "t", "lang", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L))) // 3/5 = 0.6; cross-lang blocked
  }

  // ------------------------------------------------------ SimilarityOps
  test("SimilarityOps.bruteTopK: identical vector ranks first") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f, 0f)),   // identical to query 0
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val top = SimilarityOps.bruteTopK(vecs.filter($"vec_id" === 0), vecs,
        "vec_id", "embedding", 2, dim = 4)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(top.toSeq == Seq((1L, 1), (2L, 2)))
  }

  test("SimilarityOps.lshBucket: deterministic int bucket within plane-bit range") {
    val vecs = Seq((0L, Array.fill(64)(0.5f)), (1L, Array.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    val buckets = vecs.select(SimilarityOps.lshBucket("embedding").as("b"))
      .as[Int].collect()
    assert(buckets(0) >= 0 && buckets(0) < (1 << 8))
    assert(buckets(0) == buckets(1))
    // bit (7-i) of the bucket is exactly the sign of the plane-i dot product
    val v = Array.fill(64)(0.5)
    val expected = (0 until 8).map { i =>
      val dot = (0 until 64).map(j => v(j) * SimilarityOps.planeSign(i, j)).sum
      if (dot >= 0) 1 << (7 - i) else 0
    }.sum
    assert(buckets(0) == expected)
  }

  test("SimilarityOps.bucketedTopK equals the within-bucket brute reference") {
    // The operator's exact contract: per query, rank ONLY same-bucket
    // candidates by (cosine desc, c_id). Driver-side replay with the
    // same plane signs and the same left-assoc double arithmetic must
    // reproduce the (q_id, c_id, rank) set exactly — this also pins
    // that the r10 broadcast(q) join change altered no semantics.
    val rnd = new scala.util.Random(23)
    val data = (0L until 150L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val vecs = data.toDF("vec_id", "embedding")
    val got = SimilarityOps.bucketedTopK(vecs.filter($"vec_id" < 8), vecs,
        "vec_id", "embedding", 5, nPlanes = 8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def bucket(a: Array[Float]): Int = (0 until 8).map { i =>
      var acc = 0.0
      for (j <- 0 until 64) acc += a(j).toDouble * SimilarityOps.planeSign(i, j)
      if (acc >= 0) 1 << (7 - i) else 0
    }.sum
    def norm(a: Array[Float]): Double = {
      var acc = 0.0
      for (j <- 0 until 64) { val d = a(j).toDouble; acc += d * d }
      math.sqrt(acc)
    }
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      for (j <- 0 until 64) acc += a(j).toDouble * b(j).toDouble
      acc
    }
    val bk = data.map { case (i, a) => i -> bucket(a) }.toMap
    val want = (for {
      (qi, qa) <- data if qi < 8
      ranked = data
        .filter { case (ci, _) => ci != qi && bk(ci) == bk(qi) }
        .map { case (ci, ca) => (ci, dot(qa, ca) / (norm(qa) * norm(ca))) }
        .sortBy { case (ci, cos) => (-cos, ci) }
        .take(5)
      ((ci, _), r) <- ranked.zipWithIndex
    } yield (qi, ci, r + 1)).toSet
    assert(got == want)
  }

  test("SimilarityOps.multiTableTopK equals the any-table-collision brute reference") {
    // Contract: a candidate is eligible iff it shares ANY of the 8
    // table buckets with the query; eligible candidates are scored
    // ONCE (dedup before scoring) and ranked (cosine desc, c_id).
    val rnd = new scala.util.Random(29)
    val data = (0L until 120L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val vecs = data.toDF("vec_id", "embedding")
    val got = SimilarityOps.multiTableTopK(vecs.filter($"vec_id" < 6), vecs,
        "vec_id", "embedding", 4, nTables = 8, nPlanes = 6, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // same seeded signs as lshTableBuckets ("t_i_j" MD5 parity)
    val signs = Array.tabulate(8, 6, 64) { (t, i, j) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"${t}_${i}_$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      ((hex.charAt(0).toInt % 2) * 2 - 1).toDouble
    }
    def buckets(a: Array[Float]): Seq[Int] = (0 until 8).map { t =>
      (0 until 6).foldLeft(0) { (b, i) =>
        var acc = 0.0
        for (j <- 0 until 64) acc += a(j).toDouble * signs(t)(i)(j)
        (b << 1) | (if (acc >= 0) 1 else 0)
      }
    }
    def norm(a: Array[Float]): Double = {
      var acc = 0.0
      for (j <- 0 until 64) { val d = a(j).toDouble; acc += d * d }
      math.sqrt(acc)
    }
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      for (j <- 0 until 64) acc += a(j).toDouble * b(j).toDouble
      acc
    }
    val bks = data.map { case (i, a) => i -> buckets(a) }.toMap
    val want = (for {
      (qi, qa) <- data if qi < 6
      ranked = data
        .filter { case (ci, _) =>
          ci != qi && bks(ci).zip(bks(qi)).exists { case (x, y) => x == y } }
        .map { case (ci, ca) => (ci, dot(qa, ca) / (norm(qa) * norm(ca))) }
        .sortBy { case (ci, cos) => (-cos, ci) }
        .take(4)
      ((ci, _), r) <- ranked.zipWithIndex
    } yield (qi, ci, r + 1)).toSet
    assert(got == want)
  }

  test("SimilarityOps.multiProbeTopK equals the Hamming-1-probe brute reference") {
    // Contract: a candidate is eligible iff its bucket is the query's
    // home bucket or differs from it in exactly one plane bit; eligible
    // candidates rank by (cosine desc, c_id).
    val rnd = new scala.util.Random(37)
    val data = (0L until 140L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val vecs = data.toDF("vec_id", "embedding")
    val got = SimilarityOps.multiProbeTopK(vecs.filter($"vec_id" < 6), vecs,
        "vec_id", "embedding", 4, nPlanes = 8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def bucket(a: Array[Float]): Int = (0 until 8).map { i =>
      var acc = 0.0
      for (j <- 0 until 64) acc += a(j).toDouble * SimilarityOps.planeSign(i, j)
      if (acc >= 0) 1 << (7 - i) else 0
    }.sum
    def norm(a: Array[Float]): Double = {
      var acc = 0.0
      for (j <- 0 until 64) { val d = a(j).toDouble; acc += d * d }
      math.sqrt(acc)
    }
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      for (j <- 0 until 64) acc += a(j).toDouble * b(j).toDouble
      acc
    }
    val bk = data.map { case (i, a) => i -> bucket(a) }.toMap
    val want = (for {
      (qi, qa) <- data if qi < 6
      ranked = data
        .filter { case (ci, _) =>
          ci != qi && Integer.bitCount(bk(ci) ^ bk(qi)) <= 1 }
        .map { case (ci, ca) => (ci, dot(qa, ca) / (norm(qa) * norm(ca))) }
        .sortBy { case (ci, cos) => (-cos, ci) }
        .take(4)
      ((ci, _), r) <- ranked.zipWithIndex
    } yield (qi, ci, r + 1)).toSet
    assert(got == want)
  }

  test("SimilarityOps.multiProbeTopK: finds at least what single-probe finds") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 200L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val qs = vecs.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(SimilarityOps.bucketedTopK(qs, vecs, "vec_id", "embedding", 5))
    val multi = pairs(SimilarityOps.multiProbeTopK(qs, vecs, "vec_id", "embedding", 5))
    // every single-probe selection comes from the home bucket, which
    // multiprobe also probes — with equal k, multiprobe's per-query result
    // can only draw from an equal-or-larger candidate pool
    assert(multi.size >= single.size)
  }

  test("SimilarityOps.ivfTopK equals the probed-cells brute reference") {
    // Contract: centroids = first nCells vectors by id; candidates sit
    // in their single nearest cell (ties to the lower centroid id),
    // queries probe their nProbe nearest; ranking is (cosine desc,
    // c_id) over candidates in probed cells only.
    val rnd = new scala.util.Random(31)
    val data = (0L until 130L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val vecs = data.toDF("vec_id", "embedding")
    val got = SimilarityOps.ivfTopK(vecs.filter($"vec_id" < 6), vecs,
        "vec_id", "embedding", 4, nCells = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val v = data.map { case (i, a) => i -> a.map(_.toDouble) }.toMap
    val cents = (0L until 8L).map(i => i -> v(i))
    def sqd(a: Array[Double], c: Array[Double]): Double = {
      var acc = 0.0
      for (j <- 0 until 64) { val d = a(j) - c(j); acc += d * d }
      acc
    }
    def cells(a: Array[Double], keep: Int): Seq[Long] =
      cents.sortBy { case (ci, cv) => (sqd(a, cv), ci) }.take(keep).map(_._1)
    def norm(a: Array[Double]): Double = math.sqrt(a.map(x => x * x).sum)
    val cCell = data.map { case (i, _) => i -> cells(v(i), 1).head }.toMap
    val want = (for {
      (qi, _) <- data if qi < 6
      probed = cells(v(qi), 2).toSet
      ranked = data
        .filter { case (ci, _) => ci != qi && probed(cCell(ci)) }
        .map { case (ci, _) =>
          var acc = 0.0
          for (j <- 0 until 64) acc += v(qi)(j) * v(ci)(j)
          (ci, acc / (norm(v(qi)) * norm(v(ci)))) }
        .sortBy { case (ci, cos) => (-cos, ci) }
        .take(4)
      ((ci, _), r) <- ranked.zipWithIndex
    } yield (qi, ci, r + 1)).toSet
    assert(got == want)
  }

  test("PqOps: ADC ranking of the true vector is exact when every codeword is a data vector") {
    // 16 vectors, ks=16: each vector IS a codeword, so encode is lossless
    // (code = own index), ADC inner product = exact inner product, and
    // PQ top-k must equal brute-force cosine top-k on the same metric.
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 16L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val qs = vecs.filter($"vec_id" < 4)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val pq = pairs(PqOps.pqTopK(qs, vecs, "vec_id", "embedding", 5, dim = 64, m = 8, ks = 16))
    val brute = pairs(SimilarityOps.bruteTopK(qs, vecs, "vec_id", "embedding", 5))
    assert(pq == brute, "lossless-codebook PQ must reproduce brute ranking exactly")
  }

  test("PqOps: IVF cell filter composes with PQ scoring; codebook underflow fails fast") {
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 300L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val qs = vecs.filter($"vec_id" < 5)
    // compose: restrict candidates to the queries' IVF cells, then PQ-rank
    val cells = SimilarityOps.ivfTopK(qs, vecs, "vec_id", "embedding", 300,
      nCells = 8, nProbe = 2).select($"c_id".as("vec_id")).distinct()
    val pruned = vecs.join(cells, "vec_id")
    val out = PqOps.pqTopK(qs, pruned, "vec_id", "embedding", 3, dim = 64, m = 8, ks = 16)
    assert(out.groupBy("q_id").count().collect().forall(_.getLong(1) <= 3))
    assert(out.count() > 0)
    val err = intercept[IllegalArgumentException] {
      PqOps.pqTopK(qs, vecs.filter($"vec_id" < 10), "vec_id", "embedding", 3,
        dim = 64, m = 8, ks = 16)
    }
    assert(err.getMessage.contains("well-formed"))
  }

  test("PqOps.ivfPqTopK: lossless residual codebooks reproduce exact cosine " +
      "ranking within each query's probed cells") {
    // 16 vectors, ks=16: every candidate is a codebook seed, so its
    // residual IS a codeword (distance 0) and reconstruction is exact up
    // to float regrouping — the IVFPQ ranking must match a full Scala
    // replay of cells -> probes -> exact cosine within probed cells.
    val rnd = new scala.util.Random(17)
    val data = (0L until 16L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val vecs = data.toDF("vec_id", "embedding")
    val qs = vecs.filter($"vec_id" < 4)
    val got = PqOps.ivfPqTopK(qs, vecs, "vec_id", "embedding", 5,
        nCells = 8, nProbe = 2, dim = 64, m = 8, ks = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val v = data.map { case (i, a) => i -> a.map(_.toDouble) }.toMap
    val cents = (0L until 8L).map(v)
    def sqd(a: Array[Double], c: Array[Double]): Double =
      a.indices.map(j => (a(j) - c(j)) * (a(j) - c(j))).sum
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.map(j => a(j) * b(j)).sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val cellOf = v.map { case (i, a) =>
      i -> cents.indices.minBy(c => (sqd(a, cents(c)), c)) }
    val want = (0L until 4L).flatMap { q =>
      val probed = cents.indices.sortBy(c => (sqd(v(q), cents(c)), c))
        .take(2).toSet
      v.keys.filter(c => c != q && probed(cellOf(c))).toSeq
        .sortBy(c => (-cos(v(q), v(c)), c)).take(5)
        .zipWithIndex.map { case (c, r) => (q, c, r + 1) }
    }.toSet
    assert(got == want, s"got $got\nwant $want")
  }

  test("PqOps.trainCodebooksKMeans: deterministic, and training reduces quantization error") {
    val e = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val init = PqOps.trainCodebooks(e, "vec_id", "embedding", 64, 8, 16)
    val trained = PqOps.trainCodebooksKMeans(e, "vec_id", "embedding", 64, 8, 16, 3)
    val again = PqOps.trainCodebooksKMeans(e, "vec_id", "embedding", 64, 8, 16, 3)
    def flat(b: Array[Array[Array[Double]]]): Seq[Double] =
      b.toSeq.flatMap(_.toSeq.flatMap(_.toSeq))
    assert(flat(trained) == flat(again),
      "decimal-mean updates must make training replayable bit-for-bit")
    // Lloyd's contract: total quantization error (sum over vectors and
    // subspaces of the min sqdist to any codeword) is non-increasing;
    // NOTE recall@5 does NOT reliably improve on these unclustered
    // synthetic embeddings — distortion is the trainer's contract.
    val vecs = e.select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    def distortion(books: Array[Array[Array[Double]]]): Double = {
      val sub = 8
      vecs.map { v =>
        (0 until 8).map { m =>
          books(m).map { cw =>
            (0 until sub).map { j =>
              val d = v(m * sub + j) - cw(j); d * d
            }.sum
          }.min
        }.sum
      }.sum
    }
    val d0 = distortion(init)
    val d1 = distortion(trained)
    assert(d1 < d0, f"training must cut quantization error: init=$d0%.3f trained=$d1%.3f")
  }

  test("SimilarityOps.planeSign matches the md5-parity formula") {
    // ascii(first hex char of md5("0_0")) parity -> ±1; stable across engines
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest("0_0".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = (md5hex.charAt(0).toInt % 2) * 2 - 1
    assert(SimilarityOps.planeSign(0, 0) == expected)
  }

  // -------------------------------------------------------- RegroupOps
  private def regroup(sentWcs: Seq[(String, Int)], threshold: Int) = {
    val rows = sentWcs.zipWithIndex.map { case ((s, wc), i) => (1L, i + 1, s, wc) }
    RegroupOps.regroupSentences(
      rows.toDF("doc", "rn", "sent", "wc"), "doc", "rn", "sent", "wc", threshold)
      .orderBy("grp_idx")
      .collect().map(r => (r.getString(2), r.getLong(3)))
  }

  test("RegroupOps: emits group the moment accumulated wc reaches threshold") {
    val out = regroup(Seq(("a" -> 8), ("b" -> 8), ("c" -> 8), ("d" -> 12)).map(identity), 20)
    // a+b=16 < 20; +c=24 >= 20 -> emit "a b c"; d=12 >= 10 tail kept
    assert(out.toSeq == Seq(("a b c", 24L), ("d", 12L)))
  }

  test("RegroupOps: tail below threshold/2 is DROPPED (the //2 rule)") {
    val out = regroup(Seq(("a" -> 20), ("b" -> 9)), 20)
    assert(out.toSeq == Seq(("a", 20L))) // tail wc 9 < 10 dropped
  }

  test("RegroupOps: tail exactly threshold/2 is kept") {
    val out = regroup(Seq(("a" -> 20), ("b" -> 10)), 20)
    assert(out.toSeq == Seq(("a", 20L), ("b", 10L)))
  }

  test("RegroupOps: odd threshold uses integer division for the tail rule") {
    // threshold 21 -> tail kept iff >= 10 (21/2 = 10)
    val out = regroup(Seq(("a" -> 21), ("b" -> 10)), 21)
    assert(out.toSeq == Seq(("a", 21L), ("b", 10L)))
  }

  test("RegroupOps: out-of-order input is sorted by the order column") {
    val rows = Seq((1L, 2, "second", 15), (1L, 1, "first", 15))
    val out = RegroupOps.regroupSentences(
      rows.toDF("doc", "rn", "sent", "wc"), "doc", "rn", "sent", "wc", 20)
      .collect().map(_.getString(2))
    assert(out.toSeq == Seq("first second"))
  }

  test("RegroupOps: string doc keys group on the value itself and keep their type") {
    // The regroup key is the doc value, not a 32-bit hash surrogate —
    // distinct books can never interleave.
    val rows = Seq(("book-a", 1, "x", 20), ("book-b", 1, "y", 20))
    val out = RegroupOps.regroupSentences(
      rows.toDF("doc", "rn", "sent", "wc"), "doc", "rn", "sent", "wc", 20)
      .orderBy("doc_id").collect().map(r => (r.getString(0), r.getString(2)))
    assert(out.toSeq == Seq(("book-a", "x"), ("book-b", "y")))
  }

  // ----------------------------------------------------------- SkewOps
  test("SkewOps.saltedInnerJoin: row-identical to the plain join under skew") {
    // hot key: 900 of 1000 large rows share key "hot"; a null key on each
    // side must drop exactly as the plain inner join drops it (the salt
    // hash over a null-keyed row is fine — it's the equi-join that culls).
    val large = ((0 until 1000)
      .map(i => (if (i < 900) "hot" else s"k$i", i.toLong)) :+ ((null: String, -1L)))
      .toDF("k", "v")
    val small = Seq(("hot", "H"), ("k950", "A"), ("missing", "X"),
      (null: String, "N")).toDF("k", "tag")
    val salted = SkewOps.saltedInnerJoin(large, small, Seq("k"), saltBuckets = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted
    val plain = large.join(small, Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted
    assert(salted.toSeq == plain.toSeq && plain.length == 901)
  }

  // ----------------------------------------------------- MultimodalOps
  test("MultimodalOps.imageProbe: PNG/BMP/GIF dims from headers, junk is unknown") {
    def be32(v: Int) = Array((v >>> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def le32(v: Int) = be32(v).reverse
    val png = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      be32(13) ++ "IHDR".getBytes ++ be32(320) ++ be32(200) ++ Array[Byte](8, 6, 0, 0, 0)
    val bmp = "BM".getBytes ++ le32(26) ++ le32(0) ++ le32(26) ++
      le32(40) ++ le32(100) ++ le32(50) ++ Array[Byte](1, 0, 24, 0)
    val gif = "GIF89a".getBytes ++ Array[Byte](16, 0, 9, 0, 0)
    val df = spark.createDataFrame(Seq(
      ("p", png), ("b", bmp), ("g", gif), ("x", "junk".getBytes)))
      .toDF("path", "content")
    val out = MultimodalOps.imageProbe(df, "path", "content")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    assert(out("p") == (("png", 320, 200)))
    assert(out("b") == (("bmp", 100, 50)))
    assert(out("g") == (("gif", 16, 9)))
    assert(out("x") == (("unknown", 0, 0)))
  }

  test("MultimodalOps.frameSample: every-Nth fixed-size frames, ragged tail, empty blob") {
    val content = (0 until 40).map(i => ('a' + i % 26).toChar).mkString.getBytes
    val df = spark.createDataFrame(Seq(("v", content), ("empty", Array.empty[Byte])))
      .toDF("path", "content")
    val out = MultimodalOps.frameSample(df, "path", "content", frameBytes = 16, everyN = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), new String(r.getAs[Array[Byte]](2))))
      .sortBy(r => (r._1, r._2))
    // ceil(40/16)=3 frames; keep idx 0 and 2; frame 2 is the 8-byte tail
    assert(out.toSeq == Seq(
      ("v", 0, new String(content.slice(0, 16))),
      ("v", 2, new String(content.slice(32, 40)))))
  }

  test("MultimodalOps.mp3Probe: frame walk, ID3v2 skip, truncation and garbage stop cleanly") {
    // one MPEG1 Layer III frame @ 44100/128k: 144*128000/44100 = 417 bytes
    def frame(): Array[Byte] = {
      val f = new Array[Byte](417)
      f(0) = 0xff.toByte; f(1) = 0xfb.toByte; f(2) = 0x90.toByte; f(3) = 0
      f
    }
    val clean = Array.concat(Seq.fill(10)(frame()): _*)
    val id3 = {
      val t = new Array[Byte](30) // syncsafe size 20
      t(0) = 'I'; t(1) = 'D'; t(2) = '3'; t(3) = 4; t(9) = 20
      Array.concat(t, clean)
    }
    val truncated = clean.take(417 * 3 + 100) // 3 whole frames + partial 4th
    val garbage = "not an mpeg stream at all".getBytes
    val freeBitrate = { val f = frame(); f(2) = 0x00; f } // brIdx 0 = free
    val df = spark.createDataFrame(Seq(
      ("clean", clean), ("id3", id3), ("trunc", truncated),
      ("junk", garbage), ("free", freeBitrate)))
      .toDF("path", "content")
    val out = MultimodalOps.mp3Probe(df, "path", "content")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_frames"), r.getAs[Int]("sample_rate"),
          r.getAs[Double]("duration_s"))).toMap
    assert(out("clean") == ((10L, 44100, 10 * 1152.0 / 44100)))
    assert(out("id3") == ((10L, 44100, 10 * 1152.0 / 44100)))
    assert(out("trunc") == ((3L, 44100, 3 * 1152.0 / 44100)))
    assert(out("junk")._1 == 0L && out("free")._1 == 0L)
  }

  test("AudioOps.decodeMp3: silence PCM for zero-payload frames; spectral payload refused") {
    def frame(): Array[Byte] = {
      val f = new Array[Byte](417) // MPEG1 L3 @ 44100/128k, stereo, no CRC
      f(0) = 0xff.toByte; f(1) = 0xfb.toByte; f(2) = 0x90.toByte; f(3) = 0
      f
    }
    val clean = Array.concat(Seq.fill(5)(frame()): _*)
    val (pcm, sr) = AudioOps.decodeMp3(clean)
    assert(sr == 44100 && pcm.length == 5 * 1152 && pcm.forall(_ == 0.0f))
    // ID3v2 prefix skipped, same result
    val id3 = { val t = new Array[Byte](30); t(0) = 'I'; t(1) = 'D'; t(2) = '3'
      t(3) = 4; t(9) = 20; Array.concat(t, clean) }
    assert(AudioOps.decodeMp3(id3)._1.length == 5 * 1152)
    // ancillary bytes AFTER the 32-byte side info are spec-ignorable
    val anc = Array.concat(Seq.fill(3)(frame()): _*)
    anc(4 + 32 + 7) = 0x5a // inside frame 1 payload, beyond side info
    assert(AudioOps.decodeMp3(anc)._1.length == 3 * 1152)
    // a non-zero SIDE INFO byte = real spectral bits -> refused toward SPI
    val hot = Array.concat(Seq.fill(2)(frame()): _*)
    hot(4 + 3) = 0x01 // part2_3_length bits
    intercept[UnsupportedOperationException](AudioOps.decodeMp3(hot))
    // truncated tail is an ERROR for decode (probe stops cleanly instead)
    intercept[IllegalArgumentException](
      AudioOps.decodeMp3(clean.take(417 * 2 + 50)))
    // the Externals seam routes MPEG sync here
    val viaSeam = graft.pipeline.JavaSoundExternals.decodeAudio(clean)
    assert(viaSeam._2 == 44100 && viaSeam._1.length == 5 * 1152)
  }

  test("CorpusOps.stripBoilerplate: shared lines drop, order + blanks survive, all-boiler docs vanish") {
    val docs = Seq(
      (1L, "HEADER\nalpha\n\nbeta\nFOOTER"),
      (2L, "HEADER\ngamma\nFOOTER"),
      (3L, "HEADER\ndelta\nFOOTER"),
      (4L, "HEADER\nFOOTER")).toDF("doc_id", "text")
    val out = CorpusOps.stripBoilerplate(docs, "doc_id", "text", minDocs = 3L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // HEADER/FOOTER occur in 4 docs >= 3 -> stripped everywhere; the
    // blank line in doc 1 survives (blanks are never boilerplate); doc 4
    // was ENTIRELY boilerplate and drops out of the corpus
    assert(out == Map(1L -> "alpha\n\nbeta", 2L -> "gamma", 3L -> "delta"),
      s"got $out")
  }

  test("TextFns.strip_html: blocks go with their content, tags become " +
      "spaces, entities decode once, whitespace collapses") {
    val raw = "<html><head><style>p {c:red}</style></head><body>" +
      "<p class=\"x\">A &amp; B &lt;C&gt; &quot;D&quot; &#39;E&#39;&nbsp;F</p>" +
      "<script>if (1 < 2) { alert(\"x\") }</script><br/>tail</body></html>"
    val out = Seq(raw).toDF("t")
      .select(graft.functions.TextFns.strip_html($"t")).as[String].head()
    assert(out == "A & B <C> \"D\" 'E' F tail", s"got [$out]")
    // double-escape resolves exactly ONE level (&amp; decoded last)
    val once = Seq("x &amp;lt; y").toDF("t")
      .select(graft.functions.TextFns.strip_html($"t")).as[String].head()
    assert(once == "x &lt; y", s"got [$once]")
  }

  test("TextFns.redact_pii: url swallows embedded email; order fixed url->email->phone") {
    val df = Seq(
      ("see https://ex.vn/u/a@b.co?x=1 then mail a@b.co or call +84 90 123 4567 end", 1)
    ).toDF("t", "i")
    val out = df.select(graft.functions.TextFns.redact_pii($"t")).as[String].head()
    assert(out == "see <URL> then mail <EMAIL> or call <PHONE> end", out)
  }

  test("BloomJoinOps: bloom-prefiltered join is exactly the plain inner join") {
    // fact: 2000 rows incl. null keys and keys with no dim match; dim:
    // sparse key set. With fpp=0.5 false positives are near-certain at
    // the prefilter — they must all die in the exact join.
    val fact = spark.range(0, 2000)
      .select(when(col("id") % 13 === 0, lit(null)).otherwise(col("id")).as("fk"),
        (col("id") * 3).as("payload"))
    val dim = spark.range(0, 2000).filter(col("id") % 17 === 0)
      .select(col("id").as("dk"), lit("d").as("tag"))
    val viaBloom = BloomJoinOps
      .bloomPrefilteredJoin(fact, dim, "fk", "dk", expectedKeys = 256, fpp = 0.5)
      .select("fk", "payload", "dk", "tag")
    val plain = fact.join(dim, col("fk") === col("dk"))
      .select("fk", "payload", "dk", "tag")
    assert(viaBloom.exceptAll(plain).isEmpty && plain.exceptAll(viaBloom).isEmpty)
    // the prefilter itself: keeps every true match, drops null keys
    val kept = BloomJoinOps.bloomPrefilter(fact, dim, "fk", "dk",
      expectedKeys = 256, fpp = 0.01)
    assert(kept.filter(col("fk").isNull).count() == 0L)
    // every matchable key (in dim AND non-null in fact) must survive
    val matchable = dim.select("dk").as[Long].collect().toSet
      .filter(_ % 13 != 0)
    val keptKeys = kept.select("fk").as[Long].collect().toSet
    assert(matchable.subsetOf(keptKeys), "prefilter dropped a true match")
  }

  test("ANN recall floors: multiprobe >= bucketed, multitable > multiprobe, ivf above half") {
    val dir = "/root/testdata/sf0.01"
    val rows = graft.queries.DedupQueries.queries("ann_recall")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("recall_bp")).toMap
    assert(rows("multiprobe") >= rows("bucketed"),
      s"multi-probe must retrieve at least what single-probe does: $rows")
    // 8 independent 6-plane tables: not a candidate superset of the
    // single-table family (different seeds), so pin the measured value
    // with margin rather than a structural inequality against bucketed
    assert(rows("multitable") > rows("multiprobe"),
      s"8x6-plane multi-table should beat single-table multi-probe: $rows")
    assert(rows("ivf") >= 5000L, s"IVF nProbe=2 recall@5 should stay above 50%: $rows")
    // exhaustive scan over 32x-compressed codes with an untrained
    // first-16 codebook: measured 30% — pin from below with margin
    assert(rows("pq") >= 2000L, s"PQ ADC recall@5 collapsed: $rows")
    assert(rows.values.forall(bp => bp >= 0 && bp <= 10000))
  }

  test("semantic dedup: exact copies lose to their lower-id original; uniques survive") {
    // Hand-built corpus: two well-separated clusters, one exact copy and
    // one slightly-perturbed copy inside cluster A, one unique in B.
    // keep-lowest-id: the copies (ids 10, 11) must be deleted; everything
    // else survives. k=2 so the quantizer actually separates the groups.
    def v(base: Float, jitter: Float = 0f): Seq[Float] =
      Seq.tabulate(8)(i => base + (if (i == 0) jitter else 0f))
    val rows = Seq(
      (0L, v(1.0f)), (1L, v(-1.0f)), (10L, v(1.0f)),
      (11L, v(1.0f, 1e-4f)),
      // same cluster as id 1 but a different DIRECTION (one flipped
      // coordinate, cosine 0.75) — magnitude alone can't separate
      // cosine duplicates
      (12L, Seq.tabulate(8)(i => if (i == 7) 1f else -1f)))
    val df = rows.toDF("vec_id", "embedding")
    val cells = KMeansOps.fitAssign(df, "vec_id", "embedding", k = 2, iters = 2, dim = 8)
    val pairs = SimilarityOps.cosineNearDupPairs(
      cells, "vec_id", "embedding", "cell", 0.999, dim = 8)
    val deleted = pairs.select(col("id_b").as("vec_id")).distinct()
    val survivors = cells.join(deleted, Seq("vec_id"), "left_anti")
      .select("vec_id").as[Long].collect().toSet
    assert(survivors == Set(0L, 1L, 12L), s"got $survivors")
  }

  test("CmsOps: estimates never under-count; collisions over-count; disjoint probes read 0") {
    // w=2 forces heavy collisions, so the over-count path is exercised
    // for real, not just the no-collision identity.
    val terms = Seq(("alpha", 5L), ("beta", 3L), ("gamma", 2L), ("alpha", 4L))
      .toDF("term", "cnt")
    val exact = Map("alpha" -> 9L, "beta" -> 3L, "gamma" -> 2L)
    for (w <- Seq(2, 1024)) {
      val cms = CmsOps.cmsBuild(terms, "term", "cnt", d = 3, w = w)
      val est = CmsOps.cmsEstimate(cms, terms.select("term").distinct(), "term", 3, w)
        .collect().map(r => r.getString(0) -> r.getAs[Long]("cms_cnt")).toMap
      exact.foreach { case (t, n) =>
        assert(est(t) >= n, s"w=$w under-counted $t: ${est(t)} < $n") }
      // every row's counters sum to the total increment mass, so no
      // estimate can exceed it
      assert(est.values.forall(_ <= 14L), s"w=$w estimate above total mass: $est")
    }
    // a term never inserted estimates 0 only if all its buckets are
    // empty — build from one term, probe another mapping elsewhere
    val lone = CmsOps.cmsBuild(Seq(("alpha", 7L)).toDF("term", "cnt"), "term", "cnt", 3, 1 << 20)
    val miss = CmsOps.cmsEstimate(lone, Seq("zzz-not-inserted").toDF("term"), "term", 3, 1 << 20)
      .collect()(0).getAs[Long]("cms_cnt")
    assert(miss == 0L, s"disjoint probe should read empty buckets: $miss")
  }

  test("CmsOps: grid merge-associativity — split builds sum to the whole-corpus grid") {
    // The property that makes the sketch viable as a partial aggregate:
    // grid(A ∪ B) = grid(A) + grid(B) cell-wise.
    val a = Seq(("x", 2L), ("y", 1L)).toDF("term", "cnt")
    val b = Seq(("x", 3L), ("z", 4L)).toDF("term", "cnt")
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getAs[Long]("counter")).toMap
    val whole = cells(CmsOps.cmsBuild(a.union(b), "term", "cnt", 2, 64))
    val parts = {
      val ca = cells(CmsOps.cmsBuild(a, "term", "cnt", 2, 64))
      val cb = cells(CmsOps.cmsBuild(b, "term", "cnt", 2, 64))
      (ca.keySet ++ cb.keySet).map(k =>
        k -> (ca.getOrElse(k, 0L) + cb.getOrElse(k, 0L))).toMap
    }
    assert(whole == parts)
  }

  test("QuotaOps.domainCap: dominant domains capped, small ones whole, min-keep respected") {
    // 100 rows: domain "big" 70, "mid" 20, "tiny" 10. share=3/10 → cap =
    // max(minKeep, ceil(100*3/10)) = 30: big loses 40, mid+tiny keep all.
    val df = (0L until 100L).map { i =>
      val d = if (i < 70) "big" else if (i < 90) "mid" else "tiny"
      (i, d)
    }.toDF("id", "dom")
    val kept = QuotaOps.domainCap(df, "dom", 3, 10, 5,
        graft.operators.SketchOps.portableHash(col("id")), Seq(col("id")))
      .groupBy("dom").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept == Map("big" -> 30L, "mid" -> 20L, "tiny" -> 10L), s"got $kept")
    // minKeep dominates when the corpus-share cap would fall below it:
    // share=1/100 → ceil(100/100)=1 < minKeep=5 → every domain keeps
    // min(5, size)
    val floor = QuotaOps.domainCap(df, "dom", 1, 100, 5,
        graft.operators.SketchOps.portableHash(col("id")), Seq(col("id")))
      .groupBy("dom").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(floor == Map("big" -> 5L, "mid" -> 5L, "tiny" -> 5L), s"got $floor")
    // survivors are hash-order, not id-order: big's kept ids must not be
    // the 30 smallest (that would be crawl-order bias)
    val keptIds = QuotaOps.domainCap(df, "dom", 3, 10, 5,
        graft.operators.SketchOps.portableHash(col("id")), Seq(col("id")))
      .filter(col("dom") === "big").select("id").as[Long].collect().toSet
    assert(keptIds != (0L until 30L).toSet, "cap selected in id order — hash order expected")
  }

  test("QuotaOps.hashSplit: exhaustive, disjoint, deterministic, ratios near the slices") {
    val df = (0L until 1000L).toDF("id")
    val split = QuotaOps.hashSplit(df, graft.operators.SketchOps.portableHash(col("id")),
      Seq("train" -> 8, "val" -> 1, "test" -> 1))
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exhaustive: every row labeled, all three splits present
    assert(counts.values.sum == 1000L && counts.keySet == Set("train", "val", "test"))
    // ratios within a loose band of 80/10/10 (hash is uniform, not exact)
    assert(counts("train") > 700 && counts("train") < 900, s"got $counts")
    assert(counts("val") > 50 && counts("val") < 160, s"got $counts")
    // deterministic: same ids -> same assignment on a re-run
    val again = QuotaOps.hashSplit(df, graft.operators.SketchOps.portableHash(col("id")),
        Seq("train" -> 8, "val" -> 1, "test" -> 1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = split.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(first == again)
  }

  test("winnow pair shape: a planted shared passage pairs its docs; unrelated docs don't") {
    // Two docs embedding the same >= 8-cleaned-char passage must share a
    // fingerprint (the winnowing guarantee) and so pair; a third with no
    // common substring must not. Mirrors dedup_winnow_pairs minus the
    // df-cap (3 docs can't reach it).
    val quote = "to be or not to be that is the question"
    val docs = Seq(
      (1L, s"alpha writes: $quote and moves on"),
      (2L, s"beta also cites $quote in passing"),
      (3L, "zzyx qqvv wwkk jjrr ppnn mmll")).toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
      explode(graft.functions.TextFns.winnowFingerprintArrUdf(col("text"))).as("fp"))
    val a = fps.as("a")
    val b = fps.as("b")
    val pairs = a.join(b,
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"shared passage failed to pair: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc paired: $pairs")
  }

  test("charKgramHashes: planted exact span is found at its position; " +
      "winnow fingerprints are a subset of the same-k window hashes") {
    import graft.functions.TextFns
    val span = "thequickbrownfoxjumps" // 21 cleaned chars >= k=20
    val d1 = s"AAA $span zz17"
    val d2 = s"bb-9 $span! CCC"
    val h1 = TextFns.charKgramHashes(d1, 20)
    val h2 = TextFns.charKgramHashes(d2, 20)
    val shared = h1.toSet & h2.toSet
    assert(shared.nonEmpty, "21-char shared span produced no shared 20-gram hash")
    // position = offset in the CLEANED text: d1 cleans to "aaa" + span + "zz17"
    val pos1 = h1.indexWhere(shared.contains)
    assert(pos1 == 3, s"expected first shared window at cleaned pos 3, got $pos1")
    // unrelated text shares nothing
    assert((h1.toSet & TextFns.charKgramHashes("zzyx qqvv wwkk jjrr", 20).toSet).isEmpty)
    // winnowing samples window minima from THIS hash family: every
    // winnow fingerprint (k=5) must appear among the k=5 window hashes
    val all5 = TextFns.charKgramHashes(d1, 5).toSet
    assert(TextFns.winnowFingerprints(d1, 5, 4).forall(all5.contains),
      "winnow fingerprints are not a subset of the all-window hashes")
  }

  test("scrubSpans: covered chars are cut with implicit interval merge; " +
      "no positions means the cleaned text survives intact") {
    import graft.functions.TextFns
    // cleaned = "aaabbbcccddd" (12 chars); windows k=3 at 2 and 4 overlap
    // -> chars [2,7) cut -> "aa" + "cc"? no: indices 0,1 survive, 2-6 cut,
    // 7-11 survive -> "aa" + "ccddd"
    val s = "AA abb bcc cdd d"
    assert(TextFns.scrubSpans(s, Seq(2, 4), 3) == "aaccddd")
    assert(TextFns.scrubSpans(s, Seq.empty, 3) == "aaabbbcccddd")
    // out-of-range positions clamp instead of throwing
    assert(TextFns.scrubSpans(s, Seq(-1, 10, 99), 3) == "abbbcccd")
  }

  test("MultimodalOps.wavProbe: truncated data chunk is clamped, short blob yields zeros") {
    val samples = Array.fill[Float](100)(0.5f)
    val wav = AudioOps.encodePcm16Wav(samples, 8000)
    val truncated = wav.take(44 + 40)    // claims 200 data bytes, has 40
    val tiny = Array[Byte](1, 2, 3)      // shorter than a RIFF header
    val df = spark.createDataFrame(Seq(
      ("full", wav), ("trunc", truncated), ("tiny", tiny))).toDF("path", "content")
    val out = MultimodalOps.wavProbe(df, "path", "content")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_samples")).toMap
    assert(out("full") == 100L)
    assert(out("trunc") == 20L) // 40 bytes / 2 per sample
    assert(out("tiny") == 0L)
  }
}
