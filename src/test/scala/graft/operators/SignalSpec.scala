package graft.operators

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Behavioral pins for the signal/shape family: PowerIterOps against a
  * full Scala replay of its fixed-point arithmetic plus a geometric
  * sanity (an axis-dominated cloud must point down that axis), CUSUM
  * against the textbook recurrence, Gini closed forms (all-equal → 0,
  * one-giant → (n−1)/n), and JSD's exact-zero-on-identical-slices
  * integer identity. Everything runs through the REAL registered
  * queries (SparkEntry.queries) on scratch parquet dirs. */
class SignalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def embDir(rows: Seq[(Long, Array[Float], Int)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_signal").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def docsDir(rows: Seq[(Long, String, String, Long)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_signal").toString
    rows.toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def eventsDir(rows: Seq[(Long, Long, Timestamp, String, Double)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_signal").toString
    rows.toDF("event_id", "user_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  // ------------------------------------------------------ emb_power_iter

  /** Scala replay of PowerIterOps' exact arithmetic: micro-int rows,
    * BigInt component sums, double left-fold renormalization. */
  private def refPowerIter(rows: Seq[Array[Float]], dim: Int, iters: Int)
      : Array[Long] = {
    val xq = rows.map(_.map(x => math.floor(x.toDouble * 1e6).toLong))
    var v = Array.fill(dim)(1L)
    for (_ <- 1 to iters) {
      val c = Array.fill(dim)(BigInt(0))
      for (r <- xq) {
        var s = 0L
        var j = 0
        while (j < dim) { s += r(j) * v(j); j += 1 }
        j = 0
        while (j < dim) { c(j) += BigInt(r(j)) * s; j += 1 }
      }
      val cd = c.map(_.toDouble)
      var acc = 0.0
      cd.foreach(x => acc += x * x)
      val nrm = math.sqrt(acc)
      v = cd.map(x => math.floor(x / nrm * 1e6).toLong)
    }
    v
  }

  test("emb_power_iter matches the Scala fixed-point replay and finds the axis") {
    // 20 points hugging dimension 3 (value ±large on dim 3, noise
    // elsewhere): the dominant direction must be ±e3.
    val dim = 64
    val rows = (0 until 20).map { i =>
      val a = Array.fill(dim)(0.01f * ((i * 7 + 3) % 5 - 2))
      a(3) = if (i % 2 == 0) 0.9f else -0.9f
      (i.toLong, a, 0)
    }
    val dir = embDir(rows)
    val got = graft.SparkEntry.queries("emb_power_iter")(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = refPowerIter(rows.map(_._2), dim, 2)
    assert((0 until dim).forall(j => got(j) == want(j)),
      s"fixed-point mismatch: got ${got.toSeq.sortBy(_._1)} want ${want.toSeq}")
    val vAbs = got.map { case (j, v) => j -> math.abs(v) }
    assert(vAbs(3) == vAbs.values.max, "dominant direction must be dim 3")
    assert(vAbs(3) > 900000L, "dim-3 component of the unit vector near ±1")
  }

  // ---------------------------------------------------- w6_session_window

  test("w6_session_window: exact-gap boundary splits; tied timestamps at a " +
      "boundary land in one deterministic session") {
    // The r13 islands form orders only by ts, so within-tie row order is
    // engine-chosen — the SESSION composition must still be
    // deterministic: ties share a ts, their pairwise gap is 0, and
    // exactly one flag fires at the head of the tie group regardless of
    // permutation. Also pins the half-open gap contract: an event
    // EXACTLY 30 minutes after its predecessor opens a NEW session
    // (diff >= gap), matching session_window's [start, last+gap) close.
    def ts(sec: Int) = new Timestamp(sec * 1000L) // epoch-based: TZ-free
    val rows = Seq(
      (1L, 1L, ts(0), "a", 1.0), (2L, 1L, ts(0), "a", 2.0), // tie at start
      (3L, 1L, ts(900), "a", 4.0),
      (4L, 1L, ts(2700), "a", 8.0),   // 900 + 1800 exactly -> new session
      (5L, 1L, ts(2700), "a", 16.0),  // tie at the new session's boundary
      (6L, 2L, ts(100), "a", 5.0))
    val got = graft.SparkEntry.queries("w6_session_window")(
        spark, eventsDir(rows))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val expect = Seq(
      (1L, 0L, 2700L * 1000000L, 3L, 7.0),
      (1L, 2700L * 1000000L, 4500L * 1000000L, 2L, 24.0),
      (2L, 100L * 1000000L, 1900L * 1000000L, 1L, 5.0))
    assert(got.toSeq == expect, got.mkString(", "))
  }

  // ----------------------------------------------------------- w13_cusum

  test("w13_cusum: step-change user alarms, steady user does not") {
    // steady user 1 at value 1.00 each event; user 2 jumps to 9.00 for
    // its last 6 events. Global mean sits between, so user 2's CUSUM
    // climbs while user 1's pins at 0.
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val rows = (0 until 10).map(i => (i.toLong, 1L, ts(i), "a", 1.00)) ++
      (0 until 4).map(i => (100L + i, 2L, ts(i), "a", 1.00)) ++
      (4 until 10).map(i => (100L + i, 2L, ts(i), "a", 9.00))
    val got = graft.SparkEntry.queries("w13_cusum")(spark, eventsDir(rows))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // Scala reference of the textbook recurrence S_i = max(0, S+y).
    val all = rows.map(r => math.floor(r._5 * 100).toLong)
    val k = all.sum / all.size
    def ref(vs: Seq[Long]): (Long, Long, Long) = {
      var s = 0L; var mx = 0L; var alarms = 0L
      vs.foreach { v =>
        s = math.max(0L, s + (v - k))
        mx = math.max(mx, s)
        if (s >= 5 * k) alarms += 1
      }
      (vs.size.toLong, mx, alarms)
    }
    val u1 = ref(Seq.fill(10)(100L))
    val u2 = ref(Seq.fill(4)(100L) ++ Seq.fill(6)(900L))
    assert(got(1L) == u1 && got(2L) == u2)
    assert(got(1L)._3 == 0L, "steady user must not alarm")
    assert(got(2L)._3 > 0L, "step-change user must alarm")
    assert(got(1L)._2 == 0L, "below-mean user's CUSUM pins at zero")
  }

  // ------------------------------------------------------------ a20_gini

  test("a20_gini: all-equal lengths give exactly 0; one-giant approaches (n-1)/n") {
    val eq = (0 until 8).map(i => (i.toLong, "x", "en", 50L))
    val r1 = graft.SparkEntry.queries("a20_gini")(spark, docsDir(eq))
      .collect().head
    assert(r1.getAs[Long]("gini_ppm") == 0L)
    // 9 docs of length ~0 can't exist (lengths >= 1); use 1 vs one 10^6:
    // G -> (n-1)/n · (1 - small correction); just pin the exact integer
    // against the closed form computed here.
    val n = 10
    val lens = Seq.fill(n - 1)(1L) :+ 1000000L
    val rows = lens.zipWithIndex.map { case (l, i) => (i.toLong, "x", "en", l) }
    val r2 = graft.SparkEntry.queries("a20_gini")(spark, docsDir(rows))
      .collect().head
    val sx = BigInt(lens.sum)
    val srx = lens.sorted.zipWithIndex
      .map { case (x, i) => BigInt(i + 1) * x }.sum
    val want = ((2 * srx - (n + 1) * sx) * 1000000 / (n * sx)).toLong
    assert(r2.getAs[Long]("gini_ppm") == want)
    assert(want > 880000L, "one-giant corpus must be near (n-1)/n = 0.9")
  }

  // --------------------------------------------------------- t_jsd_drift

  test("t_jsd_drift: identical slices are exactly zero; drifted slices are not") {
    val text = "alpha beta gamma delta epsilon zeta alpha beta"
    val same = Seq((0L, text, "en", 1L), (1L, text, "vi", 1L))
    val r1 = graft.SparkEntry.queries("t_jsd_drift")(spark, docsDir(same))
      .collect().head
    assert(r1.getAs[Long]("jsd_ppm") == 0L,
      "identical term distributions must be an exact integer zero")
    val drift = Seq((0L, "alpha alpha alpha beta", "en", 1L),
      (1L, "omega omega psi psi chi", "vi", 1L))
    val r2 = graft.SparkEntry.queries("t_jsd_drift")(spark, docsDir(drift))
      .collect().head
    val jsd = r2.getAs[Long]("jsd_ppm")
    // JSD is bounded by ln 2 ≈ 0.693: smoothed disjoint vocabularies
    // land high but under the bound.
    assert(jsd > 100000L && jsd < 693148L, s"got $jsd")
  }

  // ---------------------------------------------------- a23_median_mad

  test("a23_median_mad: lower-median convention, odd and even n") {
    def run(lens: Seq[Long]): (Long, Long, Long) = {
      val rows = lens.zipWithIndex.map { case (l, i) => (i.toLong, "x", "en", l) }
      val r = graft.SparkEntry.queries("a23_median_mad")(spark, docsDir(rows))
        .collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // odd n: median 30; deviations 25,20,0,20,970 -> sorted 0,20,20,25,970 -> mad 20
    assert(run(Seq(5L, 10L, 30L, 50L, 1000L)) == ((5L, 30L, 20L)))
    // even n = 4: lower median = rank (4+1) div 2 = 2 -> 10;
    // deviations |5-10|,0,20,90 -> sorted 0,5,20,90 -> lower median 5
    assert(run(Seq(5L, 10L, 30L, 100L)) == ((4L, 10L, 5L)))
  }

  // ----------------------------------------------- emb_residual_norms

  test("emb_residual_norms matches the Scala replay; parallel ~0, orthogonal ~own norm") {
    val dim = 64
    // axis-dominated cloud (dim 5) plus one vector ON the axis and one
    // orthogonal to it (dim 11).
    val rows = (0 until 16).map { i =>
      val a = Array.fill(dim)(0.0f)
      a(5) = if (i % 2 == 0) 0.8f else -0.8f
      a(11) = 0.001f * i
      (i.toLong, a, 0)
    } :+ {
      val a = Array.fill(dim)(0.0f); a(5) = 0.7f; (100L, a, 0)
    } :+ {
      val a = Array.fill(dim)(0.0f); a(11) = 0.6f; (101L, a, 0)
    }
    val dir = embDir(rows)
    val got = graft.SparkEntry.queries("emb_residual_norms")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Scala replay of the registered arithmetic.
    val v = refPowerIter(rows.map(_._2), dim, 2)
    val vv = v.map(x => x * x).sum
    def refRes(x: Array[Float]): Long = {
      val xq = x.map(f => math.floor(f.toDouble * 1e6).toLong)
      var s = 0L; var sumx2 = 0L
      (0 until dim).foreach { j => s += xq(j) * v(j); sumx2 += xq(j) * xq(j) }
      // the registered closed form: Σx² − s²/vv, clamped, sqrt, floor
      val d2 = math.max(sumx2.toDouble - s.toDouble * s.toDouble / vv.toDouble, 0.0)
      math.floor(math.sqrt(d2)).toLong
    }
    rows.foreach { case (id, x, _) =>
      assert(got(id) == refRes(x), s"vec $id")
    }
    assert(got(100L) < 1000L, "on-axis vector: residual ~0 after removal")
    assert(got(101L) > 590000L && got(101L) <= 600000L,
      "orthogonal vector keeps ~its own norm (0.6 = 600k micro)")
  }

  // ------------------------------------------- a24_winsorized_mean

  test("a24_winsorized_mean clamps at the exact p10/p90 order statistics") {
    // n = 10: lo rank (10+9)/10 = 1 -> min; hi rank (90+9)/10 = 9.
    val lens = Seq(2L, 4L, 6L, 8L, 10L, 12L, 14L, 16L, 18L, 1000000L)
    val rows = lens.zipWithIndex.map { case (l, i) => (i.toLong, "x", "en", l) }
    val r = graft.SparkEntry.queries("a24_winsorized_mean")(spark, docsDir(rows))
      .collect().head
    assert(r.getLong(0) == 10L)
    assert(r.getLong(1) == 2L && r.getLong(2) == 18L, "thresholds = ranks 1 and 9")
    // clamped: 2,4,...,18 with the giant clamped to 18 -> sum 108
    assert(r.getAs[Long]("wmean_ppm") == 108L * 1000000L / 10L,
      "the outlier contributes exactly the p90 value")
  }

  // ----------------------------------------------------- a25_cramers_v

  test("a25_cramers_v: independence is exactly chi2=0; perfect dependence ~1e6") {
    import spark.implicits._
    def run(rows: Seq[(Long, String, String)]): (Long, Long) = {
      val dir = Files.createTempDirectory("graft_signal").toString
      rows.map { case (i, l, s) => (i, "x", l, s, 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val r = graft.SparkEntry.queries("a25_cramers_v")(spark, dir)
        .collect().head
      (r.getAs[Long]("chi2_milli"), r.getAs[Long]("v_ppm"))
    }
    // independent: every (lang, source) cell has the same count
    val indep = for {
      l <- Seq("en", "vi"); s <- Seq("a", "b"); _ <- 0 until 5
    } yield (0L, l, s)
    val (chiI, vI) = run(indep.zipWithIndex.map { case ((_, l, s), i) => (i.toLong, l, s) })
    assert(chiI == 0L && vI == 0L, "uniform grid must be an exact integer zero")
    // perfectly dependent: lang determines source
    val dep = (0 until 6).map(i => (i.toLong, "en", "a")) ++
      (0 until 6).map(i => (10L + i, "vi", "b"))
    val (chiD, vD) = run(dep)
    assert(chiD == 12000L, "chi2 = N exactly for a 2x2 perfect association")
    assert(vD > 999000L && vD <= 1000000L, s"V ~ 1.0, got $vD")
  }

  // --------------------------------------------------- io_s11_quarantine

  test("io_s11_quarantine: corrupt rows quarantine, sparse rows pass as null") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_signal").toString
    // keys 1..22: key%7==0 -> corrupt (7,14,21); else key%11==0 -> sparse (11,22)
    val rows = (1L to 22L).map(k => (k, k * 100.0 + 0.5))
    rows.toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = graft.SparkEntry.queries("io_s11_quarantine")(spark, dir)
      .collect().head
    val corrupt = (1L to 22L).filter(_ % 7 == 0)
    val sparse = (1L to 22L).filter(k => k % 7 != 0 && k % 11 == 0)
    val good = (1L to 22L).filterNot(corrupt.contains)
    assert(r.getLong(0) == good.size.toLong, "n_good")
    assert(r.getLong(1) == sparse.size.toLong, "n_sparse")
    assert(r.getLong(2) == corrupt.size.toLong, "n_quarantined")
    val sumCents = good.filterNot(sparse.contains)
      .map(k => math.round(k * 10000.0 + 50.0)).sum
    assert(r.getLong(3) == sumCents, "sum over parsed cents only")
  }

  // -------------------------------------------------- a26_heavy_change

  test("a26_heavy_change: vanished and appeared users lead; balanced user trails") {
    def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // window 00:00..20:00, midpoint 10:00. user 1: 6 events then gone;
    // user 2: appears late with 4; user 3: 2+2 balanced (change 0).
    val rows = (0 until 6).map(i => (i.toLong, 1L, ts(i), "a", 1.0)) ++
      (0 until 4).map(i => (10L + i, 2L, ts(16 + i), "a", 1.0)) ++
      Seq((20L, 3L, ts(0), "a", 1.0), (21L, 3L, ts(8), "a", 1.0),
        (22L, 3L, ts(12), "a", 1.0), (23L, 3L, ts(20), "a", 1.0))
    val got = graft.SparkEntry.queries("a26_heavy_change")(spark, eventsDir(rows))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.head._1 == 1L && got.head._4 == 6L, "the vanished user leads")
    assert(got(1) == ((2L, 0L, 4L, 4L)), "the appeared user is second")
    assert(got.last == ((3L, 2L, 2L, 0L)), "the balanced user reports zero change")
  }

  // --------------------------------------------------- a27_decay_score

  test("a27_decay_score: half-life-per-day weights are exact right-shifts") {
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-${10 + d}%02d 12:00:00")
    // anchor = newest (day 3). ages: 3, 1, 0 days.
    val rows = Seq(
      (1L, 1L, ts(0), "a", 8.00),  // 800 >> 3 = 100
      (2L, 1L, ts(2), "a", 5.00),  // 500 >> 1 = 250
      (3L, 1L, ts(3), "a", 3.00),  // 300 >> 0 = 300
      (4L, 2L, ts(3), "a", 1.23))  // 123 (anchor event itself)
    val got = graft.SparkEntry.queries("a27_decay_score")(spark, eventsDir(rows))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == ((3L, 650L)), "100 + 250 + 300")
    assert(got(2L) == ((1L, 123L)))
  }

  // ------------------------------------------------ a28_autocorr_lag1

  test("a28_autocorr_lag1: alternating -1, constant null, trend positive") {
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val rows =
      (0 until 8).map(i => (i.toLong, 1L, ts(i), "a", if (i % 2 == 0) 1.0 else 9.0)) ++
      (0 until 5).map(i => (10L + i, 2L, ts(i), "a", 5.0)) ++
      (0 until 8).map(i => (20L + i, 3L, ts(i), "a", 1.0 + i))
    val got = graft.SparkEntry.queries("a28_autocorr_lag1")(spark, eventsDir(rows))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got(1L)._2.exists(_ < -900000L), "alternating values anticorrelate")
    assert(got(2L) == ((4L, None)), "zero variance reports null, not a blow-up")
    assert(got(3L)._2.exists(_ > 900000L), "a monotone trend correlates")
  }

  // -------------------------------------------- o17_rendezvous_assign

  test("o17_rendezvous_assign: md5 argmax replay; shard removal moves only its docs") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("US-ASCII")).map("%02x".format(_)).mkString
    }
    def assign(doc: Long, shards: Seq[Int]): Int =
      shards.maxBy(k => md5hex(s"$doc:$k"))
    val rows = (0 until 200).map(i => (i.toLong, "x", "en", 1L))
    val got = graft.SparkEntry.queries("o17_rendezvous_assign")(spark, docsDir(rows))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ref8 = (0L until 200L).map(d => d -> assign(d, 0 until 8))
    assert(got == ref8.groupBy(_._2).map { case (s, xs) => s -> xs.size.toLong },
      "per-shard counts must match the md5 argmax replay")
    // the rendezvous property: dropping shard 7 reassigns ONLY shard 7's docs
    val ref7 = (0L until 200L).map(d => d -> assign(d, 0 until 7)).toMap
    ref8.foreach { case (d, s8) =>
      if (s8 != 7) assert(ref7(d) == s8, s"doc $d moved without its shard dying")
    }
  }

  // -------------------------------------------------- a30_lang_entropy

  test("a30_lang_entropy: a single-type language is exactly 0; an " +
      "all-distinct language is exactly lnq(N)") {
    val rows = Seq(
      (1L, "foo foo foo foo", "aa", 15L),
      (2L, "foo foo foo foo", "aa", 15L),
      (3L, "alpha bravo charlie delta echoes foxtrot golfer hotels", "bb", 54L))
    val got = graft.SparkEntry.queries("a30_lang_entropy")(spark, docsDir(rows))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // aa: one type, c = N = 8 -> lnq(8) - (8*lnq(8)) div 8 = exactly 0
    assert(got("aa") == ((8L, 1L, 0L)), s"got ${got("aa")}")
    // bb: 8 singleton types -> sc = 0 (lnq(1) = 0) -> exactly lnq(8)
    val lnq8 = math.floor(1e6 * math.log(8.0)).toLong
    assert(got("bb") == ((8L, 8L, lnq8)), s"got ${got("bb")}")
    assert(got("bb")._3 > got("aa")._3, "diversity must rank above repetition")
  }

  // ------------------------------------------------ o18_epoch_shuffle

  test("o18_epoch_shuffle: md5-order replay; balanced shards; epochs permute " +
      "independently but deterministically") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("US-ASCII")).map("%02x".format(_)).mkString
    }
    val n = 200
    val docs = (0 until n).map(_.toLong)
    // Full Scala replay: per epoch, rank by (md5("e:id"), id), cut into
    // 8 contiguous shards, fingerprint Σ (rn·id mod (2^31−1)).
    def replay(e: Int): Map[Int, (Long, Long, Long)] =
      docs.sortBy(d => (md5hex(s"$e:$d"), d)).zipWithIndex
        .map { case (d, i) => (d, i + 1L) }
        .groupBy { case (_, rn) => ((rn - 1) * 8 / n).toInt }
        .map { case (shard, xs) =>
          shard -> (xs.size.toLong, xs.minBy(_._2)._1,
            xs.map { case (d, rn) => (rn * d) % 2147483647L }.sum)
        }
    val rows = docs.map(d => (d, "x", "en", 1L))
    val got = graft.SparkEntry.queries("o18_epoch_shuffle")(spark, docsDir(rows))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.size == 16, "2 epochs x 8 shards")
    for (e <- 0 until 2; (shard, exp) <- replay(e))
      assert(got((e, shard)) == exp, s"epoch $e shard $shard must match replay")
    // balance by construction: every shard is exactly n/8 here
    assert(got.values.forall(_._1 == n / 8))
    // epoch independence: the two epochs order the same doc set
    // differently, so at least one shard's fingerprint differs
    assert((0 until 8).exists(sh => got((0, sh))._3 != got((1, sh))._3),
      "different epochs must produce different permutations")
  }

  // ------------------------------------------------ a31_column_profile

  test("a31_column_profile: one row per profiled column; metrics match " +
      "direct aggregates on the same table") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("a31_column_profile")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(got.keySet == Set("l_orderkey", "l_quantity", "l_returnflag",
      "l_shipdate"))
    val li = graft.Tables.load(spark, dir, "lineitem")
    val n = li.count()
    got.values.foreach { case (rows, nulls, ndv, _, _) =>
      assert(rows == n && nulls >= 0 && ndv >= 1 && ndv <= rows - nulls)
    }
    val rf = li.agg(countDistinct(col("l_returnflag")),
      min(col("l_returnflag")), max(col("l_returnflag"))).head()
    assert(got("l_returnflag")._3 == rf.getLong(0))
    assert(got("l_returnflag")._4 == rf.getString(1))
    assert(got("l_returnflag")._5 == rf.getString(2))
    // cents rendering is the floor-scaled integer of the true extrema
    val q = li.agg(min(col("l_quantity")), max(col("l_quantity"))).head()
    assert(got("l_quantity")._4 == math.floor(q.getDouble(0) * 100).toLong.toString)
    assert(got("l_quantity")._5 == math.floor(q.getDouble(1) * 100).toLong.toString)
  }

  // ------------------------------------------------- emb_int8_quantize

  test("emb_int8_quantize: hand-traced floor quantization; |q| caps at 127 " +
      "only for the max-magnitude coordinate") {
    // scale = 2.0; q = floor(x*127/2): 2.0 -> 127, -1.0 -> -64 (floor of
    // -63.5), 0.5 -> 31 (floor of 31.75)
    val rows = Seq(
      (1L, Array(2.0f, -1.0f, 0.5f), 0),
      (2L, Array(-4.0f, 4.0f, 1.0f), 0)) // scale 4: -127... floor(-127.0)
    val got = graft.SparkEntry.queries("emb_int8_quantize")(spark, embDir(rows))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == ((2000000L, 127L - 64L + 31L, 127L)), s"got ${got(1L)}")
    // vec 2: q = (-127, 127, floor(31.75)=31) -> sum 31, max 127
    assert(got(2L) == ((4000000L, 31L, 127L)), s"got ${got(2L)}")
  }

  // -------------------------------------------------- o19_zorder_layout

  test("o19_zorder_layout: buckets match the Morton replay and every " +
      "bucket is a sub-1024 rectangle in BOTH dimensions") {
    def morton(a: Long, b: Long): Long =
      (0 until 16).map(i =>
        (((a >> i) & 1L) << (2 * i)) + (((b >> i) & 1L) << (2 * i + 1))).sum
    // spread doc ids and lengths so several buckets appear
    val rows = (0L until 300L).map(i =>
      ((i * 37) % 4096, s"d$i", "en", (i * 191) % 3000))
    val got = graft.SparkEntry.queries("o19_zorder_layout")(spark, docsDir(rows))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // full replay
    val want = rows.groupBy { case (id, _, _, nc) =>
        morton(nc & 0xFFFFL, id & 0xFFFFL) >> 20 }
      .map { case (zb, xs) =>
        zb -> (xs.size.toLong, xs.map(_._4).min, xs.map(_._4).max,
          xs.map(_._1).min, xs.map(_._1).max) }
    assert(got == want, "bucket report diverges from the Morton replay")
    assert(got.size > 1, "fixture must span several buckets")
    // the pruning property: fixed 6-bit prefixes confine each dimension
    got.values.foreach { case (_, minC, maxC, minD, maxD) =>
      assert(maxC - minC < 1024, s"chars range too wide: $minC..$maxC")
      assert(maxD - minD < 1024, s"doc range too wide: $minD..$maxD")
    }
  }

  // ------------------------------------------ a29_markov_transitions

  test("a29_markov_transitions: exact counts and row-normalized ppm") {
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: view->view->buy ; user 2: view->buy
    val rows = Seq(
      (1L, 1L, ts(0), "view", 1.0), (2L, 1L, ts(1), "view", 1.0),
      (3L, 1L, ts(2), "buy", 1.0),
      (10L, 2L, ts(0), "view", 1.0), (11L, 2L, ts(1), "buy", 1.0))
    val got = graft.SparkEntry.queries("a29_markov_transitions")(spark, eventsDir(rows))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // from view: 1 view + 2 buy = 3 transitions
    assert(got(("view", "view")) == ((1L, 333333L)))
    assert(got(("view", "buy")) == ((2L, 666666L)))
    assert(got.size == 2, "no transitions FROM the terminal buy events")
  }

  // ---------------------------------------------- w16_expanding_zscore

  test("w16_expanding_zscore: a spike after stable history alarms once; " +
      "constant and warm-up rows never do") {
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: 1.00,1.02,0.98,1.01,9.00 -> only the spike alarms
    // (the spike value itself is excluded from its own history).
    // user 2: constant values -> zero variance -> never alarms.
    // user 3: wild values but only 3 events -> rows 1-2 are warm-up and
    // row 3's history n=2 < 3 -> no alarm possible.
    val rows = Seq(1.00, 1.02, 0.98, 1.01, 9.00).zipWithIndex.map {
      case (v, i) => (i.toLong, 1L, ts(i), "a", v)
    } ++ (0 until 5).map(i => (10L + i, 2L, ts(i), "a", 5.0)) ++
      Seq((20L, 3L, ts(0), "a", 1.0), (21L, 3L, ts(1), "a", 99.0),
        (22L, 3L, ts(2), "a", 0.01))
    val got = graft.SparkEntry.queries("w16_expanding_zscore")(spark, eventsDir(rows))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == ((5L, 1L)), "exactly the spike alarms")
    assert(got(2L) == ((5L, 0L)), "zero variance never alarms")
    assert(got(3L) == ((3L, 0L)), "n < 3 history is warm-up")
  }

  // ------------------------------------------------- streaming CUSUM

  test("streaming CUSUM parity: final per-user state equals the batch fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.streaming.StreamingCusum
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val rows = (0 until 10).map(i => (i.toLong, 1L, ts(i), "a", 1.00)) ++
      (0 until 4).map(i => (100L + i, 2L, ts(i), "a", 1.00)) ++
      (4 until 10).map(i => (100L + i, 2L, ts(i), "a", 9.00))
    // deploy-time constants = the batch profile (w13's derivation)
    val cents = rows.map(r => math.floor(r._5 * 100).toLong)
    val kFp = cents.sum / cents.size
    val hFp = 5 * kFp
    val evs = rows.map(r => StreamingCusum.Ev(r._2, r._3.getTime * 1000, r._1,
      math.floor(r._5 * 100).toLong))
    val mem = MemoryStream[StreamingCusum.Ev]
    val q = StreamingCusum.cusum(mem.toDS(), kFp, hFp)
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode("update").start()
    try {
      // split mid-history: the recurrence must fold across the boundary
      mem.addData(evs.take(9): _*)
      q.processAllAvailable()
      mem.addData(evs.drop(9): _*)
      q.processAllAvailable()
      val finalPerUser = spark.table("cusum_out")
        .as[StreamingCusum.Out].collect()
        .groupBy(_.user_id)
        .map { case (u, outs) => u -> outs.maxBy(_.n_events) }
      val batch = graft.SparkEntry.queries("w13_cusum")(spark, eventsDir(rows))
        .collect().map(r => r.getLong(0) ->
          StreamingCusum.Out(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(finalPerUser == batch,
        s"stream $finalPerUser != batch $batch")
      assert(batch(2L).n_alarms > 0L, "the step-change user alarms in both forms")
    } finally q.stop()
  }

  // ------------------------------------------------- w18_forward_fill

  /** Events fixture with NULLABLE values (the tuple-based eventsDir can't
    * express a null Double). */
  private def nullableEventsDir(
      rows: Seq[(Long, Long, Timestamp, String, Option[Double])]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_signal").toString
    rows.toDF("event_id", "user_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("w18_forward_fill: nulls take the latest prior observation; " +
      "leading nulls stay null; fills never cross users") {
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val rows = Seq(
      (1L, 1L, ts(0), "view", None: Option[Double]),
      (2L, 1L, ts(1), "view", Some(10.0)),
      (3L, 1L, ts(2), "view", None),
      (4L, 1L, ts(3), "view", None),
      (5L, 1L, ts(4), "view", Some(20.5)),
      (6L, 1L, ts(5), "view", None),
      (7L, 2L, ts(0), "view", None)) // user 2 must NOT see user 1's 10.0
    val got = graft.SparkEntry.queries("w18_forward_fill")(
        spark, nullableEventsDir(rows))
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got == Map(
      1L -> None, 2L -> Some(1000L), 3L -> Some(1000L), 4L -> Some(1000L),
      5L -> Some(2050L), 6L -> Some(2050L), 7L -> None))
  }

  // ---------------------------------------------------- a32_ols_trend

  test("a32_ols_trend: perfect line recovers exact slope and r2 = 1e6; " +
      "constant series gives slope 0 with NULL r2; single day gives NULL") {
    def day(d: Int) = Timestamp.valueOf(f"2024-01-${d + 1}%02d 00:00:00")
    val rows =
      // user 1: y = 100·x + 100 cents exactly (days 0,1,2)
      Seq((1L, 1L, day(0), "p", 1.0), (2L, 1L, day(1), "p", 2.0),
        (3L, 1L, day(2), "p", 3.0)) ++
      // user 2: constant value across two days -> slope 0, r2 undefined
      Seq((4L, 2L, day(0), "p", 5.0), (5L, 2L, day(1), "p", 5.0)) ++
      // user 3: both events the same day -> x-variance 0 -> all NULL
      Seq((6L, 3L, day(0), "p", 1.0), (7L, 3L, day(0), "p", 9.0))
    val got = graft.SparkEntry.queries("a32_ols_trend")(spark, eventsDir(rows))
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got(1L) == ((3L, Some(100L * 1000000L), Some(1000000L))), got(1L))
    assert(got(2L) == ((2L, Some(0L), None)), got(2L))
    assert(got(3L) == ((2L, None, None)), got(3L))
  }

  // ------------------------------------------------- w19_ewma_smooth

  test("w19_ewma_smooth: hand-traced integer EWMA with spike counting; " +
      "single-event users pass their value through") {
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val rows = Seq(
      // s1=400; 4000 > 800 spike, s2=(1200+4000)/4=1300;
      // 400 < 2600 no spike, s3=(3900+400)/4=1075
      (1L, 1L, ts(0), "v", 4.0), (2L, 1L, ts(1), "v", 40.0),
      (3L, 1L, ts(2), "v", 4.0),
      (4L, 2L, ts(0), "v", 7.5)) // single event: s = 750, no spikes
    val got = graft.SparkEntry.queries("w19_ewma_smooth")(spark, eventsDir(rows))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(1L -> ((3L, 1075L, 1L)), 2L -> ((1L, 750L, 0L))), got)
    // kernel edge: empty fold is the (0,0,0) identity
    assert(EwmaOps.fold(Iterator.empty) == ((0L, 0L, 0L)))
  }

  test("StreamingEwma: final per-user state equals the w19 batch fold " +
      "across a mid-history micro-batch boundary") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.streaming.StreamingEwma
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val rows = Seq(
      (1L, 1L, ts(0), "v", 4.0), (2L, 1L, ts(1), "v", 40.0),
      (3L, 1L, ts(2), "v", 4.0), (4L, 1L, ts(3), "v", 12.0),
      (5L, 2L, ts(0), "v", 7.5), (6L, 2L, ts(1), "v", 7.5))
    val evs = rows.map(r => StreamingEwma.Ev(r._2, r._3.getTime * 1000, r._1,
      math.floor(r._5 * 100).toLong))
    val mem = MemoryStream[StreamingEwma.Ev]
    val q = StreamingEwma.ewma(mem.toDS())
      .writeStream.format("memory").queryName("ewma_out")
      .outputMode("update").start()
    try {
      mem.addData(evs.take(3): _*) // user 1's history splits 2 | 2
      q.processAllAvailable()
      mem.addData(evs.drop(3): _*)
      q.processAllAvailable()
      val finalPerUser = spark.table("ewma_out")
        .as[StreamingEwma.Out].collect()
        .groupBy(_.user_id)
        .map { case (u, outs) => u -> outs.maxBy(_.n_events) }
      val batch = graft.SparkEntry.queries("w19_ewma_smooth")(
          spark, eventsDir(rows))
        .collect().map(r => r.getLong(0) ->
          StreamingEwma.Out(r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3)))
        .toMap
      assert(finalPerUser == batch, s"stream $finalPerUser != batch $batch")
      assert(batch(1L).n_spikes == 1L)
    } finally q.stop()
  }

  // ------------------------------------------------ w21_scd2_intervals

  test("w21_scd2_intervals: contiguous per-key validity intervals, " +
      "open-ended current row, no cross-user leakage") {
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val rows = Seq(
      (1L, 1L, ts(0), "v", 1.0), (2L, 1L, ts(5), "v", 2.0),
      (3L, 1L, ts(9), "v", 3.0),
      (4L, 2L, ts(2), "v", 7.0))
    def tu(m: Int) = ts(m).getTime * 1000L
    val got = graft.SparkEntry.queries("w21_scd2_intervals")(
        spark, eventsDir(rows))
      .collect().map(r => r.getLong(1) -> (r.getLong(0), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getBoolean(5))).toMap
    assert(got == Map(
      1L -> ((1L, 100L, tu(0), Some(tu(5)), false)),
      2L -> ((1L, 200L, tu(5), Some(tu(9)), false)),
      3L -> ((1L, 300L, tu(9), None, true)),
      4L -> ((2L, 700L, tu(2), None, true))), got)
  }

  // ----------------------------------------------------- a36_dq_audit

  test("a36_dq_audit: every planted violation class is counted once; " +
      "clean checks pass") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_a36").toString
    Seq( // (l_orderkey, l_quantity, l_returnflag)
      (1L, Some(5.0), "A"), (1L, Some(150.0), "N"), // one range violation
      (2L, None: Option[Double], "R"),              // one null quantity
      (2L, Some(3.0), "X"),                         // one bad enum
      (99L, Some(1.0), "A"))                        // orphan order key
      .toDF("l_orderkey", "l_quantity", "l_returnflag")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq(1L, 2L, 2L, 3L).toDF("o_orderkey") // one duplicate key
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = graft.SparkEntry.queries("a36_dq_audit")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(got == Map(
      "lineitem_quantity_not_null" -> ((1L, false)),
      "orders_orderkey_unique" -> ((1L, false)),
      "lineitem_orderkey_fk" -> ((1L, false)),
      "lineitem_quantity_range" -> ((1L, false)),
      "lineitem_returnflag_enum" -> ((1L, false))), got)
  }

  // ------------------------------------------------- w20_trending_topk

  test("w20_trending_topk: rank by count desc with type tie-break; " +
      "top-3 cut per hour bucket") {
    def at(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // hour A: view x3, click x2, buy x2, misc x1 (tie buy/click -> click
    // ranks 2 by name); hour B: only one type
    val rows =
      (1 to 3).map(i => (i.toLong, 1L, at(10, i), "view", 1.0)) ++
      (4 to 5).map(i => (i.toLong, 1L, at(10, i), "click", 1.0)) ++
      (6 to 7).map(i => (i.toLong, 2L, at(10, i + 10), "buy", 1.0)) ++
      Seq((8L, 2L, at(10, 30), "misc", 1.0), (9L, 1L, at(11, 0), "view", 1.0))
    val got = graft.SparkEntry.queries("w20_trending_topk")(
        spark, eventsDir(rows))
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getString(2), r.getLong(3))).toMap
    val hours = got.keys.map(_._1).toSeq.distinct.sorted
    assert(hours.size == 2)
    val (hA, hB) = (hours.head, hours.last)
    assert(got(hA -> 1) == (("view", 3L)))
    assert(got(hA -> 2) == (("buy", 2L)))   // tie at 2: 'buy' < 'click'
    assert(got(hA -> 3) == (("click", 2L)))
    assert(!got.contains(hA -> 4))          // misc cut by top-3
    assert(got(hB -> 1) == (("view", 1L)) && !got.contains(hB -> 2))
  }

  test("StreamingTrending: final per-bucket top-k equals the w20 batch " +
      "result across a mid-bucket micro-batch boundary") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.streaming.StreamingTrending
    def at(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val rows =
      (1 to 3).map(i => (i.toLong, 1L, at(10, i), "view", 1.0)) ++
      (4 to 5).map(i => (i.toLong, 1L, at(10, i), "click", 1.0)) ++
      (6 to 7).map(i => (i.toLong, 2L, at(10, i + 10), "buy", 1.0)) ++
      Seq((8L, 2L, at(10, 30), "misc", 1.0), (9L, 1L, at(11, 0), "view", 1.0))
    val evs = rows.map(r => StreamingTrending.Ev(
      r._3.getTime * 1000L / 3600000000L, r._4))
    val mem = MemoryStream[StreamingTrending.Ev]
    val q = StreamingTrending.trending(mem.toDS(), 3)
      .writeStream.format("memory").queryName("trend_out")
      .outputMode("update").start()
    try {
      mem.addData(evs.take(4): _*) // splits hour A's counts mid-way
      q.processAllAvailable()
      mem.addData(evs.drop(4): _*)
      q.processAllAvailable()
      // the LAST emission per bucket: re-fold the full history with the
      // shared kernel (the memory sink keeps every update emission, so
      // select the rows matching the final fold)
      val want = graft.SparkEntry.queries("w20_trending_topk")(
          spark, eventsDir(rows))
        .collect().map(r => StreamingTrending.Out(
          r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
      val emitted = spark.table("trend_out")
        .as[StreamingTrending.Out].collect().toSet
      // every final batch row must have been emitted verbatim, and the
      // final fold per bucket equals the batch top-k exactly
      assert(want.subsetOf(emitted), s"missing ${want -- emitted}")
      val finalFold = evs.groupBy(_.hour_bucket).flatMap { case (b, es) =>
        StreamingTrending.topK(
          StreamingTrending.advance(Map.empty, es), 3)
          .map { case (r, t, c) => StreamingTrending.Out(b, r, t, c) }
      }.toSet
      assert(finalFold == want, s"kernel fold $finalFold != batch $want")
    } finally q.stop()
  }

  // ----------------------------------------------------- a35_pr_curve

  test("a35_pr_curve: hand-traced confusion counts per rung; precision " +
      "NULLs when nothing is predicted positive") {
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val rows = Seq(
      (1L, 1L, ts(0), "purchase", 60.0),  // 6000 cents
      (2L, 1L, ts(1), "purchase", 110.0), // 11000
      (3L, 2L, ts(2), "view", 40.0),      // 4000
      (4L, 2L, ts(3), "view", 120.0))     // 12000
    val got = graft.SparkEntry.queries("a35_pr_curve")(spark, eventsDir(rows))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6)))).toMap
    assert(got.size == 8)
    // t=5000: tp=2 fp=1 fn=0 -> p=2/3 r=1 f1=4/5
    assert(got(5000L) == ((2L, 1L, 0L,
      Some(666666L), Some(1000000L), Some(800000L))), got(5000L))
    // t=10000: tp=1 (11000), fp=1 (12000), fn=1
    assert(got(10000L) == ((1L, 1L, 1L,
      Some(500000L), Some(500000L), Some(500000L))), got(10000L))
    // t=15000..40000: nothing predicted positive
    (3 to 8).foreach { k =>
      assert(got(5000L * k) == ((0L, 0L, 2L, None, Some(0L), Some(0L))),
        s"rung $k: ${got(5000L * k)}")
    }
  }

  // ------------------------------------------------ a33_key_skew_audit

  test("a33_key_skew_audit: hand-traced counts, shares, skew ratio, and " +
      "the salting fan-out j9 would need") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_a33").toString
    // key 1 x6, key 2 x3, keys 3..5 x1 -> 5 keys, 12 rows, max 6
    val keys = Seq.fill(6)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L, 4L, 5L)
    keys.toDF("l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = graft.SparkEntry.queries("a33_key_skew_audit")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8)))
    assert(got.toSeq == Seq(
      (1, 1L, 6L, 500000L, 500000L, 5L, 12L, 2500000L, 3L),
      (2, 2L, 3L, 250000L, 750000L, 5L, 12L, 2500000L, 3L),
      (3, 3L, 1L, 83333L, 833333L, 5L, 12L, 2500000L, 3L),
      (4, 4L, 1L, 83333L, 916666L, 5L, 12L, 2500000L, 3L),
      (5, 5L, 1L, 83333L, 1000000L, 5L, 12L, 2500000L, 3L)), got.toSeq)
  }

  // --------------------------------------------- a34_retention_cohorts

  test("a34_retention_cohorts: users cohort at their first week and count " +
      "once per (cohort, age) cell — replayed from the week arithmetic") {
    def at(day: Int, hour: Int) =
      Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")
    // user 1 active in 3 weeks (two events in week 0 must count once);
    // user 2 joins a week later; user 3 overlaps user 1's cohort
    val rows = Seq(
      (1L, 1L, at(1, 9), "v", 1.0), (2L, 1L, at(2, 9), "v", 1.0),
      (3L, 1L, at(9, 9), "v", 1.0), (4L, 1L, at(16, 9), "v", 1.0),
      (5L, 2L, at(9, 10), "v", 1.0), (6L, 2L, at(17, 9), "v", 1.0),
      (7L, 3L, at(3, 9), "v", 1.0))
    def wk(ts: Timestamp): Long = ts.getTime * 1000L / 604800000000L
    val byUser = rows.groupBy(_._2)
    val expect = byUser.toSeq.flatMap { case (_, evs) =>
      val c = evs.map(e => wk(e._3)).min
      evs.map(e => (c, wk(e._3) - c)).distinct
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = graft.SparkEntry.queries("a34_retention_cohorts")(
        spark, eventsDir(rows))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expect, s"got $got want $expect")
    // structural pins independent of the epoch-week offset
    assert(got.values.sum == 6L) // 7 events, one same-week duplicate
    assert(got.keys.map(_._1).toSeq.distinct.size == 2) // two cohorts
  }

  // ---------------------------------------------------- t_readability

  test("t_readability: hand-traced Flesch counts; wordless docs drop") {
    val rows = Seq(
      // words {The,cat,sat,It,ran}=5, vowel runs {e,a,a,I,a}=5,
      // sentence runs {., !}=2
      (1L, "The cat sat. It ran!", "en", 20L),
      (2L, "12345 67 89", "en", 11L)) // no [A-Za-z] word -> filtered out
    val got = graft.SparkEntry.queries("t_readability")(spark, docsDir(rows))
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val flesch = 206835L - (1015L * 5L) / 2L - (84600L * 5L) / 5L
    assert(got == Map(1L -> ((5L, 5L, 2L, flesch))), got)
  }
}
