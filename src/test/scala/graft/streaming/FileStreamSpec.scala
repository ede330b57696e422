package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

class FileStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("AvailableNow file stage processes current files then terminates; re-run is incremental") {
    val sfDir = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    // the file-stream source needs a DIRECTORY; testdata ships single files
    val src = Files.createTempDirectory("graft_stream_src")
    Files.copy(java.nio.file.Paths.get(sfDir, "orders.parquet"),
      src.resolve("orders.parquet"))
    val schema = Tables.load(spark, sfDir, "orders").schema

    FileStream.runStageAvailableNow(spark, src.toString, schema,
      df => df.filter(col("o_totalprice") > 100000)
        .select("o_orderkey", "o_totalprice"),
      out, ckpt)
    val n1 = spark.read.parquet(out).count()
    val expected = Tables.load(spark, sfDir, "orders")
      .filter(col("o_totalprice") > 100000).count()
    assert(n1 == expected && n1 > 0)

    // second run: checkpoint already covers every input file -> no new rows
    FileStream.runStageAvailableNow(spark, src.toString, schema,
      df => df.filter(col("o_totalprice") > 100000)
        .select("o_orderkey", "o_totalprice"),
      out, ckpt)
    assert(spark.read.parquet(out).count() == n1)
  }

  test("streamingExactDedup: first occurrence kept across micro-batches, canonical-form match") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val docs = mem.toDS().toDF("text", "ts")
    val q = FileStream.streamingExactDedup(docs, "text", "ts", "10 minutes")
      .select("text")
      .writeStream.format("memory").queryName("sdedup_out")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
      mem.addData(("hello world", t0), ("  Hello   WORLD ", t0)) // same canonical form
      q.processAllAvailable()
      assert(spark.table("sdedup_out").count() == 1)
      mem.addData(("hello world", t0), ("fresh doc", t0)) // dup across batches + new
      q.processAllAvailable()
      val texts = spark.table("sdedup_out").as[String].collect().sorted
      assert(texts.toSeq == Seq("fresh doc", "hello world"))
      // Eviction: advance the watermark well past t0 + the 10-minute
      // horizon, then re-send the original. Its state has aged out, so
      // the late duplicate is re-emitted — bounded state is the contract
      // that keeps this viable on an unbounded stream.
      val t1 = java.sql.Timestamp.valueOf("2026-01-01 12:00:00")
      mem.addData(("advance the clock", t1))
      q.processAllAvailable()
      mem.addData(("hello world", t1))
      q.processAllAvailable()
      val hellos = spark.table("sdedup_out").as[String].collect()
        .count(_ == "hello world")
      assert(hellos == 2, "duplicate arriving after state eviction must re-emit")
    } finally q.stop()
  }

  test("streamingSignatureDedup: token-level variants collapse; signature matches the batch form") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val docs = mem.toDS().toDF("text", "ts")
    val q = FileStream.streamingSignatureDedup(docs, "text", "ts", "10 minutes")
      .select("text", "minhash_sig")
      .writeStream.format("memory").queryName("sigdedup_out")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
      mem.addData(
        ("Hello, World! This is a test document", t0),
        ("hello WORLD -- this is: a TEST document?!", t0), // same token stream
        ("completely different content sits here instead", t0))
      q.processAllAvailable()
      assert(spark.table("sigdedup_out").count() == 2,
        "punctuation/case variants share every token 3-gram and must collapse")
      mem.addData(("HELLO world (this is a test document)", t0)) // dup across batches
      q.processAllAvailable()
      assert(spark.table("sigdedup_out").count() == 2)
      // batch parity: the streaming minhash_sig IS md5 of the batch
      // minHashSignatures lane concat — backfill and stream agree
      val kept = spark.table("sigdedup_out")
        .select("text", "minhash_sig").as[(String, String)].collect().toMap
      val batch = graft.operators.DedupOps
        .minHashSignatures(kept.keys.toSeq.toDF("text")
          .withColumn("doc_id", col("text")), "doc_id", "text",
          shingleK = 3, numHashes = 8)
      val batchSigs = batch.select(col("doc_id"),
          md5(concat_ws(",", (0 until 8).map(i => col(s"mh$i")): _*)).as("sig"))
        .as[(String, String)].collect().toMap
      assert(batchSigs == kept, "streaming and batch signatures diverge")
    } finally q.stop()
  }

  test("gopher gate streams stateless: verdicts match the batch operator row-for-row") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    graft.functions.TextFns.registerAll(spark)
    // mixed corpus: a keepable doc, a too-short doc, a dup-line doc.
    // The keepable doc needs >= 30 words, mean word length in [3, 5],
    // and no dominant bigram — 10 distinct 3-letter words cycled 4x.
    val ws = Seq("cat", "dog", "fox", "owl", "bee", "ant", "elk", "hen", "ram", "sow")
    val good = (0 until 40).map(i => ws(i % 10)).mkString(" ")
    val docs = Seq(
      (1L, good),
      (2L, "too short"),
      (3L, good + "\nrepeat line\nrepeat line\nrepeat line"))
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDS().toDF("doc_id", "text")
    // the gate is a pure projection: no watermark, no state, append mode
    val q = graft.operators.CorpusOps.gopherGate(stream, "doc_id", "text")
      .writeStream.format("memory").queryName("gate_out")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(2): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("gate_out")
        .select("doc_id", "fail_mask", "keep")
        .as[(Long, Int, Boolean)].collect()
        .map { case (k, m, b) => k -> ((m, b)) }.toMap
      val batch = graft.operators.CorpusOps
        .gopherGate(docs.toDF("doc_id", "text"), "doc_id", "text")
        .select("doc_id", "fail_mask", "keep")
        .as[(Long, Int, Boolean)].collect()
        .map { case (k, m, b) => k -> ((m, b)) }.toMap
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(batch(1L)._2, "the 40-word doc must pass")
      assert((batch(2L)._1 & 1) != 0, "the short doc must fail the word-count band")
      assert((batch(3L)._1 & 4) != 0, "the dup-line doc must fail the dup cap")
    } finally q.stop()
  }

  test("streaming sessionization: a session is emitted closed once the watermark passes its gap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, Double)]
    val events = mem.toDS().toDF("user", "ts", "value")
    val q = FileStream.sessionizedEventStats(events, "ts", "user", "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      def ts(m: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $m:00")
      // two events 10 min apart -> one session; then an event far enough
      // ahead to push the watermark past session_end + gap
      mem.addData(("u1", ts("10:00"), 1.0), ("u1", ts("10:10"), 2.0))
      q.processAllAvailable()
      mem.addData(("u1", ts("12:00"), 5.0))
      q.processAllAvailable()
      mem.addData(("u1", ts("14:00"), 0.0)) // advance watermark again
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .select("user", "n_events", "sum_value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains(("u1", 2L, 3.0)), s"closed first session missing from $rows")
      assert(rows.contains(("u1", 1L, 5.0)), s"closed second session missing from $rows")
    } finally q.stop()
  }

  test("stream-static scoring: watermark-closed docs score exactly like the batch plan") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    graft.functions.TextFns.registerAll(spark)
    def ts(m: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $m:00")
    val corpus = Seq(
      (1L, ts("10:00"), "the quick brown fox jumps over the lazy dog"),
      (2L, ts("10:05"), "the quick dog naps near the quiet door"),
      (3L, ts("10:10"), "zebra xylophone quartz"))
    // model trained in batch over the same corpus (term -> count, total)
    val corpusDf = corpus.toDF("doc_id", "ts", "text")
    val cnt = corpusDf.select(
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.expr("tf_map(ascii_alpha_tokens(text, 3))"))
          .as(Seq("term", "tf")))
      .groupBy("term").agg(
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("tf").cast("long")).as("cnt"))
    val totalMass = cnt.agg(org.apache.spark.sql.functions.sum("cnt"))
      .collect()(0).getLong(0)
    // batch reference: the SAME function over a bounded DataFrame
    val expected = FileStream.streamScoreQuality(
        corpusDf, cnt, totalMass, "text", "doc_id", "ts", "10 minutes")
      .select("doc_id", "dl", "nll_fp", "nll_per_tok_fp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = FileStream.streamScoreQuality(
        mem.toDS().toDF("doc_id", "ts", "text"), cnt, totalMass,
        "text", "doc_id", "ts", "10 minutes")
      .writeStream.format("memory").queryName("score_out")
      .outputMode("append").start()
    try {
      mem.addData(corpus: _*)
      q.processAllAvailable()
      mem.addData((99L, ts("12:00"), "the the the")) // advance watermark
      q.processAllAvailable()
      val got = spark.table("score_out")
        .select("doc_id", "dl", "nll_fp", "nll_per_tok_fp")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == expected,
        s"stream scores diverge from batch:\n  stream: $got\n  batch:  $expected")
      // direction: the rare-term doc must score strictly worse per token
      val perTok = got.map(r => r._1 -> r._4).toMap
      assert(perTok(3L) > perTok(1L) && perTok(3L) > perTok(2L),
        s"rare-term doc not the worst-scoring: $perTok")
    } finally q.stop()
  }

  /** Streams two batches into a fresh 8-bucket base holding keys 1 and 2
    * and returns the final base as k -> v: batch 1 updates k=2 twice (seq
    * 1 then 2, so "b2" wins) and inserts k=3, batch 2 updates k=1. */
  private def twoBatchUpsert(): Map[Int, String] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("supsert").toString
    val base = s"$root/base"
    FileStream.writeBucketedBase(
      Seq((1, "a", 0L), (2, "b", 0L)).toDF("k", "v", "seq"),
      base, Seq("k"), nBuckets = 8)
    val mem = MemoryStream[(Int, String, Long)]
    val q = FileStream.streamingUpsert(
      mem.toDS().toDF("k", "v", "seq"), base, Seq("k"), Seq("v", "seq"),
      orderCol = "seq", checkpoint = s"$root/ckpt", nBuckets = 8)
    try {
      mem.addData((2, "b1", 1L), (2, "b2", 2L), (3, "c", 1L))
      q.processAllAvailable()
      mem.addData((1, "a9", 3L))
      q.processAllAvailable()
      spark.read.parquet(base).select("k", "v").as[(Int, String)].collect().toMap
    } finally q.stop()
  }

  test("streaming upsert: micro-batches merge into the bucketed parquet base, last writer wins") {
    assert(twoBatchUpsert() == Map(1 -> "a9", 2 -> "b2", 3 -> "c"))
  }

  test("streaming upsert: reliable checkpoints give the same final base as local ones") {
    val local = twoBatchUpsert()
    assert(TestSpark.reliable(_ => twoBatchUpsert()) == local)
  }

  /** path -> (size, MD5) of every visible parquet file under `base`. */
  private def snapshot(base: String): Map[String, (Long, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(base))
      .filter(f => f.getName.endsWith(".parquet") && !f.getPath.contains("/."))
      .map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        f.getPath -> (f.length(), md.map("%02x".format(_)).mkString)
      }.toMap
  }

  /** A base of 400 keys (`v<k>`, seq 0) spread over all 8 buckets, at
    * `root/base` under a fresh temp root; returns (root, base). */
  private def base400(prefix: String): (String, String) = {
    import spark.implicits._
    val root = Files.createTempDirectory(prefix).toString
    val base = s"$root/base"
    FileStream.writeBucketedBase(
      (1 to 400).map(k => (k, s"v$k", 0L)).toDF("k", "v", "seq"),
      base, Seq("k"), nBuckets = 8)
    (root, base)
  }

  /** Streams one batch setting key 7 to "updated" into `base`. */
  private def updateKey7(root: String, base: String, nB: Int): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Int, String, Long)]
    val q = FileStream.streamingUpsert(
      mem.toDS().toDF("k", "v", "seq"), base, Seq("k"), Seq("v", "seq"),
      orderCol = "seq", checkpoint = s"$root/ckpt", nBuckets = nB)
    try {
      mem.addData((7, "updated", 1L)) // single key -> single bucket
      q.processAllAvailable()
    } finally q.stop()
  }

  test("streaming upsert: a batch touching 1 of N buckets rewrites ONLY that bucket's directory") {
    import spark.implicits._
    val nB = 8
    val (root, base) = base400("supsert_pruned")
    val before = snapshot(base)
    val touchedBucket = spark.range(1).select(
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(org.apache.spark.sql.functions.lit(7)),
        org.apache.spark.sql.functions.lit(nB))).collect()(0).getInt(0)

    updateKey7(root, base, nB)
    val after = snapshot(base)

    // every file OUTSIDE the touched bucket is byte-identical and still present
    val untouchedBefore = before.filterNot(_._1.contains(s"/gbucket=$touchedBucket/"))
    val untouchedAfter = after.filterNot(_._1.contains(s"/gbucket=$touchedBucket/"))
    assert(untouchedBefore == untouchedAfter,
      "untouched bucket directories must be byte-identical after the batch")
    // the touched bucket WAS rewritten (different file set or bytes)
    assert(before.view.filterKeys(_.contains(s"/gbucket=$touchedBucket/")).toMap !=
      after.view.filterKeys(_.contains(s"/gbucket=$touchedBucket/")).toMap,
      "touched bucket must have been rewritten")
    // and the merge is correct
    val rows = spark.read.parquet(base).select("k", "v").as[(Int, String)].collect().toMap
    assert(rows(7) == "updated" && rows.size == 400 && rows(8) == "v8")
  }

  test("streaming upsert: a micro-batch starts no process") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val (root, base) = base400("supsert_forks")
    val mem = MemoryStream[(Int, String, Long)]
    val q = FileStream.streamingUpsert(
      mem.toDS().toDF("k", "v", "seq"), base, Seq("k"), Seq("v", "seq"),
      orderCol = "seq", checkpoint = s"$root/ckpt", nBuckets = 8)
    // the batch writes its offset and commit logs (FileContext renames),
    // the merged buckets under `.base.next` and swaps them into the base
    val starts = try graft.io.ProcessStarts.during {
      mem.addData((7, "updated", 1L), (401, "new", 1L))
      q.processAllAvailable()
    }._2 finally q.stop()
    assert(starts.isEmpty, starts)
    assert(Files.exists(java.nio.file.Paths.get(root, "ckpt", "commits", "0")))
    val rows = spark.read.parquet(base).select("k", "v").as[(Int, String)].collect().toMap
    assert(rows.size == 401 && rows(7) == "updated" && rows(401) == "new")
  }

  /** Bucket of each Int key under `FileStream.bucketExpr`. */
  private def bucketsOf(keys: Seq[Int], nB: Int): Map[Int, Int] = {
    import spark.implicits._
    keys.toDF("k").select(col("k"), FileStream.bucketExpr(Seq("k"), nB))
      .as[(Int, Int)].collect().toMap
  }

  test("streaming upsert: a bucket left parked at its backup by a crashed swap is restored, not lost") {
    import spark.implicits._
    val nB = 8
    val (root, base) = base400("supsert_crash")
    // The state a crash leaves between the swap's park and move steps:
    // key 7's bucket, and one the next batch does not touch, sit only at
    // their hidden backups.
    val b = bucketsOf(Seq(7), nB)(7)
    for (p <- Seq(b, (b + 1) % nB))
      Files.move(java.nio.file.Paths.get(base, s"gbucket=$p"),
        java.nio.file.Paths.get(base, s".gbucket=$p.old"))
    updateKey7(root, base, nB)
    val rows = spark.read.parquet(base).select("k", "v").as[(Int, String)].collect()
    val n = rows.length
    assert(n == 400, "rows of the parked bucket were lost")
    val byKey = rows.toMap
    assert(byKey.size == 400 && byKey(7) == "updated" && byKey(8) == "v8")
  }

  test("streaming upsert: a base written with 8 buckets refuses an upsert with 16") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val (root, base) = base400("supsert_nbuckets")
    // A key whose bucket under 16 does not exist under 8: unchecked, its
    // update would land beside the stored row instead of replacing it.
    val k = bucketsOf(1 to 400, 16).collectFirst { case (k, b) if b >= 8 => k }.get
    val mem = MemoryStream[(Int, String, Long)]
    mem.addData((k, "updated", 1L))
    val err = intercept[IllegalArgumentException] {
      val q = FileStream.streamingUpsert(
        mem.toDS().toDF("k", "v", "seq"), base, Seq("k"), Seq("v", "seq"),
        orderCol = "seq", checkpoint = s"$root/ckpt", nBuckets = 16)
      try q.processAllAvailable() finally q.stop()
    }
    assert(err.getMessage.contains("nBuckets = 8") && err.getMessage.contains("nBuckets = 16"),
      err.getMessage)
    val rows = spark.read.parquet(base).select("k", "v").as[(Int, String)].collect().toMap
    assert(rows.size == 400 && rows(k) == s"v$k")
    // with the recorded count gone, the count cannot be checked: refused too
    Files.delete(java.nio.file.Paths.get(base, FileStream.BucketCountFile))
    val noCount = intercept[IllegalArgumentException](FileStream.streamingUpsert(
      mem.toDS().toDF("k", "v", "seq"), base, Seq("k"), Seq("v", "seq"),
      orderCol = "seq", checkpoint = s"$root/ckpt", nBuckets = 8))
    assert(noCount.getMessage.contains(FileStream.BucketCountFile), noCount.getMessage)
  }

  test("streaming upsert: a batch whose keys hash only to buckets absent from the base inserts them") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("supsert_newbuckets").toString
    val base = s"$root/base"
    val nB = 8
    val bucket = bucketsOf(1 to 1000, nB)
    val baseKeys = (1 to 400).filter(bucket(_) < 4)
    val newKeys = (401 to 1000).filter(bucket(_) >= 4).take(5)
    FileStream.writeBucketedBase(
      baseKeys.map(k => (k, s"v$k", 0L)).toDF("k", "v", "seq"),
      base, Seq("k"), nBuckets = nB)
    val before = snapshot(base)
    val mem = MemoryStream[(Int, String, Long)]
    val q = FileStream.streamingUpsert(
      mem.toDS().toDF("k", "v", "seq"), base, Seq("k"), Seq("v", "seq"),
      orderCol = "seq", checkpoint = s"$root/ckpt", nBuckets = nB)
    try {
      mem.addData(newKeys.map(k => (k, s"new$k", 1L)): _*)
      q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.toString)
    } finally q.stop()
    val after = snapshot(base)
    assert(after.view.filterKeys(before.contains).toMap == before,
      "the base's existing files must be byte-identical after the batch")
    val rows = spark.read.parquet(base).select("k", "v", "gbucket")
      .as[(Int, String, Int)].collect()
    assert(rows.length == baseKeys.size + newKeys.size)
    val inserted = rows.filter(r => newKeys.contains(r._1)).toSet
    assert(inserted == newKeys.map(k => (k, s"new$k", bucket(k))).toSet)
    assert(rows.filterNot(r => newKeys.contains(r._1)).toSet ==
      baseKeys.map(k => (k, s"v$k", bucket(k))).toSet)
  }

  test("streaming upsert: a one-key batch on a 64-bucket base runs no stage as wide as the base") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("supsert_listing").toString
    val base = s"$root/base"
    // above spark.sql.sources.parallelPartitionDiscovery.threshold (32):
    // a listing of the whole base would run as one task per bucket
    val nB = 64
    FileStream.writeBucketedBase(
      (1 to 640).map(k => (k, s"v$k", 0L)).toDF("k", "v", "seq"),
      base, Seq("k"), nBuckets = nB)
    val mem = MemoryStream[(Int, String, Long)]
    val q = FileStream.streamingUpsert(
      mem.toDS().toDF("k", "v", "seq"), base, Seq("k"), Seq("v", "seq"),
      orderCol = "seq", checkpoint = s"$root/ckpt", nBuckets = nB)
    val seen = graft.obs.Tally.of(spark) {
      try {
        mem.addData((7, "updated", 1L))
        q.processAllAvailable()
      } finally q.stop()
    }._2.stages.map(_.tasks)
    assert(seen.size > 1, s"the batch ran no stages: $seen")
    assert(seen.forall(_ < nB), s"a stage as wide as the base ran: task counts $seen")
    val rows = spark.read.parquet(base).select("k", "v").as[(Int, String)].collect().toMap
    assert(rows.size == 640 && rows(7) == "updated")
  }

  test("streaming upsert + compaction: accreted small files compact back to the target bound, layout intact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("supsert_compact").toString
    val base = s"$root/base"
    val nB = 4
    FileStream.writeBucketedBase(
      (1 to 200).map(k => (k, s"v$k", 0L)).toDF("k", "v", "seq"),
      base, Seq("k"), nBuckets = nB)
    val mem = MemoryStream[(Int, String, Long)]
    val q = FileStream.streamingUpsert(
      mem.toDS().toDF("k", "v", "seq"), base, Seq("k"), Seq("v", "seq"),
      orderCol = "seq", checkpoint = s"$root/ckpt", nBuckets = nB)
    try {
      // several batches, each touching many buckets -> small files accrete
      for (b <- 1 to 4) {
        mem.addData((1 to 40).map(k => (200 + b * 100 + k, s"new$b-$k", b.toLong)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val rowsBefore = spark.read.parquet(base).count()
    assert(rowsBefore == 200 + 4 * 40)
    // compact: per-leaf parquet files must land at ceil(bytes/target) = 1
    // per bucket here (tiny data), with layout and rows preserved
    val filesAfter = graft.io.IoOps.compactParquet(spark, base, targetBytes = 64L << 20)
    assert(filesAfter == nB, s"expected 1 file per bucket, got $filesAfter")
    val back = spark.read.parquet(base)
    assert(back.count() == rowsBefore)
    assert(back.columns.toSet == Set("k", "v", "seq", "gbucket"))
    // bucket dirs intact -> partition pruning still applies
    val dirs = new java.io.File(base).listFiles
      .filter(f => f.isDirectory && !f.getName.startsWith(".")).map(_.getName).sorted
    assert(dirs.toSeq == (0 until nB).map(b => s"gbucket=$b"))
  }

  test("streaming CMS grid: running counters converge to the batch grid over the union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val q = graft.operators.CmsOps.cmsBuild(
        mem.toDS().toDF("term", "cnt"), "term", "cnt", d = 3, w = 32)
      .writeStream.format("memory").queryName("scms_out")
      .outputMode("complete").start()
    try {
      val b1 = Seq(("the", 3L), ("of", 1L), ("la", 2L))
      val b2 = Seq(("the", 2L), ("und", 5L))
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getAs[Long]("counter")).toMap
      val streamed = cells(spark.table("scms_out"))
      val batch = cells(graft.operators.CmsOps.cmsBuild(
        (b1 ++ b2).toDF("term", "cnt"), "term", "cnt", 3, 32))
      assert(streamed == batch,
        s"streamed grid diverged from batch grid:\n$streamed\nvs\n$batch")
      // the state IS the grid: never more than d*w rows
      assert(streamed.size <= 3 * 32)
    } finally q.stop()
  }

  test("streaming HLL registers: running state converges to the batch registers and estimate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val q = graft.operators.SketchOps.hllRegisters(
        mem.toDS().toDF("g", "v"), Seq("g"), col("v"))
      .writeStream.format("memory").queryName("shll_out")
      .outputMode("complete").start()
    try {
      val b1 = (1L to 400L).map(i => ("a", i * 7919L)) ++ Seq(("b", 5L))
      val b2 = (200L to 600L).map(i => ("a", i * 7919L)) // overlaps b1: dup-blind
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      def regs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Int]("rho")).toMap
      val streamed = spark.table("shll_out")
      val batch = graft.operators.SketchOps.hllRegisters(
        (b1 ++ b2).toDF("g", "v"), Seq("g"), col("v"))
      assert(regs(streamed) == regs(batch), "streamed registers diverged from batch")
      // state is the register table: bounded by m per group
      assert(streamed.count() <= 2L * graft.operators.SketchOps.hllM)
      // the fold over the final state gives the same estimate as batch
      val se = graft.operators.SketchOps.hllEstimate(streamed, Seq("g"))
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      val be = graft.operators.SketchOps.hllEstimate(batch, Seq("g"))
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(se == be)
      assert(math.abs(se("a") - 600L) < 120L, s"estimate sanity: ${se("a")}")
    } finally q.stop()
  }

  test("windowed event counts with watermark (batch-mode semantics check)") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val agg = FileStream.windowedEventCounts(ev, "ts", "event_type", "1 hour", "10 minutes")
    // over a static frame, windowed counts must total the row count
    val total = agg.agg(sum("n")).collect()(0).getLong(0)
    assert(total == ev.count())
  }

  test("stream-stream interval join: purchases attribute to in-horizon views only") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val views = MemoryStream[(Long, java.sql.Timestamp, String)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = FileStream.intervalJoin(
      purchases.toDS().toDF("user_id", "pts", "amount"),
      views.toDS().toDF("user_id", "vts", "page"),
      "user_id", "pts", "vts",
      horizon = "30 minutes", watermarkDelay = "10 minutes")
    val q = joined.select("user_id", "amount", "page")
      .writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    try {
      views.addData(
        (1L, ts("2026-01-01 10:00:00"), "in_horizon"),
        (1L, ts("2026-01-01 09:00:00"), "too_old"),
        (2L, ts("2026-01-01 10:05:00"), "no_purchase"))
      purchases.addData(
        (1L, ts("2026-01-01 10:10:00"), 42.0),
        (3L, ts("2026-01-01 10:00:00"), 7.0)) // no views: inner join drops
      q.processAllAvailable()
      val got = spark.table("ssjoin_out")
        .as[(Long, Double, String)].collect().toSet
      assert(got == Set((1L, 42.0, "in_horizon")))
      // a view arriving in a later micro-batch still joins a buffered
      // purchase while the watermark allows it
      views.addData((1L, ts("2026-01-01 10:09:00"), "late_batch_view"))
      q.processAllAvailable()
      val got2 = spark.table("ssjoin_out")
        .as[(Long, Double, String)].collect().toSet
      assert(got2 == Set((1L, 42.0, "in_horizon"), (1L, 42.0, "late_batch_view")))
    } finally q.stop()
  }
}
