package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import graft.streaming.FileStream

/** Seeded book-metadata change stream: a base snapshot, then batches that
  * update existing books (skewed toward the recently updated ones) and add
  * new ones. All activity lands in a few hash buckets, so the others must
  * come through the stream byte-for-byte untouched. */
final class CdcGen(seed: Long) {
  import CdcGen._
  private val rnd = new Random(seed)
  private val active: Set[Int] = rnd.shuffle((0 until Buckets).toList).take(ActiveBuckets).toSet
  private var seq = 0L
  private var nextKey = 0L
  /** Expected base, last writer wins. */
  val state = mutable.LinkedHashMap[Long, Rec]()
  /** Keys of active buckets, most recently updated last. */
  private val recent = mutable.ArrayBuffer[Long]()

  private def rec(k: Long): Rec = {
    seq += 1
    Rec(k, s"Sách số $k", s"Tác giả ${rnd.nextInt(97)}", rnd.nextInt(2000) / 100.0,
      10000L + rnd.nextInt(90000), SampleRates(rnd.nextInt(SampleRates.length)),
      rnd.nextBoolean().toString, seq)
  }

  private def freshKey(activeOnly: Boolean): Long = {
    while (activeOnly && !active(bucket(nextKey))) nextKey += 1
    nextKey += 1
    nextKey - 1
  }

  def base(): Seq[Rec] = (0 until BaseRows).map { _ =>
    val r = rec(freshKey(activeOnly = false))
    state(r.book_id) = r
    if (active(bucket(r.book_id))) recent += r.book_id
    r
  }

  def batch(): Seq[Rec] = (0 until BatchRows).map { _ =>
    val k =
      if (rnd.nextDouble() < NewShare) freshKey(activeOnly = true)
      else recent(recent.length - 1 - (recent.length * math.pow(rnd.nextDouble(), 3)).toInt)
    val r = rec(k)
    state(k) = r
    recent -= k
    recent += k
    r
  }

  def untouchedBuckets: Set[Int] = (0 until Buckets).toSet -- active
}

object CdcGen {
  /** `FileStream.streamingUpsert`'s default bucket count. */
  val Buckets = 256
  /** Buckets the change stream writes to; the rest must stay untouched.
    * The benchmark's own choice, not the paper's: it leaves most buckets
    * for the untouched-bucket check and bounds a batch's rewrite. */
  val ActiveBuckets = 4
  /** The paper's catalog: 3,385 books with metadata
    * (`data/metadata/metadata_book.csv`, BASELINE.md). */
  val BaseRows = 3385
  /** The paper's downloaded books, 268 rows
    * (`data/metadata/after_download_metadata.csv`, BASELINE.md): the rows
    * one preprocessing run's catalog upsert rewrites. */
  val BatchRows = 268
  val NewShare = 0.2
  /** Untimed batches before the first timed one. */
  val WarmupBatches = 1
  val SampleRates: IndexedSeq[Int] = IndexedSeq(24000, 22050, 16000, 8000)

  final case class Rec(book_id: Long, name: String, author: String, duration_hours: Double,
      word_count: Long, sample_rate: Int, quality: String, seq: Long) {
    def json: String =
      s"""{"book_id":$book_id,"name":"$name","author":"$author","duration_hours":$duration_hours,""" +
        s""""word_count":$word_count,"sample_rate":$sample_rate,"quality":"$quality","seq":$seq}"""
  }

  val schema: StructType = StructType(Seq(
    StructField("book_id", LongType), StructField("name", StringType),
    StructField("author", StringType), StructField("duration_hours", DoubleType),
    StructField("word_count", LongType), StructField("sample_rate", IntegerType),
    StructField("quality", StringType), StructField("seq", LongType)))

  /** The upsert's bucket for a key: Spark's `hash` (Murmur3, seed 42) mod
    * the bucket count, as `FileStream.bucketExpr` defines it. */
  def bucket(k: Long): Int = Math.floorMod(Murmur3_x86_32.hashLong(k, 42), Buckets)
}

object CdcChecks {
  /** Mismatches between the base the stream left and the generator's
    * last-writer-wins state. */
  def state(expected: Map[Long, CdcGen.Rec], got: Seq[CdcGen.Rec]): Seq[String] = {
    val byKey = got.groupBy(_.book_id)
    val dup = byKey.collect { case (k, rs) if rs.length > 1 => s"key $k stored ${rs.length} times" }
    val missing = (expected.keySet -- byKey.keySet).take(5).map(k => s"key $k missing")
    val extra = (byKey.keySet -- expected.keySet).take(5).map(k => s"unexpected key $k")
    val diff = expected.collect {
      case (k, r) if byKey.get(k).exists(rs => rs.head != r) => s"key $k: ${byKey(k).head} != $r"
    }.take(5)
    (dup ++ missing ++ extra ++ diff).toSeq
  }

  /** Files whose presence or content changed in buckets nothing wrote to. */
  def untouched(before: Map[String, String], after: Map[String, String]): Seq[String] =
    (before.keySet ++ after.keySet).toSeq.sorted.filter(f => before.get(f) != after.get(f))
      .map(f => s"untouched bucket file changed: $f")
}

/** The catalog metadata upsert as a stream: each operation drops one
  * snapshot file into the source directory and waits for
  * `processAllAvailable`; every batch rewrites the buckets it touches. */
final class CdcStream(spark: SparkSession, seed: Long) extends Workload {
  import CdcGen._
  private var gen: CdcGen = _
  private var dir: Path = _
  private var query: StreamingQuery = _
  private var batchNo = 0
  private var untouchedBefore: Map[String, String] = Map.empty
  private val layer = mutable.Map[String, Double]().withDefaultValue(0.0)

  // A batch takes seconds; three give the percentiles a middle value.
  override def minOps: Int = 3

  private def basePath = dir.resolve("base")
  private def sourceDir = dir.resolve("source")

  override def generate(d: Path): Unit = {
    gen = new CdcGen(seed)
    Files.createDirectories(d)
    Files.write(d.resolve("base.jsonl"), gen.base().map(_.json).asJava, UTF_8)
  }

  override def prepare(d: Path): (Int, Int) = {
    dir = d
    val t0 = System.nanoTime()
    // Hash-partitioned by bucket, so the buckets are written in parallel and
    // each still from one task: one file per bucket, as from one writer.
    val base = spark.read.schema(schema).json(d.resolve("base.jsonl").toString)
    FileStream.writeBucketedBase(
      base.repartition(spark.sparkContext.defaultParallelism, FileStream.bucketExpr(Seq("book_id"), Buckets)),
      basePath.toString, Seq("book_id"), Buckets)
    untouchedBefore = bucketFiles(gen.untouchedBuckets, withDigest = true)
    val baseS = (System.nanoTime() - t0) / 1e9
    Files.createDirectories(sourceDir)
    query = FileStream.streamingUpsert(
      spark.readStream.schema(schema).json(sourceDir.toString), basePath.toString,
      Seq("book_id"), schema.fieldNames.toSeq.tail, orderCol = "seq",
      checkpoint = dir.resolve("checkpoint").toString, nBuckets = Buckets)
    val warm = (1 to WarmupBatches).map(k => Main.time(op(-k, new Tracer(spark)))._2) // untimed
    System.err.println(f"[perfbench] cdc base $baseS%.2f s, warm-up batches ${warm.map(x => f"$x%.2f").mkString(" ")} s")
    (0, 0)
  }

  /** path -> md5 (or size) of the parquet files in the given buckets. */
  private def bucketFiles(buckets: Set[Int], withDigest: Boolean): Map[String, String] =
    buckets.toSeq.flatMap { b =>
      val d = basePath.resolve(s"${FileStream.BucketCol}=$b")
      if (!Files.isDirectory(d)) Nil
      else Files.list(d).iterator.asScala.filter(_.toString.endsWith(".parquet")).map { f =>
        f.toString -> (if (withDigest) java.security.MessageDigest.getInstance("MD5")
          .digest(Files.readAllBytes(f)).map(b => f"${b & 0xff}%02x").mkString
        else Files.size(f).toString)
      }.toSeq
    }.toMap

  override def op(i: Int, tr: Tracer): OpResult = {
    val rows = gen.batch()
    val before = if (tr.active) bucketFiles((0 until Buckets).toSet, withDigest = false) else Map.empty
    batchNo += 1
    val bytes = tr.span("cdc.write_batch") {
      val staged = dir.resolve(s"staged-$batchNo.json")
      Files.write(staged, rows.map(_.json).asJava, UTF_8)
      val n = Files.size(staged)
      Files.move(staged, sourceDir.resolve(f"batch-$batchNo%06d.json"), StandardCopyOption.ATOMIC_MOVE)
      n
    }
    tr.span("stream.process")(query.processAllAvailable())
    if (tr.active) {
      val after = bucketFiles((0 until Buckets).toSet, withDigest = false)
      val fresh = after.keySet -- before.keySet
      layer("cdc.buckets_touched") += fresh.map(f => java.nio.file.Paths.get(f).getParent).size
      layer("cdc.bytes_rewritten") += fresh.toSeq.map(after(_).toDouble).sum
      layer("cdc.update_bytes") += bytes
    }
    val err = query.exception.map(_.toString)
    OpResult(err.isEmpty, rows.length, "batch", err.getOrElse(""))
  }

  override def finish(): (Int, Int) = {
    query.stop()
    val base = spark.read.parquet(basePath.toString)
    val got = base.select(schema.fieldNames.toIndexedSeq.map(base.col): _*).collect().toSeq
      .map(r => Rec(r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3),
        r.getLong(4), r.getInt(5), r.getString(6), r.getLong(7)))
    val errs = CdcChecks.state(gen.state.toMap, got) ++
      CdcChecks.untouched(untouchedBefore, bucketFiles(gen.untouchedBuckets, withDigest = true))
    errs.foreach(e => System.err.println(s"[perfbench] cdc final state: $e"))
    (1, if (errs.isEmpty) 0 else 1)
  }

  override def layerMetrics(tr: Tracer, tracedOps: Int): Map[String, Double] =
    Map("cdc.buckets_touched" -> layer("cdc.buckets_touched"),
      "cdc.bytes_rewritten" -> layer("cdc.bytes_rewritten"),
      "cdc.write_amp" ->
        (if (layer("cdc.update_bytes") > 0) layer("cdc.bytes_rewritten") / layer("cdc.update_bytes") else 0.0))
}
