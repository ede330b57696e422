package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}

/** Order-insensitive result fingerprint: row count plus the sum of a
  * 64-bit hash of every row. */
final case class Fingerprint(rows: Long, hashSum: BigDecimal) {
  override def toString: String = s"$rows\t$hashSum"
}

object Fingerprint {
  private def aggs(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.columns.toIndexedSeq.map(df.col): _*).cast("decimal(38,0)")
    Seq(count(lit(1)).as("rows"), coalesce(sum(h), lit(BigDecimal(0))).as("hash_sum"))
  }

  def of(df: DataFrame): Fingerprint = {
    val r = df.agg(aggs(df).head, aggs(df).tail: _*).collect()(0)
    Fingerprint(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** The fingerprint of `df`, observed on the side while `df` runs into a
    * noop sink: the plan the timed operations run, plus a metrics node at
    * its root. */
  def ofNoopWrite(df: DataFrame): Fingerprint = {
    val ob = Observation("fingerprint")
    val a = aggs(df)
    df.observe(ob, a.head, a.tail: _*).write.format("noop").mode("overwrite").save()
    val m = ob.get
    Fingerprint(m("rows").asInstanceOf[Long],
      BigDecimal(m("hash_sum").asInstanceOf[java.math.BigDecimal]))
  }

  /** `name<TAB>rows<TAB>hashSum` lines, as `RecordFingerprints` writes them. */
  def load(path: Path): Map[String, Fingerprint] =
    Files.readAllLines(path, UTF_8).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> Fingerprint(a(1).toLong, BigDecimal(a(2)))).toMap
}

/** Many runs of the registry's sub-second queries at sf0.01, in a seeded
  * order, each in its bench form into a noop sink. The per-query driver
  * floor (analysis, planning, job scheduling, time outside jobs)
  * dominates here, so a driver-side change shows and a kernel change
  * barely does. */
final class LightSweep(spark: SparkSession, seed: Long, data: Path) extends Workload {
  private val sfDir = data.resolve("sf0.01").toString
  private val expected = Fingerprint.load(data.resolve("fingerprints.tsv"))
  private var order: IndexedSeq[String] = _
  private var wrong: Set[String] = Set.empty

  override def roundSize: Int = LightSweep.Queries.length

  override def generate(dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve("order.txt"), LightSweep.order(seed).asJava, UTF_8)
  }

  override def prepare(dir: Path): (Int, Int) = {
    order = Files.readAllLines(dir.resolve("order.txt"), UTF_8).asScala.toIndexedSeq
    Tables.registerAll(spark, sfDir)
    graft.functions.TextFns.registerAll(spark)
    // Untimed warm-up: one execution of each query in its timed form,
    // fingerprinted on the side.
    wrong = LightSweep.Queries.filterNot { q =>
      val got = Fingerprint.ofNoopWrite(LightSweep.build(spark, q, sfDir))
      cleanup(-1)
      val ok = expected.get(q).contains(got)
      if (!ok) System.err.println(s"[perfbench] $q fingerprint $got != ${expected.get(q)}")
      ok
    }.toSet
    (LightSweep.Queries.length, wrong.size)
  }

  override def op(i: Int, tr: Tracer): OpResult = {
    val q = order(i % order.length)
    val df = tr.span("query.build")(LightSweep.build(spark, q, sfDir))
    // A DataFrame is analysed when it is built, before the listener sees
    // any action, so the build's own tracker reports that phase.
    if (tr.active) df.queryExecution.tracker.phases.get("analysis")
      .foreach(p => tr.counters.add("catalyst.analysis_ms", p.durationMs))
    tr.span("query.exec")(noop(df))
    OpResult(!wrong(q), 1, q, if (wrong(q)) "fingerprint mismatch at warm-up" else "")
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // Queries pin their checkpoints until the next op; release them between
  // operations, outside the timing.
  override def cleanup(i: Int): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
}

object LightSweep {
  val Queries: IndexedSeq[String] = IndexedSeq(
    "a4_sum", "j1_inner_equi", "j5_semi", "w1_row_number", "a15_rollup",
    "t_lang_id", "a8_corpus_wer", "dedup_exact")
  val Passes = 200

  /** A run's query sequence: one seeded shuffle of the set per pass,
    * enough passes for any run length. */
  def order(seed: Long): IndexedSeq[String] = {
    val rnd = new Random(seed)
    (0 until Passes).flatMap(_ => rnd.shuffle(Queries))
  }

  /** A query in the form the bench times: its bench variant when it has
    * one, with the oracle-only root sort stripped. */
  def build(spark: SparkSession, q: String, sfDir: String): DataFrame =
    org.apache.spark.sql.GraftBenchShim.stripRootSort(
      SparkEntry.benchVariants.getOrElse(q, SparkEntry.queries(q))(spark, sfDir))
}
