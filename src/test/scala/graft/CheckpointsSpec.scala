package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.ContextShim
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.Checkpoints.CheckpointSyntax

/** Pins the checkpoint contract: with and without a checkpoint directory
  * `cp` truncates lineage (the plan the iterative family depends on —
  * without truncation each round's DAG nests the previous round's);
  * without one nothing is written, and with one the cut is recoverable
  * files under the SparkContext's checkpoint directory. */
class CheckpointsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def df = {
    import spark.implicits._
    (1L to 100L).toDF("x").withColumn("y", col("x") * 2)
  }

  /** Lineage is truncated when the analyzed plan no longer contains the
    * original Range scan — both checkpoint flavors replace the subtree
    * with a scan of materialized blocks/files. */
  private def truncated(out: org.apache.spark.sql.DataFrame): Boolean =
    !out.queryExecution.analyzed.toString.contains("Range (")

  /** The materialized RDD a checkpointed frame scans. */
  private def cutRdd(out: org.apache.spark.sql.DataFrame): RDD[_] =
    out.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }
      .getOrElse(fail(out.queryExecution.analyzed.toString))

  private def anyFile(p: java.io.File): Boolean = {
    val kids = Option(p.listFiles()).getOrElse(Array.empty)
    kids.exists(_.isFile) || kids.exists(anyFile)
  }

  test("local mode (default) truncates lineage eagerly") {
    ContextShim.withoutCheckpointDir(spark.sparkContext) {
      val out = df.checkpointed()
      assert(truncated(out), out.queryExecution.analyzed.toString)
      // a local cut: materialized on the executors, no file written
      val rdd = cutRdd(out)
      assert(rdd.isCheckpointed && rdd.getCheckpointFile.isEmpty, rdd.toDebugString)
      assert(out.agg(sum("y")).head().getLong(0) == 10100L)
      out.unpersist()
    }
  }

  test("reliable mode truncates lineage and persists under the durable dir") {
    TestSpark.reliable { dir =>
      val out = df.checkpointed()
      assert(truncated(out), out.queryExecution.analyzed.toString)
      val file = cutRdd(out).getCheckpointFile
      val ckptDir = spark.sparkContext.getCheckpointDir.get
      assert(file.exists(_.startsWith(ckptDir)), s"$file is not under $ckptDir")
      // checked while `out` is still used below: the cleaner may delete
      // the files of a checkpoint whose RDD is unreachable
      assert(anyFile(new java.io.File(dir)), s"no checkpoint files written under $dir")
      assert(out.agg(sum("y")).head().getLong(0) == 10100L)
    }
  }

  test("cp in a sibling session never moves the SparkContext's checkpoint dir") {
    // The directory is context-global: a sibling session checkpoints
    // under the one the context has, and neither session re-points it.
    TestSpark.reliable { _ =>
      val sc = spark.sparkContext
      val resolved = sc.getCheckpointDir.get
      val sibling = spark.newSession()
      import sibling.implicits._
      val out = (1L to 10L).toDF("x").checkpointed()
      assert(sc.getCheckpointDir.get == resolved, "the sibling's cp() moved the dir")
      assert(anyFile(new java.io.File(new java.net.URI(resolved))),
        s"the sibling's checkpoint is not under $resolved")
      assert(out.agg(sum("x")).head().getLong(0) == 55L)
      df.checkpointed().count()
      assert(sc.getCheckpointDir.get == resolved, "the parent's cp() moved the dir")
    }
  }

  test("an iterative operator runs end-to-end in reliable mode") {
    // The directory must switch the whole library: run a real member of
    // the iterative family (connected components — star rounds
    // checkpoint each round) with one and check the result is the same
    // as without.
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 5L))
      .toDF("a", "b")
    val local = ContextShim.withoutCheckpointDir(spark.sparkContext) {
      operators.GraphOps.connectedComponents(edges, "a", "b")
        .as[(Long, Long)].collect().toMap
    }
    val rel = TestSpark.reliable { _ =>
      operators.GraphOps.connectedComponents(edges, "a", "b")
        .as[(Long, Long)].collect().toMap
    }
    assert(rel == local, s"reliable $rel != local $local")
  }
}
