package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.Checkpoints.CheckpointSyntax

/** Pins the checkpoint-mode contract: both modes truncate lineage (the
  * plan the iterative family depends on — without truncation each
  * round's DAG nests the previous round's), `reliable` writes recoverable
  * files under the SparkContext's checkpoint directory, and
  * misconfiguration fails loudly instead of silently running
  * non-durable. */
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

  private def anyFile(p: java.io.File): Boolean = {
    val kids = Option(p.listFiles()).getOrElse(Array.empty)
    kids.exists(_.isFile) || kids.exists(anyFile)
  }

  test("local mode (default) truncates lineage eagerly") {
    spark.conf.unset(Checkpoints.ModeKey)
    val out = df.checkpointed()
    assert(truncated(out), out.queryExecution.analyzed.toString)
    assert(out.agg(sum("y")).head().getLong(0) == 10100L)
    out.unpersist()
  }

  test("reliable mode without a durable dir fails loudly") {
    val e = TestSpark.reliableWithoutDir(intercept[IllegalArgumentException](df.checkpointed()))
    assert(e.getMessage.contains("spark.checkpoint.dir"), e.getMessage)
    assert(e.getMessage.contains("setCheckpointDir"), e.getMessage)
  }

  test("reliable mode truncates lineage and persists under the durable dir") {
    TestSpark.reliable { dir =>
      val out = df.checkpointed()
      assert(truncated(out), out.queryExecution.analyzed.toString)
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
      sibling.conf.set(Checkpoints.ModeKey, "reliable")
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

  test("unknown mode fails loudly") {
    spark.conf.set(Checkpoints.ModeKey, "bogus")
    try {
      val e = intercept[IllegalArgumentException](df.checkpointed())
      assert(e.getMessage.contains("bogus"))
    } finally spark.conf.unset(Checkpoints.ModeKey)
  }

  test("an iterative operator runs end-to-end in reliable mode") {
    // The mode must flip the whole library through one conf: run a real
    // member of the iterative family (connected components — star
    // rounds checkpoint each round) under reliable mode and check the
    // result is the same as local mode's.
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 5L))
      .toDF("a", "b")
    val local = operators.GraphOps.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    val rel = TestSpark.reliable { _ =>
      operators.GraphOps.connectedComponents(edges, "a", "b")
        .as[(Long, Long)].collect().toMap
    }
    assert(rel == local, s"reliable $rel != local $local")
  }
}
