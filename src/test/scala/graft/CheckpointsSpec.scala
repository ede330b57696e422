package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.ContextShim
import org.apache.spark.sql.functions._

import graft.Checkpoints.CheckpointSyntax

/** Pins the checkpoint-mode contract (r10 VERDICT item 2): both modes
  * truncate lineage (the plan the iterative family depends on — without
  * truncation each round's DAG nests the previous round's), `reliable`
  * writes recoverable files under the durable dir, and misconfiguration
  * fails loudly instead of silently running non-durable. */
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

  test("local mode (default) truncates lineage eagerly") {
    spark.conf.unset(Checkpoints.ModeKey)
    val out = df.checkpointed()
    assert(truncated(out), out.queryExecution.analyzed.toString)
    assert(out.agg(sum("y")).head.getLong(0) == 10100L)
    out.unpersist()
  }

  test("reliable mode without a durable dir fails loudly") {
    // A dir an earlier test set on the shared context is lifted for the
    // test, so the check holds whatever ran before.
    ContextShim.withoutCheckpointDir(spark.sparkContext) {
      spark.conf.set(Checkpoints.ModeKey, "reliable")
      try {
        val e = intercept[IllegalArgumentException](df.checkpointed())
        assert(e.getMessage.contains(Checkpoints.DirKey))
      } finally spark.conf.unset(Checkpoints.ModeKey)
    }
  }

  test("reliable mode truncates lineage and persists under the durable dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Checkpoints.ModeKey, "reliable")
    spark.conf.set(Checkpoints.DirKey, dir)
    try {
      val out = df.checkpointed()
      assert(truncated(out), out.queryExecution.analyzed.toString)
      assert(out.agg(sum("y")).head.getLong(0) == 10100L)
      // the durable artifact exists: checkpoint files under dir
      def anyFile(p: java.io.File): Boolean = {
        val kids = Option(p.listFiles()).getOrElse(Array.empty)
        kids.exists(_.isFile) || kids.exists(anyFile)
      }
      assert(anyFile(new java.io.File(dir)),
        s"no checkpoint files written under $dir")
    } finally {
      spark.conf.unset(Checkpoints.ModeKey)
      spark.conf.unset(Checkpoints.DirKey)
    }
  }

  test("an explicit DirKey wins over a stale pre-set SparkContext dir") {
    // r11 review: the old only-if-unset check silently dropped the
    // user's spark.graft.checkpoint.dir whenever anything earlier had
    // set a SparkContext checkpoint dir — reliable checkpoints then
    // landed on a possibly non-durable stale path. DirKey must
    // re-point; and repeated cp() calls must NOT mint a new UUID
    // subdir each time (the resolved-dir bookkeeping).
    val stale = java.nio.file.Files.createTempDirectory("graft-ckpt-stale").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft-ckpt-fresh").toString
    spark.sparkContext.setCheckpointDir(stale)
    spark.conf.set(Checkpoints.ModeKey, "reliable")
    spark.conf.set(Checkpoints.DirKey, fresh)
    try {
      df.checkpointed().count()
      val resolved1 = spark.sparkContext.getCheckpointDir.get
      assert(resolved1.contains(new java.io.File(fresh).getName),
        s"checkpoint dir $resolved1 not under configured $fresh")
      df.checkpointed().count()
      assert(spark.sparkContext.getCheckpointDir.get == resolved1,
        "second cp() minted a new UUID subdir")
      def anyFile(p: java.io.File): Boolean = {
        val kids = Option(p.listFiles()).getOrElse(Array.empty)
        kids.exists(_.isFile) || kids.exists(anyFile)
      }
      assert(anyFile(new java.io.File(fresh)), s"nothing written under $fresh")
    } finally {
      spark.conf.unset(Checkpoints.ModeKey)
      spark.conf.unset(Checkpoints.DirKey)
    }
  }

  test("a sibling session with the same DirKey reuses the resolved dir") {
    // ADVICE r11: the bookkeeping was session-conf while the checkpoint
    // dir is CONTEXT-global, so spark.newSession() saw empty
    // bookkeeping on its first cp() and minted a fresh UUID subdir even
    // with an identical DirKey. Context-scoped bookkeeping means the
    // sibling's first cp() must leave the resolved dir untouched.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-sib").toString
    spark.conf.set(Checkpoints.ModeKey, "reliable")
    spark.conf.set(Checkpoints.DirKey, dir)
    try {
      df.checkpointed().count()
      val resolved1 = spark.sparkContext.getCheckpointDir.get
      val sibling = spark.newSession()
      sibling.conf.set(Checkpoints.ModeKey, "reliable")
      sibling.conf.set(Checkpoints.DirKey, dir)
      import sibling.implicits._
      (1L to 10L).toDF("x").checkpointed().count()
      assert(sibling.sparkContext.getCheckpointDir.get == resolved1,
        "sibling session's first cp() minted a new UUID subdir for the " +
          "same DirKey")
    } finally {
      spark.conf.unset(Checkpoints.ModeKey)
      spark.conf.unset(Checkpoints.DirKey)
    }
  }

  test("conflicting DirKeys on one context warn loudly, once") {
    // r12 scope note made visible (r12 VERDICT item 5): two sessions
    // sharing one SparkContext with DIFFERENT DirKey values alternate
    // re-pointing the context-global checkpoint dir — each alternation
    // mints a fresh UUID subdir in the durable store. The thrash has no
    // silent resolution, so the first re-point must WARN (once per
    // context, not once per alternation — a thrashing pair would
    // otherwise bury the job log).
    val dirA = java.nio.file.Files.createTempDirectory("graft-ckpt-wa").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-ckpt-wb").toString
    spark.conf.set(Checkpoints.ModeKey, "reliable")
    spark.conf.set(Checkpoints.DirKey, dirA)
    try {
      df.checkpointed().count() // establish bookkeeping for dirA
      Checkpoints.resetRepointWarnLatch()
      val before = Checkpoints.repointWarns.get()
      val sibling = spark.newSession()
      sibling.conf.set(Checkpoints.ModeKey, "reliable")
      sibling.conf.set(Checkpoints.DirKey, dirB)
      import sibling.implicits._
      (1L to 10L).toDF("x").checkpointed().count() // conflicting re-point
      assert(Checkpoints.repointWarns.get() == before + 1,
        "conflicting-DirKey re-point did not warn")
      df.checkpointed().count() // thrash back to dirA ...
      (11L to 20L).toDF("x").checkpointed().count() // ... and to dirB again
      assert(Checkpoints.repointWarns.get() == before + 1,
        "re-point warn repeated per alternation; contract is once per context")
    } finally {
      spark.conf.unset(Checkpoints.ModeKey)
      spark.conf.unset(Checkpoints.DirKey)
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
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-it").toString
    spark.conf.set(Checkpoints.ModeKey, "reliable")
    spark.conf.set(Checkpoints.DirKey, dir)
    try {
      val rel = operators.GraphOps.connectedComponents(edges, "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(rel == local, s"reliable $rel != local $local")
    } finally {
      spark.conf.unset(Checkpoints.ModeKey)
      spark.conf.unset(Checkpoints.DirKey)
    }
  }
}
