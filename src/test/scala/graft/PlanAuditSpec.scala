package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Checkpoints.CheckpointSyntax

/** The plan audits as one registry sweep. Every registered query's
  * executed plan is built once at sf0.001 — the plan Verify checks, or
  * for j15 its bench variant (the only one: Bench times
  * `stripRootSort(query)`, and a variant exists only for harness work
  * that is not a sort) — and five detectors run over it. Each detector's hits must equal a reviewed known-good set
  * kept as data below: a new hit is an unreviewed plan to look at, a
  * vanished one is a reviewed entry to drop.
  *
  * Updating after a reviewed plan change: run
  * `sbt "testOnly graft.PlanAuditSpec"`; a failing check names the
  * queries that appeared and disappeared (with kernel counts for the
  * repeated-kernel check). Review each new hit against its detector's
  * doctrine below, then edit that check's set here.
  *
  * The non-vacuity tests plant each defect in a small DataFrame with AQE
  * on and assert the detector flags it, so a walk that stops at the AQE
  * root (a leaf) cannot pass as "zero hits". */
class PlanAuditSpec extends AnyFunSuite {
  import PlanAuditSpec._

  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val findings: Map[String, Findings] = {
    Tables.registerAll(spark, sfDir)
    graft.functions.TextFns.registerAll(spark)
    SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val q = SparkEntry.benchVariants.getOrElse(name, SparkEntry.queries(name))
      val plan =
        try q(spark, sfDir).queryExecution.executedPlan
        catch { case e: Exception => throw new AssertionError(s"$name failed to plan", e) }
      name -> audit(plan)
    }.toMap
  }

  private def flagged(hit: Findings => Boolean): Set[String] =
    findings.collect { case (name, f) if hit(f) => name }.toSet

  private def assertReviewed[T](check: String, actual: Set[T], reviewed: Set[T]): Unit = {
    def names(s: Set[T]) = s.toSeq.map(_.toString).sorted.mkString(", ")
    assert(actual == reviewed,
      s"$check changed — new: [${names(actual -- reviewed)}]; " +
        s"gone: [${names(reviewed -- actual)}]")
  }

  test("sweep: repeated kernels match the reviewed set") {
    val actual = for ((q, f) <- findings.toSet; (k, n) <- f.kernels) yield (q, k, n)
    val reviewed = for ((q, ks) <- ReviewedKernels.toSet; (k, n) <- ks) yield (q, k, n)
    assertReviewed("repeated kernels", actual, reviewed)
  }

  test("sweep: no identical exchange runs twice") {
    assertReviewed("unreused exchanges", flagged(_.unreusedExchanges > 0), Set.empty[String])
  }

  test("sweep: fact-reaching broadcasts (no aggregate below) match the reviewed set") {
    assertReviewed("fact-reaching broadcasts", flagged(_.factBroadcast),
      ReviewedFactBroadcasts)
  }

  test("sweep: explodes under a broadcast match the reviewed set") {
    assertReviewed("explode under broadcast", flagged(_.explodeBroadcast),
      ReviewedExplodeBroadcasts)
  }

  test("sweep: broadcasts of checkpointed data match the reviewed set") {
    assertReviewed("checkpoint broadcasts", flagged(_.checkpointBroadcast),
      ReviewedCheckpointBroadcasts)
  }

  /** The executed plan of `df`, which must be an adaptive root: a leaf,
    * so only a walk that descends into it can see the planted defect. */
  private def adaptivePlan(df: DataFrame): SparkPlan = {
    val p = df.queryExecution.executedPlan
    assert(p.isInstanceOf[AdaptiveSparkPlanExec] && p.children.isEmpty,
      s"expected an AQE root:\n$p")
    p
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def probe(build: DataFrame): DataFrame =
    spark.range(20).toDF("k").join(broadcast(build), "k")

  test("planted: a lineitem scan under a broadcast is flagged") {
    val li = Tables.load(spark, sfDir, "lineitem").select(col("l_orderkey").as("k"))
    assert(audit(adaptivePlan(probe(li))).factBroadcast)
    val nation = Tables.load(spark, sfDir, "nation").select(col("n_nationkey").as("k"))
    assert(!audit(adaptivePlan(probe(nation))).factBroadcast)
  }

  test("planted: an explode under a broadcast is flagged") {
    val exploded = spark.range(5).select(explode(array(col("id"), col("id") + 10)).as("k"))
    assert(audit(adaptivePlan(probe(exploded))).explodeBroadcast)
    assert(!audit(adaptivePlan(probe(spark.range(5).toDF("k")))).explodeBroadcast)
  }

  test("planted: a broadcast of checkpointed data is flagged") {
    val ckpt = spark.range(5).toDF("k").checkpointed()
    assert(audit(adaptivePlan(probe(ckpt))).checkpointBroadcast)
    assert(!audit(adaptivePlan(probe(spark.range(5).toDF("k")))).checkpointBroadcast)
  }

  test("planted: two identical exchanges Spark does not reuse are flagged") {
    def selfJoin() = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val agg = spark.range(100).groupBy((col("id") % 10).as("k")).count()
      adaptivePlan(agg.join(agg.withColumnRenamed("count", "c2"), "k"))
    }
    withConf("spark.sql.exchange.reuse" -> "false") {
      assert(audit(selfJoin()).unreusedExchanges == 1)
    }
    // With reuse on, AQE runs the shared aggregate exchange once.
    assert(audit(selfJoin()).unreusedExchanges == 0)
  }

  test("planted: the same kernel used twice in one plan is flagged") {
    // A lazily shared subtree read by two consumers runs its kernel twice.
    val hashed = spark.range(10).select(md5(col("id").cast("string")).as("h"))
    val twice = hashed.groupBy("h").count().join(hashed, "h")
    assert(audit(adaptivePlan(twice)).kernels.get("md5").exists(_ >= 2))
    assert(audit(adaptivePlan(spark.range(10).groupBy("id").count())).kernels.isEmpty)
  }
}

object PlanAuditSpec {
  /** Row-local kernels expensive enough that a plan running one more
    * than once is a recompute candidate: a lazily shared subtree re-runs
    * its tokenize/hash/shingle kernel once per consumer, where a
    * checkpoint runs it once. */
  val Kernels: Seq[String] = Seq(
    "tf_map", "ascii_tokens", "ascii_alpha_tokens", "kgrams",
    "distinct_kgrams", "winnow", "minhash", "simhash", "rp_project",
    "token_count", "redact_pii", "lang_id", "grapheme", "sent_split",
    "vi_normalize", "normalize_name", "unicode_unescape", "levenshtein",
    "BatchEvalPython", "md5", "xxhash")

  /** The corpus-scale tables: a broadcast reaching one of them is the
    * auto-broadcast-under-10MB defect that cost a19 and coEdges
    * ~0.5-0.7 s each and would OOM at real scale. */
  private val FactScans = Seq("lineitem", "orders.parquet", "events", "documents", "embeddings")

  final case class Findings(
      kernels: Map[String, Int],
      unreusedExchanges: Int,
      factBroadcast: Boolean,
      explodeBroadcast: Boolean,
      checkpointBroadcast: Boolean)

  def audit(plan: SparkPlan): Findings = {
    val text = plan.toString.toLowerCase
    val kernels = Kernels.map(k => k -> k.toLowerCase.r.findAllIn(text).length)
      .filter(_._2 >= 2).toMap
    // An aggregate or limit below the broadcast is treated as a keyed
    // reduction and not gated (a distinct over a fact key can still be
    // fact-sized, so such hits are for reading, not for this gate).
    val raw = PlanWalk.broadcastSubtrees(plan)
      .filterNot(s => s.contains("Aggregate") || s.contains("Limit"))
    Findings(
      kernels,
      unreusedExchanges(plan),
      raw.exists(s => FactScans.exists(s.contains)),
      raw.exists(_.contains("Generate ")),
      raw.exists(_.contains("Scan ExistingRDD")))
  }

  /** Groups of identical exchanges that Spark runs more than once. With
    * exchange reuse on, each group runs once: non-adaptive plans already
    * carry ReusedExchangeExec, and AQE reuses through its stage cache at
    * run time, so an unexecuted adaptive plan still lists every copy.
    * Grouped by canonical plan, not by its text, which carries each
    * exchange's unique plan_id and so never matches. */
  def unreusedExchanges(plan: SparkPlan): Int =
    if (plan.conf.exchangeReuseEnabled) 0
    else PlanWalk.nodes(plan).collect { case e: Exchange => e.canonicalized }
      .groupBy(identity).count(_._2.size >= 2)

  /** A repeated kernel is a candidate, not a verdict: some duplicates are
    * measured cheaper than materializing (nllScores), some are different
    * inputs to the same kernel, and the plan text names a kernel again
    * wherever its output column is referenced. Counts are per plan. */
  val ReviewedKernels: Map[String, Map[String, Int]] = Map(
    "dedup_fuzzy_key" -> Map("levenshtein" -> 3),
    "dedup_incremental" -> Map("md5" -> 6),
    "dedup_lsh_recall" -> Map("minhash" -> 2, "simhash" -> 2, "md5" -> 2),
    "dedup_minhash_lsh" -> Map("ascii_tokens" -> 6, "minhash" -> 6, "md5" -> 2),
    "dedup_near_incremental" ->
      Map("ascii_tokens" -> 9, "ascii_alpha_tokens" -> 3, "minhash" -> 9, "md5" -> 8),
    "dedup_ngram_jaccard" ->
      Map("ascii_tokens" -> 10, "ascii_alpha_tokens" -> 4, "minhash" -> 10, "md5" -> 4),
    "dedup_simhash" -> Map("simhash" -> 4),
    "dedup_threshold_curve" ->
      Map("ascii_tokens" -> 10, "ascii_alpha_tokens" -> 4, "minhash" -> 10, "md5" -> 4),
    "io_s9_binary_tree" -> Map("md5" -> 2),
    "mm_bin_features" -> Map("md5" -> 3),
    "mm_binary_simhash" -> Map("md5" -> 6),
    "o17_rendezvous_assign" -> Map("md5" -> 8),
    "o18_epoch_shuffle" -> Map("md5" -> 4),
    "t_cms_heavy" -> Map("md5" -> 2),
    "t_ngram_novelty" -> Map("ascii_alpha_tokens" -> 2, "kgrams" -> 2, "distinct_kgrams" -> 2),
    "t_rrf_fusion" -> Map("tf_map" -> 3, "ascii_alpha_tokens" -> 3),
    "t_tfidf_keywords" -> Map("tf_map" -> 2, "ascii_alpha_tokens" -> 2),
    "t_top_terms" -> Map("tf_map" -> 2, "ascii_alpha_tokens" -> 2),
    "t_unigram_nll" -> Map("tf_map" -> 3, "ascii_alpha_tokens" -> 3))

  /** Fact-reaching broadcasts with no aggregate below, reviewed under the
    * estimate-soundness doctrine (see connectedComponents in GraphOps):
    *  - ann_*: the explicitly broadcast, contract-bounded QUERY batches
    *    (embeddings lineage triggers the fact match).
    *  - a36, j5_semi, j5_anti, dedup_cc_best, dedup_near_incremental:
    *    plain-scan or constant-explode sides with SOUND size estimates;
    *    AQE flips them to keyed joins exactly when real sizes demand, and
    *    hard hints measured 0.1-2 s slower per query with no scale
    *    benefit.
    * A new hit deserves a look, especially one with data-dependent
    * fan-out below the exchange. */
  val ReviewedFactBroadcasts: Set[String] = Set(
    "a36_dq_audit", "ann_brute_topk", "ann_bucketed_topk", "ann_ivf_topk",
    "ann_ivfpq_topk", "ann_multiprobe_topk", "ann_multitable_topk", "ann_pq_topk",
    "dedup_cc_best", "dedup_near_incremental", "j5_anti", "j5_semi")

  /** An explode under a broadcast makes the size estimate that justified
    * the broadcast structurally untrustworthy when the fan-out is
    * DATA-DEPENDENT (j13's sequence bins, fixed with shuffle_hash in
    * RangeJoinOps). Every reviewed hit has a bounded fan-out: the ann_*
    * sides are the contract-bounded query batches (explicit broadcast(q),
    * constant probe/table fan-out over a filter-bounded batch), and
    * dedup_near_incremental's band table is a constant-4 posexplode, so
    * the estimate is sound up to that constant and AQE still flips to
    * keyed joins at scale. */
  val ReviewedExplodeBroadcasts: Set[String] = Set(
    "ann_ivf_topk", "ann_ivfpq_topk", "ann_multiprobe_topk", "ann_multitable_topk",
    "ann_recall", "dedup_near_incremental")

  /** Checkpointed lineage reads as "Scan ExistingRDD" with no table name,
    * the fact-scan check's blind spot, so these sites are reviewed
    * against their row-count guards: g1/g10 (dimensionNodes opt-in rank
    * broadcasts), g2/g3 (degree tables behind triangleStats'
    * broadcastEdgeLimit guard), ann_recall, ann_trunc_recall and
    * dedup_lsh_recall (probe-bounded truth tables on an explicit
    * broadcast), j3_upsert (bounded by |updates|), o13/t_pmi
    * (vocab-bounded LM count tables), the dedup_cc family,
    * dedup_containment and pipe_dedup (AQE's choice on sound
    * checkpointed estimates). A new query here without a boundedness
    * argument at its site is the defect. */
  val ReviewedCheckpointBroadcasts: Set[String] = Set(
    "ann_recall", "ann_trunc_recall", "dedup_cc_survivors", "dedup_containment",
    "dedup_lsh_recall", "g10_ppr", "g1_pagerank", "g2_triangles", "g3_assortativity",
    "j3_upsert", "o13_moore_lewis", "pipe_dedup_pass", "t_pmi_pairs")
}
