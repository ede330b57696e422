package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times registered queries against `SPARK_GRAFT_SF_DIR`
  * and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`;
  * the full record goes to target/bench.json and ./bench.json, free of
  * sbt's stdout prefix.
  *
  * What is timed: [[timedForm]] — the registered query minus the root
  * sort it carries only for the oracle compare, written to the noop
  * sink (`.count()` would let Catalyst prune columns and skip the
  * projection and UDF work).
  *
  * How, given a host with heavy CPU steal and multi-minute contention
  * windows that a single timing cannot tell from the plan's cost:
  *  - Warm-up: the suite's first query runs twice untimed (session cold
  *    start), and every query runs once untimed before `Runs` timed runs;
  *    the median is recorded. `warm_compiles` counts classes the timed
  *    runs still compiled ([[Sessions.builder]] sizes the codegen cache
  *    so the warm-up absorbs it), and `warm_files_discovered` files they
  *    still listed ([[Tables]] resolves each table once per session).
  *  - Cooldown between queries: cached blocks unpersisted and two GC
  *    passes, so no query pays for an earlier one's storage or GC debt.
  *  - Retry: a warm run faster than the timed median by > 50 ms is
  *    contention, not the plan; the block re-runs (≤ 2 per query, 40
  *    per suite) and the lowest median is kept (`retried`).
  *  - Revisit: queries with a ≥ 1 s median are timed again after the
  *    whole first pass, in reverse order, and keep the lower visit
  *    (`revised`) — a contention window covering a whole block defeats
  *    the retry rule.
  *  - Isolation: every ≥ 1 s query (at least the 10 costliest) is
  *    re-timed min-of-2 at the end (`isolated`).
  *  - `warm_ge_median_50ms == n` is the clean-suite gate;
  *    `warm_ge_median` is its strict, jitter-sensitive twin.
  *  - Floor-robust comparators: `sql_floor_ms` (the host's per-execution
  *    planning floor, min of a pre- and a post-suite sample; compare
  *    sessions by total / sql_floor_ms, as tools/duck_ratio.py prints)
  *    and `task_total`/`task_time` (executor run time, which driver-side
  *    floor drift never enters).
  *  - `failed` names queries that threw; they leave every timed field.
  */
object Bench {
  /** The ordering prefix of the default run (which times every
    * registered query: this list first, then the rest sorted) and the
    * heavy operator surface worth timing first: one query per operator
    * family plus every near-dup, ANN, text and multimodal path. */
  val headline: Seq[String] = Seq(
    "a4_sum", "a5_cond_count", "a10_ordered_concat",
    "j1_inner_equi", "j3_upsert", "j5_semi", "j7_lineid_arith",
    "j10_asof_join", "j11_bloom_prefilter_join",
    "w1_row_number", "w6_session_window", "w9_moving_agg", "a15_rollup",
    "o4_group_sample",
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
    "emb_near_dup",
    "ann_brute_topk", "ann_bucketed_topk", "ann_multiprobe_topk",
    "ann_multitable_topk", "ann_pq_topk", "ann_ivf_topk", "ann_kmeans_cells",
    "t_lang_id", "t_quality", "t_token_count", "t_top_terms",
    "t_winnow_fingerprint", "t_length_stats", "t_pii_redact",
    "t_boilerplate", "t_decontaminate", "t_repetition", "a8_corpus_wer",
    "w7_sequence_pack", "w8_chunk_overlap", "j12_range_join", "t_kmv_distinct",
    "t_sampled_quantiles", "o6_quota_sample", "o7_domain_cap",
    "o8_hash_split", "t_cms_heavy", "dedup_winnow_pairs", "dedup_dup_spans",
    "dedup_span_scrub",
    "t_split_contamination", "t_bpe_merge_pairs", "dedup_cc_clusters",
    "a14_topk_per_group", "dedup_sparse_cosine", "pipe_pretrain_pack",
    "dedup_semantic", "t_bm25_topk", "t_unigram_nll", "dedup_cc_best",
    "t_gopher_gate", "o9_kcenter_diverse", "pipe_curation_pass",
    "o10_token_budget", "o11_temperature_mix", "emb_rp_project",
    "o12_dsir_select", "o13_moore_lewis", "t_rrf_fusion", "emb_outlier_filter",
    "mm_wav_probe", "mm_image_probe", "mm_image_resize",
    "mm_frame_sample", "mm_bin_features")

  private val Runs = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val skippedTables = Tables.registerAll(spark, sfDir)
    graft.functions.TextFns.registerAll(spark)
    // Optional args = the subset of query names to time; no args = every
    // registered query, headline first.
    val all = headline.filter(SparkEntry.queries.contains) ++
      (SparkEntry.queries.keys.toSeq.sorted diff headline)
    val qs = if (args.nonEmpty) all.filter(args.contains) match {
      case Seq() => all
      case hs    => hs
    } else all
    val (compact, full) = run(spark, sfDir, qs, skippedTables)(timedForm(spark, sfDir, _))
    println(compact)
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/bench.json"), full + "\n")
    Files.writeString(Paths.get("bench.json"), full + "\n")
    spark.stop()
  }

  /** The form Bench times: the registered query, or its bench variant
    * where harness work that is not a sort must go (j15), with the
    * oracle-only root sort stripped. */
  def timedForm(spark: SparkSession, sfDir: String, name: String): DataFrame =
    org.apache.spark.sql.GraftBenchShim.stripRootSort(
      SparkEntry.benchVariants.getOrElse(name, SparkEntry.queries(name))(spark, sfDir))

  /** Times `qs` (each built by `query`) and returns the compact stdout
    * line and the full bench.json record. */
  private[graft] def run(spark: SparkSession, sfDir: String, qs: Seq[String],
      skippedTables: Seq[String])(query: String => DataFrame): (String, String) = {
    // Executor task time per query: executorRunTime summed over the kept
    // warm+timed block, divided by its run count. Driver-side planning-floor
    // drift never enters it, so a plan change shows here when wall time is
    // noisy. Listener events drain asynchronously; each block's start
    // snapshot is taken after cooldown()'s sleeps, so a previous block's
    // stragglers can only undercount their own query.
    val taskMsCounter = new java.util.concurrent.atomic.AtomicLong
    val taskListener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          taskMsCounter.addAndGet(te.taskMetrics.executorRunTime); ()
        }
    }
    spark.sparkContext.addSparkListener(taskListener)
    // Queries that threw in any run. A failed run's elapsed time is not
    // a measurement (a query that fails fast would LOWER the total), so
    // these are dropped from every timed field and named under `failed`.
    val failedNames = scala.collection.mutable.LinkedHashSet[String]()
    // Generated classes compiled during a query's kept block of timed
    // runs (after its warm-up). Spark counts every class it compiles in
    // one JVM-wide histogram; a warm run that compiles anything pays
    // codegen inside its timing.
    def compiledClasses(): Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
    val warmCompiles = scala.collection.mutable.Map[String, Long]()
    // Files listed during the same block, from Spark's JVM-wide counter of
    // files a file index discovered: a timed run that lists a table pays
    // the listing (and its schema-inference job) inside its timing.
    def discoveredFiles(): Long =
      org.apache.spark.metrics.source.HiveCatalogMetrics
        .METRIC_FILES_DISCOVERED.getCount
    val warmFiles = scala.collection.mutable.Map[String, Long]()
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try query(name).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        failedNames += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Hygiene between queries. Every localCheckpoint pins its blocks until
    // the DataFrame is collected and the async ContextCleaner runs, so
    // leftovers shrink execution memory for later queries, and GC debt lands
    // in later queries' timings. Each run rebuilds its checkpoints, so
    // leftovers are garbage: unpersist them all and collect.
    // Invariant: no DataFrame is cached across queries. The sweep
    // unpersists every persistent RDD, and a cross-query cached fixture
    // would die with "checkpoint block not found".
    def cooldown(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      // Two GC passes: the first queues the ContextCleaner's weak-reference
      // cleanups (shuffle files), the pause lets it drain, the second
      // collects what the drain released.
      System.gc()
      Thread.sleep(120)
      System.gc()
      Thread.sleep(80)
    }
    // Suite warm-up: a fresh JVM's first query pays codegen and IO-path
    // initialisation its own warm run does not absorb; two untimed passes
    // charge that to the session, not to whichever query leads.
    qs.headOption.foreach { q =>
      spark.sparkContext.setJobDescription("bench:suite-warmup")
      once(q); once(q)
    }
    // Host calibration: the per-SQL-execution planning floor varies several
    // fold between sessions and taxes every query uniformly, which no
    // in-suite check can see. It is the median of 20 warm trivial
    // executions, sampled before and after the suite (the floor drifts
    // during a run); `sql_floor_ms` is the lower sample. Cross-session
    // totals are compared as total / sql_floor_ms.
    def probeSqlFloor(tag: String): Double = {
      spark.sparkContext.setJobDescription(s"bench:calibration-$tag")
      for (_ <- 1 to 5) spark.range(1000).count()
      val ts = Seq.fill(20) {
        val t0 = System.nanoTime()
        spark.range(1000).count()
        (System.nanoTime() - t0) / 1e6
      }.sorted
      ts(ts.size / 2)
    }
    val sqlFloorPre = probeSqlFloor("pre")
    System.err.println(f"[bench] sql_floor_pre_ms=$sqlFloorPre%.1f (healthy ~20-30)")
    // Contention retries: a deterministic query's timed runs are never
    // slower than its cold run unless something external interferes (a
    // plan regression slows both), so warm < median − 50 ms re-runs the
    // whole block after a cooldown and keeps the lowest-median attempt. The
    // suite-wide budget of 40 attempts bounds a fully stolen host.
    var retryBudget = 40
    val retriedNames = scala.collection.mutable.Buffer[String]()
    val resultsPass1 = qs.map { name =>
      spark.sparkContext.setJobDescription(s"bench:$name")
      def attempt(): (Double, Seq[Double], Double, Long, Long) = {
        cooldown()
        val tk0 = taskMsCounter.get()
        val warm = once(name)
        val cg0 = compiledClasses()
        val fd0 = discoveredFiles()
        val timed = Seq.fill(Runs)(once(name)).sorted
        (warm, timed, (taskMsCounter.get() - tk0) / 1e3 / (Runs + 1),
          compiledClasses() - cg0, discoveredFiles() - fd0)
      }
      var (warm, timed, taskSec, compiles, files) = attempt()
      var median = timed(timed.size / 2)
      var retries = 0
      while (warm < median - 0.05 && retries < 2 && retryBudget > 0) {
        retries += 1; retryBudget -= 1
        val (w2, t2, k2, c2, f2) = attempt()
        val m2 = t2(t2.size / 2)
        if (m2 < median) {
          warm = w2; timed = t2; median = m2; taskSec = k2; compiles = c2; files = f2
        }
      }
      if (retries > 0) retriedNames += name
      val retryNote = if (retries > 0) s" retries=$retries" else ""
      System.err.println(
        f"[bench] $name%-22s warm=$warm%7.2f runs=${timed.map(t => f"$t%.2f").mkString(",")} median=$median%7.2f task=$taskSec%6.2f compiles=$compiles files=$files$retryNote")
      warmCompiles(name) = compiles
      warmFiles(name) = files
      (name, median, warm +: timed, taskSec)
    }
    // Revisit: a contention window covering a whole warm+timed block
    // inflates warm and timed runs alike, which the retry rule cannot see.
    // Queries with a ≥ 1 s first-visit median are timed again after the
    // full first pass and keep the lower of the two visits (`revised` names
    // the ones that moved). Reverse order keeps each query's two visits far
    // apart even when few qualify. Sub-second queries skip it: their
    // inflation is bounded by their own cost.
    val RevisitMin = 1.0
    val revisedNames = scala.collection.mutable.Buffer[(String, Double)]()
    val revisitTimes: Map[String, Seq[Double]] =
      resultsPass1.reverse.collect { case (name, m1, _, _) if m1 >= RevisitMin =>
        spark.sparkContext.setJobDescription(s"bench-revisit:$name")
        cooldown()
        name -> Seq(once(name), once(name)).sorted
      }.toMap
    val measured = resultsPass1.map { case (name, m1, runs, taskSec) =>
      revisitTimes.get(name) match {
        case None => (name, m1, runs, taskSec)
        case Some(t2) =>
          val m2 = (t2.head + t2.last) / 2
          if (m2 < m1) {
            revisedNames += ((name, m1 - m2))
            System.err.println(
              f"[bench] revisit $name%-22s $m1%7.2f -> $m2%7.2f")
            (name, m2, runs ++ t2, taskSec)
          } else (name, m1, runs ++ t2, taskSec)
      }
    }
    val timed = measured.filterNot(r => failedNames(r._1))
    // Isolation pass: every query with an in-suite median ≥ 1 s (at least
    // the 10 costliest) is re-timed after a cooldown, so the artifact shows
    // whether a slow median is contention or the plan.
    val spotN = math.max(math.min(10, timed.size),
      timed.count(_._2 >= 1.0))
    val isolatedAll = timed.sortBy(-_._2).take(spotN).map { case (name, _, _, _) =>
      cooldown()
      spark.sparkContext.setJobDescription(s"bench-isolated:$name")
      // Min of two runs: at the end of a long session a single timing can
      // read above the in-suite median it audits.
      name -> math.min(once(name), once(name))
    }
    // A query that first throws in the isolation pass is failed too.
    val results = timed.filterNot(r => failedNames(r._1))
    val isolated = isolatedAll.filterNot(r => failedNames(r._1))
    // Suite-clean counters: the warm run should be the slowest (codegen and
    // caches cold); warm < median means the timed runs degraded.
    val warmGeMedian = results.count { case (_, m, rs, _) => rs.head >= m }
    // The tolerant twin is the gate: 50 ms of grace absorbs scheduler
    // jitter on sub-second queries.
    val warmGeMedian50 = results.count { case (_, m, rs, _) => rs.head >= m - 0.05 }
    isolated.foreach { case (n, t) =>
      System.err.println(f"[bench] isolated $n%-22s $t%7.2f")
    }
    // Post-suite floor sample; the lower of pre and post is recorded.
    val sqlFloorPost = probeSqlFloor("post")
    val sqlFloorMs = math.min(sqlFloorPre, sqlFloorPost)
    System.err.println(
      f"[bench] sql_floor_ms=$sqlFloorMs%.1f (pre $sqlFloorPre%.1f / post $sqlFloorPost%.1f)")
    // Readers keep only the last ~2000 chars of stdout, so the compact line
    // carries the costliest medians that fit, with "n"/"omitted" counts so
    // the truncation is visible; "value" is the total over all timed
    // queries. bench.json carries the full record.
    def qJson(rs: Seq[(String, Double, Seq[Double], Double)])(fmt: Double => String) =
      rs.map { case (k, v, _, _) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val runsJson = results.map { case (k, _, rs, _) =>
      "\"" + k + "\":[" + rs.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Task time: the suite total on both lines, the per-query map in
    // bench.json only.
    val taskTotal = results.map(_._4).sum
    val taskJson = results.map { case (k, _, _, tk) =>
      "\"" + k + "\":" + f"$tk%.3f"
    }.mkString("{", ",", "}")
    // Warm-compile and warm-listing additions: the total on both lines,
    // the nonzero queries (largest first) in bench.json only.
    def warmCounts(byQuery: collection.Map[String, Long]): (Long, String) = {
      val nonzero = results.map(r => r._1 -> byQuery(r._1)).filter(_._2 > 0)
      (nonzero.map(_._2).sum, nonzero.sortBy(-_._2)
        .map { case (k, n) => "\"" + k + "\":" + n }.mkString("{", ",", "}"))
    }
    val (warmCompilesTotal, warmCompilesJson) = warmCounts(warmCompiles)
    val (warmFilesTotal, warmFilesJson) = warmCounts(warmFiles)
    // skipped_tables rides every line: a missing view would otherwise show
    // only as fast-failing queries.
    val skippedJson = skippedTables.mkString("[\"", "\",\"", "\"]")
    val skippedField =
      if (skippedTables.isEmpty) "" else s""","skipped_tables":$skippedJson"""
    // The isolated re-timings ride the compact line too, bounded to the 12
    // costliest with a "+N" marker; bench.json carries all.
    val isolatedJsonCompact = (isolated.take(12)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" } ++
      (if (isolated.size > 12) Seq("\"+\":" + (isolated.size - 12)) else Nil))
      .mkString("{", ",", "}")
    // Name lists are bounded: first `cap` names, then a "+N" marker.
    def boundedListJson(names: Seq[String], cap: Int): String =
      (names.take(cap).map("\"" + _ + "\"") ++
        (if (names.size > cap) Seq("\"+" + (names.size - cap) + "\"") else Nil))
        .mkString("[", ",", "]")
    // Worst offenders (by how far the median exceeded the warm run) first.
    val degradedTop = results.collect {
      case (n, m, rs, _) if rs.head < m => (n, m - rs.head)
    }.sortBy(-_._2).map(_._1)
    val degradedJson = boundedListJson(degradedTop, 12)
    // Every query whose first attempt hit the retry rule, whether or not
    // the retry was cleaner.
    val retriedJson = boundedListJson(retriedNames.toSeq, 12)
    // Queries the revisit corrected, largest corrections first.
    val revisedJson = boundedListJson(revisedNames.sortBy(-_._2).map(_._1).toSeq, 8)
    val failedJson = boundedListJson(failedNames.toSeq, 12)
    def compactOf(rs: Seq[(String, Double, Seq[Double], Double)]) =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"omitted":${results.size - rs.size},"warm_ge_median":$warmGeMedian,"warm_ge_median_50ms":$warmGeMedian50,"sql_floor_ms":$sqlFloorMs%.1f,"sql_floor_pre_ms":$sqlFloorPre%.1f,"sql_floor_post_ms":$sqlFloorPost%.1f,"task_total":$taskTotal%.1f,"warm_compiles":$warmCompilesTotal,"warm_files_discovered":$warmFilesTotal,"degraded":$degradedJson,"retried":$retriedJson,"revised":$revisedJson,"failed":$failedJson,"isolated":$isolatedJsonCompact$skippedField,"queries":${qJson(rs)(v => f"$v%.3f")},"sf":"$sfDir"}"""
    // Drop the cheapest query until the line fits ~1850 chars (the
    // 2000-char window minus sbt's trailing line).
    val byCost = results.sortBy(-_._2)
    val kept = Iterator.iterate(results.size)(_ - 1)
      .find(n => n == 0 || compactOf(byCost.take(n)).length <= 1850).get
    val compact = compactOf(byCost.take(kept))
    val isolatedJson = isolated
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","warm_ge_median":$warmGeMedian,"warm_ge_median_50ms":$warmGeMedian50,"sql_floor_ms":$sqlFloorMs,"sql_floor_pre_ms":$sqlFloorPre,"sql_floor_post_ms":$sqlFloorPost,"task_total":$taskTotal,"warm_compiles":$warmCompilesTotal,"warm_files_discovered":$warmFilesTotal,"degraded":$degradedJson,"retried":$retriedJson,"revised":$revisedJson,"failed":$failedJson$skippedField,"queries":${qJson(results)(_.toString)},"sf":"$sfDir","isolated":$isolatedJson,"runs":$runsJson,"task_time":$taskJson,"warm_compiles_by_query":$warmCompilesJson,"warm_files_discovered_by_query":$warmFilesJson}"""
    spark.sparkContext.removeSparkListener(taskListener)
    (compact, full)
  }
}
