package graft

import org.scalatest.funsuite.AnyFunSuite

/** ARCHITECTURE.md's plan-shape rules as regression tests: the physical
  * plans that make queries viable at 100 TB must not silently regress.
  * Asserted on the registered queries over real testdata — if an edit
  * reintroduces a cartesian product, un-broadcasts a dim join, or
  * un-partitions a window, tests fail instead of a judge round. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    graft.functions.TextFns.registerAll(spark)
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
  }

  /** Every BroadcastExchange subtree of the named query's physical plan,
    * as strings (see PlanWalk). For pins of the form "X must never be
    * the broadcast build side". */
  private def broadcastSubtrees(name: String): Seq[String] = {
    graft.functions.TextFns.registerAll(spark)
    PlanWalk.broadcastSubtrees(
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan)
  }

  test("ANN broadcasts carry the bounded query batch, never the candidate corpus") {
    // The r10 corpus-aware audit found Spark auto-broadcasting the
    // EXPLODED CANDIDATE side of the bucket joins at test SF (the a19
    // class — wrong at any real corpus size). The operators now
    // broadcast the query batch explicitly; pin that no broadcast
    // subtree ever contains candidate-side columns (c_id/c_vec).
    for (q <- Seq("ann_bucketed_topk", "ann_multiprobe_topk",
        "ann_multitable_topk", "ann_ivf_topk", "ann_ivfpq_topk")) {
      val subs = broadcastSubtrees(q)
      assert(subs.nonEmpty, s"$q lost its query-batch broadcast")
      for (s <- subs)
        assert(!s.contains("c_vec") && !s.contains("codes#"),
          s"$q broadcasts the candidate corpus:\n${s.linesIterator.take(4).mkString("\n")}")
    }
  }

  test("emb_mutual_nn never broadcasts a vector-bearing side") {
    // Corpus×corpus self-search: queries == candidates == the full
    // fact-scaled embeddings table, so UNLIKE the bounded-batch ANN
    // queries above, NO side may ride a broadcast that carries vectors —
    // a hard broadcast(q) here is a corpus-sized broadcast AQE can never
    // undo (the a19 defect class; caught by the r10 advice review). The
    // bucket join must stay a keyed shuffle: bucketedTopK is called with
    // boundedQueries = false. AQE may still broadcast the ≤|V|-row
    // integer nn1 pair table in the mutuality semi-join — that carries
    // no vector column and is fine.
    for (s <- broadcastSubtrees("emb_mutual_nn"))
      assert(!s.contains("q_vec") && !s.contains("c_vec")
          && !s.contains("embedding#"),
        s"emb_mutual_nn broadcasts a vector-bearing side:\n" +
          s.linesIterator.take(4).mkString("\n"))
  }

  test("no cartesian product in any candidate-generation or join query") {
    for (q <- Seq("j1_inner_equi", "j9_salted_skew_join", "dedup_minhash_lsh",
        "dedup_simhash", "dedup_ngram_jaccard", "emb_near_dup",
        "dedup_sparse_cosine", "dedup_semantic", "dedup_winnow_pairs",
        "ann_bucketed_topk", "ann_multiprobe_topk", "ann_multitable_topk")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }

  test("dimension joins broadcast") {
    val p = plan("j1_inner_equi")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
  }

  test("nested-loop joins appear only where a tiny side is broadcast by design") {
    // brute ANN broadcasts the query set; IVF broadcasts its nCells
    // centroids for the assignment cross — both bounded by construction.
    // PQ's exhaustive ADC scan broadcasts the query set the same way —
    // the candidate side streams compressed codes map-side.
    assert(plan("ann_brute_topk").contains("BroadcastNestedLoopJoin"))
    assert(plan("ann_pq_topk").contains("BroadcastNestedLoopJoin"))
    for (q <- Seq("ann_bucketed_topk", "ann_multiprobe_topk", "ann_multitable_topk"))
      assert(!plan(q).contains("BroadcastNestedLoopJoin"), s"$q nested-loops")
  }

  test("bloom prefilter sits below the join, on the fact scan side") {
    // Parents print before children: the mightContain UDF filter must
    // appear AFTER the join node (i.e. in the join's INPUT), so the
    // exchange/broadcast only ever carries probable matches.
    val p = plan("j11_bloom_prefilter_join")
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0, "j11 lost its join")
    assert(p.indexOf("UDF", joinIdx) >= 0,
      s"j11 bloom prefilter not below the join:\n${p.take(800)}")
    // The operator's contract is 'dim too large to broadcast' — the
    // exact join must be the keyed one or the prefilter is pointless.
    assert(p.contains("ShuffledHashJoin"),
      s"j11's exact join regressed to a broadcast:\n${p.take(800)}")
  }

  test("decontamination is row-local over the broadcast benchmark set") {
    // The corpus side must never shuffle OR join to meet the benchmark:
    // the benchmark n-gram set rides a SparkContext.broadcast consumed by
    // a row-local membership count, so the only exchange in the plan is
    // the harness-determinism sort at the root (range partitioning).
    val p = plan("t_decontaminate")
    assert(!p.contains("Join"), s"t_decontaminate regained a join:\n${p.take(600)}")
    assert(!p.contains("hashpartitioning"),
      s"t_decontaminate regained a shuffle:\n${p.take(600)}")
  }

  test("multi-table ANN joins on the (table, bucket) key") {
    // The E2LSH shape: candidates meet queries ONLY through the exploded
    // (tbl, bucket) equi-join — visible as join keys tbl + bucket — and
    // pairs dedup BEFORE scoring (a distinct/aggregate on q_id, c_id).
    val p = plan("ann_multitable_topk")
    assert(p.contains("tbl") && p.contains("bucket"),
      s"multitable join lost its (table, bucket) key:\n${p.take(600)}")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      "multitable lost its pair dedup before scoring")
  }

  test("repetition signals are row-local: no exchange but the harness sort") {
    // rep_stats collapsed four shuffles into a per-row kernel; the only
    // exchange allowed back is the oracle-determinism orderBy at the root
    // (rangepartitioning), never a hash exchange.
    val p = plan("t_repetition")
    assert(!p.contains("hashpartitioning"),
      s"t_repetition regained a shuffle:\n${p.take(600)}")
    assert(!p.contains("Join"), "t_repetition regained a join")
  }

  test("simhash computes row-locally; pair join is the only exchange") {
    // ascii_simhash removed the per-token vote aggregation entirely: the
    // plan is scan -> kernel project -> block repartition -> self-join ->
    // hamming filter, with NO aggregate anywhere.
    val p = plan("dedup_simhash")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate") &&
      !p.contains("ObjectHashAggregate"),
      s"dedup_simhash regained its vote aggregation:\n${p.take(800)}")
  }

  test("minhash signatures are row-local: no per-doc min aggregation") {
    // minhash_lanes computes every lane inside the row; the only
    // aggregates left are the LSH bucket collect and pair dedup. The
    // exploded form's signature agg printed min(substring(...)) partials
    // over a SortAggregate — neither may come back.
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("partial_min") && !p.contains("SortAggregate"),
      s"minhash regained its per-doc signature aggregation:\n${p.take(800)}")
  }

  test("term frequencies are row-local: no aggregate keyed on (doc, term)") {
    // tf_map pre-counts per-doc term frequencies inside the row; a
    // groupBy(doc, term) coming back means the kernel path was lost.
    val top = plan("t_top_terms")
    assert(!top.contains("keys=[doc_id"),
      s"t_top_terms regained the (doc, term) aggregate:\n${top.take(800)}")
    val sp = plan("dedup_sparse_cosine")
    assert(!"keys=\\[__id#\\d+, __term".r.findFirstIn(sp).isDefined,
      s"sparse cosine regained the (doc, term) aggregate:\n${sp.take(800)}")
  }

  test("sparse cosine: norms ride posting rows; head-set filter is sort-free") {
    val p = plan("dedup_sparse_cosine")
    // Norms attached BEFORE the a/b split: the pair aggregate's keys
    // carry both norms, so the pair table — the largest relation, dfCap²
    // fan-out per term — is never re-shuffled to pick them up.
    val pairAgg = p.linesIterator.find(_.contains("keys=[id_a")).getOrElse("")
    assert(pairAgg.contains("__n2a") && pairAgg.contains("__n2b"),
      s"sparse cosine pair agg lost the riding norms:\n$pairAgg")
    // The dfCap vocabulary filter is a broadcast anti-join against the
    // tiny Zipf-head term set — never a per-term window (which
    // exchange-sorts every posting to attach a df used once).
    assert(!p.contains("windowspecdefinition"),
      s"sparse cosine regained a window sort:\n${p.take(800)}")
    // r10: the anti-joined postings are CHECKPOINTED (norms/a/b read the
    // materialized table instead of replaying tokenize+anti per
    // consumer), so the final plan reads checkpoint RDD scans and the
    // LeftAnti itself lives in the kept-build job. The anti-join
    // semantics stay covered by ScaleOpsSpec's dfCap test.
    assert(p.contains("Scan ExistingRDD"),
      s"sparse cosine lost the filtered-postings checkpoint:\n${p.take(800)}")
    assert(!p.contains("LeftAnti"),
      "the head-set anti-join re-inlined — it should run once, behind " +
        s"the checkpoint:\n${p.take(800)}")
  }

  test("windows in registered queries are partitioned (no single-task window)") {
    // WindowExec with an empty partition spec logs/plans a global window;
    // the textual marker is a windowspecdefinition starting with the
    // order column only. Check the known window queries name a partition.
    for ((q, key) <- Seq(
        "w1_row_number" -> "l_orderkey",
        "w4_global_line_number" -> "book",
        "o4_group_sample" -> "l_returnflag",
        "o7_domain_cap" -> "source")) {
      val p = plan(q)
      val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toList
      assert(winLines.nonEmpty, s"$q has no window")
      assert(winLines.forall(_.contains(key)),
        s"$q window not partitioned by $key:\n${winLines.mkString("\n")}")
    }
  }

  test("o4 sampling rank-windows only prefix survivors, not the full table") {
    // The window's input must carry the hash-prefix filter (plus the
    // small-group fallback disjunct) — a full-table window here is the
    // parallelism-collapses-to-#groups regression SampleOps exists to
    // prevent.
    // Positional: the plan string prints parents before children, so the
    // prefix filter must occur AFTER the Window node — i.e. in the
    // window's INPUT. A filter applied after the window (the
    // full-table-sort regression) would precede it in the text.
    val p = plan("o4_group_sample")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0)
    // survivor cutoff of the arithmetic sample hash (hash mod 999999937
    // <= 42968747) — its literal below the Window node is the prefilter
    val filterBelowWindow = p.indexOf("42968747", winIdx) >= 0
    assert(filterBelowWindow,
      s"o4 window input lost the prefix prefilter:\n${p.take(800)}")
  }

  test("as-of join plans one exchange over the union, never a range join") {
    val p = plan("j10_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"asof join regressed to a range product:\n${p.take(600)}")
    assert(p.contains("Window"), "asof join lost its window encoding")
    // Union feeds the window: both sides sort-merge through ONE
    // hash-partitioning on the key, visible as a single window over union
    assert(p.contains("Union"), "asof join lost the tagged union")
  }

  test("k-means assignment is map-side: no shuffle between scan and cell udf") {
    // fitAssign's final assignment plan: scan -> project(UDF). Any
    // Exchange would mean vectors re-shuffle per iteration.
    val df = graft.operators.KMeansOps.fitAssign(
      Tables.load(spark, sfDir, "embeddings"), "vec_id", "embedding",
      k = 4, iters = 1, dim = 64)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"k-means assignment shuffles:\n${p.take(600)}")
  }

  test("session windows partition by user before sessionizing") {
    val p = plan("w6_session_window")
    assert(p.contains("user_id"), "session window lost its user partitioning")
    assert(!p.contains("CartesianProduct"))
    // r13 islands form: lag, running sum, AND the (user, island)
    // aggregate all cluster on user_id — partitioning on a grouping-key
    // subset satisfies the aggregate's distribution, so the whole query
    // is ONE hash exchange (plus the root sort's range exchange). A
    // second hash exchange means the aggregate stopped reusing the
    // window's clustering.
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"w6 islands plan grew a second hash exchange:\n${p.take(800)}")
  }

  test("binned range join is an equi-join: no nested loop, no cartesian") {
    // The whole point of RangeJoinOps: Spark's native plan for an
    // inequality join is BNLJ/cartesian; the binned rewrite must meet
    // on the __bin equi-key with the BETWEEN as residual only.
    val p = plan("j12_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"j12 regressed to a range product:\n${p.take(600)}")
    // Both bin-join sides are fact-scaled; Spark's post-explode size
    // under-count auto-broadcast one at sf0.1 (the a19 class, caught by
    // the AQE-descending broadcast audit) — the hinted plan must
    // stay a shuffled hash join.
    assert(p.contains("ShuffledHashJoin"),
      s"j12 lost its shuffle_hash bin join:\n${p.take(600)}")
  }

  test("KMV sketch aggregates with map-side partial merge (one shuffle on the group key)") {
    // Two HashAggregates (partial + final) around ONE exchange: the
    // bounded k-array buffers merge map-side, so shuffle bytes per group
    // per partition stay <= 8k regardless of input rows.
    val p = plan("t_kmv_distinct")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate") ||
      p.contains("HashAggregate"), "t_kmv lost its aggregate")
    assert(!p.contains("CartesianProduct"))
  }

  test("bounded top-k aggregates without a window sort (the shape it replaces)") {
    // TopKOps' contract: k-row partial buffers merged map-side, ONE
    // shuffle on the group key — never row_number over a sorted group.
    val p = plan("a14_topk_per_group")
    assert(!p.contains("windowspecdefinition"),
      "a14 regressed to the window formulation")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "a14 lost its aggregate")
  }

  test("sequence packing windows per shard, never globally") {
    val p = plan("w7_sequence_pack")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(winLines.nonEmpty, "w7 has no window")
    assert(winLines.forall(_.contains("source")),
      s"w7 window not partitioned by shard:\n${winLines.mkString("\n")}")
  }

  test("CMS grid build partial-aggregates map-side; point queries join the broadcast grid") {
    val p = plan("t_cms_heavy")
    // The grid is the only thing that may shuffle during the build: the
    // (row, bucket) aggregation must carry a partial_sum below its
    // exchange (≤ d·w rows per partition cross the wire, not one row per
    // term occurrence).
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"CMS build lost map-side combine:\n${p.take(600)}")
    // The d·w-row grid broadcasts to the probe side — a shuffle join
    // here would shuffle the queried terms against a few-KB table.
    assert(p.contains("BroadcastHashJoin"),
      s"CMS estimate does not broadcast the grid:\n${p.take(600)}")
  }

  test("partition-column predicates prune directories (PartitionFilters, not data filters)") {
    val p = plan("io_s14_partitioned")
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("lang"),
      s"io_s14 lost partition pruning — lang predicate not in PartitionFilters:\n${p.take(800)}")
  }

  test("parquet scans prune columns (ReadSchema is a strict subset)") {
    val p = plan("p6_two_col_project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // documents has 5+ columns; the two-column project must not read text
    assert(read.nonEmpty && !read.contains("o_totalprice"), read)
  }

  test("gopher gate is a pure map: no exchange but the harness sort, no join, no aggregate") {
    val p = plan("t_gopher_gate")
    assert(!p.contains("hashpartitioning"),
      s"t_gopher_gate regained a shuffle:\n${p.take(600)}")
    assert(!p.contains("Join"), "t_gopher_gate regained a join")
    assert(!p.contains("Aggregate"), "t_gopher_gate regained an aggregate")
  }

  test("BM25 prunes postings through broadcasts; the corpus shuffles only on (q_id, doc)") {
    // Query terms, df table, query table, and the 1-row stats all
    // broadcast; the sole hash exchange over corpus-derived rows is the
    // (q_id, doc_id) score aggregation (plus the top-k's q_id exchange
    // over k-row buffers). A SortMergeJoin appearing means a broadcast
    // was lost and the posting explode started shuffling corpus-wide.
    val p = plan("t_bm25_topk")
    assert(!p.contains("SortMergeJoin"),
      s"t_bm25_topk lost a broadcast to a shuffle join:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"), "t_bm25_topk lost its broadcasts")
    assert(p.contains("partial_sum"), "t_bm25_topk lost map-side score combine")
  }

  test("unigram NLL aggregates with map-side combine on both shuffles") {
    // Count build (term) and doc re-aggregation (doc_id) must both carry
    // partials below their exchanges; the total-mass scalar broadcasts.
    val p = plan("t_unigram_nll")
    assert(p.contains("partial_sum"),
      s"t_unigram_nll lost map-side combine:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"), "t_unigram_nll plans a cartesian")
  }

  test("curation selections are bounded-heap top-N, never a global sort") {
    // o12's top-100 and RRF's three list cuts must plan as
    // TakeOrderedAndProject (per-partition heap + driver merge); the only
    // full Sort allowed is the harness-determinism orderBy at the root.
    for (q <- Seq("o12_dsir_select", "o13_moore_lewis", "t_rrf_fusion")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q lost its bounded top-N:\n${p.take(600)}")
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
    }
    // DSIR's vote table is bounded model state riding the plan as a
    // literal lookup array — the scoring pass must stay JOIN-FREE (a
    // join reappearing means the votes went back to being a plan-side
    // table and the serial broadcast-build chain returned with it).
    val dsir = plan("o12_dsir_select")
    assert(!dsir.contains("Join"),
      s"o12_dsir_select scoring regained a join:\n${dsir.take(600)}")
  }

  test("exact-span family: no cartesian; report is bounded top-N; scrub " +
      "join keeps the duplicated-hash side un-broadcast-forced") {
    val spans = plan("dedup_dup_spans")
    assert(!spans.contains("CartesianProduct"), "dup_spans plans a cartesian")
    assert(spans.contains("TakeOrderedAndProject"),
      s"dup_spans lost its bounded top-N:\n${spans.take(600)}")
    val scrub = plan("dedup_span_scrub")
    assert(!scrub.contains("CartesianProduct"), "span_scrub plans a cartesian")
    assert(!scrub.contains("BroadcastNestedLoopJoin"),
      "span_scrub degenerated to a nested-loop join")
  }

  test("embedding outlier filter broadcasts centroids and combines map-side") {
    val p = plan("emb_outlier_filter")
    assert(p.contains("BroadcastHashJoin"),
      s"emb_outlier_filter centroid join is not broadcast:\n${p.take(600)}")
    assert(p.contains("partial_sum"),
      "emb_outlier_filter lost map-side combine on the score aggregation")
    assert(!p.contains("CartesianProduct"), "emb_outlier_filter plans a cartesian")
  }

  test("interval merge shares ONE per-key sort across both window passes " +
      "and combines the island aggregation map-side") {
    // Both windows (prior-rows max, island counter) use the same
    // (key ORDER BY s, e) spec, so the plan must contain exactly one
    // hash exchange on the key — a second one means the spec diverged
    // and the operator pays a full extra shuffle+sort of every interval.
    val p = plan("w10_interval_merge")
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"w10 expected 1 hash exchange (shared window sort + agg reuse), got $hashEx:\n${p.take(900)}")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      "w10 lost map-side combine on the island aggregation")
    assert(p.linesIterator.count(_.trim.startsWith("+- Sort")) <= 2,
      s"w10 regained an extra sort:\n${p.take(900)}")
  }

  test("interval overlap join is an equi-join: no nested loop, no cartesian, no distinct") {
    val p = plan("j13_interval_overlap")
    assert(!p.contains("CartesianProduct"), "j13 plans a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "j13 nested-loops")
    // owner-bin dedup means NO aggregate-for-distinct above the join:
    // the only aggregates allowed are none (select+sort only).
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0, "j13 lost its join")
    assert(!p.substring(0, joinIdx).contains("HashAggregate"),
      s"j13 regained a post-join distinct:\n${p.take(900)}")
    // Exploded lineitem sides are fact-scaled: never broadcast (the
    // 4.19 -> 2.06 s r10 fix; same contract as j12's pin).
    assert(p.contains("ShuffledHashJoin"),
      s"j13 lost its shuffle_hash bin join:\n${p.take(900)}")
  }

  test("HLL sketch: two keyed aggregations, both map-side combined, no cartesian") {
    // Register build groups (key, bucket) with partial MAX; the fold to
    // the estimate groups the <= m register rows per key. Both must show
    // a partial aggregate so shuffle bytes stay bounded by registers,
    // not rows.
    val p = plan("t_hll_distinct")
    assert(p.contains("partial_max"), "t_hll register build lost map-side MAX")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("windowspecdefinition"), "t_hll should not window")
  }

  test("pagerank: keyed joins and map-side-combined mass sums, no cartesian, no window") {
    // At iters = 3 < checkpointEvery the registered query is ONE lazy
    // plan (the measured 2.4x-faster shape), so it is directly
    // inspectable — this pin also guards against eager checkpointing
    // creeping back in (a memory-scan plan would have no partial_sum).
    val p = plan("g1_pagerank")
    assert(!p.contains("CartesianProduct"), "g1 plans a cartesian product")
    assert(p.contains("partial_sum"), "g1 lost map-side combine on contribution sums")
    assert(!p.contains("windowspecdefinition"), "g1 should not window")
  }

  test("personalized pagerank keeps the g1 shape: keyed/broadcast joins, map-side mass sums") {
    val p = plan("g10_ppr")
    assert(!p.contains("CartesianProduct"), "g10 plans a cartesian product")
    assert(p.contains("partial_sum"), "g10 lost map-side combine on contribution sums")
    assert(!p.contains("windowspecdefinition"), "g10 should not window")
  }

  test("HITS: only 1-row broadcast max crosses; rounds live behind checkpoints") {
    // Each half-round materializes via localCheckpoint, so the FINAL
    // plan shows only the last normalization tail: the checkpointed
    // score scan (ExistingRDD), the 1-row max broadcast cross
    // (IdentityBroadcastMode — the allowed nested-loop class), and the
    // integer scale projection. Anything else — a cartesian, a re-read
    // of the raw scan — means the round structure regressed.
    val p = plan("g9_hits")
    assert(!p.contains("CartesianProduct"), "g9 plans a cartesian product")
    assert(p.contains("ExistingRDD"), "g9 lost its checkpointed round tables")
    assert(p.contains("IdentityBroadcastMode"),
      "g9 lost the 1-row broadcast max-normalization cross")
  }

  test("mutual-NN pairs meet only through the LSH bucket; no all-pairs") {
    // The nn table is bucket-join scored (never a cross product), and
    // mutuality is a semi-join of that bounded table with itself.
    val p = plan("emb_mutual_nn")
    assert(!p.contains("CartesianProduct"), "emb_mutual_nn plans a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "emb_mutual_nn nested-loops")
    assert(p.contains("LeftSemi"), "emb_mutual_nn lost its mutuality semi-join")
  }

  test("AUC: the only window runs over the bucket histogram, above an aggregate") {
    // Parents print before children: the Window node must appear BEFORE
    // (= above) the bucket HashAggregate in the plan text, i.e. its
    // input is the histogram, never the raw event rows.
    val p = plan("a16_auc")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && p.contains("partial_sum"), "a16 lost histogram aggregation")
    assert(p.indexOf("HashAggregate", winIdx) >= 0,
      s"a16 window is not above the bucket aggregate:\n${p.take(900)}")
  }

  test("global rank: one range exchange, in-partition ids, no data-row window") {
    // RankOps' contract: the rows see exactly one RangePartitioning
    // exchange (the sort Spark would do anyway); the only Window is the
    // running offset over the P-row partition-stats aggregate; offsets
    // join back as a broadcast.
    val p = plan("o14_balanced_shards")
    assert(p.contains("Exchange rangepartitioning"), "o14 lost the range exchange")
    assert(p.contains("monotonically_increasing_id"), "o14 lost the in-partition id")
    assert(p.contains("BroadcastHashJoin"), "o14 offsets join must broadcast")
    val winIdx = p.indexOf("Window")
    assert(winIdx < 0 || p.indexOf("HashAggregate", winIdx) >= 0,
      s"o14 window must sit above the P-row stats aggregate:\n${p.take(900)}")
  }

  test("pivot is one aggregate pass over one scan — no join, no per-type re-scan") {
    val p = plan("p7_pivot")
    assert(!p.contains("Join"), s"p7 pivot must not join:\n${p.take(600)}")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"p7 pivot re-scans the input:\n${p.take(600)}")
    assert(p.contains("partial_count") || p.contains("partial_pivotfirst") ||
      p.contains("HashAggregate"), "p7 lost its aggregate")
  }

  test("unpivot is a row-local Expand over one scan — no join, no union of re-scans") {
    val p = plan("p8_unpivot")
    assert(p.contains("Expand"), s"p8 lost the Expand form:\n${p.take(600)}")
    assert(!p.contains("Join") && !p.contains("Union"),
      s"p8 melted via re-scans instead of Expand:\n${p.take(600)}")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"p8 unpivot re-scans the input:\n${p.take(600)}")
    // The only exchange is the harness-determinism sort at the root.
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"p8 unpivot shuffles beyond the output sort:\n${p.take(600)}")
  }

  test("moments: one map-side-combined pass, no window, no second scan") {
    val p = plan("a17_moments")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "a17 lost map-side combine")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"a17 must be a single aggregation pass:\n${p.take(600)}")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"a17 re-scans the input:\n${p.take(600)}")
  }

  test("entropy and KL drift are pure aggregation pipelines: one scan, no join, no window") {
    for (q <- Seq("t_entropy", "t_kl_drift")) {
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("Window"),
        s"$q must be aggregation-only:\n${p.take(600)}")
      assert("Scan parquet".r.findAllIn(p).size == 1,
        s"$q re-scans the corpus:\n${p.take(600)}")
      assert(p.contains("partial_sum") || p.contains("partial_count"),
        s"$q lost map-side combine")
    }
  }

  test("decile profile ranks via the distributed global row number, not a data-row window") {
    val p = plan("o16_decile")
    assert(p.contains("Exchange rangepartitioning"), "o16 lost the range exchange")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "o16 offsets/total must ride broadcasts")
    val winIdx = p.indexOf("Window")
    assert(winIdx < 0 || p.indexOf("HashAggregate", winIdx) >= 0,
      s"o16 window must sit above the P-row stats aggregate:\n${p.take(900)}")
  }

  test("cube is one Expand over one scan; gap stats is one window over one shuffle") {
    val pc = plan("a18_cube")
    assert(pc.contains("Expand"), "a18 lost the grouping-sets Expand")
    assert(!pc.contains("Join") && "Scan parquet".r.findAllIn(pc).size == 1,
      s"a18 must aggregate one scan:\n${pc.take(600)}")
    val pw = plan("w12_gap_stats")
    assert(pw.contains("Window"), "w12 lost its lag window")
    assert("Exchange hashpartitioning".r.findAllIn(pw).size == 1,
      s"w12 must shuffle once on user_id:\n${pw.take(700)}")
    assert(!pw.contains("Join"), s"w12 must not join:\n${pw.take(600)}")
  }

  test("assortativity: keyed joins and one fold — no cartesian, no window") {
    val p = plan("g3_assortativity")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"g3 regressed:\n${p.take(600)}")
    assert(p.contains("partial_sum"), "g3 lost map-side combine")
  }

  test("fuzzy key matching runs over the aggregated value space, blocked equi-join only") {
    val p = plan("dedup_fuzzy_key")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy matching must stay blocked:\n${p.take(600)}")
    // The per-value aggregate must sit BELOW the pair join (value-space
    // design): the plan prints parents first, so an aggregate must
    // appear after the first join node.
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0 && p.indexOf("HashAggregate", joinIdx) >= 0,
      s"fuzzy pairs must form over grouped values, not raw rows:\n${p.take(800)}")
  }

  test("PSI drift: bounds and totals ride broadcasts; no window, no shuffle join") {
    val p = plan("t_psi_drift")
    assert(!p.contains("Window"), s"psi must not window:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"psi's joins are all tiny broadcasts:\n${p.take(600)}")
  }

  test("Heaps curve: the only window runs over the 64-row bucket spine, above aggregates") {
    val p = plan("t_heaps_slope")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, "t_heaps lost its curve prefix sums")
    assert(p.indexOf("HashAggregate", winIdx) >= 0,
      s"t_heaps window must sit above the bucket aggregates:\n${p.take(900)}")
  }

  test("frequent pairs: global top-k is a bounded heap, never a full sort") {
    val p = plan("a19_frequent_pairs")
    assert(p.contains("TakeOrdered"),
      s"a19 must TakeOrdered its top-k:\n${p.take(700)}")
    assert(!p.contains("CartesianProduct"), "a19 went cartesian")
    // the basket self-join must stay a keyed shuffle join: Spark
    // auto-broadcasts the 600k-row fact side under the 10 MB threshold
    // at sf0.1 (r10 finding) — a driver collect that breaks at real SF.
    // (r11 audit: the packed_pairs basket form was measured and lost
    // end-to-end — see the query comment — so the self-join stands.)
    assert(p.contains("ShuffledHashJoin"),
      "a19's pair self-join lost its shuffle_hash hint (fact-side broadcast)")
  }

  // (The coEdges fixture carries the same shuffle_hash hint, but
  // triangleStats checkpoints its input eagerly, so the fixture join
  // never appears in g2's final plan string — the a19 pin above covers
  // the shape; the fixture's hint is asserted by its measured comment
  // and the AQE-descending broadcast audit in PlanAuditSpec.)

  test("triangle census: keyed equi-joins only — no cartesian, no nested loop") {
    val p = plan("g2_triangles")
    assert(!p.contains("CartesianProduct"),
      s"g2 plans a cartesian product:\n${p.take(600)}")
    // The three 1-row count legs combine via broadcast nested loop on
    // 1-row sides (bounded by construction); the wedge/closing joins
    // themselves must be hash equi-joins.
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "g2 lost its equi-joins")
  }

  test("PMI pairs: bounded-heap top-k, no cartesian") {
    val p = plan("t_pmi_pairs")
    assert(p.contains("TakeOrdered"),
      s"t_pmi must TakeOrdered its top-k:\n${p.take(700)}")
    assert(!p.contains("CartesianProduct"), "t_pmi went cartesian")
  }

  test("KS drift: the only window runs over the value spine, above an aggregate; " +
      "argmax is a bounded heap") {
    val p = plan("t_ks_drift")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, "t_ks lost its ECDF prefix sums")
    assert(p.indexOf("HashAggregate", winIdx) >= 0,
      s"t_ks window must sit above the spine aggregate:\n${p.take(900)}")
    assert(p.contains("TakeOrdered"),
      s"t_ks argmax must be TakeOrdered(1):\n${p.take(700)}")
  }

  test("BFS: keyed joins and map-side-combined MIN per round — no cartesian, no window") {
    val p = plan("g4_bfs_hops")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"g4 regressed:\n${p.take(600)}")
    assert(p.contains("partial_min"), "g4 lost the map-side MIN combine")
  }

  test("CUSUM: both stacked windows share ONE per-user exchange") {
    val p = plan("w13_cusum")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(winLines.nonEmpty && winLines.forall(_.contains("user_id")),
      s"w13 windows must partition by user_id:\n${winLines.mkString("\n")}")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"w13 must shuffle once on user_id (shared sort):\n${p.take(900)}")
  }

  test("Gini ranks via the distributed global row number, not a data-row window") {
    val p = plan("a20_gini")
    assert(p.contains("Exchange rangepartitioning"), "a20 lost the range exchange")
    val winIdx = p.indexOf("Window")
    assert(winIdx < 0 || p.indexOf("HashAggregate", winIdx) >= 0,
      s"a20 window must sit above the P-row stats aggregate:\n${p.take(900)}")
  }

  test("bucketed join consumes the storage layout: NO hash exchange on either side") {
    val p = plan("j15_bucketed_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"j15 must join the bucketed tables:\n${p.take(700)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"j15 must not re-shuffle bucketed inputs:\n${p.take(900)}")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"j15 must read bucketed scans:\n${p.take(900)}")
  }

  test("winsorized mean: rank via range exchange; thresholds ride broadcasts") {
    val p = plan("a24_winsorized_mean")
    assert(p.contains("Exchange rangepartitioning"), "a24 lost the range exchange")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "a24 thresholds must ride broadcasts")
  }

  test("debounce: one per-user shuffle, lag window partitioned by user_id") {
    val p = plan("w14_debounce")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(winLines.nonEmpty && winLines.forall(_.contains("user_id")),
      s"w14 window not per-user:\n${winLines.mkString("\n")}")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"w14 must shuffle once:\n${p.take(700)}")
  }

  test("ngram novelty: shingle-keyed MIN fold and join — no cartesian, no window") {
    val p = plan("t_ngram_novelty")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"novelty regressed:\n${p.take(600)}")
    assert(p.contains("partial_min"), "novelty lost the map-side MIN combine")
  }

  test("retrieval family: the tokenize kernel runs behind the checkpoint, " +
      "never in the consuming plan (the r10 one-tokenizer-pass rewrite)") {
    // qtermPostings materializes the pruned postings, so the final plans
    // of bm25/ndcg/curation-pass read checkpointed RDDs and contain NO
    // tokenizer kernel. Since r12 t_bigram_nll joins them at zero: the
    // vocabulary-size pass (the one tokenize this test used to allow)
    // now rides the bigram checkpoint as null-doc_id vocab rows, so a
    // tokenizer in ANY of these final plans is a recompute regression
    // (the kernel re-runs once per consumer, 3-5x).
    val kernel = "(?i)tokens".r
    for (q <- Seq("t_bm25_topk", "t_ndcg_eval", "pipe_curation_pass",
        "t_bigram_nll")) {
      val n = kernel.findAllIn(plan(q)).length
      assert(n == 0, s"$q re-inlined the tokenize kernel ($n occurrences)")
    }
  }

  test("trunc recall: the scored pass runs ONCE behind the topk " +
      "checkpoint — no consumer re-plans a brute pass (r12 fold)") {
    val p = plan("ann_trunc_recall")
    // all dims' cosines form in one eager crossJoin whose ≤|dims|·|q|·5
    // result is checkpointed; the CONSUMING plan must therefore contain
    // neither the scoring kernel nor any nested-loop join — their
    // presence means a truth/hits consumer re-inlined a brute pass
    // (the pre-r12 shape: four sequential passes, 26 jobs)
    assert(!p.contains("vec_dot"),
      s"a consumer re-inlined the scoring kernel:\n${p.take(600)}")
    // the one permitted nested loop is the 1-row scalar attach
    // (dims × broadcast(n_brute aggregate)) — always a Cross build; a
    // brute-pass regression plans an inner/outer loop join over vectors
    val loops = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toList
    assert(loops.forall(_.contains("Cross")),
      s"non-scalar nested loop reappeared:\n${loops.mkString("\n")}")
  }

  test("split contamination: hit flag via ONE window over ng — no join, " +
      "no second exchange of the gram table (r12 fold)") {
    val p = plan("t_split_contamination")
    assert(!p.contains("Join"), s"contamination regressed to a join:\n${p.take(600)}")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(winLines.nonEmpty && winLines.forall(_.contains("ng")),
      s"hit flag must window over ng:\n${winLines.mkString("\n")}")
  }

  test("link prediction: inverted-index equi-join on the part key; bounded top-k") {
    val p = plan("g7_link_predict")
    assert(!p.contains("CartesianProduct"), s"g7 went cartesian:\n${p.take(600)}")
    assert(p.contains("TakeOrdered"), "g7 must TakeOrdered its top-k")
  }

  test("median/MAD: cumulative windows run over VALUE HISTOGRAMS, never " +
      "data rows (the round-8 histogram rewrite, 1.5 -> 0.7 s)") {
    val p = plan("a23_median_mad")
    // Each median pass is a map-side-combined value histogram (hash
    // aggregate keyed on the value) whose output feeds the cumulative
    // window — so every Window in the tree must have a HashAggregate
    // below it (parents print first), and no range exchange of data
    // rows may reappear.
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, "a23 lost its cumulative window")
    assert(p.indexOf("HashAggregate", winIdx) >= 0,
      s"a23 window must consume the value histogram:\n${p.take(900)}")
    assert(!p.contains("Exchange rangepartitioning"),
      s"a23 regressed to a data-row rank sort:\n${p.take(900)}")
  }

  test("residual norms are row-local: no exchange but the harness sort, no join") {
    val p = plan("emb_residual_norms")
    assert(!p.contains("Join"), s"resid must not join:\n${p.take(600)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"resid must not shuffle on a key:\n${p.take(700)}")
  }

  test("k-core peel: final degree fold is map-side combined over the checkpointed core") {
    // The per-round eager checkpoints (measured 9.5 -> 2.9 s, see the
    // query's comment) collapse the printed plan to the LAST round's
    // aggregate over a checkpointed scan — the semi-join rounds execute
    // during construction (the g1 eager-checkpoint plan-visibility
    // trade). Pin what remains observable.
    val p = plan("g5_kcore_peel")
    assert(!p.contains("CartesianProduct"), s"g5 went cartesian:\n${p.take(600)}")
    assert(p.contains("partial_count"), "g5 lost the map-side degree combine")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD") ||
      p.contains("LogicalRDD"), s"g5 must read the checkpointed core:\n${p.take(600)}")
  }

  test("burstiness: vocab fold is map-side combined; top-k is a bounded heap; no window") {
    val p = plan("t_burstiness")
    assert(p.contains("TakeOrdered"), s"t_burst must TakeOrdered:\n${p.take(700)}")
    assert(!p.contains("Window"), "t_burst must not window")
    assert(p.contains("partial_sum"), "t_burst lost map-side combine")
  }

  test("tfidf keywords: the per-doc top-k window partitions by doc_id") {
    val p = plan("t_tfidf_keywords")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(winLines.nonEmpty && winLines.forall(_.contains("doc_id")),
      s"tfidf window not per-doc:\n${winLines.mkString("\n")}")
  }

  test("HHI: two stacked aggregates over one scan — no join, no window") {
    val p = plan("a22_hhi")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"a22 regressed:\n${p.take(600)}")
    assert("Scan parquet".r.findAllIn(p).size == 1, "a22 must read one scan")
  }

  test("JSD drift: totals ride broadcasts over the checkpointed vocab table; " +
      "no window, no cartesian") {
    val p = plan("t_jsd_drift")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"t_jsd regressed:\n${p.take(600)}")
    assert(p.contains("partial_sum"), "t_jsd lost map-side combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"t_jsd's only join is the 1-row totals broadcast:\n${p.take(700)}")
  }

  test("session-6 operators plan no cartesian product (1-row broadcast " +
      "crosses are the only nested loops)") {
    for (q <- Seq("w18_forward_fill", "a32_ols_trend", "t_kmv_join_card",
        "o20_stratified_split", "a33_key_skew_audit", "a34_retention_cohorts",
        "t_bpe_encode", "dedup_url_canonical", "w19_ewma_smooth",
        "mm_image_ahash", "o21_compaction_plan", "g8_modularity",
        "ann_trunc_recall", "ann_ivfpq_topk", "a35_pr_curve",
        "a36_dq_audit", "w20_trending_topk")) {
      assert(!plan(q).contains("CartesianProduct"),
        s"$q plans a cartesian product")
    }
  }

  test("image near-dup joins on the hash band, never a nested loop") {
    val p = plan("mm_image_ahash")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"banding lost:\n${p.take(600)}")
  }

  test("session-6 windows are partitioned (no single-task window)") {
    for ((q, key) <- Seq(
        "w18_forward_fill" -> "user_id",
        "a32_ols_trend" -> "user_id",
        "o20_stratified_split" -> "lang",
        "o21_compaction_plan" -> "part",
        "dedup_url_canonical" -> "canonical")) {
      val p = plan(q)
      val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toList
      assert(winLines.nonEmpty, s"$q has no window")
      assert(winLines.forall(_.contains(key)),
        s"$q window not partitioned by $key:\n${winLines.mkString("\n")}")
    }
  }

  test("lsh-recall reads the shared token checkpoint: no documents scan " +
      "in the final plan (r14 restructure)") {
    // ONE checkpoint of (doc_id, t, tokens) feeds the truth shingles,
    // the minhash lanes, AND the simhash branch — the r14 fix for the
    // two-round degraded+retried contention signature (same-JVM A/B:
    // every alternating rep faster, jobs 27 -> 20). If a branch
    // re-inlines the corpus subtree, a parquet documents scan reappears
    // in the final plan next to the checkpoint RDD scans.
    val p = plan("dedup_lsh_recall")
    assert(p.contains("Scan ExistingRDD"),
      s"lsh-recall lost its shared token checkpoint:\n${p.take(800)}")
    assert(!p.contains("Scan parquet"),
      "a fingerprint branch re-inlined the corpus scan instead of " +
        s"reading the shared checkpoint:\n${p.take(800)}")
  }

  test("containmentRecall: probe-bounded broadcast truth over one shared " +
      "gram checkpoint, never a cartesian (r15 audit operator)") {
    // The truth side is a broadcast of the BOUNDED probe slice against
    // one corpus pass (the dedup_lsh_recall bounding argument); the
    // candidate side reads the SAME materialized gram sets. A regression
    // that unbroadcasts the probe (shuffle-side cartesian) or re-inlines
    // the documents scan breaks the 100 TB posture.
    import org.apache.spark.sql.functions._
    graft.functions.TextFns.registerAll(spark)
    val docs = Tables.load(spark, sfDir, "documents")
    val df = graft.operators.DedupOps.containmentRecall(docs, "doc_id",
      expr("distinct_kgrams(ascii_tokens(text), 3)"),
      dfCap = 50, minContainPpm = 600000L, probeBound = 50L)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"containmentRecall grew a shuffle cartesian:\n${p.take(800)}")
    assert(p.contains("Scan ExistingRDD"),
      s"containmentRecall lost its shared gram checkpoint:\n${p.take(800)}")
    assert(!p.contains("Scan parquet"),
      "a containmentRecall branch re-inlined the corpus scan instead " +
        s"of reading the shared checkpoint:\n${p.take(800)}")
  }
}
