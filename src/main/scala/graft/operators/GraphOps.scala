package graft.operators

import graft.Checkpoints.CheckpointSyntax

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Distributed connected components over an edge list — the transitive-
  * closure step that turns near-duplicate PAIRS (what every detector in
  * DedupOps/SimilarityOps emits) into duplicate CLUSTERS, so a pipeline
  * can keep exactly one survivor per cluster. Pairs alone under-delete:
  * A~B and B~C with no direct A~C edge still means {A,B,C} is one
  * duplicate group.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", 2014) — the standard
  * O(log n)-round formulation. Naive label propagation needs O(diameter)
  * rounds, and near-dup graphs DO form long chains (documents drifting
  * one edit at a time), so diameter is not bounded by a constant at
  * corpus scale; star rounds square away chains instead.
  *
  * Scale shape per round: one groupBy(node) for the neighborhood minima
  * and one equi-join back on the same node key (exchange reuse — no
  * second shuffle of the edge list), never a collect_list of a
  * neighborhood: a converged star's center has degree = cluster size,
  * and materializing that list in one task is exactly the hub-OOM this
  * formulation exists to avoid. Driver-side state is one (count,
  * hash-sum) signature pair per round for the convergence test; each
  * round's lineage is truncated through [[graft.Checkpoints]] (SURVEY
  * §4.2 iterative-plan note, same treatment as KMeansOps).
  *
  * Fault tolerance: with no checkpoint directory the cuts keep blocks
  * on executors only — one lost executor mid-run is unrecoverable; set
  * a durable `spark.checkpoint.dir` for long cluster runs.
  */
object GraphOps {

  /** Connected components of the undirected graph given by `edges0`
    * (two integral columns). With the default `assumeCanonical = false`,
    * loops and duplicate/reversed edges are tolerated and canonicalized
    * away and null endpoints dropped; with `true` they are out of
    * contract (below).
    *
    * `assumeCanonical = true` skips that canonicalization (one |pairs|
    * distinct shuffle plus a second |pairs| checkpoint). The CALLER
    * asserts the exact contract [[DedupOps.pairsWithinBuckets]]
    * guarantees:
    *  - rows are DISTINCT;
    *  - both endpoints are NON-NULL;
    *  - STRICTLY src < dst (no loops, no reversed duplicates);
    *  - both id columns have an INTEGRAL type (byte, short, int, long),
    *    whose ordering equals the long-cast ordering the rounds use.
    * The integral types are checked from the schema, which runs no job;
    * any other id type (a string or double id can order differently
    * from its long cast and yield non-min component ids) is refused.
    * The other three would each cost a job and are not checked: an
    * input that violates them is OUT OF CONTRACT, and the flag path may
    * then emit duplicate node rows or non-min components, or drop
    * self-loop-only nodes, with no failure signal (pinned in
    * GraphOpsSpec). When in doubt, leave the default.
    *
    * Returns one row per distinct node: (node, component) where
    * `component` is the MINIMUM node id in the node's component —
    * deterministic, so downstream "survivor = (node == component)"
    * is a stable keep-first rule.
    */
  def connectedComponents(
      edges0: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50, assumeCanonical: Boolean = false): DataFrame = {
    require(maxIter > 0, "maxIter must be positive")
    if (assumeCanonical) requireIntegralIds(edges0, srcCol, dstCol)

    // Orientation (u < v) with and without the dedup shuffle: duplicate
    // edges are harmless INSIDE a round (both star ops only take mins
    // over neighborhoods), so largeStar's intermediate output skips the
    // distinct — one fewer exchange per round — and only smallStar's
    // round result pays it, keeping |E| bounded across rounds.
    def orient(df: DataFrame): DataFrame =
      df.filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
    def canon(df: DataFrame): DataFrame = orient(df).distinct()

    // Materialize the (possibly expensive) upstream ONCE — node capture
    // and edge canonicalization both read this checkpoint, not the
    // input lineage (a candidate-pair generator would otherwise run
    // twice).
    val raw = edges0
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .checkpointed()

    // Nodes of the input graph (captured before star rounds rewrite the
    // edge set): isolated self-loop nodes still get a component row.
    val inputNodes = raw
      .select(col("u").as("n")).union(raw.select(col("v").as("n")))
      .filter(col("n").isNotNull)
      .distinct()

    // assumeCanonical: the caller asserts the
    // input is ALREADY canonical — distinct pairs with src < dst
    // strictly, no nulls, integral ids (the scaladoc's contract). Every
    // LSH-style pair generator in DedupOps ends in pairsWithinBuckets,
    // whose output is exactly that shape
    // (sorted bucket member lists emit id_a < id_b, then a distinct) —
    // so re-canonicalizing here paid one full |pairs| distinct shuffle
    // plus a SECOND |pairs| checkpoint materialization per cc call for
    // nothing (guide §2.4: remove shuffles on data already partitioned/
    // deduplicated as needed). With the assertion, the raw checkpoint
    // IS the initial edge set. Default false: arbitrary edge lists
    // (loops, reversed duplicates) still take the canon path.
    var edges = if (assumeCanonical) raw else canon(raw).checkpointed()

    // Fixpoint test: the round result is a NODE-DISJOINT STAR FOREST —
    // every child (v) has exactly one parent and never appears as a
    // center (u). Exact both ways: orientation keeps u < v, so each
    // star's center IS its component minimum and both star ops map such
    // a forest to itself; conversely a chain (child that is also a
    // center) or a multi-parent child — e.g. {(a,c),(b,c)}, which star
    // rounds still rewrite — fails the test. Checking the property
    // directly (ONE aggregation over the round's cached output: per
    // node, child-occurrence count nc and total occurrences) replaces
    // the previous edge-set-signature equality test, which could only
    // detect the fixpoint by running one extra FULL star round that
    // changed nothing — at bench scale that confirm round was ~40% of
    // the loop's wall clock; at scale it is one shuffle of 2|E| rows
    // versus a whole star round.
    def isStarForest(df: DataFrame): Boolean =
      df.select(col("v").as("n"), lit(1).as("c"))
        .union(df.select(col("u").as("n"), lit(0).as("c")))
        .groupBy("n").agg(sum(col("c")).as("nc"), count(lit(1)).as("tot"))
        .filter(col("nc") > 1 || (col("nc") === 1 && col("tot") > 1))
        .isEmpty

    // The star-round min joins carry NO join hint, deliberately: `mins` is
    // per-node, but its lineage is a GROUP-BY over checkpointed edges,
    // whose size estimate is SOUND — Spark's
    // adaptive broadcast is then the correct mechanism at every scale
    // (small rounds broadcast, big rounds flip to keyed joins as the
    // honest estimate crosses the threshold — and star rounds SHRINK,
    // so late rounds re-enter the broadcast regime even on a graph that
    // started at web scale). Hard-hinting shuffle_hash here was
    // measured +0.8-1.4 s on every cc consumer at sf0.1 (it forces
    // 2x32-task exchanges inside rounds the coalesceTo tier runs on 1
    // task) and buys nothing at 100 TB that the estimate does not
    // already provide. Contrast RangeJoinOps/j13, where the estimate is
    // structurally WRONG (data-dependent explode) and the hint is
    // load-bearing.
    // large-star: per node u over the SYMMETRIZED adjacency, m =
    // min(N(u) ∪ {u}); rewire every strictly-larger neighbor to m.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      orient(sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }

    // small-star: key each edge by its LARGER endpoint u with smaller
    // neighbors N(u); m = min(N(u)); rewire N(u) ∪ {u} minus m to m.
    def smallStar(e: DataFrame): DataFrame = {
      // canon() keeps u < v, so the larger endpoint is v: group by it.
      val dirE = e.select(col("v").as("u"), col("u").as("v"))
      val mins = dirE.groupBy("u").agg(min(col("v")).as("m"))
      canon(
        dirE.join(mins, "u").filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(mins.select(col("u"), col("m").as("v"))))
    }

    // Adaptive parallelism: |E| of the INPUT picks the round width — a
    // small edge set (every round at test/sf scale; the late rounds at
    // any scale shrink further) runs its star ops on a handful of tasks
    // instead of paying full-width task overhead per round. Same idea as
    // AQE's partition coalescing. The tier is chosen once, from the
    // initial count: |E| never grows across star rounds, so the choice
    // only ever becomes more conservative.
    // One aggregate job yields BOTH the tier count and the initial
    // star-forest test (they were two separate driver jobs; at the
    // CC-family's fixture sizes each job is ~0.2 s of pure overhead):
    // per node, child-occurrences nc and total occurrences tot — the
    // forest property is max-violation = 0, and Σtot = 2|E|.
    val probe = edges.select(col("v").as("n"), lit(1).as("c"))
      .union(edges.select(col("u").as("n"), lit(0).as("c")))
      .groupBy("n").agg(sum(col("c")).as("nc"), count(lit(1)).as("tot"))
      .agg(coalesce(sum(col("tot")), lit(0L)).as("rows2"),
        coalesce(max(when(col("nc") > 1 ||
          (col("nc") === 1 && col("tot") > 1), 1).otherwise(0)), lit(0)).as("viol"))
      .collect()(0)
    val e0 = probe.getLong(0) / 2
    val coalesceTo =
      if (e0 <= 100_000L) 1 else if (e0 <= 2_000_000L) 4 else 0

    var converged = probe.getInt(1) == 0
    var it = 0
    while (!converged && it < maxIter) {
      val base = if (coalesceTo > 0) edges.coalesce(coalesceTo) else edges
      val next = smallStar(largeStar(base)).checkpointed()
      converged = isStarForest(next)
      edges = next
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")

    // At fixpoint the edge set is a union of stars (u < v with u the
    // component min): v's component is u, centers and isolated nodes
    // map to themselves.
    //
    // assumeCanonical output, valid only under the scaladoc's
    // contract — distinct, non-null, integral ids with src < dst in their
    // long cast, so each star's center is its component minimum: with no
    // self-loops possible,
    // every input node carries >= 1 real edge, so the fixpoint star
    // forest ITSELF spans the node universe — children are exactly the
    // v column (each exactly once, the forest property the convergence
    // test just asserted), centers the distinct u column. Reading the
    // result straight off the fixpoint edges drops the inputNodes
    // union+distinct over the 2x|pairs| RAW pair list and the |V|-row
    // left join (guide §2.4); the distinct here runs over |E_fix| rows
    // keyed by |components| — map-side combine crushes it. The general
    // path keeps the join: self-loop-only nodes appear in raw but not
    // in the fixpoint forest, and must still get a component row.
    if (assumeCanonical)
      edges.select(col("v").as("node"), col("u").as("component"))
        .union(edges.select(col("u"), col("u")).distinct()
          .toDF("node", "component"))
    else inputNodes
      .join(edges.select(col("v").as("n"), col("u").as("c")), Seq("n"), "left")
      .select(col("n").as("node"), coalesce(col("c"), col("n")).as("component"))
  }

  /** Triangle census of the undirected graph given by `edges0` (loops
    * and duplicate/reversed edges canonicalized away, null endpoints
    * dropped): one row with node/edge/wedge/triangle counts and the
    * global (transitivity) clustering coefficient in ppm —
    * 10⁶ · 3T / wedges, integer-floored.
    *
    * Algorithm: degree orientation (Ortmann–Brandes / the MapReduce
    * "node-iterator++" family). Each undirected edge is directed from
    * its (degree, id)-smaller endpoint to the larger, which bounds
    * every OUT-adjacency by O(√m) even at a power-law hub — so the
    * oriented out-neighbor list is a BOUNDED array, and each triangle
    * is counted exactly once as
    *   T = Σ over oriented edges (u→v) of |N⁺(u) ∩ N⁺(v)|
    * (the closing node w of a triangle u≺v≺w sits in both out-sets of
    * its unique ≺-smallest edge). The per-edge sorted-array intersect
    * replaces the Σ C(outdeg, 2)-row wedge-stream join of the naive
    * formulation. Bake-off on the sf0.1 co-purchase graph (1.2 M edges,
    * 41 M oriented wedges): 12.0 s all-shuffle wedge join → 6.9 s
    * broadcast + packed-long closing keys → 6.5–7 s this intersect
    * form. Locally the last two tie (the VM's floor is per-stage
    * overhead), but the intersect form is the one that scales: the hot
    * loop touches Σ (out(u)+out(v)) array elements with NO 41 M-row
    * wedge intermediate — nothing proportional to wedge count is ever
    * built, shuffled, or probed.
    *
    * Scale shape: degree table and adjacency table are node-sized —
    * broadcast only under `broadcastEdgeLimit` (edge list fits an
    * executor), otherwise keyed shuffle joins; the collect_list here
    * is NOT the hub-OOM pattern connectedComponents avoids, because
    * orientation caps the collected list at O(√m) BY CONSTRUCTION
    * (max out-degree 97 on the sf0.1 graph). Counts aggregate with
    * map-side combine to one row. Σd(d−1)/2 and 3T·10⁶ stay far
    * inside BIGINT for any graph whose edge list fits storage.
    */
  def triangleStats(
      edges0: DataFrame, srcCol: String, dstCol: String,
      broadcastEdgeLimit: Long = 5_000_000L): DataFrame = {
    val e = edges0
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
      // Both the degree pass and the orientation join read the
      // canonical edge set; checkpoint so an expensive upstream
      // candidate generator runs once (connectedComponents' treatment).
      .checkpointed()

    val eCount = e.count() // free: e is checkpointed
    val small = eCount <= broadcastEdgeLimit
    // Over the limit the hint makes the guard binding — without it
    // Spark's own size estimate could still auto-broadcast a
    // fact-scaled degree/adjacency table (the a19 class).
    def maybeB(df: DataFrame): DataFrame =
      if (small) broadcast(df) else df.hint("shuffle_hash")

    // Each of the deg/oriented/adj checkpoints guarantees that its
    // multi-consumer subtree runs once at any scale (dropping them to
    // shorten the serialized-job chain measured neutral at sf0.1).
    val deg = e.select(col("a").as("v_")).union(e.select(col("b").as("v_")))
      .groupBy("v_").agg(count(lit(1)).as("d"))
      .checkpointed()

    // Orient by (degree, id): strict total order, so exactly one
    // direction survives per edge.
    val withDeg = e
      .join(maybeB(deg.select(col("v_").as("a"), col("d").as("da"))), Seq("a"))
      .join(maybeB(deg.select(col("v_").as("b"), col("d").as("db"))), Seq("b"))
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .checkpointed()

    // Out-adjacency (sorted for a deterministic plan; size ≤ O(√m) by
    // orientation) and the per-edge closing intersect. Edges whose dst
    // has no out-edges drop out of the inner join — they contribute 0
    // triangles by definition.
    val adj = oriented.groupBy(col("src"))
      .agg(array_sort(collect_list(col("dst"))).as("nbrs"))
      .checkpointed()
    val triangles = oriented
      .join(maybeB(adj.select(col("src"), col("nbrs").as("ns"))), Seq("src"))
      .join(maybeB(adj.select(col("src").as("dst"), col("nbrs").as("nd"))),
        Seq("dst"))
      // sorted_intersect_count, not size(array_intersect): both
      // adjacency lists are sorted ascending sets, so a codegen'd
      // two-pointer walk counts the closure without array_intersect's
      // per-row hash-set build and result-array allocation (the
      // closing stage's measured dominant cost).
      .select(call_function("sorted_intersect_count",
        col("ns"), col("nd")).as("k"))
      .agg(coalesce(sum(col("k")), lit(0L)).as("n_triangles"))

    val degAgg = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(d * (d - 1)) div 2").cast("long").as("n_wedges"))
    val edgeAgg = e.agg(count(lit(1)).as("n_edges"))

    degAgg.crossJoin(broadcast(edgeAgg)).crossJoin(broadcast(triangles))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          expr("(n_triangles * 3 * 1000000) div n_wedges"))
          .cast("long").as("global_cc_ppm"))
  }

  /** Synchronized label propagation (Raghavan et al. 2007) — community
    * detection WITHIN components: connectedComponents answers "are these
    * transitively linked at all"; LPA's majority rule answers "which
    * densely-linked group does each node sit in". Deterministic variant:
    * every round, every node adopts its neighbors' most frequent label,
    * ties broken to the SMALLEST label; labels start as node ids. A
    * fixed round count is a defined report of the propagation front (the
    * kcore peeling-front convention in this file) — synchronized LPA can
    * oscillate on bipartite-ish shapes (star hubs trade labels with
    * their leaves; pinned in GraphOpsSpec), so a round count, not a
    * convergence test, is the only deterministic contract.
    *
    * Scale shape per round: one keyed join (labels onto the symmetric
    * edge list), one map-side-combined (node, label) count, one hash
    * aggregate per node for the argmax (bounded by the node's distinct
    * neighbor labels — never a global or per-group sort). The loop stays
    * lazy: each
    * round reads the prior labels exactly once, the PageRank
    * single-read-round measurement (per-round checkpoints HURT there).
    *
    * `assumeCanonical = true` carries [[connectedComponents]]'s exact
    * caller contract — rows DISTINCT, both endpoints NON-NULL, STRICTLY
    * src < dst, INTEGRAL id columns (byte, short, int, long: checked from
    * the schema, with no job, and any other type refused; the other
    * three are not checked) — plus one of its own: the edges are already
    * materialized or cheap to re-read. The contract additionally
    * LOAD-BEARS round 1's fused min-aggregate below: the fusion is only
    * valid because every (dst, label) count is exactly 1, which needs
    * edge DISTINCTNESS — a non-distinct input silently corrupts round 1
    * AND every later majority count. Multi-edge inputs (e.g. the raw
    * co-purchase list with one row per shared order) MUST take the
    * default path, whose internal distinct is load-bearing.
    * Returns (v, label). */
  def labelPropagation(
      edges0: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, dimensionNodes: Boolean = false,
      assumeCanonical: Boolean = false): DataFrame = {
    if (assumeCanonical) requireIntegralIds(edges0, srcCol, dstCol)
    // dimensionNodes (the PageRankOps contract): caller asserts the
    // node universe is dimension-bounded, so the |V|-row label table
    // rides a BROADCAST join each round and the symmetric edge list is
    // never re-shuffled. Default false — web-scale node sets need the
    // keyed-shuffle rounds (hinted, so the declaration binds — see
    // PageRankOps.maybeB).
    def maybeB(df: DataFrame): DataFrame =
      if (dimensionNodes) broadcast(df) else df.hint("shuffle_hash")
    // assumeCanonical (the connectedComponents contract): caller
    // asserts distinct a < b edges, no nulls, integral ids, ALREADY
    // materialized (checkpointed or similarly cheap to re-read), so the
    // canon path's |E| distinct shuffle + |E| checkpoint would be
    // redundant (g8_modularity checkpoints its canonical edges itself).
    val e =
      if (assumeCanonical)
        edges0.select(col(srcCol).cast("long").as("a"),
          col(dstCol).cast("long").as("b"))
      else edges0
        .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .distinct()
        // the symmetric list is read once per round plus the node seed:
        // checkpoint the canonical edges so an expensive upstream candidate
        // generator runs once (connectedComponents' treatment)
        .checkpointed()
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
    // Round 1 is DEGENERATE and fuses to one aggregate: the seed
    // labels are the identity map over the node universe, so the first round's
    // join matches every mirrored edge exactly once and — the edge list
    // being distinct by construction above, or by CALLER ASSERTION under
    // assumeCanonical — every (dst, label=src) count is exactly 1. This
    // fusion therefore depends on the scaladoc's assumeCanonical contract:
    // a non-distinct input under the flag corrupts it with no failure.
    // The argmax (highest count, then smallest label) therefore reduces
    // to min(src) per dst, which also spans
    // the full node universe (every node appears as a dst of the
    // mirrored list). One keyed aggregate replaces the seed-distinct
    // shuffle AND round 1's join + two aggregates; value-identity is
    // pinned against the generic round in GraphOpsSpec. rounds = 0
    // keeps the explicit identity-seed path.
    var labels =
      if (rounds <= 0)
        sym.select(col("src").as("v")).distinct()
          .select(col("v"), col("v").as("label"))
      else
        sym.groupBy(col("dst").as("v")).agg(min(col("src")).as("label"))
    for (_ <- 2 to rounds) {
      val cnt = sym
        .join(maybeB(labels.select(col("v").as("src"), col("label"))), Seq("src"))
        .groupBy(col("dst").as("v"), col("label"))
        .agg(count(lit(1)).as("c"))
      // Argmax as a HASH aggregate, not a sort window: max over
      // struct(c, -label) is lexicographic — highest count first, then
      // smallest label (labels are node ids, nonnegative) — the same
      // deterministic majority rule, with map-side partial combine and
      // no per-round sort of the (v, label) count table.
      //
      // A one-exchange variant is deliberately not used: repartition(v)
      // before the count satisfies BOTH aggregates' distributions (hash
      // on a grouping-key subset), collapsing the round to one exchange
      // — 1.13 -> 0.88 s at sf0.1, parity exact.
      // But it ships the RAW join output (|E| rows per round) where
      // this form ships map-side-COMBINED (v,label) partials, bounded
      // by P x |V| x labels under the dimensionNodes contract — at
      // fact-scale |E| the raw exchange is the bottleneck the combine
      // exists to avoid. Local constants lose to the 100 TB shape.
      labels = cnt.groupBy("v")
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("v"), (-col("m.nl")).as("label"))
    }
    labels
  }

  /** The free half of the `assumeCanonical` contract: both id columns
    * are integral. Resolving the projection reads the schema only. */
  private def requireIntegralIds(edges: DataFrame, cols: String*): Unit =
    cols.foreach { c =>
      val t = edges.select(col(c)).schema.head.dataType
      require(t == LongType || t == IntegerType || t == ShortType || t == ByteType,
        s"assumeCanonical needs integral id columns; $c is ${t.simpleString}")
    }
}
