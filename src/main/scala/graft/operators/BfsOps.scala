package graft.operators

import graft.Checkpoints.CheckpointSyntax

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-hop multi-source BFS over an edge list (beyond-reference,
  * SURVEY §2.11) — the "distance to a trusted seed set" signal a
  * web-corpus build uses for spam rank (hops from a whitelist domain),
  * crawl-frontier depth caps, and near-seed sampling; the complement of
  * [[PageRankOps]]' global authority and GraphOps' component ids.
  *
  * Frontier expansion is relational, never driver-side: each round is
  * ONE keyed shuffle — the bounded distance table joins the edge list on
  * `src` (candidate hop = dist+1), the previous table unions in, and a
  * map-side-combined MIN per node keeps the shortest hop. Distances only
  * ever shrink, so re-expanding already-settled nodes is redundant work
  * but not an error; with hop counts bounded by `maxHops` the table
  * holds ≤ |V| rows per round. A short loop (quality signals use 2-5
  * hops) stays ONE lazy DAG — the PageRankOps measurement (eager
  * per-round checkpoints 11.9 s vs 4.9 s lazy at sf0.1) applies verbatim
  * since the loop shape is identical, and so does its JobCensus
  * floor: g4's 15 driver jobs are the base cut plus AQE
  * stage / broadcast-build materializations of an already-single-DAG
  * loop — no round barrier exists to batch; `checkpointEvery` truncates
  * lineage on longer walks, through [[graft.Checkpoints]] — set a
  * durable `spark.checkpoint.dir` on long cluster runs (without one, a
  * lost executor loses the cut).
  */
object BfsOps {

  /** Minimum hop count from any seed after `maxHops` rounds on the
    * directed graph `edges0(srcCol, dstCol)`. `seeds` carries one
    * column, the seed node ids (hop 0). Returns (node, hops) for every
    * node appearing as source or destination, hops = -1 where no seed
    * reaches the node within `maxHops` (a defined sentinel: unreached
    * is data, not absence — downstream gates filter on it).
    *
    * `assumeDistinct` skips the edge dedup shuffle under the caller's
    * uniqueness guarantee (the PageRankOps contract — duplicates are
    * harmless for MIN-combine BFS, unlike rank mass, but the dedup
    * still halves the join volume when the input is dirty).
    *
    * `dimensionNodes` (the PageRankOps contract): the caller asserts
    * the node universe is dimension-bounded, so the ≤|V|-row distance
    * table rides a BROADCAST join each round and the fact-scaled edge
    * list is never re-shuffled. Default false — the keyed-shuffle
    * rounds are the only shape that survives web-scale node sets.
    */
  def multiSourceBfs(
      edges0: DataFrame, srcCol: String, dstCol: String, seeds: DataFrame,
      maxHops: Int, checkpointEvery: Int = 4,
      assumeDistinct: Boolean = false,
      dimensionNodes: Boolean = false,
      sourcesSpanNodes: Boolean = false): DataFrame = {
    require(maxHops > 0, "maxHops must be positive")
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    val projected = edges0
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val edgesRaw = if (assumeDistinct) projected else projected.distinct()
    // Measured three ways at sf0.1, 3 hops (2 runs each): all-lazy
    // 4.5/1.6 s, base checkpoint only 1.8/1.5 s, base + per-2-round
    // dist checkpoints 2.8/2.7 s. The base cut pays off because `dist`
    // is read twice per round (expand + union) and the lazy subtree
    // containing the distinct+mirror doubles per round (the k-core
    // finding); eagerly cutting the SMALL dist table, by contrast,
    // serializes rounds for no saved recompute — so dist only truncates
    // lineage on long walks (checkpointEvery), never short ones.
    val materialize = maxHops >= 2
    val edges = if (materialize) edgesRaw.checkpointed() else edgesRaw
    // else-branch hints shuffle_hash: without it the caller's "nodes
    // are fact-scaled" declaration is advisory only — Spark's
    // under-10MB estimate would auto-broadcast the rank/frontier table
    // at test SF anyway (the a19 class).
    def maybeB(df: DataFrame): DataFrame =
      if (dimensionNodes) broadcast(df) else df.hint("shuffle_hash")
    // nodes is read ONCE (the final left join) and derives from the
    // already-cut edges — materializing it would be a pure extra job
    // (unlike PageRank, whose per-round update re-reads it).
    // `sourcesSpanNodes` (the PageRankOps contract): every node also
    // appears as a source (mirrored/symmetric edge lists), so the
    // distinct runs over |E| source rows instead of 2|E| endpoints.
    val nodes =
      if (sourcesSpanNodes) edges.select(col("src").as("node")).distinct()
      else edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node")))
        .distinct()

    val seedCol = seeds.columns.head
    var dist = seeds.select(col(seedCol).cast("long").as("node"))
      .withColumn("hops", lit(0L))
    for (i <- 1 to maxHops) {
      // Classic frontier restriction: only nodes SETTLED at hop i-1 can
      // shorten a neighbor this round (any shortest path of length i
      // ends a node at distance i-1), so nodes settled earlier are not
      // re-expanded. Semantics-neutral under the MIN-combine; the
      // expansion volume drops from |dist| out-edges per round to the
      // new frontier's out-edges.
      val frontier = dist.filter(col("hops") === (i - 1))
      val expanded = edges.join(maybeB(frontier), edges("src") === frontier("node"))
        .select(col("dst").as("node"), (col("hops") + 1).as("hops"))
      dist = dist.union(expanded)
        .groupBy("node").agg(min(col("hops")).as("hops"))
      // The double-read of `dist` doubles ITS subtree per round even
      // with the base cut; truncate every `checkpointEvery` rounds
      // (|dist| <= |V|, so each cut is node-table-sized).
      if (i % checkpointEvery == 0 && i < maxHops)
        dist = dist.checkpointed()
    }
    nodes.join(maybeB(dist), Seq("node"), "left")
      .select(col("node"), coalesce(col("hops"), lit(-1L)).as("hops"))
  }
}
