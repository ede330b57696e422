package graft.operators

import graft.Checkpoints.CheckpointSyntax

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs & authorities over a directed edge list (Kleinberg 1999;
  * beyond-reference, SURVEY §2.11) — the second classic link-analysis
  * score next to [[PageRankOps]]: on a bipartite acquisition graph
  * (supplier→part, crawler→document) a HUB is a source that points at
  * many good targets and an AUTHORITY a target pointed at by many good
  * sources; corpus builds use exactly this to rank mirrors/aggregators
  * (hubs) separately from canonical origins (authorities), which one
  * PageRank score conflates.
  *
  * Arithmetic is integer fixed-point end-to-end (the PageRankOps
  * discipline): scores live in micro-units, each half-round is
  *   auth'(p) = (Σ_{s→p} hub(s)) · 1e6 div max_p(Σ hub)
  * (then symmetrically for hubs) — max-normalization instead of the
  * textbook L2 norm, so the division is exact integer in any engine
  * (an L2 norm would round-trip through floating sqrt). Every round's
  * maximum score is therefore exactly 1e6; relative order under
  * max-norm equals the L2-norm order since the two differ by a
  * positive scalar. Floor truncation loses < 1 micro-unit per node per
  * half-round — deterministic and engine-identical.
  *
  * Scale shape per half-round: ONE equi-join of the bounded score
  * table onto the edge list and one map-side-combined SUM keyed by the
  * opposite endpoint, plus a 1-row max broadcast for the
  * normalization. `dimensionNodes` (the PageRankOps contract) rides
  * the score table on broadcast joins so the fact-scaled edge list —
  * materialized once — is never re-shuffled; default keyed-shuffle
  * rounds for web-scale node sets. Lineage cuts route through
  * [[graft.Checkpoints]]: set a durable `spark.checkpoint.dir` for long
  * cluster runs (without one, a lost executor loses the cut).
  */
object HitsOps {

  /** Hub and authority scores after `iters` full rounds on the
    * directed graph `edges0(srcCol, dstCol)`. Duplicate edges are
    * collapsed unless `assumeDistinct`; null endpoints dropped.
    * Returns ("hub", src, score_micro) for every source and
    * ("auth", dst, score_micro) for every destination; sources start
    * at 1e6.
    */
  def hubsAndAuthorities(
      edges0: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 2, assumeDistinct: Boolean = false,
      dimensionNodes: Boolean = false): DataFrame = {
    require(iters > 0, "iters must be positive")
    val projected = edges0
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("p"))
      .filter(col("s").isNotNull && col("p").isNotNull)
    val edgesRaw = if (assumeDistinct) projected else projected.distinct()
    // Broadcast rounds re-scan the edge list (no exchange to reuse), so
    // the one-time cut always pays there; lazy otherwise for short loops
    // (the PageRankOps measurement).
    val edges =
      if (dimensionNodes || iters >= 2) edgesRaw.checkpointed() else edgesRaw
    // else-branch hints shuffle_hash: without it the caller's "nodes
    // are fact-scaled" declaration is advisory only — Spark's
    // under-10MB estimate would auto-broadcast the rank/frontier table
    // at test SF anyway (the a19 class).
    def maybeB(df: DataFrame): DataFrame =
      if (dimensionNodes) broadcast(df) else df.hint("shuffle_hash")

    // score · 1e6 div max(score): max-normalize via a 1-row broadcast
    // cross (the only nested loop — PlanShapeSpec's allowed class).
    // The raw aggregate feeds BOTH the max and the scaled projection,
    // so it is ALWAYS cut eagerly: left lazy, each half-round's
    // subtree appears twice and the replication compounds per round
    // (2^(2·iters) copies — the g3 duplicated-deg defect, squared).
    // The table is node-sized, so the cut is one linear job per
    // half-round in either join mode.
    //
    // Round-batching bake-off, CLOSED (same-JVM A/B at sf0.1, parity
    // checksummed): leaving the AUTH half-rounds
    // lazy (cut hubs only) ran 5.1/5.2/5.3 s vs 3.4/3.7/4.5 s for this
    // form — and with MORE driver jobs (29 vs 25), because each lazy
    // half-round's subtree re-executes per consumer INCLUDING its
    // broadcast max-aggregate build; no cuts at all was worse still
    // (5.1-5.5 s). Fewer barriers does not mean fewer jobs when the
    // barrier is what makes a twice-read subtree run once — the
    // per-half-round cut is the measured optimum at both this scale
    // and (by the same duplication argument) at cluster scale.
    def maxNorm(raw: DataFrame, key: String, v: String): DataFrame = {
      val df = raw.checkpointed()
      // The multiply lifts to DECIMAL(38,0) (HUGEINT oracle-side, the
      // g3 treatment): raw sums reach in-degree · 1e6, so a node with
      // ~9.2e6 summed in-micro-units would overflow BIGINT·1e6 —
      // silently wrapped by Spark, raised by DuckDB, either way broken.
      // The normalized quotient is ≤ 1e6 and casts back exactly.
      df.crossJoin(broadcast(df.agg(max(col(v)).as("__mx"))))
        .select(col(key), expr(
          s"CAST((CAST($v AS DECIMAL(38,0)) * 1000000) div __mx AS BIGINT)").as(v))
    }

    // The first half-round is DEGENERATE and fuses to one aggregate
    // (the labelPropagation treatment): seed hubs are 1e6 for every
    // source, so auth_raw(p) = Σ_s∈in(p) 1e6 = 1e6 · indegree(p) over
    // the distinct edge list — no seed-distinct shuffle, no first-round
    // hub join. The hub universe is unchanged (every source reappears
    // in the first real hub half-round's groupBy); value-identity is
    // pinned in PageRankOpsSpec against the generic replay.
    var auths = maxNorm(
      edges.groupBy("p")
        .agg((count(lit(1)) * lit(1000000L)).as("a")),
      "p", "a")
    var hubs = maxNorm(
      edges.join(maybeB(auths), Seq("p"))
        .groupBy("s").agg(sum(col("a")).as("h")),
      "s", "h")
    for (_ <- 2 to iters) {
      auths = maxNorm(
        edges.join(maybeB(hubs), Seq("s"))
          .groupBy("p").agg(sum(col("h")).as("a")),
        "p", "a")
      hubs = maxNorm(
        edges.join(maybeB(auths), Seq("p"))
          .groupBy("s").agg(sum(col("a")).as("h")),
        "s", "h")
    }
    auths.select(lit("auth").as("kind"), col("p").as("node"),
        col("a").as("score_micro"))
      .unionByName(hubs.select(lit("hub").as("kind"), col("s").as("node"),
        col("h").as("score_micro")))
  }
}
