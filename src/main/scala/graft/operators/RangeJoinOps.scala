package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Binned (bucketized) range join: points joined to intervals on
  * `start <= point <= end` WITHOUT the non-equi-join trap.
  *
  * Spark plans a bare inequality join as BroadcastNestedLoop (or a
  * cartesian product) — O(|points| x |intervals|) compared pairs, the
  * classic 100 TB cliff. The standard repair is to quantize the domain
  * into fixed-width bins: an interval is exploded to every bin it
  * overlaps, a point belongs to exactly one bin, and the join becomes an
  * EQUI-join on the bin id plus a cheap residual `between` filter. Each
  * qualifying (interval, point) pair meets in exactly one bin — the
  * point's — so no post-join dedup is needed.
  *
  * Scale shape: one shuffle on the bin id for each side; compared pairs
  * collapse from |P| x |I| to sum over bins of |P_bin| x |I_bin|. Pick
  * `binWidth` near the typical interval length: the explode fan-out is
  * ceil(len/width) + 1 per interval (bounded), while a too-wide bin
  * degrades toward the cartesian corner case. Calendar-skewed loads
  * (all intervals in one hot hour) concentrate in few bins — compose
  * with SkewOps salting on the bin key if the histogram says so.
  *
  * Beyond-reference operator (SURVEY §2.11): the reference filters rows
  * to scalar duration bands (§2.2 F4); joining two SETS on interval
  * containment is its relational generalization.
  */
object RangeJoinOps {

  /** Join `points` (long column `ptCol`) to `intervals` (long columns
    * `startCol`/`endCol`, inclusive ends) on containment. Emits
    * points-side columns plus the interval columns; rows with null
    * point/bounds never match (SQL inequality semantics).
    */
  def binnedRangeJoin(
      points: DataFrame, intervals: DataFrame,
      ptCol: String, startCol: String, endCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val overlap = points.columns.toSet.intersect(intervals.columns.toSet)
    require(overlap.isEmpty,
      s"point/interval column names collide: ${overlap.mkString(", ")} — rename one side first")
    // floorDiv, not `/` or `div`-on-doubles: negative epochs must land in
    // the bin to their left, and both sides must agree bit-for-bit.
    def bin(c: Column): Column = floor(c / lit(binWidth)).cast("long")
    val iv = intervals
      .filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        col(startCol) <= col(endCol))
      .withColumn("__bin", explode(sequence(bin(col(startCol)), bin(col(endCol)))))
    val pt = points
      .filter(col(ptCol).isNotNull)
      .withColumn("__bin", bin(col(ptCol)))
    // shuffle_hash, not Spark's choice: BOTH sides are fact-scaled in
    // general (points always; intervals whenever they derive from a
    // fact table), and Spark's size estimate under-counts post-explode
    // output, so at test SF it silently BROADCASTS one side — the a19
    // defect class, found live on j12 by the AQE-descending broadcast
    // audit (PlanAuditSpec). The hinted plan keys both sides on the
    // bin id; the per-bin build side is bounded by bin occupancy.
    pt.join(iv.hint("shuffle_hash"), pt("__bin") === iv("__bin") &&
        col(ptCol) >= col(startCol) && col(ptCol) <= col(endCol))
      .drop(pt("__bin")).drop(iv("__bin"))
  }

  /** Interval-OVERLAP join: half-open intervals [aS, aE) × [bS, bE)
    * within a shared key, matched when they overlap (aS < bE ∧ bS < aE)
    * — the alignment primitive (forced-alignment segments × sentence
    * windows, attribution windows × sessions) whose naive form is the
    * same nested-loop cliff as the point case.
    *
    * Both sides explode to the fixed-width bins they cover; the
    * equi-join runs on (key, bin) and an overlapping pair would meet in
    * EVERY bin their intersection touches — so instead of a post-join
    * `distinct` (a full extra shuffle of the pair stream), each pair is
    * emitted only from its OWNER bin, the bin containing the
    * intersection's start max(aS, bS). Exactly one bin owns any
    * overlapping pair, so the output is duplicate-free by construction;
    * a residual predicate rejects the same-bin near-misses.
    *
    * Scale shape: one keyed shuffle per side, compared pairs bounded by
    * per-(key, bin) occupancy, fan-out ceil(len/width)+1 per interval —
    * pick `binWidth` near the typical interval length, and salt the
    * (key, bin) key via SkewOps if one window is hot. */
  def intervalOverlapJoin(
      a: DataFrame, b: DataFrame, keyCol: String,
      aStart: String, aEnd: String, bStart: String, bEnd: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val collide = a.columns.toSet.intersect(b.columns.toSet) - keyCol
    require(collide.isEmpty,
      s"side column names collide: ${collide.mkString(", ")} — rename one side first")
    def bin(c: Column): Column = floor(c / lit(binWidth)).cast("long")
    // Half-open: an interval's last covered bin is bin(end - 1); empty
    // or invalid intervals (start >= end) drop out up front.
    def binned(df: DataFrame, s: String, e: String): DataFrame = df
      .filter(col(s).isNotNull && col(e).isNotNull && col(s) < col(e))
      .withColumn("__bin", explode(sequence(bin(col(s)), bin(col(e) - 1))))
    val bb = binned(b, bStart, bEnd)
      .withColumnRenamed(keyCol, "__bkey")
      .withColumnRenamed("__bin", "__bbin")
    // shuffle_hash: both interval sides are fact-scaled by contract and
    // the post-explode size estimate is an under-count — without the
    // hint Spark auto-broadcast j13's exploded lineitem side at sf0.1
    // (the a19 class; wrong at any real SF, and measured ~2x slower
    // even here: 4.19 -> 2.06 s isolated, TimeSome min-of-3).
    binned(a, aStart, aEnd)
      .join(bb.hint("shuffle_hash"), col(keyCol) === col("__bkey") &&
        col("__bin") === col("__bbin") &&
        col(aStart) < col(bEnd) && col(bStart) < col(aEnd) &&
        col("__bin") === bin(greatest(col(aStart), col(bStart))))
      .drop("__bin", "__bbin", "__bkey")
  }
}
