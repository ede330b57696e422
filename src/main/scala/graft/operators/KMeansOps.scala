package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lloyd's k-means over an `array<float>` embedding column — the trained
  * coarse quantizer that [[SimilarityOps.ivfTopK]]'s deterministic
  * stand-in points at (reference context: IVF cell assignment for ANN;
  * the reference has no trainer, so the algorithm spec here is chosen
  * for distributed determinism).
  *
  * Spark shapes per iteration:
  *   - ASSIGN is map-side only: the k×dim centroid matrix rides the
  *     closure (collected between iterations — k·dim doubles, the same
  *     driver-resident model state MLlib keeps), and a compiled loop
  *     picks the nearest centroid per row. No shuffle, no codegen cliff
  *     (k×dim fused expressions would blow Janino's method limit — see
  *     ARCHITECTURE.md on the lshBucket cliff).
  *   - UPDATE is one single-stage job: each partition folds its rows
  *     into a k×dim fixed-point accumulator (mapPartitions), and the
  *     driver merges one k×dim partial per partition — bounded model
  *     state, the same k·dim·|partitions| traffic the old
  *     posexplode+groupBy shape exchanged, minus the exchange and the
  *     second stage (measured 1.4 -> 0.75 s for a 2-iteration fit at
  *     sf0.1; at scale the collected volume is identical).
  *
  * Determinism spec (what makes this oracle-replayable bit-for-bit):
  *   - init = the k lowest-id vectors, widened float→double (exact);
  *   - distance = left-fold double sum of squared diffs, j ascending —
  *     identical association to DuckDB's no-init `list_reduce`;
  *   - ties in distance break toward the lower cell id;
  *   - centroid update = per-dimension mean computed as an EXACT
  *     fixed-point DECIMAL(25,10) sum cast to double, divided by the
  *     cell count: decimal addition is order-independent, so the
  *     distributed partial-agg order can't perturb the result (a double
  *     sum would be partition-order-dependent and unreplayable);
  *   - a cell left empty by an iteration is dropped (standard Lloyd's
  *     degeneracy handling), deterministically on both engines.
  */
object KMeansOps {

  /** Train: returns the (cellId, centroid) pairs after `iters` Lloyd
    * iterations. Cell ids are the init vectors' ids. */
  def fit(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, dim: Int): Seq[(Long, Array[Double])] = {
    // Every iteration (and the seed scan) reads only (id, vec); persist
    // that pruned projection for the life of the loop so iteration 2..n
    // and the seed pass hit cached blocks instead of re-reading parquet
    // + re-decoding vectors each time — the same input caching MLlib's
    // KMeans performs before Lloyd's loop. MEMORY_AND_DISK: spills
    // instead of recomputing when the vector set outgrows executor
    // memory at scale (without it ann_kmeans_cells re-scans its
    // source 4x for a 3-iteration fit). Measured honestly: at sf0.1 this
    // is a wash (2.23 s vs 2.25 s median of 5 — the 5k-row parquet is OS
    // page-cached and per-iteration cost is job overhead + the assign
    // UDF); the saving is the repeated scan+decode at real scale.
    // The float->double widening (exact) happens once here: Spark's own
    // float->decimal cast routes through toDouble, so pre-widening
    // changes nothing in the fixed-point arithmetic below.
    val vecs = df.select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Seeds: the k lowest-id WELL-FORMED vectors (null or wrong-length
      // rows can't seed a centroid).
      var cents: Seq[(Long, Array[Double])] =
        vecs.filter(col("__v").isNotNull && size(col("__v")) === dim)
          .orderBy(col("__id")).limit(k).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .toSeq
      for (_ <- 1 to iters) {
        val ids = cents.map(_._1).toArray
        val mat = cents.map(_._2).toArray
        val kNow = ids.length
        // One single-stage job: per-partition nearest-centroid fold into
        // k×dim exact decimal accumulators; the driver merges one
        // bounded partial per partition. Fixed-point discipline matches
        // the old `sum(cast(v as decimal(25,10)))` EXACTLY:
        // Spark's double->decimal(25,10) cast is
        // BigDecimal.valueOf(v).setScale(10, HALF_UP) and decimal
        // addition is order-independent, so the fold replays bit-for-bit
        // in the SQL oracle regardless of partitioning.
        val partials = vecs.rdd.mapPartitions { it =>
          val sums = Array.fill(kNow, dim)(java.math.BigDecimal.ZERO)
          val counts = new Array[Long](kNow)
          it.foreach { row =>
            val v = if (row.isNullAt(1)) null else row.getSeq[java.lang.Double](1)
            if (v != null && v.length == dim && !v.contains(null)) {
              // same strict-< ascending scan as assignUdf: tie -> lower
              // cell id (ids are sorted ascending)
              var best = -1
              var bestD = Double.PositiveInfinity
              var c = 0
              while (c < kNow) {
                var acc = 0.0
                var j = 0
                while (j < dim) {
                  val d = v(j) - mat(c)(j)
                  acc += d * d
                  j += 1
                }
                if (acc < bestD) { bestD = acc; best = c }
                c += 1
              }
              counts(best) += 1
              val s = sums(best)
              var j = 0
              while (j < dim) {
                s(j) = s(j).add(java.math.BigDecimal.valueOf(v(j))
                  .setScale(10, java.math.RoundingMode.HALF_UP))
                j += 1
              }
            }
          }
          Iterator.tabulate(kNow)(c => (c, sums(c), counts(c)))
            .filter(_._3 > 0L)
        }.collect()
        // Exact merge; a cell left empty by this iteration is dropped
        // (standard Lloyd's degeneracy handling).
        val mergedSums = Array.fill(kNow, dim)(java.math.BigDecimal.ZERO)
        val mergedN = new Array[Long](kNow)
        partials.foreach { case (c, s, n) =>
          mergedN(c) += n
          var j = 0
          while (j < dim) { mergedSums(c)(j) = mergedSums(c)(j).add(s(j)); j += 1 }
        }
        cents = (0 until kNow).filter(mergedN(_) > 0L).map { c =>
          (ids(c), Array.tabulate(dim)(j =>
            mergedSums(c)(j).doubleValue() / mergedN(c)))
        }
      }
      cents
    } finally vecs.unpersist(false)
  }

  /** Assign every row to its nearest trained centroid: adds `cell`. */
  def assign(df: DataFrame, cents: Seq[(Long, Array[Double])],
      vecCol: String, dim: Int): DataFrame =
    df.withColumn("cell", assignUdf(cents, dim)(col(vecCol)))

  /** fit + assign in one call (the common path). */
  def fitAssign(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, dim: Int): DataFrame =
    assign(df, fit(df, idCol, vecCol, k, iters, dim), vecCol, dim)

  /** Nearest-centroid UDF over the broadcast-by-closure matrix; compiled
    * loop, left-assoc double fold, tie -> lower cell id, null-safe. A
    * vector whose length is not EXACTLY dim gets a null cell — an
    * over-length vector would otherwise be assigned and then overflow
    * the dim-sized centroid accumulators in the update step. */
  private def assignUdf(cents: Seq[(Long, Array[Double])], dim: Int) = {
    val ids = cents.map(_._1).toArray
    val mat = cents.map(_._2).toArray
    udf { (v: Seq[java.lang.Double]) =>
      if (v == null || v.length != dim || v.contains(null)) None
      else {
        // densePrefix: positional access on the UDF-side List would be
        // O(dim²) per row (see VectorFns.densePrefix)
        val a = graft.functions.VectorFns.densePrefix(v, dim)
        var bestId = -1L
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < mat.length) {
          var acc = 0.0
          var j = 0
          while (j < dim) {
            val d = a(j) - mat(c)(j)
            acc += d * d
            j += 1
          }
          if (acc < bestD) { bestD = acc; bestId = ids(c) }
          c += 1
        }
        Some(bestId)
      }
    }
  }
}
