package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Diversity / coreset sampling over an embedding column: k-center
  * greedy (Gonzalez 1985 farthest-point traversal). Each step adds the
  * point FARTHEST from the already-chosen set — the classic 2-approx
  * cover that training-data curation uses to pick a maximally diverse
  * subset (the opposite pole of SemDeDup: not "drop the redundant" but
  * "keep the spanning").
  *
  * Spark shapes per step (the k-means discipline, see KMeansOps):
  *   - the chosen set is bounded MODEL state (steps × dim doubles) that
  *     rides the closure — the same justification as the k-means
  *     centroid matrix, and the reason this is a UDF loop rather than a
  *     steps×dim fused expression (Janino method-size cliff);
  *   - the min-distance pass is map-side only; the farthest point comes
  *     out of ONE map-side-combined max(struct(dist, -id)) aggregate —
  *     no global sort, no shuffle of the vectors;
  *   - per-step driver traffic is a single row (the argmax), bounded by
  *     construction.
  *
  * Determinism spec (oracle-replayable bit-for-bit):
  *   - seed = the lowest-id well-formed vector (float→double exact);
  *   - distance = left-fold double sum of squared diffs, j ascending —
  *     the association DuckDB's no-init `list_reduce` applies;
  *   - min over chosen centers is order-independent (no NaN inputs);
  *   - argmax ties break toward the LOWER id (max of (d, -id));
  *   - already-chosen ids are excluded, so exact-duplicate vectors can
  *     never re-pick a center.
  */
object DiversityOps {

  /** Run `steps` greedy picks after the seed; returns one row per chosen
    * center: (step, center_id, radius) where radius is the point's
    * min-distance to the prior set at pick time (step 0 = seed, radius
    * 0.0). The final row's radius is the covering radius of the set. */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
      steps: Int, dim: Int): DataFrame = {
    val spark = df.sparkSession
    val wellFormed = df
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull && size(col("__v")) === dim)
    val seed = wellFormed.orderBy(col("__id")).limit(1).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).head
    var chosen = Vector((seed._1, seed._2, 0.0))
    for (_ <- 1 to steps) {
      val ids = chosen.map(_._1)
      // the vector rides the argmax struct (compared only on (d, -id)
      // ties, which unique ids preclude) so the pick is ONE job
      val next = wellFormed
        .filter(!col("__id").isin(ids: _*))
        .select(minDistUdf(chosen.map(_._2), dim)(col("__v")).as("__d"),
          col("__id"), col("__v"))
        .agg(max(struct(col("__d"), (-col("__id")).as("__nid"), col("__v")))
          .as("__m"))
        .select(col("__m.__d"), (-col("__m.__nid")).as("__id"), col("__m.__v"))
        .collect().head
      chosen = chosen :+
        ((next.getLong(1), next.getSeq[Double](2).toArray, next.getDouble(0)))
    }
    import spark.implicits._
    chosen.zipWithIndex
      .map { case ((id, _, r), step) => (step, id, r) }
      .toDF("step", "center_id", "radius")
  }

  /** Min squared distance to the chosen set; compiled loop over the
    * closure-resident matrix (same pattern as KMeansOps.assignUdf). */
  private def minDistUdf(centers: Seq[Array[Double]], dim: Int) = {
    val mat = centers.toArray
    udf { (v: Seq[java.lang.Double]) =>
      val a = graft.functions.VectorFns.densePrefix(v, dim)
      var best = Double.PositiveInfinity
      var c = 0
      while (c < mat.length) {
        var acc = 0.0
        var j = 0
        while (j < dim) {
          val d = a(j) - mat(c)(j)
          acc += d * d
          j += 1
        }
        if (acc < best) best = acc
        c += 1
      }
      best
    }
  }
}
