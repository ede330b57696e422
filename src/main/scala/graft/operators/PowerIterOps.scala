package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed power iteration for the dominant principal direction of
  * an embedding collection (beyond-reference, SURVEY §2.11) — the
  * one-vector PCA a corpus build uses for all-but-the-top common-
  * direction removal (Arora et al.'s sentence-embedding postprocess),
  * anisotropy diagnosis, and axis-aligned bucketing seeds. The
  * covariance matrix is NEVER materialized: one pass computes
  * C·v = Σ_rows x·(xᵀv), so each iteration is a broadcast of the
  * current 64-long vector, a row-local dot product, and ONE
  * map-side-combined aggregate of 64 component sums — the only shuffle
  * is 64·P partial rows. That is the shape that survives 100 TB; the
  * explicit 64×64 outer-product aggregate (4096 cells/row) was
  * rejected for 64× the map-side volume with zero extra information.
  *
  * Exactness across engines (the a17_moments discipline): embeddings
  * quantize row-side to micro-ints (floor(x·1e6), float→double exact
  * widening first); dot products and component sums are then pure
  * integer math accumulated in DECIMAL(38,0) ≙ HUGEINT (a component
  * sum is ≤ n·max|x_q|·max|s| ≈ n·1e6·6e13 — inside 38 digits to
  * n ≈ 1e18 rows). Renormalization back to micro-units applies a FIXED
  * IEEE op sequence (cast-to-double, left-fold sum of 64 squares in
  * ascending-dimension order, sqrt, divide, multiply, floor) — both
  * engines' decimal→double casts round-to-nearest-even, and the fold
  * order is pinned, so the doubles replay bit-identically (no pow(),
  * no engine-ordered SUM over floats).
  *
  * The iterate starts at the all-ones vector: deterministic, and
  * orthogonality to the dominant eigenvector is measure-zero for data
  * distributions (a fixed small iteration count is a REPORT of the
  * k-step Krylov direction, the PageRankOps contract — quality signals
  * read the coarse direction, which stabilizes in 2-3 steps).
  */
object PowerIterOps {

  /** `iters` power-iteration steps over `df(vecCol)` (array<float|double>
    * of length `dim`). Returns one row per dimension: (dim_j INT,
    * v_fp BIGINT) — the unit-normalized iterate in micro-units, sign
    * fixed by the normalization (whatever sign the fold produced;
    * deterministic, engine-identical).
    */
  def dominantDirection(df: DataFrame, vecCol: String, dim: Int,
      iters: Int = 2): DataFrame = {
    val spark = df.sparkSession
    val v = dominantVector(df, vecCol, dim, iters)
    spark.createDataFrame(
      spark.sparkContext.parallelize(v.zipWithIndex.map {
        case (vf, j) => org.apache.spark.sql.Row(j, vf)
      }.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("dim_j",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("v_fp",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** The iterate itself (micro-units), for operators that consume the
    * direction — common-direction removal, SRP bucketing seeds. Bounded
    * model state (dim longs), the KMeansOps/PqOps collect contract. */
  def dominantVector(df: DataFrame, vecCol: String, dim: Int,
      iters: Int = 2): Array[Long] = {
    require(iters > 0, "iters must be positive")
    // Row-side quantization: float -> double is exact; floor(x*1e6)
    // makes every subsequent product integer math. Persisted across
    // iterations when the loop re-reads it (MEMORY_AND_DISK — the
    // standard iterative-ML trade: one scan + spillable cache instead
    // of `iters` parquet scans; measured 3.8 -> 2.9 s on the
    // registered residual query at sf0.1, which runs 2 iterations
    // plus its own row-local pass).
    val xqRaw = df.select(expr(
      s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))")
      .as("xq"))
    val xq = if (iters > 1)
      xqRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else xqRaw

    // v starts as all-ones micro-units are NOT used here: the iterate's
    // scale cancels in the final normalization, so round 1 folds with
    // literal weight 1 per dimension (identical in the oracle).
    var v: Array[Long] = Array.fill(dim)(1L)
    for (_ <- 1 to iters) {
      val vLit = v.mkString("array(", "L,", "L)")
      // s = x_q . v  (BIGINT: |x_q| <= ~1e6-scale, |v| <= 1e6, dim 64
      // => |s| <= ~6e13); c_j = sum_rows x_q[j] * s in DECIMAL(38,0).
      val cj = xq
        .select(expr(
          s"aggregate(zip_with(xq, $vLit, (a, b) -> a * b), 0L, (acc, t) -> acc + t)")
          .as("s"), col("xq"))
        .select(posexplode(col("xq")).as(Seq("j", "x")), col("s"))
        .groupBy("j")
        .agg(sum(expr("CAST(x AS DECIMAL(38,0)) * s")).as("c"))
      // Fixed IEEE renormalization: per-component double, left-fold
      // sum of squares in ascending j, sqrt, divide, floor to micro.
      val folded = cj
        .groupBy()
        .agg(expr("transform(array_sort(collect_list(struct(j, c))), t -> CAST(t.c AS DOUBLE))")
          .as("cd"))
        .select(col("cd"),
          expr("sqrt(aggregate(cd, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x))")
            .as("nrm"))
        .select(expr(
          "transform(cd, x -> CAST(floor(x / nrm * 1000000.0) AS BIGINT))").as("vq"))
      // The iterate is bounded model state (dim longs) — the
      // KMeansOps/PqOps collect contract. Batching two rounds per
      // collect (round B consuming round A's iterate as a broadcast
      // 1-row side instead of a collected literal) LOST the bake-off: 7/8
      // alternating same-JVM reps slower (median 1.38 -> 1.53 s at sf0.1),
      // driver jobs 10 -> 11 — the broadcast
      // materialization of the intermediate costs more than the one
      // driver round-trip it saves, the HitsOps round-batching result
      // again.
      v = folded.collect()(0).getSeq[Long](0).toArray
    }
    if (iters > 1) xq.unpersist(blocking = false)
    v
  }
}
