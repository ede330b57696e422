package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Similarity search over `ArrayType(FloatType)` embedding columns:
  * brute-force cosine top-k as the correctness baseline, and a
  * random-hyperplane LSH-bucketed variant as the scale path.
  *
  * Numeric determinism: every dot/norm is a strict LEFT FOLD in double —
  * flat fixed-dim element_at sums (codegen'd, association order identical
  * to DuckDB's no-init `list_reduce`) — so oracle comparisons are
  * bit-exact, not approximate.
  *
  * Scale shapes:
  *   - bruteTopK broadcasts the (small) query set; the candidate table
  *     streams through map-side only.
  *   - lshBucket assigns each vector an nPlanes-bit bucket scan-side
  *     (the hyperplanes are constant-folded md5-sign vectors — no
  *     broadcast data structure needed); bucketedTopK then joins ONLY
  *     within buckets: one shuffle on the bucket key, no cross product.
  *   - every per-query top-k is the bounded TopKOps aggregator (k-entry
  *     buffers, map-side combine) over the sortable_bits-encoded cosine
  *     — not a row_number window tail, which would shuffle and SORT
  *     the full scored pair table per query to keep k rows.
  */
object SimilarityOps {

  /** L2 norm over the first `dim` elements (native vec_sqnorm kernel). */
  def normFlat(vecCol: Column, dim: Int): Column =
    sqrt(VectorFns.sqNormFlat(vecCol, dim))

  /** Shared ranked tail: exact (q_id, c_id, rank) per-query top-k by
    * `cosine` DESC with c_id tie-break — bounded aggregation, identical
    * ordering to the window form it replaced (sortable_bits is order-
    * preserving incl. the engines' NaN-largest / -0.0==0.0 rules). */
  private[operators] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    TopKOps.topKByScore(scored, Seq("q_id"), col("cosine"), col("c_id"), k,
        tieName = "c_id")
      .select("q_id", "c_id", "rank")

  /** ±1 hyperplane component from md5 parity of "i_j" — the same value the
    * SQL oracle computes as (ascii(substr(md5(i||'_'||j),1,1)) % 2)*2-1.
    * Precomputed here (md5 of a constant is a constant) so the per-row
    * expression is a flat codegen'd sum of products; md5 inside a lambda
    * body would be re-evaluated per row per element INTERPRETED (lambda
    * variables block constant folding) — measured ~100× slower. */
  private[operators] def planeSign(i: Int, j: Int): Int =
    graft.functions.VectorKernels.planeSign(i, j)

  /** Random-hyperplane LSH bucket id as an INTEGER: bit (nPlanes-1-i) of
    * the result = (v · h_i >= 0). An int bucket shuffles and compares as
    * 4 bytes where a bit-string key is nPlanes chars — the difference is
    * real at billions of vectors.
    *
    * Implemented as the codegen'd `lsh_bucket` native expression
    * (functions/VectorExprs.scala). History: a fused COLUMN expression
    * at 8×64 terms blows Janino's 64 KB method limit and the stage
    * silently falls back to interpretation, so this was first a Scala
    * UDF over the precomputed sign matrix — but the UDF pays a boxed
    * Seq[java.lang.Double] round-trip per row (the multi-table variant
    * measured ~2.5 ms/row of boxing at 8×6×64 in JobCensus). The
    * native expression is one compiled-kernel call inside codegen:
    * no Janino cliff, no boxing. Arithmetic is the UDF's exactly
    * (acc from 0.0, left-assoc — 0.0 + x == x so the oracle's no-init
    * list_reduce agrees bit-for-bit). Null contract: null/short vector
    * or a null element in the FIRST dim slots → null bucket — the
    * oracle's semantics exactly (its fold reads elements 1..dim only).
    * The retired UDF's v.contains(null) additionally nulled rows whose
    * only null sat PAST dim — an oracle DEVIATION on longer-than-dim
    * vectors that the kernel deliberately drops. */
  def lshBucket(vecCol: String, nPlanes: Int = 8, dim: Int = 64): Column = {
    require(nPlanes <= 31, "int bucket holds at most 31 plane bits")
    call_function("lsh_bucket", col(vecCol), lit(nPlanes), lit(dim))
  }

  /** Brute-force cosine top-k: every (query, candidate) pair, ranked.
    * Queries are broadcast; self-pairs excluded. */
  def bruteTopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int = 64): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", normFlat(col("q_vec"), dim))
    val c = candidates.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", normFlat(col("c_vec"), dim))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", VectorFns.cosineWithNorms(
        VectorFns.dotFlat(col("q_vec"), col("c_vec"), dim), col("q_norm"), col("c_norm")))
    rankTopK(scored, k)
  }

  /** Candidate-side hyperplane signature projection — (c_id, c_vec,
    * bucket, c_norm) — the table [[bucketedTopK]] and [[multiProbeTopK]]
    * both derive from their `candidates` input. A caller running SEVERAL
    * single-table hyperplane lanes over the SAME corpus (the ann_recall
    * audit: bucketed + multiprobe share one plane family by design)
    * materializes this once and feeds the `*OnSignatures` variants —
    * one corpus signature pass instead of one per lane (guide §1.2
    * recompute removal). Exposed rather than inlined so the shared
    * table is the operator's own projection, not a caller re-derivation
    * that could drift from it. */
  def lshCandidateSignatures(
      candidates: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int = 8, dim: Int = 64): DataFrame =
    candidates
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .withColumn("bucket", lshBucket("c_vec", nPlanes, dim))
      .withColumn("c_norm", normFlat(col("c_vec"), dim))

  /** LSH-bucketed top-k: rank candidates only within the query's bucket.
    * Two scale shapes, selected by `boundedQueries`:
    *
    *   - `boundedQueries = true` (the default, the bruteTopK serving
    *     shape): the QUERY BATCH is bounded BY THE CALLER'S CONTRACT and
    *     rides an explicit broadcast, so the corpus streams map-side —
    *     zero candidate shuffle, and Spark can never pick the
    *     fact-scaled candidate side as the build (it did at sf0.1 — the
    *     a19 auto-broadcast class, caught by PlanAuditSpec's
    *     corpus-aware broadcast check).
    *   - `boundedQueries = false` (corpus×corpus self-search, e.g.
    *     mutual-NN mining where queries == candidates == the full fact
    *     table): NEITHER side may broadcast — a hard broadcast(q) here
    *     is a corpus-sized broadcast AQE can never undo, an OOM at real
    *     SF. The join is a plain keyed shuffle on the bucket; both
    *     sides' size estimates come straight from the scan (sound), so
    *     AQE keeps its freedom to pick the keyed strategy as sizes grow
    *     (estimate-soundness doctrine, ARCHITECTURE.md).
    *
    * Recall is bounded by bucket collision probability (raise nPlanes
    * bands/probes for better recall; this single-probe variant is the
    * primitive). */
  def bucketedTopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 8, dim: Int = 64,
      boundedQueries: Boolean = true): DataFrame =
    bucketedTopKOnSignatures(queries,
      lshCandidateSignatures(candidates, idCol, vecCol, nPlanes, dim),
      idCol, vecCol, k, nPlanes, dim, boundedQueries)

  /** [[bucketedTopK]] over a pre-built [[lshCandidateSignatures]] table
    * (same plane family / nPlanes / dim — the caller's contract). Plan
    * identity: composing this with lshCandidateSignatures IS
    * bucketedTopK's former inline body, so single-lane callers are
    * untouched; multi-lane callers checkpoint the signature table once. */
  def bucketedTopKOnSignatures(
      queries: DataFrame, candSigs: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 8, dim: Int = 64,
      boundedQueries: Boolean = true): DataFrame = {
    val q = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("bucket", lshBucket("q_vec", nPlanes, dim))
      .withColumn("q_norm", normFlat(col("q_vec"), dim))
    val qSide = if (boundedQueries) broadcast(q) else q
    rankTopK(
      qSide.join(candSigs, Seq("bucket"))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("cosine", VectorFns.cosineWithNorms(
          VectorFns.dotFlat(col("q_vec"), col("c_vec"), dim), col("q_norm"), col("c_norm"))),
      k)
  }

  /** Multi-probe variant of [[bucketedTopK]]: each query additionally
    * probes the nPlanes Hamming-1 neighbors of its bucket (one plane-bit
    * flipped), the standard recall repair for single-probe hyperplane LSH
    * — a near-dup separated by exactly one plane is still found. Cost is
    * bounded and explicit: (nPlanes+1)× the query-side rows, candidate
    * side untouched — the probed query batch stays the broadcast side
    * (bucketedTopK's contract), so the corpus still never shuffles. */
  def multiProbeTopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 8, dim: Int = 64): DataFrame =
    multiProbeTopKOnSignatures(queries,
      lshCandidateSignatures(candidates, idCol, vecCol, nPlanes, dim),
      idCol, vecCol, k, nPlanes, dim)

  /** [[multiProbeTopK]] over a pre-built [[lshCandidateSignatures]] table
    * (see [[bucketedTopKOnSignatures]] for the contract and rationale). */
  def multiProbeTopKOnSignatures(
      queries: DataFrame, candSigs: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val probes = array(lit(0) +: (0 until nPlanes).map(b => lit(1 << b)): _*)
    val q = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("__home", lshBucket("q_vec", nPlanes, dim))
      .withColumn("__mask", explode(probes))
      .withColumn("bucket", col("__home").bitwiseXOR(col("__mask")))
      .withColumn("q_norm", normFlat(col("q_vec"), dim))
    rankTopK(
      broadcast(q).join(candSigs, Seq("bucket"))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("cosine", VectorFns.cosineWithNorms(
          VectorFns.dotFlat(col("q_vec"), col("c_vec"), dim), col("q_norm"), col("c_norm"))),
      k)
  }

  /** All nTables bucket ids of a vector in one compiled pass — table t's
    * planes are seeded "t_i_j" (independent of the single-table "i_j"
    * family), so tables are genuinely independent hash functions. One
    * kernel call does nTables×nPlanes×dim multiply-adds; a per-table
    * column would re-read the vector nTables times. A native codegen'd
    * expression, not a Scala UDF: a UDF's boxed round-trip was THE
    * dominant stage of ann_multitable_topk — 4.9 s task-time over
    * 2,000 rows (JobCensus), ~2.5 ms/row for ~3k multiply-adds. */
  private[operators] def lshTableBuckets(
      vecCol: String, nTables: Int, nPlanes: Int, dim: Int): Column = {
    require(nPlanes <= 31, "int bucket holds at most 31 plane bits")
    call_function("lsh_table_buckets",
      col(vecCol), lit(nTables), lit(nPlanes), lit(dim))
  }

  /** Multi-table LSH top-k: L independent hyperplane tables (the classic
    * E2LSH construction) — a candidate is retrieved if it collides with
    * the query in ANY table, so per-table miss probability multiplies:
    * recall 1-(1-p^nPlanes)^nTables instead of single-table p^nPlanes.
    * This is the standard recall knob that multi-probe alone can't reach:
    * probing Hamming-1 neighbors repairs one flipped plane, more tables
    * repair arbitrarily-unlucky plane draws.
    *
    * Scale shape: both sides explode to nTables (table, bucket) rows —
    * an explicit, bounded nTables× cost — the exploded QUERY batch rides
    * the broadcast (bucketedTopK's bounded-batch contract; the corpus
    * never shuffles into the collision join), never a cross product.
    * Pairs colliding in several tables are deduped BEFORE scoring so
    * each survivor's cosine is computed once and ranks stay distinct. */
  def multiTableTopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nTables: Int = 8, nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    def explodeTables(df: DataFrame, side: String): DataFrame =
      df.select(col(idCol).as(s"${side}_id"), col(vecCol).as(s"${side}_vec"))
        .withColumn("__tb", lshTableBuckets(s"${side}_vec", nTables, nPlanes, dim))
        .select(col(s"${side}_id"), col(s"${side}_vec"),
          posexplode(col("__tb")).as(Seq("tbl", "bucket")))
    val q = explodeTables(queries, "q")
    val c = explodeTables(candidates, "c")
    rankTopK(
      broadcast(q).join(c, Seq("tbl", "bucket"))
        .filter(col("q_id") =!= col("c_id"))
        .select("q_id", "c_id", "q_vec", "c_vec")
        .dropDuplicates("q_id", "c_id")
        .withColumn("cosine", VectorFns.cosineWithNorms(
          VectorFns.dotFlat(col("q_vec"), col("c_vec"), dim),
          normFlat(col("q_vec"), dim), normFlat(col("c_vec"), dim))),
      k)
  }

  /** IVF-style top-k: a coarse quantizer assigns every vector to its
    * nearest of nCells centroid vectors; queries probe their nProbe
    * nearest cells and rank only candidates inside those cells.
    *
    * The quantizer here is deterministic (first nCells vectors by id) so
    * the oracle can replay it — a production build would k-means the
    * sample instead; the dataflow (broadcast centroids -> scan-side cell
    * assignment -> broadcast the probed query batch -> in-cell ranking)
    * is the 100 TB shape either way: candidate work scales with
    * nProbe/nCells of the corpus, never all-pairs, and the corpus never
    * shuffles. */
  def ivfTopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 2, dim: Int = 64): DataFrame = {
    // Centroids are collected to the driver and ride the assignment
    // closure (k-means-style): nCells×dim doubles of model state. The
    // former encoding — crossJoin(broadcast(cents)) + per-id rank
    // window — materialized an nCells× row blowup and a shuffle just to
    // compute an argmin; the compiled loop assigns map-side in one pass
    // with the identical ordering (left-fold double sqdist, tie toward
    // the lower centroid id — the oracle's ORDER BY sqdist, cent_id).
    // array<double> cast + well-formedness filter: float and double
    // vector columns both collect, and a null/short vector among the
    // lowest ids cannot poison the centroid matrix.
    val cents = candidates
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull && size(col("__v")) === dim)
      .orderBy(col(idCol)).limit(nCells).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def assign(df: DataFrame, id: String, vec: String, keep: Int): DataFrame =
      df.withColumn("__cells", nearestCellsUdf(cents, dim, keep)(col(vec)))
        .select(col(id), col(vec), explode(col("__cells")).as("cell"))
    val c = assign(
      candidates.select(col(idCol).as("c_id"), col(vecCol).as("c_vec")),
      "c_id", "c_vec", 1)
      .withColumn("c_norm", normFlat(col("c_vec"), dim))
    val q = assign(
      queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")),
      "q_id", "q_vec", nProbe)
      .withColumn("q_norm", normFlat(col("q_vec"), dim))
    // The probed query batch is the broadcast side (bounded-batch
    // contract, see bucketedTopK): candidates stream map-side and can
    // never be auto-picked as a broadcast build.
    rankTopK(
      broadcast(q).join(c, Seq("cell"))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("cosine", VectorFns.cosineWithNorms(
          VectorFns.dotFlat(col("q_vec"), col("c_vec"), dim), col("q_norm"), col("c_norm"))),
      k)
  }

  /** The `keep` nearest centroid ids for a vector, ordered by
    * (left-fold double sqdist, centroid id) — a compiled selection loop
    * over the closure-resident centroid matrix; null/short vectors get
    * an empty probe list (the row drops out of the cell join, matching
    * SQL inequality semantics). */
  private def nearestCellsUdf(
      cents: Array[(Long, Array[Double])], dim: Int, keep: Int) = {
    val ids = cents.map(_._1)
    val mat = cents.map(_._2)
    udf { (v: Seq[java.lang.Double]) =>
      if (v == null || v.length < dim || v.contains(null)) Seq.empty[Long]
      else {
        val a = VectorFns.densePrefix(v, dim)
        val dists = new Array[Double](mat.length)
        var c = 0
        while (c < mat.length) {
          var acc = 0.0
          var j = 0
          while (j < dim) { val d = a(j) - mat(c)(j); acc += d * d; j += 1 }
          dists(c) = acc
          c += 1
        }
        // selection of `keep` smallest by (dist, id): centroids iterate
        // in ascending id order, so stable selection keeps the tie rule
        val order = dists.indices.sortBy(i => (dists(i), ids(i)))
        order.take(keep).map(ids(_))
      }
    }
  }

  /** Embedding near-duplicate pairs within a blocking column: cosine above
    * threshold, id_a < id_b. Quadratic within blocks only.
    *
    * Join shape: both sides are the SAME plan repartitioned on the block
    * key, joined with a shuffle-hash hint. Identical exchange subtrees
    * let AQE reuse the shuffled signature stage, so the prep (norms +
    * buckets over the full corpus) is computed ONCE — a broadcast self-
    * join would recompute it per side, and at corpus scale neither side
    * is broadcastable anyway. This is the materialized-signature-table
    * shape without any explicit caching. */
  def cosineNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double, dim: Int = 64): DataFrame = {
    val prepped = df.select(col(idCol), col(blockCol).as("block"), col(vecCol).as("vec"))
      .withColumn("nrm", normFlat(col("vec"), dim))
      .select(col(idCol), col("block"), col("vec"), col("nrm"))
      .repartition(col("block"))
    val a = prepped.toDF("id_a", "block", "vec_a", "norm_a")
    val b = prepped.toDF("id_b", "block", "vec_b", "norm_b")
    a.hint("shuffle_hash").join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", VectorFns.cosineWithNorms(
        VectorFns.dotFlat(col("vec_a"), col("vec_b"), dim), col("norm_a"), col("norm_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b")
  }
}
