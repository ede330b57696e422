package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Product quantization (PQ) for embedding columns: split each dim-d
  * vector into M contiguous subvectors, quantize every subvector against
  * a per-subspace codebook of ks entries, and store the vector as M
  * one-byte codes — dim×4 bytes shrink to M bytes (32× at 64-float/8-code).
  *
  * This is the memory half of the ANN-at-scale story: 100 TB of raw
  * float embeddings collapse to ~3 TB of codes, which is what makes an
  * exhaustive (or IVF-pruned) scan feasible at all. Queries stay
  * uncompressed and score candidates by ADC (asymmetric distance
  * computation): per query, an M×ks table of subspace distances is
  * precomputed, and each candidate's distance is M table lookups — no
  * float math per candidate at all in a production layout.
  *
  * Determinism spec (what makes it oracle-replayable, same discipline as
  * KMeansOps): codebook for subspace m = the subvectors of the first ks
  * vectors by id (a production build would k-means each subspace; the
  * dataflow is identical); encode argmin ties -> lower code id; every
  * sqdist is a strict left fold in double over the subspace dims; the
  * total ADC distance folds subspaces in ascending m order.
  */
object PqOps {

  /** Codebooks as model state: (M, ks, dim/M) doubles collected
    * driver-side from the first ks well-formed vectors by id — bounded
    * like the k-means centroid matrix, never row data at scale. */
  private[operators] def trainCodebooks(
      candidates: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ks: Int): Array[Array[Array[Double]]] = {
    val sub = dim / m
    val rows = candidates
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull && size(col("__v")) === dim)
      .orderBy(col(idCol)).limit(ks).collect()
      .map(_.getSeq[Double](1).toArray)
    require(rows.length == ks,
      s"PQ codebook needs $ks well-formed $dim-dim vectors, found ${rows.length}")
    Array.tabulate(m, ks) { (mi, c) =>
      rows(c).slice(mi * sub, (mi + 1) * sub)
    }
  }

  /** k-means-trained codebooks: Lloyd's per subspace, ALL M subspaces in
    * one pass per iteration. Init = [[trainCodebooks]] (first-ks
    * subvectors); assignment reuses the encode UDF (map-side, no
    * shuffle); the update shuffles only M×ks×(dim/M) = ks×dim decimal
    * partial sums via posexplode + groupBy(m, code, j) with map-side
    * combine — vectors never shuffle. Same determinism spec as
    * KMeansOps (left-fold distances, tie -> lower code, exact
    * DECIMAL(25,10) sums so partial-agg order can't perturb means), with
    * one divergence: a code left empty keeps its PREVIOUS codeword
    * instead of being dropped — PQ codes are positional indices, so the
    * codebook must stay exactly ks entries. */
  def trainCodebooksKMeans(
      candidates: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ks: Int, iters: Int): Array[Array[Array[Double]]] = {
    val sub = dim / m
    // Persist the pruned (id, vec) projection for the training loop —
    // init + every Lloyd iteration re-reads it (same input caching as
    // KMeansOps.fit; spills rather than recomputes at scale).
    val vecs = candidates.select(col(idCol), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try trainCodebooksKMeansOn(vecs, idCol, vecCol, dim, m, ks, iters, sub)
    finally vecs.unpersist(false)
  }

  private def trainCodebooksKMeansOn(
      candidates: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ks: Int, iters: Int, sub: Int): Array[Array[Array[Double]]] = {
    var books = trainCodebooks(candidates, idCol, vecCol, dim, m, ks)
    for (_ <- 1 to iters) {
      val enc = encodeUdf(books, dim)
      val parts = candidates
        .select(enc(col(vecCol)).as("__codes"),
          col(vecCol).cast("array<double>").as("__v"))
        .filter(col("__codes").isNotNull)
        .select(col("__codes"), posexplode(col("__v")).as(Seq("__pos", "__x")))
        .select(
          (col("__pos") / lit(sub)).cast("int").as("__m"),
          pmod(col("__pos"), lit(sub)).as("__j"),
          element_at(col("__codes"), (col("__pos") / lit(sub)).cast("int") + 1).as("__c"),
          col("__x"))
        .groupBy("__m", "__c", "__j")
        .agg(sum(col("__x").cast("decimal(25,10)")).as("__s"), count(lit(1)).as("__n"))
        .collect()
      val next = books.map(_.map(_.clone()))
      parts.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          r.getDecimal(3).doubleValue() / r.getLong(4)
      }
      books = next
    }
    books
  }

  /** PQ codes for every vector: array<int> of length M, code[m] =
    * argmin over the subspace-m codebook (left-fold double sqdist, tie
    * -> lower code id). Map-side only — the compiled loop mirrors
    * KMeansOps.assignUdf with a per-subspace stride. */
  private[operators] def encodeUdf(books: Array[Array[Array[Double]]], dim: Int) = {
    val m = books.length
    val ks = books(0).length
    val sub = dim / m
    udf { (v: Seq[java.lang.Double]) =>
      if (v == null || v.length < dim || v.contains(null)) None
      else {
        val a = VectorFns.densePrefix(v, dim)
        Some((0 until m).map { mi =>
          var best = 0
          var bestD = Double.PositiveInfinity
          var c = 0
          while (c < ks) {
            var acc = 0.0
            var j = 0
            while (j < sub) {
              val d = a(mi * sub + j) - books(mi)(c)(j)
              acc += d * d
              j += 1
            }
            if (acc < bestD) { bestD = acc; best = c }
            c += 1
          }
          best
        })
      }
    }
  }

  /** ADC inner product: Σ_m dot(query subvector m, codebook[m][code[m]]),
    * folded in ascending m. In a production layout this is M lookups
    * into a per-query M×ks table; here the table rows are computed
    * inline (same arithmetic, same result). */
  private[operators] def adcIpUdf(books: Array[Array[Array[Double]]], dim: Int) = {
    val m = books.length
    val sub = dim / m
    udf { (q: Seq[java.lang.Double], codes: Seq[Int]) =>
      if (q == null || q.length < dim || q.contains(null) ||
          codes == null || codes.length != m) None
      else {
        val a = VectorFns.densePrefix(q, dim)
        val codeArr = codes.toArray
        var total = 0.0
        var mi = 0
        while (mi < m) {
          val cb = books(mi)(codeArr(mi))
          var acc = 0.0
          var j = 0
          while (j < sub) { acc += a(mi * sub + j) * cb(j); j += 1 }
          total += acc
          mi += 1
        }
        Some(total)
      }
    }
  }

  /** PQ-compressed exhaustive top-k under approximate cosine: candidates
    * are stored as M byte-codes PLUS their exact norm (the "PQ with
    * stored norms" layout for cosine/MIPS retrieval — codes approximate
    * the direction, the stored float restores the magnitude), queries
    * stay uncompressed. Score = ADC inner product / (q_norm × stored
    * c_norm), ranked DESC with id tie-break — the same metric the rest
    * of the ANN ladder uses, so ann_recall measures pure quantization
    * loss. Encode is map-side; candidate vectors never shuffle — only
    * codes + one float do. Compose with ivfTopK's cell assignment to
    * prune the scan as well. */
  def pqTopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      dim: Int = 64, m: Int = 8, ks: Int = 16): DataFrame = {
    require(dim % m == 0, "dim must split evenly into M subspaces")
    pqTopKWithBooks(queries, candidates, idCol, vecCol, k,
      trainCodebooks(candidates, idCol, vecCol, dim, m, ks), dim)
  }

  /** IVF-PQ top-k — the FAISS IVFPQ layout, completing the ANN ladder:
    * a coarse quantizer prunes the scan (only `nProbe` of `nCells`
    * cells are read per query) AND product quantization compresses what
    * remains — but the codes quantize the RESIDUAL v − centroid(cell),
    * not the vector: residuals concentrate near the origin, so the same
    * ks codewords spend their resolution where the data actually is
    * (the core IVFADC idea, Jégou et al. 2011).
    *
    * Determinism spec (oracle-replayable, the PqOps/KMeansOps
    * discipline): coarse centroids = first nCells vectors by id (cell
    * index = seed order); residual codebooks = the residuals of the
    * first ks vectors by id under THEIR OWN nearest cell; every argmin
    * is a strict ascending left-fold double sqdist with ties to the
    * lower index. Scoring is exact-IEEE:
    *   ip(q, ĉ) = dot(q, centroid_cell) + Σ_m dot(q_m, cb_m[code_m])
    * (one addition joining the two exactly-ordered folds), ranked by
    * ip / (q_norm · stored c_norm) DESC with id tie-break.
    *
    * Scale shape: centroids + codebooks are bounded driver-side model
    * state; candidate assignment + encoding is ONE map-side UDF pass
    * (vectors never shuffle — cell, M codes and one float do); the
    * probe join is an equi-join on the cell key, never a cross
    * product. */
  def ivfPqTopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 8, nProbe: Int = 2,
      dim: Int = 64, m: Int = 8, ks: Int = 16): DataFrame = {
    require(dim % m == 0, "dim must split evenly into M subspaces")
    val sub = dim / m
    def firstVecs(n: Int): Array[Array[Double]] = {
      val rows = candidates
        .select(col(idCol).cast("long"), col(vecCol).cast("array<double>").as("__v"))
        .filter(col("__v").isNotNull && size(col("__v")) === dim)
        .orderBy(col(idCol)).limit(n).collect()
        .map(_.getSeq[Double](1).toArray)
      require(rows.length == n,
        s"IVF-PQ needs $n well-formed $dim-dim seed vectors, found ${rows.length}")
      rows
    }
    val cents = firstVecs(nCells)
    def sqDistTo(a: Array[Double], c: Array[Double]): Double = {
      var acc = 0.0
      var j = 0
      while (j < dim) { val d = a(j) - c(j); acc += d * d; j += 1 }
      acc
    }
    def nearestCell(a: Array[Double]): Int = {
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < nCells) {
        val d = sqDistTo(a, cents(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    // Residual codebooks: seed i's residual under its OWN nearest cell,
    // sliced per subspace — cb(mi)(code)(j).
    val books: Array[Array[Array[Double]]] = {
      val seeds = firstVecs(ks)
      val res = seeds.map { v =>
        val c = cents(nearestCell(v))
        Array.tabulate(dim)(j => v(j) - c(j))
      }
      Array.tabulate(m, ks)((mi, code) => res(code).slice(mi * sub, (mi + 1) * sub))
    }
    val encode = udf { (v: Seq[java.lang.Double]) =>
      if (v == null || v.length < dim || v.contains(null)) None
      else {
        val a = VectorFns.densePrefix(v, dim)
        val cell = nearestCell(a)
        val cv = cents(cell)
        val codes = (0 until m).map { mi =>
          var best = 0
          var bestD = Double.PositiveInfinity
          var c = 0
          while (c < ks) {
            var acc = 0.0
            var j = 0
            while (j < sub) {
              val d = (a(mi * sub + j) - cv(mi * sub + j)) - books(mi)(c)(j)
              acc += d * d
              j += 1
            }
            if (acc < bestD) { bestD = acc; best = c }
            c += 1
          }
          best
        }
        Some((cell, codes))
      }
    }
    val probes = udf { (v: Seq[java.lang.Double]) =>
      if (v == null || v.length < dim || v.contains(null)) None
      else {
        val a = VectorFns.densePrefix(v, dim)
        Some((0 until nCells).map(c => (sqDistTo(a, cents(c)), c))
          .sortBy(identity).take(nProbe).map(_._2))
      }
    }
    val dotCent = udf { (q: Seq[java.lang.Double], cell: Int) =>
      if (q == null || q.length < dim || q.contains(null)) None
      else {
        val a = VectorFns.densePrefix(q, dim)
        val cv = cents(cell)
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += a(j) * cv(j); j += 1 }
        Some(acc)
      }
    }
    val adc = adcIpUdf(books, dim)
    val c = candidates
      .select(col(idCol).as("c_id"), encode(col(vecCol)).as("__e"),
        SimilarityOps.normFlat(col(vecCol), dim).as("c_norm"))
      .filter(col("__e").isNotNull)
      .select(col("c_id"), col("__e._1").as("cell"), col("__e._2").as("codes"),
        col("c_norm"))
    val q = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        probes(col(vecCol)).as("__cells"))
      .filter(col("__cells").isNotNull)
      .withColumn("q_norm", SimilarityOps.normFlat(col("q_vec"), dim))
      .select(col("q_id"), col("q_vec"), col("q_norm"),
        explode(col("__cells")).as("cell"))
    // The probed query batch is the broadcast side (the bounded-batch
    // contract shared with SimilarityOps): the encoded corpus streams
    // map-side and can never be auto-picked as a broadcast build (it
    // was at sf0.1 — the a19 class, caught by the corpus-aware
    // broadcast audit).
    TopKOps.topKByScore(
        broadcast(q).join(c, Seq("cell"))
          .filter(col("q_id") =!= col("c_id"))
          .withColumn("score",
            (dotCent(col("q_vec"), col("cell")) + adc(col("q_vec"), col("codes"))) /
              (col("q_norm") * col("c_norm"))),
        Seq("q_id"), col("score"), col("c_id"), k, tieName = "c_id")
      .select("q_id", "c_id", "rank")
  }

  /** [[pqTopK]] with caller-supplied codebooks (e.g. k-means-trained via
    * [[trainCodebooksKMeans]], or trained offline on a sample). */
  def pqTopKWithBooks(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      books: Array[Array[Array[Double]]], dim: Int = 64): DataFrame = {
    val enc = encodeUdf(books, dim)
    val adc = adcIpUdf(books, dim)
    val c = candidates
      .select(col(idCol).as("c_id"), enc(col(vecCol)).as("codes"),
        SimilarityOps.normFlat(col(vecCol), dim).as("c_norm"))
      .filter(col("codes").isNotNull)
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", SimilarityOps.normFlat(col("q_vec"), dim))
    // Bounded top-k (TopKOps over the sortable_bits-encoded score), not
    // a window sort — same replacement as the SimilarityOps family.
    TopKOps.topKByScore(
        c.crossJoin(broadcast(q))
          .filter(col("q_id") =!= col("c_id"))
          .withColumn("score",
            adc(col("q_vec"), col("codes")) / (col("q_norm") * col("c_norm"))),
        Seq("q_id"), col("score"), col("c_id"), k, tieName = "c_id")
      .select("q_id", "c_id", "rank")
  }
}
