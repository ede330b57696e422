package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch frequency counting (beyond-reference, SURVEY §2.11).
  *
  * Complements SketchOps' KMV (distinct counts) with the other workhorse
  * counting sketch: CMS answers "how often does this term occur?" from a
  * fixed d×w counter grid, never under-counting (estimate ≥ truth, over
  * by at most ~N/w with probability 1 − (1/2)^d for the usual parameter
  * reading). The counters are pure sums, so the sketch is
  * ORDER-INDEPENDENT and merge-associative — partial grids combine
  * map-side like any partial aggregate, and the final estimate replays
  * bit-for-bit in a second engine, which is what makes it
  * oracle-checkable here (Spark's built-in `count_min_sketch` emits an
  * opaque binary no other engine can verify value-for-value).
  *
  * Hashing: double hashing over two 32-bit md5 prefixes,
  * bucket_i = (h1 + i·h2) mod w (Kirsch–Mitzenmacher: two base hashes
  * generate the whole row family). md5 prefixes parse identically in
  * Spark (`conv(substring(md5(t),1,8),16,10)`) and DuckDB
  * (`CAST('0x' || substr(md5(t),1,8) AS BIGINT)`); h1 + i·h2 ≤
  * 2^32·(1+d) stays far from long overflow in both engines.
  *
  * Scale shape (the reason CMS exists at 100 TB): exact global term
  * counts shuffle every distinct term; the CMS build shuffles at most
  * d×w counter partials PER PARTITION regardless of input volume —
  * the grid (d·w longs, a few KB) then broadcasts, so frequency point
  * queries and heavy-hitter candidate filtering run MAP-SIDE against
  * the broadcast grid, and only surviving candidates (bounded by the
  * φN threshold) reach an exact second pass.
  */
object CmsOps {

  /** 32-bit portable base hashes from the term's md5 hex. */
  private def h1(term: Column): Column =
    conv(substring(md5(term), 1, 8), 16, 10).cast("long")
  private def h2(term: Column): Column =
    conv(substring(md5(term), 9, 8), 16, 10).cast("long")

  /** Row-i bucket for a term: (h1 + i·h2) mod w. */
  def bucket(term: Column, i: Column, w: Int): Column =
    (h1(term) + i * h2(term)) % w

  /** Build the d×w counter grid from weighted increments
    * (`termCol`, `cntCol`): one row per (row-index, bucket) with the
    * summed counter. Fan-out is d per input row, combined map-side by
    * the partial aggregate down to ≤ d·w rows per partition before the
    * single shuffle.
    *
    * Streamable as is: on a streaming `terms` this is a running
    * aggregation whose state is the d×w counter grid itself — a few KB,
    * bounded by construction, never by watermark — so Update/Complete
    * mode needs no event-time column, and grid(all batches so far)
    * equals the batch grid over the union (merge-associativity, pinned
    * in FileStreamSpec). */
  def cmsBuild(terms: DataFrame, termCol: String, cntCol: String,
      d: Int, w: Int): DataFrame = {
    require(d >= 1 && w >= 2, "need d >= 1 hash rows and w >= 2 buckets")
    // One md5 per input row, projected BEFORE the d-way fan-out: the
    // naive bucket(term, i) form re-evaluates md5 under every conv —
    // 2·d digests per row — and the digest is the entire per-row cost
    // (measured 4.7 s → 0.6 s at sf0.1 from this hoist alone).
    terms
      .select(md5(col(termCol)).as("__m"), col(cntCol).cast("long").as("__cnt"))
      .select(
        conv(substring(col("__m"), 1, 8), 16, 10).cast("long").as("__h1"),
        conv(substring(col("__m"), 9, 8), 16, 10).cast("long").as("__h2"),
        col("__cnt"))
      .select(explode(sequence(lit(0), lit(d - 1))).as("__i"),
        col("__h1"), col("__h2"), col("__cnt"))
      .select(col("__i"),
        ((col("__h1") + col("__i") * col("__h2")) % w).as("__bucket"),
        col("__cnt"))
      .groupBy("__i", "__bucket").agg(sum("__cnt").as("counter"))
  }

  /** Point-query the grid: estimate(term) = min over rows i of the
    * counter at bucket_i(term). `cms` is grid-sized (≤ d·w rows) and is
    * broadcast; the fan-out is d per queried term. Emits `queries.*`
    * plus `cms_cnt`. Terms absent from every bucket (possible only when
    * the grid was built from disjoint data) estimate 0 via the
    * coalesce. */
  def cmsEstimate(cms: DataFrame, queries: DataFrame, termCol: String,
      d: Int, w: Int): DataFrame = {
    val qcols = queries.columns
    require(!qcols.exists(c => c == "__i" || c == "__bucket" || c == "__m" ||
        c == "__h1" || c == "__h2" || c == "counter"),
      "queries may not carry __i/__bucket/__m/__h1/__h2/counter columns")
    // Same md5 hoist as cmsBuild: one digest per queried term, not 2·d —
    // the estimate path is advertised for corpus-scale candidate
    // filtering, where the un-hoisted form re-pays the cost the build
    // path eliminated.
    queries
      .withColumn("__m", md5(col(termCol)))
      .withColumn("__h1", conv(substring(col("__m"), 1, 8), 16, 10).cast("long"))
      .withColumn("__h2", conv(substring(col("__m"), 9, 8), 16, 10).cast("long"))
      .withColumn("__i", explode(sequence(lit(0), lit(d - 1))))
      .withColumn("__bucket", (col("__h1") + col("__i") * col("__h2")) % w)
      .join(broadcast(cms), Seq("__i", "__bucket"), "left")
      .groupBy(qcols.toIndexedSeq.map(col): _*)
      .agg(min(coalesce(col("counter"), lit(0L))).as("cms_cnt"))
  }
}
