package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import graft.Checkpoints.CheckpointSyntax

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (SURVEY §2.10): the reference is
  * batch-only but has incremental arrive-and-process structure (each
  * stage consumes the files the previous stage produced, re-runs skip
  * existing outputs). The idiomatic Spark mapping is the file source
  * with `Trigger.AvailableNow` + checkpointed, idempotent sinks: a
  * re-run processes only files not yet recorded in the checkpoint —
  * exactly the reference's existence-check semantics, but transactional.
  */
object FileStream {

  /** Incremental parquet stage: stream `transform(source)` into a parquet
    * directory, processing only not-yet-seen files, then return. */
  def runStageAvailableNow(
      spark: SparkSession, srcGlob: String, schema: StructType,
      transform: DataFrame => DataFrame,
      outPath: String, checkpoint: String): Unit = {
    val in = spark.readStream.schema(schema).parquet(srcGlob)
    val q = transform(in).writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming exact dedup: keep the first row per canonical-text
    * fingerprint (the streaming form of DedupOps.exactDedup) over an
    * unbounded document stream. `dropDuplicatesWithinWatermark` keys
    * state on the 128-bit fingerprint and evicts an entry once the
    * watermark passes the event time it was recorded at — plain
    * `dropDuplicates` would only evict when the event-time column is
    * itself a dedup key, so its state grows with the corpus and OOMs on
    * an unbounded stream. Memory therefore scales with the dedup
    * horizon, not the corpus; a duplicate arriving after its original
    * aged out is re-emitted. That horizon/exactness trade is the price
    * of unbounded input, and the watermark is the knob. */
  def streamingExactDedup(
      docs: DataFrame, textCol: String, tsCol: String,
      watermark: String): DataFrame =
    docs
      .withColumn("fingerprint", graft.functions.TextFns.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming near-exact dedup: keep the first document per FULL
    * MinHash signature within the watermark horizon. Signature equality
    * (all numHashes lane minima agree ⇒ Jaccard ≈ 1: reorderings,
    * whitespace/punctuation/case variants) is the state-bounded
    * streaming stand-in for batch LSH banding — OR-across-bands
    * candidate semantics would need one state store per band (chained
    * stateful operators), while the full signature is ONE
    * dropDuplicatesWithinWatermark key. Band-level candidate pairs stay
    * a batch concern (DedupOps.minHashLshPairs). The signature is
    * computed ROW-LOCALLY (DedupOps.rowLocalSignature, the same
    * minhash_lanes kernel the batch path uses), keeping the stage
    * stateless ahead of the dedup store. Signatures are bit-identical to the
    * batch form, so a batch backfill and the stream agree on what is a
    * duplicate (asserted in FileStreamSpec). */
  def streamingSignatureDedup(
      docs: DataFrame, textCol: String, tsCol: String, watermark: String,
      shingleK: Int = 3, numHashes: Int = 8): DataFrame = {
    import graft.operators.DedupOps
    docs
      .withColumn("__toks",
        expr(s"ascii_tokens($textCol)"))
      .withColumn("minhash_sig",
        md5(DedupOps.rowLocalSignature("__toks", shingleK, numHashes)))
      .drop("__toks")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("minhash_sig")
  }

  /** Gap-based sessionization on an unbounded stream: the same session
    * semantics as the batch w6 query (which, since r13, runs the
    * gaps-and-islands window form — measured faster where a sorted
    * batch partition never needs out-of-order merging), expressed here
    * through `session_window` plus a watermark so the engine can close
    * (and emit, in append mode) a session once no in-horizon event can
    * extend it, reclaiming its state. On a stream the merge machinery
    * IS the point: late in-horizon events extend or merge open
    * sessions, and state is per open session, not per event — the
    * property that keeps this viable unbounded. */
  def sessionizedEventStats(
      events: DataFrame, tsCol: String, userCol: String,
      gap: String, watermark: String,
      valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(userCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(25,10)")).cast("double").as("sum_value"))
      .select(col(userCol), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Stream-static quality scoring: score an unbounded document stream
    * against a batch-trained unigram LM (t_unigram_nll's model: the
    * term→count table + total token mass). The MODEL side is a static
    * DataFrame — a stream-static equi-join is STATELESS (Spark re-plans
    * the static side per micro-batch; no watermark, no state store, and
    * a model refresh is just swapping the static table) — so the only
    * stateful operator is the per-document re-aggregation, whose state
    * the watermark bounds: a document's tokens share its event time, so
    * grouping by (id, ts) emits-and-evicts each doc's group once the
    * watermark passes it (append mode). Scores are the same integer
    * fixed-point arithmetic as the batch t_unigram_nll; calling this
    * with a bounded DataFrame runs the identical plan in batch mode,
    * which is how FileStreamSpec pins stream/batch parity row-for-row.
    *
    * Terms absent from the model are skipped entirely (excluded from
    * both the log mass and `dl`) — the deploy-time convention for
    * scoring fresh data against a frozen vocabulary; add-1-smooth the
    * model side (o13's construction) where unseen mass must count.
    */
  def streamScoreQuality(
      docs: DataFrame, cnt: DataFrame, totalMass: Long,
      textCol: String, idCol: String, tsCol: String,
      watermark: String): DataFrame = {
    // A zero/negative mass would make lnqTot garbage (Long.MinValue) and
    // every emitted score nonsense with no error — fail at wiring time.
    require(totalMass > 0, s"totalMass must be positive, got $totalMass")
    val lnqTot = math.floor(1e6 * math.log(totalMass.toDouble)).toLong
    docs
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol),
        explode(expr(s"tf_map(ascii_alpha_tokens($textCol, 3))"))
          .as(Seq("term", "tf")))
      .withColumn("tf", col("tf").cast("long"))
      .join(cnt, Seq("term")) // stream-static: stateless
      .select(col(idCol), col(tsCol), col("tf"),
        expr("CAST(floor(CAST(1000000 AS DOUBLE) * ln(CAST(cnt AS DOUBLE))) AS BIGINT)")
          .as("lnq"))
      .groupBy(col(idCol), col(tsCol))
      .agg(sum(col("tf") * col("lnq")).as("sum_fp"), sum("tf").as("dl"))
      .select(col(idCol), col(tsCol), col("dl"),
        (col("dl") * lnqTot - col("sum_fp")).as("nll_fp"))
      .withColumn("nll_per_tok_fp", expr("nll_fp div dl"))
  }

  /** Partition column for the bucketed upsert base. No leading underscore:
    * Spark/Hadoop file listings treat `_`/`.`-prefixed directory names as
    * hidden, so an `__bucket=3` partition dir would be invisible on read. */
  val BucketCol = "gbucket"

  /** Deterministic bucket id for a key tuple: Murmur3 (Spark's `hash`) mod
    * nBuckets — stable across sessions, partitioning, and cluster size,
    * which is what lets every later micro-batch find a key's bucket without
    * consulting the base. */
  def bucketExpr(keys: Seq[String], nBuckets: Int): org.apache.spark.sql.Column =
    pmod(hash(keys.map(col): _*), lit(nBuckets))

  /** Underscore-prefixed file under the base holding the bucket count it
    * was written with. Parquet reads skip `_`-prefixed names, and
    * compaction only rewrites the bucket directories, so it stays put. */
  val BucketCountFile = "_gbucket_count"

  /** Materialize an upsert base in the bucketed layout streamingUpsert
    * requires: parquet files under `basePath/gbucket=K`, K = murmur3(keys)
    * mod nBuckets, plus the bucket count in `BucketCountFile`. Pick
    * nBuckets so one bucket's data is a comfortable rewrite unit (e.g.
    * 100 TB / 4096 buckets ≈ 25 GB per bucket). */
  def writeBucketedBase(
      df: DataFrame, basePath: String, keys: Seq[String], nBuckets: Int): Unit = {
    require(!df.columns.contains(BucketCol), s"input already has a $BucketCol column")
    df.withColumn(BucketCol, bucketExpr(keys, nBuckets))
      .write.partitionBy(BucketCol).parquet(basePath)
    val countP = new Path(basePath, BucketCountFile)
    val out = countP.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .create(countP, true)
    try out.write(nBuckets.toString.getBytes(UTF_8)) finally out.close()
  }

  /** CDC-style streaming upsert: each micro-batch MERGEs into a
    * hash-bucketed parquet base table via foreachBatch — the streaming
    * composition of MergeOps.upsert (reference semantics: later metadata
    * snapshots overwrite earlier rows, new keys append). The batch is
    * deduplicated to the last row per key (last-writer-wins within a
    * micro-batch, ordered by `orderCol`), and the read-modify-write is
    * serialized by the streaming engine — foreachBatch is the idiomatic
    * seam for sinks Spark cannot transactionally MERGE into natively.
    *
    * Scale shape: the base lives as `gbucket=K` hash partitions (see
    * writeBucketedBase), and a micro-batch only ever touches the buckets
    * its keys hash into — it lists and reads only those directories, and
    * the swap below keeps every other one UNWRITTEN. Per-batch cost is
    * O(touched buckets + batch), not O(base): a trickle of CDC rows
    * against a 100 TB base rewrites a few ~25 GB buckets, never the
    * table.
    *
    * `nBuckets` must match the value the base was written with — it is
    * the same hash both times, and a mismatch would insert an existing
    * key a second time into the wrong bucket. It is checked once, here,
    * against the count writeBucketedBase recorded, so the base must come
    * from writeBucketedBase. */
  def streamingUpsert(
      updates: DataFrame, basePath: String, keys: Seq[String],
      updateCols: Seq[String], orderCol: String,
      checkpoint: String, nBuckets: Int = 256): org.apache.spark.sql.streaming.StreamingQuery = {
    val baseP = new Path(basePath)
    val fs = baseP.getFileSystem(updates.sparkSession.sparkContext.hadoopConfiguration)
    val countP = new Path(baseP, BucketCountFile)
    require(fs.exists(countP), s"$basePath has no $BucketCountFile; write it with writeBucketedBase")
    val in = fs.open(countP)
    val written = try new String(in.readAllBytes(), UTF_8).trim.toInt finally in.close()
    require(written == nBuckets,
      s"$basePath was written with nBuckets = $written but is upserted with " +
        s"nBuckets = $nBuckets; keys would hash to the wrong buckets")
    def bucketDir(b: Int) = new Path(baseP, s"$BucketCol=$b")
    def backup(b: Int) = new Path(baseP, s".$BucketCol=$b.old")
    // A crash mid-swap (below, or in IoOps.compactParquet, which parks
    // under the same name) can leave a bucket parked at its backup with no
    // live directory. Move every such bucket back before any batch reads:
    // otherwise a batch touching it would merge without the bucket's rows
    // and its swap would then delete the only copy of them. A failed batch
    // stops the query, so a retried batch always comes through here.
    val names = fs.listStatus(baseP).map(_.getPath.getName).toSet
    val Parked = raw"\.$BucketCol=(\d+)\.old".r
    val parked = names.toSeq.collect { case Parked(b) if !names(s"$BucketCol=$b") => b.toInt }
    parked.foreach(b => require(fs.rename(backup(b), bucketDir(b)), s"cannot restore ${backup(b)}"))
    // The schema comes from one bucket directory, once per query: a read
    // of basePath itself would list every bucket (a Spark job of nBuckets
    // tasks above the parallel-discovery threshold) on every batch. The
    // merge writes the base's own columns back, so it cannot drift.
    val anyBucket = names.find(_.startsWith(s"$BucketCol=")).map(new Path(baseP, _))
      .orElse(parked.headOption.map(bucketDir)).getOrElse(baseP)
    val baseSchema = updates.sparkSession.read.option("basePath", basePath)
      .parquet(anyBucket.toString).schema
    updates.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col(orderCol).desc)
        val keyed = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
          .withColumn(BucketCol, bucketExpr(keys, nBuckets))
          .checkpointed() // the batch is re-used 3× (touched set, merge,
                             // anti-insert); pin it instead of re-planning
        // Bounded collect: at most nBuckets ints — bucket IDS, never rows.
        val touched = keyed.select(BucketCol).distinct()
          .collect().map(_.getInt(0)).sorted
        // Only the touched bucket directories that exist are listed and
        // read; the schema is the one resolved at query start, so a batch
        // of keys new to the base reads an empty slice of the same shape.
        val dirs = touched.map(bucketDir).filter(fs.exists).map(_.toString)
        val baseSlice =
          if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), baseSchema)
          else spark.read.schema(baseSchema).option("basePath", basePath).parquet(dirs.toIndexedSeq: _*)
        // gbucket rides as an updateCol so inserted rows land in their
        // hash bucket; for matched rows update and base agree by
        // construction (same keys -> same hash).
        val merged = graft.operators.MergeOps.upsert(
          baseSlice, keyed, keys, updateCols :+ BucketCol)
        // Write the merged TOUCHED buckets to a hidden sibling (dot prefix
        // keeps partition discovery from ever seeing it), then swap each
        // touched bucket directory individually. Hadoop FileSystem (not
        // java.io.File) so the swap works on whatever store basePath lives
        // on; rename/delete signal failure by RETURNING FALSE, and a
        // checked failure throws -> the batch fails -> the streaming
        // engine retries it. A crash mid-swap leaves each bucket either
        // old, new, or parked at its `.old` backup; the restarted query
        // moves a parked bucket back before its first batch reads, so
        // every bucket is recoverable (plain file stores have no atomic multi-dir swap; a
        // table format is the transactional answer, this is the best a
        // bare directory layout can do).
        val tmpP = new Path(baseP.getParent, "." + baseP.getName + ".next")
        merged.write.mode("overwrite").partitionBy(BucketCol).parquet(tmpP.toString)
        touched.foreach { b =>
          val dir = bucketDir(b)
          val src = new Path(tmpP, s"$BucketCol=$b")
          val bak = backup(b)
          if (fs.exists(bak)) require(fs.delete(bak, true), s"cannot clear $bak")
          if (fs.exists(dir)) require(fs.rename(dir, bak), s"cannot park $dir at $bak")
          require(fs.rename(src, dir), s"cannot move $src to $dir")
        }
        fs.delete(tmpP, true)
        ()
      }
      .start()
  }

  /** Event-time windowed counts with a watermark — the streaming-native
    * shape of the reference's per-stage success/fail counters (§2.4 A5).
    * Late rows beyond the watermark are dropped by the engine; state for
    * closed windows is reclaimed, which is what keeps this viable on an
    * unbounded stream. */
  def windowedEventCounts(
      events: DataFrame, tsCol: String, typeCol: String,
      window: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col(tsCol), window),
        col(typeCol))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("sum_value"))

  /** Streaming count-min grid: the CMS counter build as a running
    * streaming aggregation — the shape the sketch EXISTS for (one pass,
    * no replay; the batch build in CmsOps is the same arithmetic over a
    * bounded history). State is the d×w counter grid itself — a few KB
    * bounded by construction, never by watermark — so Update output
    * mode needs no event-time column at all: every micro-batch revises
    * the touched cells, and grid(all batches so far) equals the batch
    * grid over the union (merge-associativity, pinned in
    * FileStreamSpec against CmsOps.cmsBuild on the same rows). */
  def streamingCmsGrid(
      terms: DataFrame, termCol: String, cntCol: String,
      d: Int, w: Int): DataFrame =
    graft.operators.CmsOps.cmsBuild(terms, termCol, cntCol, d, w)

  /** Streaming HyperLogLog registers: the HLL register build as a
    * running streaming aggregation over an unbounded value stream —
    * per-register MAX is duplicate-blind and merge-associative, so
    * Update/Complete mode state is exactly the register table (≤ m
    * small rows per group, bounded by construction, never by
    * watermark — the CMS-grid argument, for distinct counting). The
    * final state folds to the estimate with SketchOps.hllEstimate
    * (two chained aggregations are not streamable in one query; the
    * fold is a per-group ≤ m-row batch step over the sink).
    * Batch parity is pinned in FileStreamSpec: registers(all batches)
    * == SketchOps.hllRegisters(union), hence identical estimates. */
  def streamingHllRegisters(
      df: DataFrame, groupCols: Seq[String],
      valueCol: org.apache.spark.sql.Column): DataFrame =
    graft.operators.SketchOps.hllRegisters(df, groupCols, valueCol)

  /** Watermarked stream-stream interval join: each left event joined to
    * the right events sharing its key whose event time falls within
    * [left_ts - horizon, left_ts] (attribution-style: a purchase joined
    * to the views that preceded it). BOTH sides carry watermarks and the
    * join condition bounds the right event time RELATIVE to the left's —
    * the two facts Spark's state manager needs to compute when a
    * buffered row can no longer match, so both join buffers are evicted
    * as the watermark advances. An unconstrained stream-stream join
    * buffers both streams forever; the time bound is what makes this
    * viable unbounded. Inner join (append mode): a left event with no
    * right match in the horizon emits nothing.
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String,
      horizon: String, watermarkDelay: String): DataFrame = {
    require(leftTsCol != rightTsCol,
      "left/right event-time columns must be distinctly named")
    val collisions = left.columns.toSet.intersect(right.columns.toSet) - keyCol
    require(collisions.isEmpty,
      s"payload columns collide across sides: ${collisions.mkString(", ")}")
    val l = left.withWatermark(leftTsCol, watermarkDelay)
    val r = right.withWatermark(rightTsCol, watermarkDelay)
      .withColumnRenamed(keyCol, "__rkey")
    l.join(r, col(keyCol) === col("__rkey") &&
        col(rightTsCol) >= col(leftTsCol) - expr(s"INTERVAL $horizon") &&
        col(rightTsCol) <= col(leftTsCol))
      .drop("__rkey")
  }
}
