package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Deduplication operators for large-scale training-data pipelines:
  * exact (canonical-form hash), MinHash+LSH banding, SimHash, and n-gram
  * Jaccard — all built from codegen'd column expressions (no UDFs) and
  * all md5-keyed so a SQL oracle can replicate them bit-for-bit.
  *
  * Scale shapes:
  *   - exact dedup: one shuffle on the 128-bit fingerprint; map-side
  *     nothing to combine, but the key is tiny regardless of doc size.
  *   - MinHash/LSH: signatures are computed scan-side (per-row, no
  *     shuffle), then ONE shuffle on (band, band-signature). Candidate
  *     pairs only ever meet inside a bucket — there is no all-pairs
  *     product anywhere, which is what makes near-dup feasible at 100 TB.
  *   - SimHash: same shape with a prefix-block join.
  *   - n-gram Jaccard: quadratic WITHIN a caller-chosen block only; the
  *     caller must provide a blocking column (use LSH for unblocked data).
  */
object DedupOps {

  /** Exact dedup: keep the lowest-`orderCol` row per canonical-text
    * fingerprint. */
  def exactDedup(df: DataFrame, textCol: String, orderCol: String): DataFrame = {
    val w = Window.partitionBy("__fp").orderBy(col(orderCol))
    df.withColumn("__fp", TextFns.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .withColumnRenamed("__fp", "fingerprint")
  }

  /** Word k-gram shingles (lowercased alnum tokens). Word shingles over
    * char shingles is a volume decision: ~5x fewer shingle rows per doc
    * for the same near-dup recall on natural text — and shingle-row count
    * is the direct cost driver of the signature aggregation. At least one
    * (possibly empty) shingle is produced so empty docs keep a signature
    * (mirrors the greatest(...,1) in the oracle SQL). */
  def shingles(textCol: String, k: Int): Column =
    expr(s"kgrams(ascii_tokens($textCol), $k)")

  /** MinHash signature: numHashes mins over a chunked-md5 hash family —
    * lane i draws its value from an 8-hex-char (32-bit) slice of
    * md5('<i/4>:<shingle>'), so FOUR lanes share one digest. md5's
    * output bits are uniformly mixed, so disjoint 32-bit chunks behave
    * as independent hash functions (the one-permutation-hashing
    * argument), and 32 bits is ample for a min over a document's
    * shingle set. Versus one-md5-per-lane this computes 4x fewer
    * digests AND min-aggregates 4x shorter strings — both terms of the
    * dominant cost. Deterministic, seedless, reproducible in any
    * engine with md5 + substring.
    *
    * Computed ROW-LOCALLY (TokenKernels.minhashLanes, one codegen'd
    * call per document): lane minima are per-document facts, so an
    * exploded form (one row per shingle, flat codegen'd md5 columns,
    * per-doc min(string) SortAggregate) would shuffle ~shingle-count
    * rows per doc through a variable-width sort aggregate for values the
    * row already owns. The other shapes measured slower: nested array
    * lambdas (interpreted HOFs, ~100x too slow), exploded flat columns,
    * and numeric mins via conv() (slower than the string sort). Docs
    * with null text produce no signature row
    * (the explode-form drop semantics, which the oracles replay). */
  def minHashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int): DataFrame =
    minHashSignaturesExpr(df, idCol, s"ascii_tokens($textCol)",
      shingleK, numHashes)

  /** [[minHashSignatures]] over a SQL fragment producing the token
    * array directly — for callers that already materialized
    * `ascii_tokens` (e.g. a checkpointed token column shared with an
    * exact-truth branch, as in dedup_lsh_recall). Same kernel,
    * same values. */
  def minHashSignaturesExpr(
      df: DataFrame, idCol: String, toksExpr: String,
      shingleK: Int, numHashes: Int): DataFrame = {
    val lanes = (0 until numHashes).map(i =>
      element_at(col("__mh"), i + 1).as(s"mh$i"))
    df.select(col(idCol),
        expr(s"minhash_lanes($toksExpr, $shingleK, $numHashes)")
          .as("__mh"))
      .filter(col("__mh").isNotNull)
      .select(col(idCol) +: lanes: _*)
  }

  /** [[minHashLshPairs]] over a pre-tokenized column (array<string>). */
  def minHashLshPairsFromTokens(
      df: DataFrame, idCol: String, toksCol: String,
      shingleK: Int = 3, numHashes: Int = 8, bands: Int = 2): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val sigs = minHashSignaturesExpr(df, idCol, toksCol, shingleK, numHashes)
    val bandCols = (0 until bands).map(b =>
      md5(concat_ws(",", (0 until rows).map(r => col(s"mh${b * rows + r}")): _*)))
    val banded = sigs.select(col(idCol),
      posexplode(array(bandCols: _*)).as(Seq("band", "sig")))
    pairsWithinBuckets(banded, idCol, Seq("band", "sig"))
  }

  /** One-band MinHash block id as a row-local COLUMN on `df` (md5 over
    * the comma-joined first `numHashes` lanes) — the join-free form of
    * pairing [[minHashSignatures]] back onto its own input. The block
    * is a pure function of `textCol`, so blocking the SAME frame the
    * signature came from needs no join at all; the join-back form made
    * the fact-scaled signature table a join side that Spark
    * auto-broadcast at sf0.1 (the a19 class, found by the corpus-aware
    * broadcast audit). Rows with null lanes (null text) get a NULL
    * block — an equi-join key that never matches, the same drop the
    * signature form's inner join-back applied (concat_ws would instead
    * silently bucket them together as md5("")). */
  def minHashBlockCol(
      textCol: String, shingleK: Int, numHashes: Int): Column = {
    val mh = expr(s"minhash_lanes(ascii_tokens($textCol), $shingleK, $numHashes)")
    when(mh.isNotNull, md5(concat_ws(",",
      (0 until numHashes).map(i => element_at(mh, i + 1)): _*)))
  }

  /** [[minHashBlockCol]] as a DataFrame step that computes the lanes
    * kernel exactly ONCE per row: the Column form references the kernel
    * three times (the null guard + each element_at) and
    * conditional-branch subexpression elimination is not guaranteed;
    * this two-step projection cannot collapse (the lane alias is used
    * thrice and non-cheap, so CollapseProject leaves it materialized),
    * making once-per-row structural. Prefer this in hot paths.
    *
    * Known residue (measured neutral at sf0.1): joining on the block
    * makes the optimizer INFER isnotnull(block) and push it to the
    * scan, where constraint substitution re-expands the kernel inside
    * the filter — one extra guard evaluation per row that skips
    * null-text rows before the projection. Harmless for this kernel;
    * a checkpoint would remove it where a profile ever says otherwise. */
  def withMinHashBlock(df: DataFrame, outCol: String,
      textCol: String, shingleK: Int, numHashes: Int): DataFrame =
    df.withColumn("__mhb_lanes",
        expr(s"minhash_lanes(ascii_tokens($textCol), $shingleK, $numHashes)"))
      .withColumn(outCol, when(col("__mhb_lanes").isNotNull,
        md5(concat_ws(",",
          (0 until numHashes).map(i => element_at(col("__mhb_lanes"), i + 1)): _*))))
      .drop("__mhb_lanes")

  /** Row-local MinHash signature string "mh0,...,mhN-1" — the SAME
    * kernel the batch path uses (TokenKernels.minhashLanes), joined with
    * commas for a single state-store key. Batch and streaming signatures
    * are identical BY CONSTRUCTION now that both call one kernel
    * (still asserted in FileStreamSpec). Expects the token array already
    * projected as column `toksCol`. */
  def rowLocalSignature(toksCol: String, shingleK: Int, numHashes: Int): Column =
    array_join(expr(s"minhash_lanes($toksCol, $shingleK, $numHashes)"), ",")

  /** LSH banding: candidate near-dup pairs (idA < idB) that share at least
    * one band signature. One shuffle on (band, sig) to group buckets, pairs
    * generated inside each bucket — no cartesian, no recomputing self-join. */
  def minHashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 8, bands: Int = 2): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val sigs = minHashSignatures(df, idCol, textCol, shingleK, numHashes)
    val bandCols = (0 until bands).map(b =>
      md5(concat_ws(",", (0 until rows).map(r => col(s"mh${b * rows + r}")): _*)))
    val banded = sigs.select(col(idCol),
      posexplode(array(bandCols: _*)).as(Seq("band", "sig")))
    pairsWithinBuckets(banded, idCol, Seq("band", "sig"))
  }

  /** Group rows by bucket keys and emit all (a < b) id pairs inside each
    * bucket, deduplicated. The bucket member lists are sorted so pair
    * generation is deterministic; bucket size bounds the quadratic blowup
    * (LSH parameters control expected bucket size). */
  private[operators] def pairsWithinBuckets(
      df: DataFrame, idCol: String, bucketCols: Seq[String]): DataFrame =
    df.groupBy(bucketCols.map(col): _*)
      .agg(sort_array(collect_set(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(sequence(1, size(ids) - 1), " +
        "i -> transform(slice(ids, i + 1, size(ids) - i), " +
        "x -> struct(element_at(ids, i) as id_a, x as id_b))))")).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()

  /** Single-column SimHash (same bit definition as [[simHashes]]: bit i's
    * vote is the parity of hex digit i of md5(token); bit set iff the vote
    * sum >= 0; integer vote sums are order-independent). Interpreted-HOF
    * convenience for ad-hoc use — the exploded [[simHashes]] is the
    * codegen'd hot path. */
  def simHash(textCol: String, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 32, "integer simhash holds 1..32 bits")
    expr(s"ascii_simhash($textCol, $bits)")
  }

  /** SimHash fingerprints, ROW-LOCAL (TokenKernels.simHash): one
    * codegen'd kernel call per document — tokenize, one md5 per token,
    * per-bit hex-digit-parity votes, bit i set iff the vote sum >= 0.
    * Same bit definition as the DuckDB oracle replays. Not an exploded
    * form (one row per token, `bits` flat ±1 vote columns, per-doc sum
    * aggregation): the votes are per-DOCUMENT facts and the document
    * lives in one row, so the explode + bits-wide partial aggregation
    * would SHUFFLE one row per token for values the row already owns.
    * Zero-token (or null-text) docs get the all-set hash: every vote
    * sum is 0, and 0 >= 0. Caps bits at 32 (md5 has
    * 32 hex digits).
    *
    * Output is an INTEGER simhash (bit bits-1-i = vote i >= 0): a 4-byte
    * shuffle key and an xor/bit_count Hamming operand, where a bit-string
    * costs `bits` chars per row and a char-loop per comparison. */
  def simHashes(df: DataFrame, idCol: String, textCol: String,
      bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 32, "integer simhash holds 1..32 bits")
    df.select(col(idCol),
      coalesce(expr(s"ascii_simhash($textCol, $bits)"),
        lit((1L << bits) - 1)).as("sim"))
  }

  /** SimHash near-dup pairs: block on the top prefixBits bits (one
    * shuffle on the block key), then exact Hamming distance <= maxHamming
    * within blocks — bit_count(a xor b), a codegen'd two-instruction
    * comparison. Pairs differing inside the prefix are missed — that is
    * the standard recall/cost trade; run b permutations for full recall.
    * Pair generation is a self-equi-join on the block key: both sides
    * shuffle on a high-cardinality prefix, the join is codegen'd, and no
    * per-block array ever materializes (the previous collect_list +
    * interpreted-HOF pair expansion was the other half of the 20 s). */
  def simHashPairs(
      df: DataFrame, idCol: String, textCol: String,
      bits: Int = 16, prefixBits: Int = 8, maxHamming: Int = 3): DataFrame = {
    // Repartition on the block + shuffle-hash hint: identical exchange
    // subtrees on both join sides let AQE reuse the shuffled signature
    // stage, so tokenize+hash+vote runs ONCE (see
    // SimilarityOps.cosineNearDupPairs for the full rationale).
    val withSim = simHashes(df, idCol, textCol, bits)
      .withColumn("block", shiftright(col("sim"), bits - prefixBits))
      .repartition(col("block"))
    val a = withSim.toDF("id_a", "sim_a", "block")
    val b = withSim.toDF("id_b", "sim_b", "block")
    a.hint("shuffle_hash").join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** n-gram (word-set) Jaccard pairs within a blocking column. Jaccard
    * computed as |A∩B| / (|A|+|B|-|A∩B|) over DISTINCT token sets so both
    * engines divide the same two integers. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val toks = array_distinct(
      expr(s"ascii_alpha_tokens($textCol)"))
    // same exchange-reuse self-join shape as simHashPairs: the regexp
    // tokenization runs once, not once per join side
    val prepped = df.select(col(idCol), col(blockCol).as("block"), toks.as("toks"))
      .repartition(col("block"))
    val a = prepped.toDF("id_a", "block", "toks_a")
    val b = prepped.toDF("id_b", "block", "toks_b")
    a.hint("shuffle_hash").join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("jaccard",
        col("inter") / (size(col("toks_a")) + size(col("toks_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Token-set CONTAINMENT pairs — the asymmetric near-dup measure
    * Jaccard systematically misses: a short document quoted wholesale
    * inside a long one has tiny Jaccard (union is dominated by the long
    * doc) but containment |A∩B| / min(|A|,|B|) ≈ 1. Standard in corpus
    * dedup for subset/quotation collapse where size ratios are skewed.
    *
    * `gramsCol` supplies each row's DISTINCT gram set (typically
    * `distinct_kgrams(ascii_tokens(text), k)` word shingles — the
    * fixture's flat 30-word vocabulary makes single-token sets
    * meaningless, and real corpora want shingle-level containment
    * anyway).
    *
    * Mechanism is the inverted-index exact path (SparseSimOps' shape,
    * not another LSH): distinct grams explode to postings, a document-
    * frequency cap drops stopword-class tokens (df > dfCap) BEFORE the
    * postings self-join — they generate quadratic pair rows and carry no
    * containment signal — and shared counts group map-side-combined on
    * the (a, b) pair. All set sizes are measured over the SAME capped
    * universe, so the ppm score divides two integers both engines
    * compute identically; the cap is part of the operator definition,
    * not an approximation knob hidden from the oracle.
    *
    * Scale shape: one shuffle to postings (keyed by token), one keyed
    * self-join whose per-token fan-out is bounded by dfCap², one
    * map-side-combined pair aggregation, two bounded joins against the
    * |docs|-row size table. No cartesian anywhere; posting-list skew is
    * capped by construction. */
  def containmentPairs(
      df: DataFrame, idCol: String, gramsCol: Column,
      dfCap: Int, minContainPpm: Long): DataFrame = {
    import graft.Checkpoints.CheckpointSyntax
    val grams = df.select(col(idCol).as("id"), explode(gramsCol).as("g"))
    // The RARE gram list is checkpointed (same-JVM alternating A/B:
    // won 4/4 alternating pairs vs recompute, 2.63-2.75 vs 2.68-3.11 s
    // at sf0.1): `kept` has three consumers (sizes + both self-join
    // sides), so left lazy the FULL document-frequency aggregate over
    // every posting re-executes per consumer — 4 df-agg passes in the
    // registered query's before-plan. The materialized table is the
    // NARROWEST projection in the operator (one string column, distinct
    // grams only). Contrast the rejected cut: checkpointing the
    // df-capped POSTINGS (`kept`, one row per (doc, gram)) lost
    // (3.14 -> 3.53 s) — shingle-wide and much taller,
    // expensive to materialize while the gram kernel replays cheaply.
    val rare = grams.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .select("g")
      .checkpointed()
    val kept = grams.join(rare, "g")
    val sizes = kept.groupBy("id").agg(count(lit(1)).as("n"))
    val a = kept.toDF("g", "id_a")
    val b = kept.toDF("g", "id_b")
    a.join(b, Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .join(sizes.toDF("id_a", "n_a"), "id_a")
      .join(sizes.toDF("id_b", "n_b"), "id_b")
      .withColumn("cont_ppm",
        expr("(shared * 1000000) div least(n_a, n_b)"))
      .filter(col("cont_ppm") >= minContainPpm)
      .select("id_a", "id_b", "shared", "cont_ppm")
  }

  /** Measured RECALL of the df-capped containment generator against
    * exact uncapped containment truth — the dedup_lsh_recall audit
    * discipline applied to the df-capped containment generator. The df
    * cap in [[containmentPairs]] is what makes the operator scale (it
    * bounds the postings self-join fan-out), and what it silently
    * costs is pairs whose shared grams are ALL high-df — this audit
    * measures that cost instead of guessing it.
    *
    * Truth = containment |A∩B| / min(|A|,|B|) >= minContainPpm over
    * the FULL gram universe (no cap), for pairs whose LOWER id is in
    * the probe slice (< probeBound). Same bounding argument as
    * dedup_lsh_recall's truth: at any corpus scale this is a
    * broadcast of the bounded probe gram sets against one corpus
    * pass — never all-pairs. The gram sets are materialized ONCE (the
    * dedup_lsh_recall shared-checkpoint shape) and read by both the
    * truth crossJoin and the candidate's postings explode.
    *
    * Output mirrors the dedup_lsh_recall audit row: (method, n_truth,
    * n_hits, recall_bp), integer basis points, null when the probe
    * slice has no truth pairs.
    *
    * Registry note: the query registry is frozen at 246, so this
    * audit ships as an operator + DedupRecallSpec pins + a measured
    * number rather than a new oracle
    * row. Measured at dedup_containment's standing parameters
    * (3-gram shingles, dfCap 50, 600000 ppm, probe < 50): recall
    * 10000 bp at BOTH sf0.01 (6/6 truth pairs) and sf0.1 (5/5) — on
    * this corpus no truth pair depends on a df>50 gram, so the cap's
    * scale win is currently free. DedupRecallSpec pins the case where
    * it is NOT free (all shared grams high-df -> bp 0), which is
    * exactly what the audit exists to surface on a real corpus. */
  def containmentRecall(
      df: DataFrame, idCol: String, gramsCol: Column,
      dfCap: Int, minContainPpm: Long, probeBound: Long): DataFrame = {
    import graft.Checkpoints.CheckpointSyntax
    val tok = df.select(col(idCol).as("id"), gramsCol.as("toks")).checkpointed()
    val probe = tok.filter(col("id") < probeBound)
      .select(col("id").as("id_a"), col("toks").as("ta"))
    val truth = tok.select(col("id").as("id_b"), col("toks").as("tb"))
      .crossJoin(broadcast(probe))
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .filter(expr(
        s"(inter * 1000000) div least(size(ta), size(tb)) >= $minContainPpm"))
      .select("id_a", "id_b")
    val cand = containmentPairs(tok, "id", col("toks"), dfCap, minContainPpm)
      .filter(col("id_a") < probeBound)
      .select("id_a", "id_b")
    truth.agg(count(lit(1)).as("n_truth")).crossJoin(
        truth.join(cand, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1)).as("n_hits")))
      .select(lit("containment_dfcap").as("method"),
        col("n_truth"), col("n_hits"),
        expr("CASE WHEN n_truth > 0 THEN (n_hits * 10000) div n_truth END")
          .as("recall_bp"))
  }
}
