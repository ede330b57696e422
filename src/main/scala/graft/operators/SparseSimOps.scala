package graft.operators

import graft.Checkpoints.CheckpointSyntax

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sparse (term-space) cosine similarity via an inverted-index posting
  * join — the term-based complement to the dense-embedding ANN family:
  * no model, no hyperplanes, pairs meet only on SHARED TERMS, so unlike
  * LSH there are no probabilistic misses for lexically-overlapping
  * documents.
  *
  * Scale shape: tokenize → (doc, term, tf) postings; join postings to
  * postings on the term — one shuffle on the term key, the inverted
  * index materialized as a co-partitioned join, never an all-pairs
  * product. The classic scale lever is the POSTING-LIST CAP: a term in
  * more than `dfCap` documents is dropped from every vector (vocabulary
  * filtering, the IR stopword move) — each term's join fan-out is then
  * ≤ dfCap², and the frequent terms removed are exactly the ones that
  * carry no discriminating signal. The cap changes the metric (cosine
  * over the filtered vocabulary) identically in both engines, so it is
  * part of the operator's contract, not an approximation.
  *
  * Determinism across engines: tf counts, dot products, and squared
  * norms are EXACT integers; the only floating-point steps are
  * sqrt/multiply/divide, each correctly rounded under IEEE-754, so the
  * cosine is bit-identical in Spark and the SQL oracle — same
  * portable-math discipline as SketchOps (there via integer hashes,
  * here via integer accumulation).
  *
  * The pruned-posting materialization routes through
  * [[graft.Checkpoints]] — `spark.graft.checkpoint.mode=reliable` for
  * cluster runs that must survive executor loss.
  */
object SparseSimOps {

  /** Candidate pairs with tf-cosine ≥ `minCosine` over the `dfCap`-
    * filtered vocabulary. Output: (id_a, id_b, cosine), id_a < id_b.
    * Tokens are the `[a-z0-9]+` runs of the lowercased text.
    *
    * Measured-first note (r10 bake-off, sf0.1, TimeSome min of 3 —
    * supersedes the r8 "recompute-simple" note, which had only tried
    * checkpointing the norm-JOINED split input): the tokenize kernel
    * sat under FOUR consumers (df head, norms, and both split sides),
    * and the winning cut is the checkpoint at `kept` — tokenize runs
    * twice (head pass + kept build), then norms/a/b read the
    * materialized ~150k-row filtered postings: 4.03 → 2.54 s.
    * Checkpointing `tf` instead (tokenize once, but the anti-join
    * replays per consumer) measured 3.16 s; BOTH checkpoints 2.84 s —
    * the second materialization job costs more than the pass it
    * saves. The plan stays one shuffle per aggregation with pair
    * fan-out bounded by dfCap². */
  def tfCosinePairs(
      docs: DataFrame, idCol: String, textCol: String,
      minCosine: Double, dfCap: Long): DataFrame = {
    require(minCosine > 0, "minCosine must be positive (join emits shared-term pairs only)")
    require(dfCap >= 2, "dfCap < 2 drops every joinable term")
    // Per-doc term frequency is row-local (tf_map kernel): one
    // pre-counted row per DISTINCT (doc, term) straight off the scan —
    // the explode + groupBy(doc, term) form this replaces shuffled one
    // row per token OCCURRENCE to count what the row already owned.
    val tf = docs
      .select(col(idCol).as("__id"),
        explode(expr(s"tf_map(ascii_tokens($textCol))"))
          .as(Seq("__term", "__tfi")))
      .select(col("__id"), col("__term"),
        col("__tfi").cast("bigint").as("__tf"))
    // Vocabulary filter as a HEAD-SET anti-join, not a per-term window:
    // the window form exchange-SORTS every posting by term to attach a
    // df each row only uses once; the terms it removes (df > dfCap) are
    // by construction the FEW most frequent — the Zipf head — so the
    // scale shape is a partial-aggregated df count (shuffle output =
    // vocabulary, not postings) filtered to the head and BROADCAST as an
    // anti-join set. The posting side never exchanges for the filter.
    val head = tf.groupBy("__term").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > dfCap).select("__term")
    val kept = tf.join(broadcast(head), Seq("__term"), "left_anti")
      .checkpointed()
    // Norm over the filtered vocabulary rides each POSTING row (joined
    // on __id BEFORE the a/b split), so the pair table — the largest
    // relation in the plan, dfCap² fan-out per term — is never
    // re-shuffled to pick up norms. The earlier form joined norms onto
    // the aggregated pairs, which re-exchanges the pair table once per
    // side at scale. Attaching pre-split costs one small join against
    // the one-row-per-doc norms table: AQE broadcasts it at bench scale
    // and sort-merges on __id at corpus scale, either way bounded by
    // postings, not pairs. (A per-doc window was tried and rejected: the
    // partition-key sort of the full posting list costs more than the
    // hash-aggregated norms join.) __n2 is an exact integer, so
    // including it in the pair groupBy keys (functionally dependent on
    // the id) is determinism-safe.
    val norms = kept.groupBy("__id")
      .agg(sum(col("__tf") * col("__tf")).as("__n2"))
    // shuffle_hash: per-doc norms are fact-scaled — never a broadcast
    // build (the a19 class).
    val kept2 = kept.join(norms.hint("shuffle_hash"), "__id")
    val a = kept2.select(col("__id").as("id_a"), col("__term"),
      col("__tf").as("__tfa"), col("__n2").as("__n2a"))
    val b = kept2.select(col("__id").as("id_b"), col("__term"),
      col("__tf").as("__tfb"), col("__n2").as("__n2b"))
    a.join(b, Seq("__term"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "__n2a", "__n2b")
      .agg(sum(col("__tfa") * col("__tfb")).as("__dot"))
      .select(col("id_a"), col("id_b"),
        (col("__dot").cast("double") /
          (sqrt(col("__n2a").cast("double")) * sqrt(col("__n2b").cast("double"))))
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
  }
}
