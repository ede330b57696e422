package graft.queries

import graft.Checkpoints.CheckpointSyntax

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{TextFns, VectorFns}
import graft.operators.{DedupOps, SimilarityOps}

/** LLM-training-data operators: exact + near dedup and similarity search,
  * as named queries over `documents` / `embeddings` with DuckDB oracles.
  *
  * Near-dup corpora are augmented with planted near-duplicates (same
  * construction in both engines) so the candidate-pair outputs are
  * non-trivially non-empty and fully deterministic.
  */
object DedupQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** documents ∪ planted near-dups (200-char prefix keeps the md5 volume
    * sane in both engines; the operator itself has no such limit). */
  private def corpus(s: SparkSession, dir: String): DataFrame = {
    // Hash kernels (minhash lanes / simhash / shingles) dominate the map
    // stage: fan the narrow fixture scan out (Tables.fanOut scaladoc).
    val d = Tables.fanOut(t(s, dir, "documents"))
      .select(col("doc_id"), col("lang"), substring(col("text"), 1, 200).as("t"))
    val planted = d.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("lang"),
        concat(col("t"), lit(" near dup tail")).as("t"))
    d.unionByName(planted)
  }
  private val corpusCte =
    """corpus AS (
      |  SELECT doc_id, lang, substr(text, 1, 200) AS t FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, lang, substr(text, 1, 200) || ' near dup tail'
      |  FROM documents WHERE doc_id % 20 = 0)
      |""".stripMargin

  // ------------------------------------------------------------ exact

  private val dedupExact: Q = (s, dir) =>
    DedupOps.exactDedup(t(s, dir, "documents"), "text", "doc_id")
      .select(col("doc_id"), col("fingerprint"))
      .orderBy("doc_id")
  private val dedupExactSql =
    """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
      |FROM documents
      |QUALIFY row_number() OVER (
      |  PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
      |  ORDER BY doc_id) = 1
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ minhash

  private val dedupMinhash: Q = (s, dir) =>
    DedupOps.minHashLshPairs(corpus(s, dir), "doc_id", "t",
        shingleK = 3, numHashes = 8, bands = 2)
      .orderBy("id_a", "id_b")
  /** Shared CTE chain producing the MinHash LSH candidate pairs (used by
    * the pair query and by the connected-components clustering oracle). */
  private val minhashPairCtes =
    """toked AS (
      |  SELECT doc_id, regexp_extract_all(lower(t), '[a-z0-9]+') AS toks FROM corpus),
      |sig AS (
      |  SELECT doc_id,
      |    list_transform(range(8), i ->
      |      list_min(list_transform(
      |        list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
      |          j -> array_to_string(toks[j:j+2], ' ')),
      |        sh -> substr(md5(CAST(i // 4 AS VARCHAR) || ':' || sh),
      |                     (i % 4) * 8 + 1, 8)))) AS mh
      |  FROM toked),
      |bands AS (
      |  SELECT doc_id, CAST(b.i AS INT) AS band,
      |    md5(array_to_string(mh[b.i * 4 + 1 : b.i * 4 + 4], ',')) AS s
      |  FROM sig, range(2) b(i))""".stripMargin
  private val dedupMinhashSql =
    "WITH " + corpusCte + ", " + minhashPairCtes + "\n" +
    """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |FROM bands a JOIN bands b ON a.band = b.band AND a.s = b.s AND a.doc_id < b.doc_id
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------- connected components

  /** Near-dup CLUSTERS from the MinHash pair graph: GraphOps transitive
    * closure, component id = min doc_id, survivor = the min member (the
    * keep-first rule a dedup pipeline applies per cluster). The oracle
    * replays the closure as a recursive reachability CTE — tractable at
    * oracle scale because clusters are small; the Spark side is the
    * O(log n)-round star algorithm that survives corpus scale. */
  private val dedupCc: Q = (s, dir) => {
    val pairs = DedupOps.minHashLshPairs(corpus(s, dir), "doc_id", "t",
      shingleK = 3, numHashes = 8, bands = 2)
    // assumeCanonical (r15 opt): pairsWithinBuckets emits distinct
    // id_a < id_b pairs, so cc's re-canonicalization distinct shuffle +
    // second |pairs| checkpoint is dead work (same-JVM A/B: min 3.65 vs
    // 4.43 s, jobs 21 -> 19, parity checksummed; same for the three
    // sibling cc queries below and pipe_dedup_pass).
    graft.operators.GraphOps.connectedComponents(pairs, "id_a", "id_b",
        assumeCanonical = true)
      .select(col("node").as("doc_id"), col("component").as("cluster_id"),
        (col("node") === col("component")).as("is_survivor"))
      .orderBy("doc_id")
  }
  private val dedupCcSql =
    "WITH RECURSIVE " + corpusCte + ", " + minhashPairCtes + "," +
    """
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.s = b.s AND a.doc_id < b.doc_id),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(node, m) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT e.a, r.m FROM edges e JOIN reach r ON r.node = e.b)
      |SELECT node AS doc_id, MIN(m) AS cluster_id,
      |  (node = MIN(m)) AS is_survivor
      |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  /** The deduplicated corpus itself: every document EXCEPT non-minimum
    * members of a near-dup cluster (the delete set CC derives). This is
    * the operator a pipeline actually runs — pairs → clusters →
    * survivors — materialized end to end. */
  private val dedupCcSurvivors: Q = (s, dir) => {
    val pairs = DedupOps.minHashLshPairs(corpus(s, dir), "doc_id", "t",
      shingleK = 3, numHashes = 8, bands = 2)
    val cc = graft.operators.GraphOps.connectedComponents(pairs, "id_a", "id_b",
      assumeCanonical = true) // see dedupCc

    val deletes = cc.filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    corpus(s, dir).join(deletes, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("t"))
      .orderBy("doc_id")
  }
  private val dedupCcSurvivorsSql =
    "WITH RECURSIVE " + corpusCte + ", " + minhashPairCtes + "," +
    """
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.s = b.s AND a.doc_id < b.doc_id),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(node, m) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT e.a, r.m FROM edges e JOIN reach r ON r.node = e.b),
      |deletes AS (
      |  SELECT node FROM (SELECT node, MIN(m) AS comp FROM reach GROUP BY node)
      |  WHERE node <> comp)
      |SELECT c.doc_id, c.lang, c.t FROM corpus c
      |ANTI JOIN deletes d ON c.doc_id = d.node
      |ORDER BY doc_id""".stripMargin

  /** Survivor selection by QUALITY, not position: per near-dup cluster,
    * keep the member with the most text (ties → smallest doc_id) — the
    * Dolma/C4-style "keep longest" canonicalization, vs the keep-first
    * rule dedup_cc_survivors applies. Composes the same pair graph +
    * transitive closure; the winner is picked by the bounded-buffer
    * top-k aggregator (k=1), so no per-cluster sort exists anywhere —
    * one shuffle of 1-row partial buffers on cluster_id. */
  private val dedupCcBest: Q = (s, dir) => {
    val pairs = DedupOps.minHashLshPairs(corpus(s, dir), "doc_id", "t",
      shingleK = 3, numHashes = 8, bands = 2)
    val cc = graft.operators.GraphOps.connectedComponents(pairs, "id_a", "id_b",
      assumeCanonical = true) // see dedupCc

    // No hint: the corpus scan's size estimate is sound, so AQE's
    // broadcast choice flips to a keyed join exactly when real corpus
    // sizes demand it (the r10 estimate-soundness doctrine; hinting
    // measured +1.4 s here).
    val members = cc.join(corpus(s, dir), cc("node") === col("doc_id"))
      .select(col("component").as("cluster_id"), col("doc_id"),
        length(col("t")).cast("long").as("n_chars_t"))
    graft.operators.TopKOps.topKByValue(
        members, Seq("cluster_id"), col("n_chars_t"), col("doc_id"), k = 1,
        orderName = "n_chars_t", tieName = "doc_id")
      .select(col("cluster_id"), col("doc_id").as("best_doc_id"),
        col("n_chars_t"))
      .orderBy("cluster_id")
  }
  private val dedupCcBestSql =
    "WITH RECURSIVE " + corpusCte + ", " + minhashPairCtes + "," +
    """
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.s = b.s AND a.doc_id < b.doc_id),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(node, m) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT e.a, r.m FROM edges e JOIN reach r ON r.node = e.b),
      |comp AS (SELECT node, MIN(m) AS cluster_id FROM reach GROUP BY node),
      |members AS (
      |  SELECT cluster_id, c.doc_id, CAST(len(c.t) AS BIGINT) AS n_chars_t
      |  FROM comp JOIN corpus c ON comp.node = c.doc_id)
      |SELECT cluster_id, doc_id AS best_doc_id, n_chars_t FROM (
      |  SELECT cluster_id, doc_id, n_chars_t,
      |    row_number() OVER (PARTITION BY cluster_id
      |      ORDER BY n_chars_t DESC, doc_id) AS rn
      |  FROM members)
      |WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  // ------------------------------------------------ sparse tf-cosine

  /** Term-space near-dup pairs via the inverted-index posting join
    * (SparseSimOps): cosine over exact-integer tf vectors on the
    * df≤400-filtered vocabulary, threshold 0.8. Every arithmetic step
    * is either exact integer math or a correctly-rounded IEEE op, so
    * the cosine DOUBLE itself hash-compares across engines.
    *
    * Kernel verdict (r13 JobCensus): the three dominant stages carry
    * 9.9/9.6/7.4 s of task-time over 3-5k posting-pair rows (~2-3
    * ms/row of exact-integer dot accumulation), fully parallel across
    * 32 tasks — the wall is kernel/32 plus 14 jobs × host floor. The
    * df-cap bounds the pair stream at any corpus scale; the duck gap
    * is per-row arithmetic throughput, not plan shape. */
  private val dedupSparse: Q = (s, dir) =>
    graft.operators.SparseSimOps.tfCosinePairs(
        corpus(s, dir), "doc_id", "t", minCosine = 0.8, dfCap = 400L)
      .orderBy("id_a", "id_b")
  private val dedupSparseSql =
    "WITH " + corpusCte +
    """, tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(t), '[a-z0-9]+')) AS term
      |        FROM corpus)
      |  GROUP BY doc_id, term),
      |kept AS (
      |  SELECT tf.* FROM tf
      |  JOIN (SELECT term, COUNT(*) AS df FROM tf GROUP BY term) d USING (term)
      |  WHERE d.df <= 400),
      |norms AS (SELECT doc_id, SUM(tf * tf) AS n2 FROM kept GROUP BY doc_id),
      |dots AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.tf * b.tf) AS dot
      |  FROM kept a JOIN kept b ON a.term = b.term AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT id_a, id_b, cosine FROM (
      |  SELECT id_a, id_b,
      |    CAST(dot AS DOUBLE) /
      |      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
      |  FROM dots
      |  JOIN norms na ON na.doc_id = id_a
      |  JOIN norms nb ON nb.doc_id = id_b)
      |WHERE cosine >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------ simhash

  private val dedupSimhash: Q = (s, dir) =>
    DedupOps.simHashPairs(corpus(s, dir), "doc_id", "t",
        bits = 16, prefixBits = 8, maxHamming = 3)
      .orderBy("id_a", "id_b")
  /** Shared simhash signature/block CTEs (pair query + recall eval). */
  private val simhashCtes =
    """sims AS (
      |  SELECT doc_id,
      |    list_sum(list_transform(range(16), i ->
      |      CASE WHEN COALESCE(list_sum(list_transform(hs,
      |             h -> (ascii(substr(h, i + 1, 1)) % 2) * 2 - 1)), 0) >= 0
      |           THEN 1 << (15 - i) ELSE 0 END)) AS sim
      |  FROM (SELECT doc_id,
      |          list_transform(regexp_extract_all(lower(t), '[a-z]+'), tok -> md5(tok)) AS hs
      |        FROM corpus)),
      |blocked AS (SELECT doc_id, sim, sim >> 8 AS block FROM sims)""".stripMargin
  private val dedupSimhashSql =
    "WITH " + corpusCte + ", " + simhashCtes + "\n" +
    """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
      |FROM blocked a JOIN blocked b ON a.block = b.block AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sim, b.sim)) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------ jaccard

  /** Blocked on a one-band MinHash signature (2 md5 min-hashes over 3-gram
    * shingles), NOT on a low-cardinality attribute like lang — a 2-value
    * block is an all-pairs product over half the corpus at scale, while a
    * band block's bucket sizes are controlled by the LSH parameters. The
    * band is the standard candidate filter; Jaccard inside the block is
    * the exact verify step.
    *
    * Kernel+floor verdict (r15 JobCensus, boundary weak-list entry at
    * iso 1.27 s / 2.1×): one dominant stage — 9.04 s task-time over
    * 5250 docs, the shingle+minhash lane kernel, ~0.28 s wall at 32
    * threads — plus 7 jobs × degraded floor. The kernel is evaluated
    * once per row (the withMinHashBlock one-evaluation contract); the
    * job count is the band-block + verify chain by construction. */
  private val dedupJaccard: Q = (s, dir) => {
    // Block id as a row-local column (DedupOps.withMinHashBlock): the
    // old signature-table join-back was a fact×fact join Spark
    // auto-broadcast at sf0.1 (the a19 class) — and unnecessary, since
    // the band is a pure function of the text already on the row. The
    // two-step form keeps the lanes kernel at one evaluation per row.
    val c = DedupOps.withMinHashBlock(corpus(s, dir), "mh_block", "t", 3, 2)
    DedupOps.ngramJaccardPairs(c, "doc_id", "t", "mh_block", 0.6)
      .orderBy("id_a", "id_b")
  }
  private val dedupJaccardSql =
    "WITH " + corpusCte +
    """, toked AS (
      |  SELECT doc_id, regexp_extract_all(lower(t), '[a-z0-9]+') AS stoks FROM corpus),
      |blocks AS (
      |  SELECT doc_id, md5(array_to_string(list_transform(range(2), i ->
      |    list_min(list_transform(
      |      list_transform(range(1, greatest(len(stoks) - 2, 1) + 1),
      |        j -> array_to_string(stoks[j:j+2], ' ')),
      |      sh -> substr(md5(CAST(i // 4 AS VARCHAR) || ':' || sh),
      |                   (i % 4) * 8 + 1, 8)))), ',')) AS block
      |  FROM toked),
      |toksets AS (
      |  SELECT c.doc_id, b.block, list_distinct(regexp_extract_all(lower(c.t), '[a-z]+')) AS toks
      |  FROM corpus c JOIN blocks b USING (doc_id))
      |SELECT id_a, id_b, jaccard FROM (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_intersect(a.toks, b.toks)) /
      |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
      |  FROM toksets a JOIN toksets b ON a.block = b.block AND a.doc_id < b.doc_id)
      |WHERE jaccard >= 0.6
      |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------- threshold curve

  /** THRESHOLD-CURVE: the dedup operating-point sweep — for each
    * candidate Jaccard threshold τ ∈ {50..90}%, how many near-dup pairs
    * survive and how many documents a keep-first policy would drop.
    * This is the curve a curator reads BEFORE committing a threshold to
    * a 100 TB pass (too low → over-deletion, too high → residual dups);
    * running one sweep over the SAME candidate set costs one pair
    * generation, vs five full dedup runs.
    *
    * Exactness: the τ-compare is integer cross-multiplication
    * (100·|∩| ≥ τ·|∪|) — the float jaccard never exists, so no
    * quantization seam. Candidates are the dedup_ngram_jaccard LSH
    * block (same band recipe, same kernels); thresholds below the
    * block's recall floor would need wider bands — the curve is "per
    * threshold GIVEN this candidate generator", stated, not hidden.
    *
    * Scale shape: one blocked self-join builds pairs ONCE; the sweep is
    * a 5-row broadcast cross join + one map-side-combined aggregate.
    * distinct-doc counts are exact per τ (count distinct inside the
    * 5-group aggregate — bounded by pair count, never corpus-wide). */
  private val curveTaus = Seq(50, 60, 70, 80, 90)
  private val dedupCurve: Q = (s, dir) => {
    // Row-local block column, not a signature-table join-back (the a19
    // auto-broadcast class — see dedupJaccard; two-step form = one
    // lanes-kernel evaluation per row).
    val prepped = DedupOps.withMinHashBlock(corpus(s, dir), "block", "t", 3, 2)
      .select(col("doc_id"), col("block"),
        array_distinct(expr("ascii_alpha_tokens(t)")).as("toks"))
      .repartition(col("block"))
    val a = prepped.toDF("id_a", "block", "toks_a")
    val b = prepped.toDF("id_b", "block", "toks_b")
    val pairs = a.hint("shuffle_hash").join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("long"))
      .withColumn("uni",
        (size(col("toks_a")) + size(col("toks_b"))).cast("long") - col("inter"))
      .select("id_a", "id_b", "inter", "uni")
    import s.implicits._
    val taus = curveTaus.toDF("tau_pct")
    val agg = pairs.crossJoin(broadcast(taus))
      .filter(col("inter") * 100 >= col("tau_pct") * col("uni"))
      .groupBy("tau_pct")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id_b")).as("n_docs_dropped"))
    taus.join(agg, Seq("tau_pct"), "left")
      .select(col("tau_pct"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"))
      .orderBy("tau_pct")
  }
  private val dedupCurveSql =
    "WITH " + corpusCte +
    s""", toked AS (
      |  SELECT doc_id, regexp_extract_all(lower(t), '[a-z0-9]+') AS stoks FROM corpus),
      |blocks AS (
      |  SELECT doc_id, md5(array_to_string(list_transform(range(2), i ->
      |    list_min(list_transform(
      |      list_transform(range(1, greatest(len(stoks) - 2, 1) + 1),
      |        j -> array_to_string(stoks[j:j+2], ' ')),
      |      sh -> substr(md5(CAST(i // 4 AS VARCHAR) || ':' || sh),
      |                   (i % 4) * 8 + 1, 8)))), ',')) AS block
      |  FROM toked),
      |toksets AS (
      |  SELECT c.doc_id, b.block, list_distinct(regexp_extract_all(lower(c.t), '[a-z]+')) AS toks
      |  FROM corpus c JOIN blocks b USING (doc_id)),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter,
      |    CAST(len(a.toks) + len(b.toks)
      |      - len(list_intersect(a.toks, b.toks)) AS BIGINT) AS uni
      |  FROM toksets a JOIN toksets b ON a.block = b.block AND a.doc_id < b.doc_id),
      |taus(tau_pct) AS (VALUES ${curveTaus.map(t => s"($t)").mkString(", ")}),
      |agg AS (
      |  SELECT tau_pct, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(COUNT(DISTINCT id_b) AS BIGINT) AS n_docs_dropped
      |  FROM pairs, taus WHERE inter * 100 >= tau_pct * uni
      |  GROUP BY tau_pct)
      |SELECT t.tau_pct, CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
      |  CAST(COALESCE(n_docs_dropped, 0) AS BIGINT) AS n_docs_dropped
      |FROM taus t LEFT JOIN agg USING (tau_pct) ORDER BY tau_pct""".stripMargin

  // ------------------------------------------------- incremental dedup

  /** INCREMENTAL: dedup a NEW BATCH against an existing corpus — the
    * production mode at 100 TB, where a daily increment must never
    * trigger a full-corpus recompute. The state carried between runs is
    * the FINGERPRINT INDEX (16-byte canonical-md5 + keeper id per doc),
    * not the text: the increment joins that bounded index for
    * dup-of-base detection, then keep-first dedups WITHIN itself for
    * batch-internal copies. Each incremental row is classified
    * 'dup_of_base' (base keeper wins — base precedence is the
    * invariant that makes increments commutative), 'dup_in_increment'
    * (first new copy wins), or 'new', with the keeper id attached, so
    * the downstream delete/append is a pure join.
    *
    * Fixture construction (the corpus() planting convention): the
    * increment is 3 slices of documents — exact copies (+200000, base
    * dups), fresh-tail variants (+300000, genuinely new), and a second
    * copy of those variants (+400000, within-increment dups).
    *
    * Scale shape: fingerprints are row-local (the dedup_exact kernel);
    * the classify join is fp-keyed against the index (broadcastable
    * while it fits, keyed shuffle beyond); the within-batch keep-first
    * windows partition by fingerprint — never a global sort. In a real
    * deployment the base index is a persisted side table; the fixture
    * computes it inline because no side state exists, and the plan
    * shape is identical either way. */
  private val dedupIncremental: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val inc = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(col("text"), lit(" fresh tail")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 400000).as("doc_id"),
          concat(col("text"), lit(" fresh tail")).as("text")))
    val index = docs.select(TextFns.fingerprint(col("text")).as("fp"),
        col("doc_id"))
      .groupBy("fp").agg(min(col("doc_id")).as("base_id"))
    val incFp = inc.select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
    val wRank = Window.partitionBy("fp").orderBy(col("doc_id"))
    val wMin = Window.partitionBy("fp")
    incFp.join(index, Seq("fp"), "left")
      .withColumn("rn", row_number().over(wRank))
      .withColumn("first_inc", min(col("doc_id")).over(wMin))
      .select(col("doc_id"),
        when(col("base_id").isNotNull, lit("dup_of_base"))
          .when(col("rn") === 1, lit("new"))
          .otherwise(lit("dup_in_increment")).as("status"),
        when(col("base_id").isNotNull, col("base_id"))
          .when(col("rn") > 1, col("first_inc"))
          .cast("long").as("dup_of"))
      .orderBy("doc_id")
  }
  private val dedupIncrementalSql =
    """WITH docs AS (SELECT doc_id, text FROM documents),
      |inc AS (
      |  SELECT doc_id + 200000 AS doc_id, text FROM docs WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 300000, text || ' fresh tail' FROM docs WHERE doc_id % 10 = 5
      |  UNION ALL
      |  SELECT doc_id + 400000, text || ' fresh tail' FROM docs WHERE doc_id % 10 = 5),
      |idx AS (
      |  SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
      |    CAST(MIN(doc_id) AS BIGINT) AS base_id
      |  FROM docs GROUP BY 1),
      |i AS (
      |  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |  FROM inc),
      |r AS (
      |  SELECT i.doc_id, idx.base_id,
      |    row_number() OVER (PARTITION BY i.fp ORDER BY i.doc_id) AS rn,
      |    MIN(i.doc_id) OVER (PARTITION BY i.fp) AS first_inc
      |  FROM i LEFT JOIN idx USING (fp))
      |SELECT doc_id,
      |  CASE WHEN base_id IS NOT NULL THEN 'dup_of_base'
      |       WHEN rn = 1 THEN 'new' ELSE 'dup_in_increment' END AS status,
      |  CAST(CASE WHEN base_id IS NOT NULL THEN base_id
      |       WHEN rn > 1 THEN first_inc END AS BIGINT) AS dup_of
      |FROM r ORDER BY doc_id""".stripMargin

  /** NEAR-INCREMENTAL: the near-dup sibling of [[dedupIncremental]] —
    * a new batch classifies against the base corpus' LSH BAND INDEX
    * (per base doc: 4 band keys of its 8-lane MinHash signature — a
    * few dozen bytes, never the text), the production near-dedup mode
    * at 100 TB. Inc docs compute the SAME signature kernel as
    * dedup_minhash_lsh but banded 4×2 instead of 2×4 — an incremental
    * CLASSIFIER wants recall (1−(1−J²)⁴ ≈ 0.997 at J ≈ 0.88 vs ≈ 0.84
    * for 2×4) and exact verification makes the extra candidates free
    * in correctness, paid only in candidate-join volume. Candidates
    * join the band index, and each is verified by exact token-set
    * Jaccard ≥ 0.5 as integer cross-multiplication (2·|∩| ≥ |∪| — no
    * float). Result per inc doc: the min matching base keeper, or
    * 'new'. Banding recall is the LSH contract (stated, as in
    * dedup_lsh_recall which MEASURES it); verification makes false
    * candidates impossible, so band collisions never misclassify.
    *
    * Fixture: inc = near-dup tails (+100000, the corpus() planting)
    * plus synthetic fresh docs (+500000, disjoint vocabulary).
    *
    * Scale shape: candidate generation is one keyed join against the
    * bounded index (band buckets control fan-out — the LSH parameter
    * contract); the verify join touches only candidate pairs; the
    * classify fold is map-side-combined min per inc doc.
    *
    * Mixed verdict (r15 JobCensus, first weak-list entry at iso
    * 2.77 s / 2.9×): 19 jobs (the base/increment/verify chain is
    * multi-job by construction) at ~1.7 s of degraded floor, plus the
    * verify kernels — 7.4/4.5/2.8 s task-time over the 500-row
    * increment (minhash + token-jaccard verification, fully parallel,
    * ~0.5 s wall at 32 threads). No recompute defect: the chain's
    * stages each touch distinct inputs. */
  private val nearIncr: Q = (s, dir) => {
    val d = Tables.fanOut(t(s, dir, "documents"))
      .select(col("doc_id"), substring(col("text"), 1, 200).as("t"))
    val base = d
    val inc = d.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("t"), lit(" near dup tail")).as("t"))
      .unionByName(d.filter(col("doc_id") % 20 === 7)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(lit("fresh unseen content block "),
            col("doc_id").cast("string"), lit(" standing alone")).as("t")))
    def bandsOf(df: DataFrame, idName: String): DataFrame = {
      val sigs = DedupOps.minHashSignatures(df, "doc_id", "t",
        shingleK = 3, numHashes = 8)
      val bandCols = (0 until 4).map(b =>
        md5(concat_ws(",", (0 until 2).map(r => col(s"mh${b * 2 + r}")): _*)))
      sigs.select(col("doc_id").as(idName),
        posexplode(array(bandCols: _*)).as(Seq("band", "sig")))
    }
    def toksOf(df: DataFrame, idName: String): DataFrame =
      df.select(col("doc_id").as(idName),
        array_distinct(expr("ascii_alpha_tokens(t)")).as(s"toks_$idName"))
    // No join hints, deliberately (r10 bake-off): the band explode is a
    // CONSTANT 4x (array of 4 band columns), so Spark's size estimate
    // is sound up to that constant and its adaptive broadcast flips to
    // keyed joins as real corpus sizes grow — unlike j13's
    // data-dependent sequence-explode, where the estimate is
    // structurally wrong and the hint is load-bearing. Hinting all four
    // joins here measured 1.0 -> 2.0 s at sf0.1 for no scale benefit.
    val cand = bandsOf(inc, "inc_id")
      .join(bandsOf(base, "base_id"), Seq("band", "sig"))
      .select("inc_id", "base_id").distinct()
    val verified = cand
      .join(toksOf(inc, "inc_id"), Seq("inc_id"))
      .join(toksOf(base, "base_id"), Seq("base_id"))
      .withColumn("inter",
        size(array_intersect(col("toks_inc_id"), col("toks_base_id"))).cast("long"))
      .withColumn("uni",
        (size(col("toks_inc_id")) + size(col("toks_base_id"))).cast("long")
          - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .groupBy("inc_id").agg(min(col("base_id")).as("dup_of"))
    inc.select(col("doc_id"))
      .join(verified.withColumnRenamed("inc_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup_of").isNotNull, lit("near_dup_of_base"))
          .otherwise(lit("new")).as("status"),
        col("dup_of").cast("long").as("dup_of"))
      .orderBy("doc_id")
  }
  private val nearIncrSql =
    """WITH b0 AS (SELECT doc_id, substr(text, 1, 200) AS t FROM documents),
      |i0 AS (
      |  SELECT doc_id + 100000 AS doc_id, t || ' near dup tail' AS t
      |  FROM b0 WHERE doc_id % 20 = 0
      |  UNION ALL
      |  SELECT doc_id + 500000,
      |    'fresh unseen content block ' || CAST(doc_id AS VARCHAR) || ' standing alone'
      |  FROM b0 WHERE doc_id % 20 = 7),
      |al AS (SELECT 'b' AS side, doc_id, t FROM b0
      |       UNION ALL SELECT 'i', doc_id, t FROM i0),
      |toked AS (
      |  SELECT side, doc_id, regexp_extract_all(lower(t), '[a-z0-9]+') AS stoks FROM al),
      |sig AS (
      |  SELECT side, doc_id,
      |    list_transform(range(8), i ->
      |      list_min(list_transform(
      |        list_transform(range(1, greatest(len(stoks) - 2, 1) + 1),
      |          j -> array_to_string(stoks[j:j+2], ' ')),
      |        sh -> substr(md5(CAST(i // 4 AS VARCHAR) || ':' || sh),
      |                     (i % 4) * 8 + 1, 8)))) AS mh
      |  FROM toked),
      |bands AS (
      |  SELECT side, doc_id, CAST(b.i AS INT) AS band,
      |    md5(array_to_string(mh[b.i * 2 + 1 : b.i * 2 + 2], ',')) AS s
      |  FROM sig, range(4) b(i)),
      |cand AS (
      |  SELECT DISTINCT i.doc_id AS inc_id, b.doc_id AS base_id
      |  FROM bands i JOIN bands b ON i.band = b.band AND i.s = b.s
      |  WHERE i.side = 'i' AND b.side = 'b'),
      |tok2 AS (
      |  SELECT side, doc_id, list_distinct(regexp_extract_all(lower(t), '[a-z]+')) AS toks
      |  FROM al),
      |ver AS (
      |  SELECT inc_id, CAST(MIN(base_id) AS BIGINT) AS dup_of FROM (
      |    SELECT c.inc_id, c.base_id,
      |      CAST(len(list_intersect(ti.toks, tb.toks)) AS BIGINT) AS inter,
      |      CAST(len(ti.toks) + len(tb.toks)
      |        - len(list_intersect(ti.toks, tb.toks)) AS BIGINT) AS uni
      |    FROM cand c
      |    JOIN tok2 ti ON ti.side = 'i' AND ti.doc_id = c.inc_id
      |    JOIN tok2 tb ON tb.side = 'b' AND tb.doc_id = c.base_id)
      |  WHERE inter * 2 >= uni GROUP BY inc_id)
      |SELECT i0.doc_id,
      |  CASE WHEN v.dup_of IS NOT NULL THEN 'near_dup_of_base' ELSE 'new' END AS status,
      |  v.dup_of
      |FROM i0 LEFT JOIN ver v ON v.inc_id = i0.doc_id
      |ORDER BY i0.doc_id""".stripMargin

  // ------------------------------------------------ embedding near-dup

  private def embCorpus(s: SparkSession, dir: String): DataFrame =
    embCorpus(s, dir, fan = true)

  /** fan=true for consumers whose vector kernels dominate (pair joins,
    * top-k scans — fan the narrow fixture scan out); fan=false for
    * model-state passes (k-means fit) whose per-partition work is
    * trivial and task overhead dominates. */
  private def embCorpus(s: SparkSession, dir: String, fan: Boolean): DataFrame = {
    val e0 = t(s, dir, "embeddings")
    val e = if (fan) Tables.fanOut(e0) else e0
    val planted = e.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"), col("label"))
    e.select("vec_id", "embedding", "label").unionByName(planted)
  }
  private val embCorpusCte =
    """ecorp AS (
      |  SELECT vec_id, embedding, label FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, embedding, label FROM embeddings WHERE vec_id % 25 = 0)
      |""".stripMargin
  // strict left-fold dot/norm (list_reduce ≡ Spark aggregate-with-0.0-init)
  private def sqlDot(a: String, b: String) =
    s"list_reduce(list_transform(range(1, 65), j -> CAST($a[j] AS DOUBLE) * CAST($b[j] AS DOUBLE)), (x, y) -> x + y)"
  private def sqlNorm(a: String) = s"sqrt(${sqlDot(a, a)})"

  /** Blocked on a 16-plane LSH bucket (scan-side constant-folded
    * hyperplanes), NOT on the ~2-value label column — within-block
    * quadratic cost needs a key whose bucket sizes shrink as planes are
    * added, and exact-copy near-dups always share their bucket. */
  private val embNearDup: Q = (s, dir) =>
    SimilarityOps.cosineNearDupPairs(
      embCorpus(s, dir).withColumn("lsh_block",
        SimilarityOps.lshBucket("embedding", nPlanes = 16, dim = 64)),
      "vec_id", "embedding", "lsh_block", 0.999)
      .orderBy("id_a", "id_b")
  private val embNearDupSql =
    "WITH " + embCorpusCte +
    s""", planes AS (
      |  SELECT i, list_transform(range(64), j ->
      |    (ascii(substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 1)) % 2) * 2 - 1) AS p
      |  FROM range(16) t(i)),
      |bkt AS (
      |  SELECT vec_id, CAST(SUM(
      |      CASE WHEN list_reduce(list_transform(range(1, 65),
      |             j -> CAST(e.embedding[j] AS DOUBLE) * p[j]), (x, y) -> x + y) >= 0
      |           THEN (1 << (15 - i)) ELSE 0 END) AS INT) AS bucket
      |  FROM ecorp e, planes GROUP BY vec_id),
      |prepped AS (
      |  SELECT e.vec_id, b.bucket, e.embedding AS v, ${sqlNorm("e.embedding")} AS nrm
      |  FROM ecorp e JOIN bkt b USING (vec_id))
      |SELECT id_a, id_b FROM (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    ${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm) AS cosine
      |  FROM prepped a JOIN prepped b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      |WHERE cosine >= 0.999
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------ ANN

  private val annBrute: Q = (s, dir) => {
    val e = Tables.fanOut(t(s, dir, "embeddings"))
    SimilarityOps.bruteTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", 10)
      .orderBy("q_id", "rank")
  }
  private val annBruteSql =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv, ${sqlNorm("embedding")} AS qn
       |           FROM embeddings WHERE vec_id < 5),
       |c AS (SELECT vec_id AS c_id, embedding AS cv, ${sqlNorm("embedding")} AS cn FROM embeddings),
       |scored AS (
       |  SELECT q_id, c_id, ${sqlDot("qv", "cv")} / (qn * cn) AS cosine
       |  FROM q, c WHERE q_id <> c_id)
       |SELECT q_id, c_id, rank FROM (
       |  SELECT q_id, c_id,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  private val annBucketed: Q = (s, dir) => {
    val e = Tables.fanOut(t(s, dir, "embeddings"))
    SimilarityOps.bucketedTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", 5, nPlanes = 8, dim = 64)
      .orderBy("q_id", "rank")
  }
  private val annBucketedSql =
    s"""WITH planes AS (
       |  SELECT i, list_transform(range(64), j ->
       |    (ascii(substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 1)) % 2) * 2 - 1) AS p
       |  FROM range(8) t(i)),
       |bkt AS (
       |  SELECT vec_id, CAST(SUM(
       |      CASE WHEN list_reduce(list_transform(range(1, 65),
       |             j -> CAST(e.embedding[j] AS DOUBLE) * p[j]), (x, y) -> x + y) >= 0
       |           THEN (1 << (7 - i)) ELSE 0 END) AS INT) AS bucket
       |  FROM embeddings e, planes GROUP BY vec_id),
       |v AS (SELECT e.vec_id, bucket, embedding AS vv, ${sqlNorm("embedding")} AS nrm
       |      FROM embeddings e JOIN bkt ON e.vec_id = bkt.vec_id),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    ${sqlDot("q.vv", "c.vv")} / (q.nrm * c.nrm) AS cosine
       |  FROM v q JOIN v c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 20)
       |SELECT q_id, c_id, rank FROM (
       |  SELECT q_id, c_id,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  private val annMultiProbe: Q = (s, dir) => {
    val e = Tables.fanOut(t(s, dir, "embeddings"))
    SimilarityOps.multiProbeTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", 5, nPlanes = 8, dim = 64)
      .orderBy("q_id", "rank")
  }
  private val annMultiProbeSql =
    s"""WITH planes AS (
       |  SELECT i, list_transform(range(64), j ->
       |    (ascii(substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 1)) % 2) * 2 - 1) AS p
       |  FROM range(8) t(i)),
       |bkt AS (
       |  SELECT vec_id, CAST(SUM(
       |      CASE WHEN list_reduce(list_transform(range(1, 65),
       |             j -> CAST(e.embedding[j] AS DOUBLE) * p[j]), (x, y) -> x + y) >= 0
       |           THEN (1 << (7 - i)) ELSE 0 END) AS INT) AS bucket
       |  FROM embeddings e, planes GROUP BY vec_id),
       |v AS (SELECT e.vec_id, bucket, embedding AS vv, ${sqlNorm("embedding")} AS nrm
       |      FROM embeddings e JOIN bkt ON e.vec_id = bkt.vec_id),
       |qprobe AS (
       |  SELECT vec_id, CAST(xor(bucket, CAST(m AS INT)) AS INT) AS bucket, vv, nrm
       |  FROM v, unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) t(m)
       |  WHERE vec_id < 20),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    ${sqlDot("q.vv", "c.vv")} / (q.nrm * c.nrm) AS cosine
       |  FROM qprobe q JOIN v c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)
       |SELECT q_id, c_id, rank FROM (
       |  SELECT q_id, c_id,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  private val annMultiTable: Q = (s, dir) => {
    val e = Tables.fanOut(t(s, dir, "embeddings"))
    SimilarityOps.multiTableTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", 5, nTables = 8, nPlanes = 6, dim = 64)
      .orderBy("q_id", "rank")
  }
  /** Tables are seeded "t_i_j" (vs the single-table family's "i_j"), so
    * the 8 tables are independent hash draws; candidate = collision in
    * ANY table, deduped before scoring. */
  private val annMultiTableSql =
    s"""WITH tplanes AS (
       |  SELECT t, i, list_transform(range(64), j ->
       |    (ascii(substr(md5(CAST(t AS VARCHAR) || '_' || CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 1)) % 2) * 2 - 1) AS p
       |  FROM range(8) tt(t), range(6) ii(i)),
       |tbkt AS (
       |  SELECT vec_id, t, CAST(SUM(
       |      CASE WHEN list_reduce(list_transform(range(1, 65),
       |             j -> CAST(e.embedding[j] AS DOUBLE) * p[j]), (x, y) -> x + y) >= 0
       |           THEN (1 << (5 - i)) ELSE 0 END) AS INT) AS bucket
       |  FROM embeddings e, tplanes GROUP BY vec_id, t),
       |pairs AS (
       |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
       |  FROM tbkt q JOIN tbkt c ON q.t = c.t AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 20),
       |v AS (SELECT vec_id, embedding AS vv, ${sqlNorm("embedding")} AS nrm FROM embeddings),
       |scored AS (
       |  SELECT p.q_id, p.c_id, ${sqlDot("vq.vv", "vc.vv")} / (vq.nrm * vc.nrm) AS cosine
       |  FROM pairs p JOIN v vq ON p.q_id = vq.vec_id JOIN v vc ON p.c_id = vc.vec_id)
       |SELECT q_id, c_id, rank FROM (
       |  SELECT q_id, c_id,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  private val annIvf: Q = (s, dir) => {
    val e = Tables.fanOut(t(s, dir, "embeddings"))
    SimilarityOps.ivfTopK(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", 5, nCells = 16, nProbe = 2)
      .orderBy("q_id", "rank")
  }
  private def sqlSqDist(a: String, b: String) =
    s"list_reduce(list_transform(range(1, 65), j -> " +
    s"(CAST($a[j] AS DOUBLE) - CAST($b[j] AS DOUBLE)) * (CAST($a[j] AS DOUBLE) - CAST($b[j] AS DOUBLE))), (x, y) -> x + y)"
  private val annIvfSql =
    s"""WITH cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cent_vec FROM embeddings
       |  ORDER BY vec_id LIMIT 16),
       |cassign AS (
       |  SELECT c_id, c_vec, cell, ${sqlNorm("c_vec")} AS c_norm FROM (
       |    SELECT e.vec_id AS c_id, e.embedding AS c_vec, cent_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlSqDist("e.embedding", "cent_vec")}, cent_id) AS rn
       |    FROM embeddings e, cents)
       |  WHERE rn = 1),
       |qassign AS (
       |  SELECT q_id, q_vec, cell, ${sqlNorm("q_vec")} AS q_norm FROM (
       |    SELECT e.vec_id AS q_id, e.embedding AS q_vec, cent_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlSqDist("e.embedding", "cent_vec")}, cent_id) AS rn
       |    FROM embeddings e, cents WHERE e.vec_id < 10)
       |  WHERE rn <= 2),
       |scored AS (
       |  SELECT q_id, c_id, ${sqlDot("q_vec", "c_vec")} / (q_norm * c_norm) AS cosine
       |  FROM qassign q JOIN cassign c USING (cell) WHERE q_id <> c_id)
       |SELECT q_id, c_id, rank FROM (
       |  SELECT q_id, c_id,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------ ann_ivfpq_topk

  /** ANN-IVFPQ: the FAISS IVFPQ layout — coarse cells prune the scan
    * (nProbe=2 of 8), product quantization compresses the survivors,
    * and the codes quantize the RESIDUAL v − centroid(cell) (IVFADC,
    * Jégou et al. 2011). See [[graft.operators.PqOps.ivfPqTopK]] for
    * the determinism spec; the oracle replays the full chain — seeded
    * cells, per-seed residual codebooks under each seed's own cell,
    * per-subspace residual encode, ADC ip = dot(q, centroid) + Σ_m
    * dot(q_m, codeword) — with the identical fold orders. */
  private val annIvfPq: Q = (s, dir) => {
    val e = Tables.fanOut(t(s, dir, "embeddings"))
    graft.operators.PqOps.ivfPqTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", 5, nCells = 8, nProbe = 2,
        dim = 64, m = 8, ks = 16)
      .orderBy("q_id", "rank")
  }
  private val annIvfPqSql =
    s"""WITH cseed AS (
       |  SELECT rn - 1 AS cell, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM (SELECT embedding, row_number() OVER (ORDER BY vec_id) AS rn
       |        FROM embeddings ORDER BY vec_id LIMIT 8)),
       |asg AS (
       |  SELECT vec_id, cell, cv FROM (
       |    SELECT e.vec_id, c.cell, c.cv,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${sqlSqDistD("e.embedding", "c.cv")}, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN cseed c) WHERE rn = 1),
       |sres AS (
       |  SELECT s.rn - 1 AS code,
       |    list_transform(range(1, 65), j -> CAST(e.embedding[j] AS DOUBLE) - a.cv[j]) AS res
       |  FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
       |        FROM embeddings ORDER BY vec_id LIMIT 16) s
       |  JOIN embeddings e ON e.vec_id = s.vec_id
       |  JOIN asg a ON a.vec_id = s.vec_id),
       |cb AS (
       |  SELECT m, code, list_transform(range(1, 9), j -> res[m * 8 + j]) AS cw
       |  FROM sres, range(8) t(m)),
       |cres AS (
       |  SELECT e.vec_id, a.cell,
       |    list_transform(range(1, 65), j -> CAST(e.embedding[j] AS DOUBLE) - a.cv[j]) AS res
       |  FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id),
       |enc AS (
       |  SELECT vec_id, cell, m, code FROM (
       |    SELECT r.vec_id, r.cell, cb.m, cb.code,
       |      row_number() OVER (PARTITION BY r.vec_id, cb.m ORDER BY
       |        list_reduce(list_transform(range(1, 9), j ->
       |          (r.res[cb.m * 8 + j] - cb.cw[j]) * (r.res[cb.m * 8 + j] - cb.cw[j])),
       |          (x, y) -> x + y), cb.code) AS rn
       |    FROM cres r CROSS JOIN cb) WHERE rn = 1),
       |qpr AS (
       |  SELECT q_id, cell, qv FROM (
       |    SELECT e.vec_id AS q_id, c.cell, e.embedding AS qv,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${sqlSqDistD("e.embedding", "c.cv")}, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN cseed c WHERE e.vec_id < 20) WHERE rn <= 2),
       |nrm AS (SELECT vec_id, ${sqlNorm("embedding")} AS nrm FROM embeddings),
       |ipm AS (
       |  SELECT q.q_id, en.vec_id AS c_id, en.cell, en.m,
       |    list_reduce(list_transform(range(1, 9), j ->
       |      CAST(q.qv[en.m * 8 + j] AS DOUBLE) * cb.cw[j]), (x, y) -> x + y) AS ipm
       |  FROM qpr q JOIN enc en ON en.cell = q.cell
       |  JOIN cb ON cb.m = en.m AND cb.code = en.code
       |  WHERE q.q_id <> en.vec_id),
       |ips AS (
       |  SELECT q_id, c_id, cell,
       |    list_reduce(list(ipm ORDER BY m), (x, y) -> x + y) AS adc
       |  FROM ipm GROUP BY q_id, c_id, cell),
       |dc AS (
       |  SELECT i.q_id, i.c_id,
       |    list_reduce(list_transform(range(1, 65), j ->
       |      CAST(q.qv[j] AS DOUBLE) * c.cv[j]), (x, y) -> x + y) + i.adc AS ip
       |  FROM ips i
       |  JOIN qpr q ON q.q_id = i.q_id AND q.cell = i.cell
       |  JOIN cseed c ON c.cell = i.cell)
       |SELECT q_id, c_id, rank FROM (
       |  SELECT q_id, c_id,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY
       |      ip / (qn.nrm * cn.nrm) DESC, c_id) AS INT) AS rank
       |  FROM dc JOIN nrm qn ON dc.q_id = qn.vec_id
       |  JOIN nrm cn ON dc.c_id = cn.vec_id)
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  private val annPq: Q = (s, dir) => {
    val e = Tables.fanOut(t(s, dir, "embeddings"))
    graft.operators.PqOps.pqTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", 5, dim = 64, m = 8, ks = 16)
      .orderBy("q_id", "rank")
  }
  /** PQ replay: codebook m = subvectors [m*8+1 .. m*8+8] of the first 16
    * vectors by id; encode = per-(vector, subspace) argmin of the
    * left-fold sqdist (tie -> lower code); score = per-subspace ADC
    * inner products folded in ascending m, over (q_norm × stored
    * c_norm). Same determinism discipline as the k-means oracle. */
  private val annPqSql =
    s"""WITH cb AS (
       |  SELECT m, rn - 1 AS c,
       |    list_transform(range(1, 9), j -> CAST(embedding[m * 8 + j] AS DOUBLE)) AS cv
       |  FROM (SELECT embedding, row_number() OVER (ORDER BY vec_id) AS rn
       |        FROM embeddings ORDER BY vec_id LIMIT 16),
       |       range(8) t(m)),
       |enc AS (
       |  SELECT vec_id, m, c AS code FROM (
       |    SELECT e.vec_id, cb.m, cb.c,
       |      row_number() OVER (PARTITION BY e.vec_id, cb.m ORDER BY
       |        list_reduce(list_transform(range(1, 9), j ->
       |          (CAST(e.embedding[cb.m * 8 + j] AS DOUBLE) - cb.cv[j]) * (CAST(e.embedding[cb.m * 8 + j] AS DOUBLE) - cb.cv[j])),
       |          (x, y) -> x + y), cb.c) AS rn
       |    FROM embeddings e CROSS JOIN cb) WHERE rn = 1),
       |nrm AS (SELECT vec_id, ${sqlNorm("embedding")} AS nrm FROM embeddings),
       |ip AS (
       |  SELECT q_id, c_id, list_reduce(list(ipm ORDER BY m), (x, y) -> x + y) AS adc_ip
       |  FROM (
       |    SELECT q.vec_id AS q_id, en.vec_id AS c_id, en.m AS m,
       |      list_reduce(list_transform(range(1, 9), j ->
       |        CAST(q.embedding[en.m * 8 + j] AS DOUBLE) * cb.cv[j]), (x, y) -> x + y) AS ipm
       |    FROM embeddings q CROSS JOIN enc en
       |    JOIN cb ON cb.m = en.m AND cb.c = en.code
       |    WHERE q.vec_id < 20 AND q.vec_id <> en.vec_id)
       |  GROUP BY q_id, c_id)
       |SELECT q_id, c_id, rank FROM (
       |  SELECT q_id, c_id,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY
       |      adc_ip / (qn.nrm * cn.nrm) DESC, c_id) AS INT) AS rank
       |  FROM ip JOIN nrm qn ON ip.q_id = qn.vec_id JOIN nrm cn ON ip.c_id = cn.vec_id)
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Trained IVF quantizer: 2 Lloyd iterations of k-means (k=8) over the
    * embeddings, output = every vector's trained cell. The oracle replays
    * the iterations as unrolled CTEs; bit-exact parity rests on the
    * determinism spec in KMeansOps (left-fold distances, fixed-point
    * decimal centroid means, tie -> lower cell id). */
  private val annKmeans: Q = (s, dir) => {
    // Fit on the UNfanned scan: the Lloyd jobs move only k×dim model
    // state per partition, so fanning 2k rows to 32 partitions just
    // multiplies task overhead; the map-side assign pass is where the
    // fan-out pays.
    val emb = t(s, dir, "embeddings")
    val cents = graft.operators.KMeansOps.fit(
      emb, "vec_id", "embedding", k = 8, iters = 2, dim = 64)
    graft.operators.KMeansOps.assign(Tables.fanOut(emb), cents, "embedding", 64)
      .select(col("vec_id"), col("cell"))
      .orderBy("vec_id")
  }
  /** sqdist against an already-double centroid list. */
  private def sqlSqDistD(e: String, c: String) =
    s"list_reduce(list_transform(range(1, 65), j -> " +
    s"(CAST($e[j] AS DOUBLE) - $c[j]) * (CAST($e[j] AS DOUBLE) - $c[j])), (x, y) -> x + y)"
  private val annKmeansSql =
    s"""WITH c0 AS (
       |  SELECT CAST(vec_id AS BIGINT) AS cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM embeddings ORDER BY vec_id LIMIT 8),
       |a1 AS (
       |  SELECT vec_id, embedding, cid AS cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlSqDistD("e.embedding", "c.cv")}, c.cid) AS rn
       |    FROM embeddings e, c0 c) WHERE rn = 1),
       |c1 AS (
       |  SELECT cid, list(mu ORDER BY pos) AS cv FROM (
       |    SELECT cell AS cid, j AS pos,
       |      CAST(SUM(CAST(embedding[j] AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS mu
       |    FROM a1, range(1, 65) t(j) GROUP BY cell, j)
       |  GROUP BY cid),
       |a2 AS (
       |  SELECT vec_id, embedding, cid AS cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlSqDistD("e.embedding", "c.cv")}, c.cid) AS rn
       |    FROM embeddings e, c1 c) WHERE rn = 1),
       |c2 AS (
       |  SELECT cid, list(mu ORDER BY pos) AS cv FROM (
       |    SELECT cell AS cid, j AS pos,
       |      CAST(SUM(CAST(embedding[j] AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS mu
       |    FROM a2, range(1, 65) t(j) GROUP BY cell, j)
       |  GROUP BY cid),
       |a3 AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlSqDistD("e.embedding", "c.cv")}, c.cid) AS rn
       |    FROM embeddings e, c2 c) WHERE rn = 1)
       |SELECT vec_id, cell FROM a3 ORDER BY vec_id""".stripMargin

  /** SemDeDup-style semantic dedup (cluster-then-dedup, after Abbas et
    * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): the trained k-means quantizer is the
    * blocking key, within-cell cosine >= tau marks near-duplicate pairs,
    * and the greedy keep-lowest-id rule deletes every vector that has a
    * lower-id neighbor at or above the threshold. Runs on the planted
    * near-dup corpus so the survivor set is non-trivially smaller.
    *
    * Scale shape: the quantizer is bounded model state (k x dim) trained
    * in KMeansOps' one-pass-per-iteration shuffles; assignment is
    * map-side; pair generation shuffles ONCE on the cell id (the
    * quadratic term is bounded by cell population, the k-means analogue
    * of an LSH bucket); the deleted-id set is tiny by construction, so
    * the survivor anti-join broadcasts. Oracle: unrolled Lloyd CTEs
    * (same determinism spec as ann_kmeans_cells) + within-cell pair
    * replay + anti-join. */
  // ----------------------------------------------- dedup_url_canonical

  /** URL-CANON: canonicalize-then-dedup — the first dedup a web corpus
    * runs, BEFORE any content hash exists (the same page re-crawled via
    * a tracking link or a cased host must not be fetched/kept twice).
    * DEFINED canonical form, applied identically by both engines:
    *   1. scheme and host lowercase; default port stripped (:80 for
    *      http, :443 for https);
    *   2. fragment dropped;
    *   3. path: trailing slashes stripped, empty path → '/';
    *   4. query: params split on '&', tracking params dropped (utm_*
    *      prefixes and ref=), survivors SORTED (param order never
    *      distinguishes resources here — the aggressive-canonicalizer
    *      variant) and rejoined.
    * Keep-first by id within a canonical group (the dedup_exact rule).
    * Fixture: six messy variants per logical resource synthesized from
    * part (the fn_url_parse pattern) — five canonicalize together, the
    * sixth is a genuinely different resource.
    * Row-local string kernels + one keyed window — at 100 TB this is a
    * map plus a single shuffle on the canonical key. */
  private val dedupUrlCanonical: Q = (s, dir) => {
    val urlExpr = expr(
      """CASE p_partkey % 6
        |  WHEN 0 THEN 'HTTPS://Host.Example.COM:443/a/b/?utm_source=x&id=' || CAST(p_partkey div 6 AS STRING)
        |  WHEN 1 THEN 'https://host.example.com/a/b?id=' || CAST(p_partkey div 6 AS STRING)
        |  WHEN 2 THEN 'https://host.example.com/a/b/?id=' || CAST(p_partkey div 6 AS STRING) || '&utm_campaign=c'
        |  WHEN 3 THEN 'https://HOST.example.com/a/b?id=' || CAST(p_partkey div 6 AS STRING) || '#frag'
        |  WHEN 4 THEN 'https://host.example.com/a/b?ref=z&id=' || CAST(p_partkey div 6 AS STRING)
        |  ELSE 'https://other.example.com/p?id=' || CAST(p_partkey div 6 AS STRING)
        |END""".stripMargin)
    val canon = t(s, dir, "part")
      .select(col("p_partkey"), urlExpr.as("url"))
      .withColumn("scheme", expr("lower(regexp_extract(url, '^([A-Za-z]+)://', 1))"))
      .withColumn("rest", expr("regexp_extract(url, '^[A-Za-z]+://([^#]*)', 1)"))
      .withColumn("host", expr(
        """CASE WHEN scheme = 'http'
          |  THEN regexp_replace(lower(regexp_extract(rest, '^([^/?]*)', 1)), ':80$', '')
          |  ELSE regexp_replace(lower(regexp_extract(rest, '^([^/?]*)', 1)), ':443$', '')
          |END""".stripMargin))
      .withColumn("path", expr(
        "regexp_replace(regexp_extract(rest, '^[^/?]*([^?]*)', 1), '/+$', '')"))
      .withColumn("qs", expr(
        "array_join(array_sort(filter(split(regexp_extract(rest, '\\\\?(.*)$', 1), '&'), " +
          "p -> p != '' AND NOT startswith(p, 'utm_') AND NOT startswith(p, 'ref='))), '&')"))
      .withColumn("canonical", expr(
        "concat(scheme, '://', host, CASE WHEN path = '' THEN '/' ELSE path END, " +
          "CASE WHEN qs = '' THEN '' ELSE '?' || qs END)"))
    canon
      .withColumn("keeper", min(col("p_partkey"))
        .over(Window.partitionBy(col("canonical"))))
      .select(col("p_partkey"), col("url"), col("canonical"),
        (col("p_partkey") === col("keeper")).as("is_keeper"), col("keeper"))
      .orderBy("p_partkey")
  }
  private val dedupUrlCanonicalSql =
    """WITH u AS (
      |  SELECT p_partkey,
      |    CASE p_partkey % 6
      |      WHEN 0 THEN 'HTTPS://Host.Example.COM:443/a/b/?utm_source=x&id=' || CAST(p_partkey // 6 AS VARCHAR)
      |      WHEN 1 THEN 'https://host.example.com/a/b?id=' || CAST(p_partkey // 6 AS VARCHAR)
      |      WHEN 2 THEN 'https://host.example.com/a/b/?id=' || CAST(p_partkey // 6 AS VARCHAR) || '&utm_campaign=c'
      |      WHEN 3 THEN 'https://HOST.example.com/a/b?id=' || CAST(p_partkey // 6 AS VARCHAR) || '#frag'
      |      WHEN 4 THEN 'https://host.example.com/a/b?ref=z&id=' || CAST(p_partkey // 6 AS VARCHAR)
      |      ELSE 'https://other.example.com/p?id=' || CAST(p_partkey // 6 AS VARCHAR)
      |    END AS url
      |  FROM part),
      |c AS (
      |  SELECT p_partkey, url,
      |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
      |    regexp_extract(url, '^[A-Za-z]+://([^#]*)', 1) AS rest
      |  FROM u),
      |c2 AS (
      |  SELECT p_partkey, url, scheme,
      |    CASE WHEN scheme = 'http'
      |      THEN regexp_replace(lower(regexp_extract(rest, '^([^/?]*)', 1)), ':80$', '')
      |      ELSE regexp_replace(lower(regexp_extract(rest, '^([^/?]*)', 1)), ':443$', '')
      |    END AS host,
      |    regexp_replace(regexp_extract(rest, '^[^/?]*([^?]*)', 1), '/+$', '') AS path,
      |    array_to_string(list_sort(list_filter(
      |      string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
      |      p -> p != '' AND NOT starts_with(p, 'utm_')
      |        AND NOT starts_with(p, 'ref='))), '&') AS qs
      |  FROM c),
      |k AS (
      |  SELECT p_partkey, url,
      |    scheme || '://' || host || (CASE WHEN path = '' THEN '/' ELSE path END)
      |      || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS canonical
      |  FROM c2)
      |SELECT p_partkey, url, canonical,
      |  p_partkey = min(p_partkey) OVER (PARTITION BY canonical) AS is_keeper,
      |  min(p_partkey) OVER (PARTITION BY canonical) AS keeper
      |FROM k ORDER BY p_partkey""".stripMargin

  private val dedupSemantic: Q = (s, dir) => {
    // Remaining-cost audit (r11): warm stage split at sf0.1 is fit
    // 0.35 s (init collect + one sequential Lloyd collect per
    // iteration — model-state round trips that cannot fuse), assign+
    // checkpoint 0.27 s, pairs+anti 1.1 s (~270k within-cell candidate
    // pairs ≈ 17M flops — the kernels make the math invisible; what's
    // left is the exchange/stage floor). Dropping this checkpoint and
    // leaning on AQE exchange reuse measured a WASH (2.1-2.5 s both
    // forms, same JVM, alternating) — the job count is the floor, not
    // the materialization. Structure is the one you'd want at 100 TB
    // (bounded model state, blocked quadratic, keyed shuffles);
    // further local-mode gains would mean fusing Lloyd iterations,
    // which no engine with driver-side centroids can do.
    //
    // The assigned table feeds BOTH the pair generation and the final
    // anti-join base; localCheckpoint materializes the (bounded-width)
    // assignment once instead of re-running the scan + nearest-centroid
    // pass per consumer — the persist a real pipeline would do.
    // Quantizer trained on the unfanned corpus (model-state jobs; the
    // annKmeans reasoning), assignment + pair kernels on the fanned one.
    val cents = graft.operators.KMeansOps.fit(
      embCorpus(s, dir, fan = false), "vec_id", "embedding", k = 8, iters = 2, dim = 64)
    val cells = graft.operators.KMeansOps.assign(
      embCorpus(s, dir), cents, "embedding", 64)
      .checkpointed()
    val pairs = SimilarityOps.cosineNearDupPairs(
      cells, "vec_id", "embedding", "cell", 0.999)
    // No distinct on the deleted ids: anti-join semantics are EXISTS,
    // so duplicate id_b rows are harmless and the dedup exchange is a
    // pure extra stage (the pair set is bounded by the planted dups).
    val deleted = pairs.select(col("id_b").as("vec_id"))
    cells.join(deleted, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
      .orderBy("vec_id")
  }
  private val dedupSemanticSql =
    "WITH " + embCorpusCte +
    s""", c0 AS (
       |  SELECT CAST(vec_id AS BIGINT) AS cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM ecorp ORDER BY vec_id LIMIT 8),
       |a1 AS (
       |  SELECT vec_id, embedding, cid AS cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlSqDistD("e.embedding", "c.cv")}, c.cid) AS rn
       |    FROM ecorp e, c0 c) WHERE rn = 1),
       |c1 AS (
       |  SELECT cid, list(mu ORDER BY pos) AS cv FROM (
       |    SELECT cell AS cid, j AS pos,
       |      CAST(SUM(CAST(embedding[j] AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS mu
       |    FROM a1, range(1, 65) t(j) GROUP BY cell, j)
       |  GROUP BY cid),
       |a2 AS (
       |  SELECT vec_id, embedding, cid AS cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlSqDistD("e.embedding", "c.cv")}, c.cid) AS rn
       |    FROM ecorp e, c1 c) WHERE rn = 1),
       |c2 AS (
       |  SELECT cid, list(mu ORDER BY pos) AS cv FROM (
       |    SELECT cell AS cid, j AS pos,
       |      CAST(SUM(CAST(embedding[j] AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS mu
       |    FROM a2, range(1, 65) t(j) GROUP BY cell, j)
       |  GROUP BY cid),
       |a3 AS (
       |  SELECT vec_id, embedding, cid AS cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlSqDistD("e.embedding", "c.cv")}, c.cid) AS rn
       |    FROM ecorp e, c2 c) WHERE rn = 1),
       |prepped AS (
       |  SELECT vec_id, cell, embedding AS v, ${sqlNorm("embedding")} AS nrm FROM a3),
       |del AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM prepped a JOIN prepped b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.999)
       |SELECT p.vec_id, p.cell FROM prepped p ANTI JOIN del d ON p.vec_id = d.vec_id
       |ORDER BY vec_id""".stripMargin

  /** Measured retrieval quality: recall@5 of each approximate ANN path
    * against the brute-force truth on the SAME query set (vec_id < 20,
    * k = 5). The per-method oracles replay the same buckets, so they can
    * stay green while a hyperplane or probe change silently craters what
    * the index actually retrieves — this query turns recall into a
    * driver-checked number (and RecallSpec pins floors). Counts are kept
    * as integers and recall as basis points (n_hits * 10000 // n_brute)
    * so the hash-compare never meets a float rounding edge. */
  // ----------------------------------------------------- ann_trunc_recall

  /** ANN-TRUNC: dimension-truncation recall audit — brute-force top-5
    * over only the first d of 64 embedding dimensions, measured against
    * the full-dimension truth (the Matryoshka/MRL serving question: how
    * many dims can the first-stage retriever drop and still recall the
    * true neighbors it will re-rank?). Same harness as `ann_recall`
    * (bounded truth set checkpointed once, semi-join hit counting);
    * the truncated scorer is the identical cosine kernel on
    * slice(embedding, 1, d), so the oracle replays it by bounding the
    * fold range at d. */
  private val annTruncDims = Seq(8, 16, 32)
  /** One-pass fold (r12, closing the VERDICT-r11 sequential-pass
    * suspicion with a measurement): the former form ran FOUR separate
    * brute passes (truth at 64 + one per truncation dim), visible in
    * JobCensus as 26 jobs with four ~2-6 s task-time crossJoin stages
    * re-reading the same pair space. A truncated cosine is a PREFIX
    * dot/norm of the full vector (slice(1,d) prefixes the same
    * elements), so ONE crossJoin pass emits the cosine at every audit
    * dim from the same pair row (4 codegen'd vec_dot/vec_sqnorm calls,
    * 8+16+32+64 = 120 mults vs 64 — arithmetic is per-dim identical to
    * the sliced form, same left fold), one TopKOps pass ranks per
    * (dim, q_id), and recall counting joins the tiny checkpointed topk
    * against its own dim-64 rows. */
  private val annTrunc: Q = (s, dir) => {
    val e = Tables.fanOut(t(s, dir, "embeddings"))
    val allDims = annTruncDims :+ 64
    // Per-vector prefix norms are computed ONCE per row BEFORE the
    // crossJoin (the cosineWithNorms contract: at scale a norm is per
    // vector, not per pair — r12 review caught the in-pair form paying
    // 2×(8+16+32+64) extra multiplies + 8 sqrts per PAIR).
    def withNorms(df: DataFrame, p: String): DataFrame =
      allDims.foldLeft(df)((d, dim) => d.withColumn(s"${p}_n$dim",
        sqrt(VectorFns.sqNormFlat(col(s"${p}_vec"), dim))))
    val q = withNorms(e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")), "q")
    val c = withNorms(
      e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")), "c")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), posexplode(array(allDims.map { d =>
        struct(lit(d).as("dim"),
          VectorFns.cosineWithNorms(
            VectorFns.dotFlat(col("q_vec"), col("c_vec"), d),
            col(s"q_n$d"), col(s"c_n$d")).as("cosine"))
      }: _*)).as(Seq("__p", "s")))
      .select(col("q_id"), col("c_id"),
        col("s.dim").as("dim"), col("s.cosine").as("cosine"))
    val topk = graft.operators.TopKOps.topKByScore(
        scored, Seq("dim", "q_id"), col("cosine"), col("c_id"), 5,
        tieName = "c_id")
      .select("dim", "q_id", "c_id")
      .checkpointed() // ≤ |dims|·|q|·5 rows, read by truth AND hits
    val truth = topk.filter(col("dim") === 64).select("q_id", "c_id")
    // truth is ≤ |q|·k = 100 rows BY the TopK construction and already
    // checkpointed — ride an explicit broadcast so the hit count never
    // plans a SortMergeJoin that shuffles+sorts both tiny sides (the
    // r16 ann_recall/dedup_lsh_recall tail fold; registry-wide plan
    // sweep found this as the last BOUNDED-side SMJ LeftSemi. The other
    // survivor, emb_mutual_nn, joins a |V|-scaled reversed nn table —
    // NOT bounded, broadcast there would be the a19 defect class, its
    // SMJ is the honest shape AQE flips locally).
    val hits = topk.filter(col("dim") =!= 64)
      .join(broadcast(truth), Seq("q_id", "c_id"), "left_semi")
      .groupBy("dim").agg(count(lit(1)).as("n_hits"))
    import s.implicits._
    // left join + coalesce: a dim with ZERO hits must still emit its row
    annTruncDims.toDF("dim")
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_brute"))))
      .join(broadcast(hits), Seq("dim"), "left")
      .select(col("dim"), col("n_brute"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        floor(coalesce(col("n_hits"), lit(0L)) * 10000 / col("n_brute"))
          .cast("long").as("recall_bp"))
      .orderBy("dim")
  }
  private val annTruncSql = {
    def dotD(a: String, b: String, d: Int) =
      s"list_reduce(list_transform(range(1, ${d + 1}), j -> " +
        s"CAST($a[j] AS DOUBLE) * CAST($b[j] AS DOUBLE)), (x, y) -> x + y)"
    def bruteD(name: String, d: Int) =
      s"""$name AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY
         |        ${dotD("qv", "cv", d)} /
         |        (sqrt(${dotD("qv", "qv", d)}) * sqrt(${dotD("cv", "cv", d)})) DESC,
         |        c_id) AS rank
         |    FROM q, c WHERE q_id <> c_id) WHERE rank <= 5)""".stripMargin
    val recs = annTruncDims.map { d =>
      s"""SELECT CAST($d AS INT) AS dim,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM brute) AS n_brute,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM brute b
         |     JOIN t$d USING (q_id, c_id)) AS n_hits""".stripMargin
    }.mkString(" UNION ALL ")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv
       |           FROM embeddings WHERE vec_id < 20),
       |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
       |${bruteD("brute", 64)},
       |${annTruncDims.map(d => bruteD(s"t$d", d)).mkString(",\n")}
       |SELECT dim, n_brute, n_hits,
       |  n_hits * 10000 // n_brute AS recall_bp
       |FROM ($recs) ORDER BY dim""".stripMargin
  }

  // ------------------------------------------------------ emb_mutual_nn

  /** EMB-MNN: mutual nearest-neighbor pairs within LSH buckets — the
    * bitext/alignment mining primitive (Artetxe–Schwenk-style mining
    * keeps a candidate pair only when EACH side is the other's best
    * match; one-directional top-1 lists are asymmetric and noisy, and
    * mutual agreement is the classic cheap filter). Scale path: the
    * bucketed top-1 (never all-pairs — the bucketedTopK argument), then
    * mutuality as a self-semi-join of the ≤|V|-row nn table against its
    * own reversed key. Output is the exact integer pair list — no float
    * ever reaches the hash compare. */
  private val mutualNn: Q = (s, dir) => {
    val e = Tables.fanOut(t(s, dir, "embeddings"))
    // queries == candidates == the fact-scaled corpus: boundedQueries =
    // false keeps this a keyed shuffle on the bucket — a broadcast here
    // would ship the whole corpus to every task (the a19 defect class).
    val nn1 = SimilarityOps.bucketedTopK(e, e, "vec_id", "embedding", 1,
        nPlanes = 8, dim = 64, boundedQueries = false)
      .select("q_id", "c_id")
      .checkpointed() // ≤|V| rows; read as both direction tables
    nn1.join(nn1.select(col("c_id").as("q_id"), col("q_id").as("c_id")),
        Seq("q_id", "c_id"), "left_semi")
      .filter(col("q_id") < col("c_id"))
      .select(col("q_id").as("id_a"), col("c_id").as("id_b"))
      .orderBy("id_a", "id_b")
  }
  private val mutualNnSql =
    s"""WITH planes AS (
       |  SELECT i, list_transform(range(64), j ->
       |    (ascii(substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 1)) % 2) * 2 - 1) AS p
       |  FROM range(8) t(i)),
       |bkt AS (
       |  SELECT vec_id, CAST(SUM(
       |      CASE WHEN list_reduce(list_transform(range(1, 65),
       |             j -> CAST(e.embedding[j] AS DOUBLE) * p[j]), (x, y) -> x + y) >= 0
       |           THEN (1 << (7 - i)) ELSE 0 END) AS INT) AS bucket
       |  FROM embeddings e, planes GROUP BY vec_id),
       |v AS (SELECT e.vec_id, bucket, embedding AS vv, ${sqlNorm("embedding")} AS nrm
       |      FROM embeddings e JOIN bkt ON e.vec_id = bkt.vec_id),
       |nn AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("q.vv", "c.vv")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rank
       |    FROM v q JOIN v c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)
       |  WHERE rank = 1)
       |SELECT a.q_id AS id_a, a.c_id AS id_b
       |FROM nn a JOIN nn b ON a.q_id = b.c_id AND a.c_id = b.q_id
       |WHERE a.q_id < a.c_id
       |ORDER BY id_a, id_b""".stripMargin

  private val annRecall: Q = (s, dir) => {
    // Materialize the fanned scan once: five ANN methods plus the brute
    // truth pass each read the full embeddings table (norms, hashes,
    // codebook assignments) — left lazy, that is 6+ parquet scans and
    // fan-out exchanges of the same input. A distributed cache of a
    // multiply-consumed input, not driver state (isolation median
    // 3.54 -> 2.89 s at sf0.1).
    val e = Tables.fanOut(t(s, dir, "embeddings")).checkpointed()
    val q20 = e.filter(col("vec_id") < 20)
    // The truth set is ≤ |q|·k = 100 rows but its PLAN is the full
    // brute-force scoring pass; 5 methods × (semi-join + count) would
    // re-execute that pass 10×. Materialize the tiny result once —
    // bounded, so this is model-state caching, not row-data caching.
    val brute = SimilarityOps.bruteTopK(q20, e, "vec_id", "embedding", 5)
      .select("q_id", "c_id").checkpointed()
    // r16 folds (VERDICT r15 directive 1 — fewer duplicated subtrees
    // WITHOUT weakening the audit; truth stays independently computed):
    //  - ONE candidate hyperplane-signature pass feeds BOTH single-table
    //    lanes: bucketed and multiprobe share one plane family by
    //    design, yet each lane recomputed the identical (bucket, norm)
    //    projection over the full corpus (guide §1.2).
    //  - Each lane's hit count semi-joins the lane's BOUNDED output
    //    (≤ |q|·k rows by the TopK construction) against the
    //    checkpointed brute truth riding an explicit broadcast — the
    //    before-plan ran five SortMergeJoin LeftSemi, shuffling and
    //    sorting BOTH tiny sides per lane (10 exchanges for ≤200-row
    //    joins); both sides are distinct on (q_id, c_id), so
    //    |truth ⋉ m| = |m ⋉ truth| = |truth ∩ m| exactly.
    //  - n_brute is one scalar, not five: the per-lane rec() each ran
    //    its own count aggregate over the same checkpoint; one fold
    //    crossJoins the single 1-row count into the unioned lane rows.
    val sigs = SimilarityOps.lshCandidateSignatures(
      e, "vec_id", "embedding", nPlanes = 8, dim = 64).checkpointed()
    def rec(name: String, m: DataFrame): DataFrame =
      m.select("q_id", "c_id")
        .join(broadcast(brute), Seq("q_id", "c_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(name).as("method"), col("n_hits"))
    rec("bucketed",
        SimilarityOps.bucketedTopKOnSignatures(q20, sigs, "vec_id", "embedding",
          5, nPlanes = 8, dim = 64))
      .unionByName(rec("multiprobe",
        SimilarityOps.multiProbeTopKOnSignatures(q20, sigs, "vec_id", "embedding",
          5, nPlanes = 8, dim = 64)))
      .unionByName(rec("multitable",
        SimilarityOps.multiTableTopK(q20, e, "vec_id", "embedding", 5,
          nTables = 8, nPlanes = 6, dim = 64)))
      .unionByName(rec("ivf",
        SimilarityOps.ivfTopK(q20, e, "vec_id", "embedding", 5, nCells = 16, nProbe = 2)))
      .unionByName(rec("pq",
        graft.operators.PqOps.pqTopK(q20, e, "vec_id", "embedding", 5,
          dim = 64, m = 8, ks = 16)))
      .crossJoin(broadcast(brute.agg(count(lit(1)).as("n_brute"))))
      .select(col("method"), col("n_brute"), col("n_hits"),
        floor(col("n_hits") * 10000 / col("n_brute")).cast("long").as("recall_bp"))
      .orderBy("method")
  }
  private val annRecallSql =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv, ${sqlNorm("embedding")} AS qn
       |           FROM embeddings WHERE vec_id < 20),
       |c AS (SELECT vec_id AS c_id, embedding AS cv, ${sqlNorm("embedding")} AS cn FROM embeddings),
       |brute AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY
       |        ${sqlDot("qv", "cv")} / (qn * cn) DESC, c_id) AS rank
       |    FROM q, c WHERE q_id <> c_id) WHERE rank <= 5),
       |planes AS (
       |  SELECT i, list_transform(range(64), j ->
       |    (ascii(substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 1)) % 2) * 2 - 1) AS p
       |  FROM range(8) t(i)),
       |bkt AS (
       |  SELECT vec_id, CAST(SUM(
       |      CASE WHEN list_reduce(list_transform(range(1, 65),
       |             j -> CAST(e.embedding[j] AS DOUBLE) * p[j]), (x, y) -> x + y) >= 0
       |           THEN (1 << (7 - i)) ELSE 0 END) AS INT) AS bucket
       |  FROM embeddings e, planes GROUP BY vec_id),
       |v AS (SELECT e.vec_id, bucket, embedding AS vv, ${sqlNorm("embedding")} AS nrm
       |      FROM embeddings e JOIN bkt ON e.vec_id = bkt.vec_id),
       |bucketed AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("q.vv", "c.vv")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rank
       |    FROM v q JOIN v c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 20) WHERE rank <= 5),
       |qprobe AS (
       |  SELECT vec_id, CAST(xor(bucket, CAST(m AS INT)) AS INT) AS bucket, vv, nrm
       |  FROM v, unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) t(m)
       |  WHERE vec_id < 20),
       |multiprobe AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("q.vv", "c.vv")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rank
       |    FROM qprobe q JOIN v c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id) WHERE rank <= 5),
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cent_vec FROM embeddings
       |  ORDER BY vec_id LIMIT 16),
       |cassign AS (
       |  SELECT c_id2, c_vec, cell, ${sqlNorm("c_vec")} AS c_norm FROM (
       |    SELECT e.vec_id AS c_id2, e.embedding AS c_vec, cent_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlSqDist("e.embedding", "cent_vec")}, cent_id) AS rn
       |    FROM embeddings e, cents)
       |  WHERE rn = 1),
       |qassign AS (
       |  SELECT q_id2, q_vec, cell, ${sqlNorm("q_vec")} AS q_norm FROM (
       |    SELECT e.vec_id AS q_id2, e.embedding AS q_vec, cent_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlSqDist("e.embedding", "cent_vec")}, cent_id) AS rn
       |    FROM embeddings e, cents WHERE e.vec_id < 20)
       |  WHERE rn <= 2),
       |ivf AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id2 AS q_id, c_id2 AS c_id,
       |      row_number() OVER (PARTITION BY q_id2 ORDER BY
       |        ${sqlDot("q_vec", "c_vec")} / (q_norm * c_norm) DESC, c_id2) AS rank
       |    FROM qassign q JOIN cassign c USING (cell) WHERE q_id2 <> c_id2) WHERE rank <= 5),
       |tplanes AS (
       |  SELECT t, i, list_transform(range(64), j ->
       |    (ascii(substr(md5(CAST(t AS VARCHAR) || '_' || CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 1)) % 2) * 2 - 1) AS p
       |  FROM range(8) tt(t), range(6) ii(i)),
       |tbkt AS (
       |  SELECT vec_id, t, CAST(SUM(
       |      CASE WHEN list_reduce(list_transform(range(1, 65),
       |             j -> CAST(e.embedding[j] AS DOUBLE) * p[j]), (x, y) -> x + y) >= 0
       |           THEN (1 << (5 - i)) ELSE 0 END) AS INT) AS bucket
       |  FROM embeddings e, tplanes GROUP BY vec_id, t),
       |mtpairs AS (
       |  SELECT DISTINCT tq.vec_id AS q_id, tc.vec_id AS c_id
       |  FROM tbkt tq JOIN tbkt tc ON tq.t = tc.t AND tq.bucket = tc.bucket AND tq.vec_id <> tc.vec_id
       |  WHERE tq.vec_id < 20),
       |multitable AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT p.q_id, p.c_id,
       |      row_number() OVER (PARTITION BY p.q_id ORDER BY
       |        ${sqlDot("vq.vv", "vc.vv")} / (vq.nrm * vc.nrm) DESC, p.c_id) AS rank
       |    FROM mtpairs p JOIN v vq ON p.q_id = vq.vec_id JOIN v vc ON p.c_id = vc.vec_id)
       |  WHERE rank <= 5),
       |pqcb AS (
       |  SELECT m, rn - 1 AS c,
       |    list_transform(range(1, 9), j -> CAST(embedding[m * 8 + j] AS DOUBLE)) AS cv
       |  FROM (SELECT embedding, row_number() OVER (ORDER BY vec_id) AS rn
       |        FROM embeddings ORDER BY vec_id LIMIT 16),
       |       range(8) t(m)),
       |pqenc AS (
       |  SELECT vec_id, m, c AS code FROM (
       |    SELECT e.vec_id, pqcb.m, pqcb.c,
       |      row_number() OVER (PARTITION BY e.vec_id, pqcb.m ORDER BY
       |        list_reduce(list_transform(range(1, 9), j ->
       |          (CAST(e.embedding[pqcb.m * 8 + j] AS DOUBLE) - pqcb.cv[j]) * (CAST(e.embedding[pqcb.m * 8 + j] AS DOUBLE) - pqcb.cv[j])),
       |          (x, y) -> x + y), pqcb.c) AS rn
       |    FROM embeddings e CROSS JOIN pqcb) WHERE rn = 1),
       |pqip AS (
       |  SELECT q_id, c_id, list_reduce(list(ipm ORDER BY m), (x, y) -> x + y) AS adc_ip
       |  FROM (
       |    SELECT qe.vec_id AS q_id, en.vec_id AS c_id, en.m AS m,
       |      list_reduce(list_transform(range(1, 9), j ->
       |        CAST(qe.embedding[en.m * 8 + j] AS DOUBLE) * pqcb.cv[j]), (x, y) -> x + y) AS ipm
       |    FROM embeddings qe CROSS JOIN pqenc en
       |    JOIN pqcb ON pqcb.m = en.m AND pqcb.c = en.code
       |    WHERE qe.vec_id < 20 AND qe.vec_id <> en.vec_id)
       |  GROUP BY q_id, c_id),
       |pq AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY
       |        adc_ip / (vq.nrm * vc.nrm) DESC, c_id) AS rank
       |    FROM pqip JOIN v vq ON pqip.q_id = vq.vec_id JOIN v vc ON pqip.c_id = vc.vec_id)
       |  WHERE rank <= 5),
       |rows_out AS (
       |  SELECT 'bucketed' AS method,
       |    (SELECT COUNT(*) FROM brute) AS n_brute,
       |    (SELECT COUNT(*) FROM brute b JOIN bucketed m USING (q_id, c_id)) AS n_hits
       |  UNION ALL SELECT 'multiprobe',
       |    (SELECT COUNT(*) FROM brute),
       |    (SELECT COUNT(*) FROM brute b JOIN multiprobe m USING (q_id, c_id))
       |  UNION ALL SELECT 'multitable',
       |    (SELECT COUNT(*) FROM brute),
       |    (SELECT COUNT(*) FROM brute b JOIN multitable m USING (q_id, c_id))
       |  UNION ALL SELECT 'ivf',
       |    (SELECT COUNT(*) FROM brute),
       |    (SELECT COUNT(*) FROM brute b JOIN ivf m USING (q_id, c_id))
       |  UNION ALL SELECT 'pq',
       |    (SELECT COUNT(*) FROM brute),
       |    (SELECT COUNT(*) FROM brute b JOIN pq m USING (q_id, c_id)))
       |SELECT method, n_brute, n_hits, n_hits * 10000 // n_brute AS recall_bp
       |FROM rows_out ORDER BY method""".stripMargin

  // ----------------------------------------------------- dedup_recall

  /** DEDUP-RECALL: measured recall of the two approximate near-dup
    * candidate generators (MinHash LSH banding, simhash Hamming) against
    * EXACT token-Jaccard >= 0.6 truth — the ann_recall discipline
    * applied to dedup: an approximate method you haven't measured is a
    * guess. Truth is brute force over a bounded probe slice (lower-id
    * endpoint < 50), which at any corpus scale is a broadcast of the
    * probe token sets against one corpus pass — never all-pairs (the
    * ann_recall truth-bounding argument). The Jaccard compare is the
    * same exact small-integer division both engines already share in
    * dedup_ngram_jaccard. */
  private val recallProbe = 50
  private val dedupRecall: Q = (s, dir) => {
    // ONE checkpoint carries (doc_id, t, tokens) and every branch reads
    // it (closing a degraded+retried watch item): the previous form
    // re-derived the corpus subtree per
    // branch, so the three heavy fingerprint kernels (r14 JobCensus:
    // 16.9/16.4/11.4 s task-time at sf0.1) contended to recompute the
    // same scan+union, the signature behind the in-suite<isolated
    // inversion. Sharing the materialized tokens cut jobs 27 -> 20 and
    // won every alternating same-JVM rep in BOTH probe sessions
    // (medians 3.41 -> 3.06 healthy-ish host, 6.00 -> 4.26 degraded
    // host), with tighter spread. Values identical (parity
    // checksummed; tokenization is the same ascii_tokens kernel,
    // materialized instead of refused). This query is a bounded-probe
    // recall AUDIT — at corpus scale the checkpoint is one extra
    // materialization of the 200-char fingerprint projection, the same
    // order as any one of the three branch shuffles it deduplicates.
    val ct = corpus(s, dir).select(col("doc_id"), col("t"),
      expr("ascii_tokens(t)").as("w")).checkpointed()
    // Truth similarity = distinct word-3-gram SHINGLE Jaccard — the
    // quantity MinHash actually sketches (token-set Jaccard saturates
    // on the fixture's small vocabulary: first cut measured 2277
    // "truth" pairs at sf0.01 where shingle truth has the planted
    // dups — the ContainmentSpec token-df finding again).
    val tok = ct.select(col("doc_id"), expr("distinct_kgrams(w, 3)").as("toks"))
    val probe = tok.filter(col("doc_id") < recallProbe)
      .select(col("doc_id").as("id_a"), col("toks").as("ta"))
    val truth = tok.select(col("doc_id").as("id_b"), col("toks").as("tb"))
      .crossJoin(broadcast(probe))
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter", size(expr("array_intersect(ta, tb)")))
      .filter(expr(
        "CAST(inter AS DOUBLE) / CAST(size(ta) + size(tb) - inter AS DOUBLE) >= 0.6"))
      .select("id_a", "id_b")
      .checkpointed() // read by both method joins; probe-bounded
    val mh = DedupOps.minHashLshPairsFromTokens(ct, "doc_id", "w",
        shingleK = 3, numHashes = 8, bands = 2)
      .filter(col("id_a") < recallProbe).select("id_a", "id_b")
    val sh = DedupOps.simHashPairs(ct, "doc_id", "t",
        bits = 16, prefixBits = 8, maxHamming = 3)
      .filter(col("id_a") < recallProbe).select("id_a", "id_b")
    // r16 tail fold (VERDICT r15 directive 1): each method's hit count
    // semi-joins the candidate pairs against the PROBE-BOUNDED,
    // checkpointed truth riding an explicit broadcast — the before-plan
    // left the simhash lane on a SortMergeJoin LeftSemi that shuffled
    // and sorted both sides of a ≤100-row join. Both sides are distinct
    // on (id_a, id_b) (pairsWithinBuckets dedups; a simhash pair meets
    // in exactly one prefix block), so |truth ⋉ cand| = |cand ⋉ truth|.
    // n_truth is likewise ONE scalar, not one count aggregate per lane.
    def row(method: String, cand: DataFrame) =
      cand.join(broadcast(truth), Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(method).as("method"), col("n_hits"))
    row("minhash_lsh", mh).unionByName(row("simhash", sh))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("method"), col("n_truth"), col("n_hits"),
        expr("CASE WHEN n_truth > 0 THEN (n_hits * 10000) div n_truth END")
          .as("recall_bp"))
      .orderBy("method")
  }
  private val dedupRecallSql =
    "WITH " + corpusCte + ", " + minhashPairCtes + ", " + simhashCtes + "," +
    s"""
      |tokd AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(w) - 2, 1) + 1),
      |    j -> array_to_string(w[j:j+2], ' '))) AS toks
      |  FROM (SELECT doc_id, regexp_extract_all(lower(t), '[a-z0-9]+') AS w
      |        FROM corpus)),
      |truth AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM tokd a JOIN tokd b ON a.doc_id < b.doc_id
      |  WHERE a.doc_id < $recallProbe
      |    AND len(list_intersect(a.toks, b.toks)) /
      |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.6),
      |mh AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.s = b.s AND a.doc_id < b.doc_id
      |  WHERE a.doc_id < $recallProbe),
      |sh AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM blocked a JOIN blocked b ON a.block = b.block AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.sim, b.sim)) <= 3 AND a.doc_id < $recallProbe)
      |SELECT method, n_truth, n_hits,
      |  CASE WHEN n_truth > 0 THEN (n_hits * 10000) // n_truth END AS recall_bp
      |FROM (
      |  SELECT 'minhash_lsh' AS method,
      |    CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
      |    CAST((SELECT COUNT(*) FROM truth JOIN mh USING (id_a, id_b)) AS BIGINT) AS n_hits
      |  UNION ALL
      |  SELECT 'simhash',
      |    CAST((SELECT COUNT(*) FROM truth) AS BIGINT),
      |    CAST((SELECT COUNT(*) FROM truth JOIN sh USING (id_a, id_b)) AS BIGINT))
      |ORDER BY method""".stripMargin

  // --------------------------------------------------- pipe_dedup_pass

  /** PIPE-DEDUP: the whole dedup pass as ONE composed flow — exact
    * fingerprint keep-first, then MinHash-LSH near-dup clustering over
    * the exact survivors (CC keep-min), then the audit summary a
    * pipeline owner actually reads (raw → exact → near counts + chars
    * kept). Completes the pipe_* trio (pack, curation, dedup). The
    * exact-survivor set is the pass's natural materialization point —
    * a real pipeline writes it to storage before the near-dup stage;
    * localCheckpoint stands in for that write (three consumers: the
    * count, the pair generation, and the kept-side anti-join). */
  private val pipeDedup: Q = (s, dir) => {
    val raw = Tables.fanOut(t(s, dir, "documents"))
    val exact = DedupOps.exactDedup(raw, "text", "doc_id")
      .select(col("doc_id"), substring(col("text"), 1, 200).as("t"),
        col("n_chars"))
      .checkpointed()
    val pairs = DedupOps.minHashLshPairs(exact, "doc_id", "t",
      shingleK = 3, numHashes = 8, bands = 2)
    val deletes = graft.operators.GraphOps
      .connectedComponents(pairs, "id_a", "id_b", assumeCanonical = true)
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    val kept = exact.join(deletes, Seq("doc_id"), "left_anti")
    raw.agg(count(lit(1)).as("n_raw"))
      .crossJoin(exact.agg(count(lit(1)).as("n_after_exact")))
      .crossJoin(kept.agg(count(lit(1)).as("n_after_near"),
        sum(col("n_chars")).as("chars_kept")))
  }
  private val pipeDedupSql =
    """WITH RECURSIVE corpus AS (
      |  SELECT doc_id, substr(text, 1, 200) AS t, n_chars FROM documents
      |  QUALIFY row_number() OVER (
      |    PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
      |    ORDER BY doc_id) = 1),
      |""".stripMargin + minhashPairCtes + "," +
    """
      |prs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.s = b.s AND a.doc_id < b.doc_id),
      |edges AS (SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b, id_a FROM prs),
      |reach(node, m) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT e.a, r.m FROM edges e JOIN reach r ON r.node = e.b),
      |deletes AS (
      |  SELECT node FROM (SELECT node, MIN(m) AS comp FROM reach GROUP BY node)
      |  WHERE node <> comp),
      |kept AS (SELECT c.doc_id, c.n_chars FROM corpus c
      |         ANTI JOIN deletes d ON c.doc_id = d.node)
      |SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_raw,
      |  CAST((SELECT COUNT(*) FROM corpus) AS BIGINT) AS n_after_exact,
      |  CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_after_near,
      |  CAST((SELECT SUM(n_chars) FROM kept) AS BIGINT) AS chars_kept""".stripMargin

  // ------------------------------------------------- dedup_winnow_pairs

  /** Substring-level near-dup candidates: docs sharing >= 3 winnowing
    * fingerprints (each shared fingerprint certifies a shared cleaned
    * substring of >= w+k-1 = 8 chars — MOSS semantics; see
    * TextFns.winnowFingerprints). The modality the whole-doc family
    * (minhash/simhash/cosine) cannot see: a long quoted passage inside
    * otherwise-different documents. Scale shape mirrors sparse cosine:
    * fingerprints explode row-locally; the Zipf-head fingerprints
    * (doc frequency > 20 — boilerplate n-grams every doc shares) are a
    * TINY set removed by a broadcast anti-join, which also bounds the
    * per-fingerprint join fan-out at dfCap^2; the self-join on the
    * fingerprint value is then the plan's one real shuffle; the pair
    * aggregate's >= 3 floor kills coincidental single-gram hits. */
  private val winnowDfCap = 20
  private val winnowMinShared = 3
  private val dedupWinnowPairs: Q = (s, dir) => {
    // The exploded fingerprint table feeds the hot-set aggregate AND the
    // kept-side anti-join; localCheckpoint materializes the per-row
    // rolling-hash UDF once instead of per consumer (same move as
    // t_cms_heavy / t_split_contamination).
    val fps = Tables.fanOut(t(s, dir, "documents"))
      .select(col("doc_id"),
        explode(graft.functions.TextFns.winnowFingerprintArrUdf(
          substring(col("text"), 1, 300))).as("fp"))
      .checkpointed()
    val hot = fps.groupBy("fp").count()
      .filter(col("count") > winnowDfCap).select("fp")
    val kept = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    val a = kept.as("a")
    val b = kept.as("b")
    a.join(b, col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= winnowMinShared)
      .orderBy("id_a", "id_b")
  }
  private val dedupWinnowPairsSql =
    s"""WITH c AS (
       |  SELECT doc_id, regexp_replace(lower(substr(text, 1, 300)), '[^a-z0-9]', '', 'g') AS cl
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, len(cl) - 4 AS n,
       |    list_transform(range(1, greatest(len(cl) - 4, 0) + 1), i ->
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(5), j -> CAST(unicode(substr(cl, i + j, 1)) AS BIGINT))),
       |        (a, x) -> (a * 257 + x) % 1000000007)) AS hs
       |  FROM c),
       |fp AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, greatest(n - 3, 1) + 1), st ->
       |      list_min(hs[st : least(st + 3, n)])))) AS fp
       |  FROM h WHERE n > 0),
       |hot AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) > $winnowDfCap),
       |kept AS (SELECT doc_id, fp FROM fp WHERE fp NOT IN (SELECT fp FROM hot))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
       |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= $winnowMinShared
       |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------- dedup_dup_spans

  /** Exact duplicated k-char spans across the corpus — the fixed-k
    * bounded form of ExactSubstr dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): every window of the
    * cleaned text is hashed (char_kgram_hashes — winnowing's UNSAMPLED
    * sibling, same base-257 rolling hash), and a hash landing in ≥ 2
    * distinct documents is an exactly-repeated span, reported with its
    * occurrence count and lowest-(doc,pos) exemplar. Complements
    * dedup_winnow_pairs: winnowing SAMPLES windows to pair documents
    * cheaply; this pass keeps EVERY window to localize the spans
    * themselves (what you'd cut, not just whom to compare).
    *
    * Scale shape: the explode is row-local (one row per window); the
    * one shuffle groups by span hash — carrying ~Σ|doc| window rows is
    * the inherent price of exact all-window detection (Lee et al. pay
    * the same in a suffix-array sort); winnow_pairs remains the sampled
    * scale path. The report is a bounded TakeOrderedAndProject.
    *
    * Implementation: [[graft.operators.SpanDedupOps.dupSpans]] with the
    * cap passed as the FIXTURE parameter spanCap (300 keeps the oracle
    * gate corpus small; the operator itself is uncapped-honest — struct
    * argmin exemplar, exact beyond pos 10⁶, pinned in SpanDedupSpec).
    * The oracle replays the exemplar as min(doc_id·10⁶ + pos), equal to
    * the lexicographic (doc, pos) min exactly while pos < 10⁶ — which
    * the 300-char fixture cap guarantees ON THE GATE ONLY. */
  private val spanK = 20
  private val spanTopN = 50
  private val spanCap = Some(300)
  private val dedupDupSpans: Q = (s, dir) =>
    graft.operators.SpanDedupOps.dupSpans(
        Tables.fanOut(t(s, dir, "documents")), "doc_id", "text", spanK, spanTopN, spanCap)
      .orderBy("h")
  private val dedupDupSpansSql =
    s"""SELECT h, n_docs, n_occ, ex_doc, ex_pos FROM (
       |  SELECT h, n_docs, n_occ, ex_key // 1000000 AS ex_doc, ex_key % 1000000 AS ex_pos
       |  FROM (
       |    SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |      CAST(COUNT(*) AS BIGINT) AS n_occ,
       |      CAST(MIN(doc_id * 1000000 + pos) AS BIGINT) AS ex_key
       |    FROM (
       |      SELECT doc_id, i - 1 AS pos,
       |        list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list_transform(range($spanK), j -> CAST(unicode(substr(cl, i + j, 1)) AS BIGINT))),
       |          (a, x) -> (a * 257 + x) % 1000000007) AS h
       |      FROM (
       |        SELECT doc_id, cl,
       |          unnest(range(1, greatest(len(cl) - ${spanK - 1}, 0) + 1)) AS i
       |        FROM (
       |          SELECT doc_id,
       |            regexp_replace(lower(substr(text, 1, ${spanCap.get})), '[^a-z0-9]', '', 'g') AS cl
       |          FROM documents)))
       |    GROUP BY h)
       |  WHERE n_docs >= 2
       |  ORDER BY n_occ DESC, h LIMIT $spanTopN)
       |ORDER BY h""".stripMargin

  // -------------------------------------------------- dedup_span_scrub

  /** The APPLY side of exact duplicated-span dedup: cut every
    * cross-document-repeated k-char span out of the cleaned corpus
    * (dedup_dup_spans finds them; this removes them). Documented
    * divergence from Lee et al.'s keep-one-occurrence: ALL occurrences
    * are cut (the conservative form that needs no global
    * occurrence-election pass), and chars are marked per-window so
    * overlapping spans merge implicitly — a char survives iff no dup
    * window covers it, the same per-char rule the oracle replays.
    *
    * Scale shape: the duplicated-hash set is corpus-dependent (NOT
    * bounded model state), so it joins the window table by hash as a
    * plain shuffle join — AQE broadcasts while it fits; per-doc dup
    * positions then collect row-locally (bounded by (capped) doc
    * length), and the scrub itself is one row-local kernel pass.
    *
    * Measured-first note (sf0.1): the operator's double-scan form (the
    * explode + O(n) rolling-hash kernel runs once per consumer) is the
    * FASTEST of three tried — 1.8 s, vs 2.6 s with a localCheckpoint of
    * the exploded windows (materializing 1.4 M rows costs more than
    * recomputing them), vs 6.9 s fused into one aggregation
    * (countDistinct+collect_list plans an Expand that doubles the
    * exploded rows and builds occurrence lists for every hash, when
    * only the tiny nd≥2 set is ever exploded back). Recompute beats
    * materialize when the kernel is this cheap.
    *
    * Implementation: [[graft.operators.SpanDedupOps.scrub]]; spanCap is
    * the fixture parameter (see dedup_dup_spans). */
  private val dedupSpanScrub: Q = (s, dir) =>
    graft.operators.SpanDedupOps.scrub(
        Tables.fanOut(t(s, dir, "documents")), "doc_id", "text", spanK, spanCap)
      .orderBy("doc_id")
  private val dedupSpanScrubSql =
    s"""WITH c AS (
       |  SELECT doc_id,
       |    regexp_replace(lower(substr(text, 1, ${spanCap.get})), '[^a-z0-9]', '', 'g') AS cl
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range($spanK), j -> CAST(unicode(substr(cl, i + j, 1)) AS BIGINT))),
       |      (a, x) -> (a * 257 + x) % 1000000007) AS h
       |  FROM (
       |    SELECT doc_id, cl,
       |      unnest(range(1, greatest(len(cl) - ${spanK - 1}, 0) + 1)) AS i
       |    FROM c)),
       |dup AS (SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
       |dp AS (
       |  SELECT doc_id, list_sort(list(pos)) AS pos
       |  FROM w JOIN dup USING (h) GROUP BY doc_id),
       |sc AS (
       |  SELECT c.doc_id,
       |    CAST(COALESCE(len(dp.pos), 0) AS INT) AS n_dup_windows,
       |    CAST(len(cl) AS BIGINT) AS cl_len,
       |    array_to_string(list_transform(range(len(cl)), ch ->
       |      CASE WHEN len(list_filter(COALESCE(dp.pos, []),
       |          p -> p <= ch AND ch < p + $spanK)) > 0
       |        THEN '' ELSE substr(cl, CAST(ch AS INT) + 1, 1) END), '') AS text_scrubbed
       |  FROM c LEFT JOIN dp ON c.doc_id = dp.doc_id)
       |SELECT doc_id, n_dup_windows, cl_len,
       |  cl_len - len(text_scrubbed) AS n_cut, text_scrubbed
       |FROM sc ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- containment

  /** Token-shingle CONTAINMENT pairs (subset/quotation collapse): the
    * asymmetric measure that catches a short doc quoted inside a long
    * one where Jaccard dilutes to nothing. Shingle sets (word 3-grams)
    * rather than token sets: the fixture vocabulary is ~30 words, so
    * token-set containment is saturated noise while the 16k-shingle
    * universe discriminates. df-capped postings self-join; the cap and
    * the ppm floor-division are part of the operator definition and
    * replay exactly in the oracle (DedupOps.containmentPairs). */
  private val contDfCap = 50
  private val contMinPpm = 600000L
  private val dedupContainment: Q = (s, dir) => {
    // r16 (VERDICT r15 directive 4): materialize the per-doc gram ARRAYS
    // once — the containmentRecall operator's shape (DedupOps.scala) —
    // and feed containmentPairs the checkpointed column. The
    // recompute-simple form re-ran the documents scan + the
    // distinct_kgrams(ascii_tokens) kernel EIGHT times (4 kept-instances
    // × (grams + rare) in plans/r16/dedup_containment_before.txt). The
    // standing r10 rejection inside containmentPairs was of checkpointing
    // the EXPLODED df-capped postings (shingle-wide, one row per gram);
    // this cut materializes one ARRAY row per doc — ~|docs| rows, not
    // ~Σ|grams| — and the 8 downstream reads re-explode from the
    // checkpoint instead of re-tokenizing (guide §1.2).
    // Measured (same-JVM alternating, parity checksummed):
    // the tok checkpoint ALONE is locally neutral (2/4 pairs — the
    // kernel replays cheaply at sf0.1, the r10 observation again); the
    // winning shape is tok + the rare-gram checkpoint now inside
    // containmentPairs (4/4 pairs vs recompute, 2.63-2.75 vs
    // 2.68-3.11 s) — kernel passes 8 -> 1 and df-aggregate passes
    // 4 -> 1, the scale shape either way.
    val tok = Tables.fanOut(t(s, dir, "documents"))
      .select(col("doc_id"),
        expr("distinct_kgrams(ascii_tokens(text), 3)").as("toks"))
      .checkpointed()
    DedupOps.containmentPairs(tok, "doc_id", col("toks"), contDfCap, contMinPpm)
      .orderBy("id_a", "id_b")
  }
  private val dedupContainmentSql =
    s"""WITH toked AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS stoks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(stoks) - 2, 1) + 1),
       |    j -> array_to_string(stoks[j:j+2], ' ')))) AS g
       |  FROM toked),
       |rare AS (SELECT g FROM (SELECT g, COUNT(*) AS df FROM sh GROUP BY g)
       |         WHERE df <= $contDfCap),
       |kept AS (SELECT doc_id, g FROM sh JOIN rare USING (g)),
       |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM kept GROUP BY doc_id),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS shared
       |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, shared,
       |  (shared * 1000000) // least(sa.n, sb.n) AS cont_ppm
       |FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |WHERE (shared * 1000000) // least(sa.n, sb.n) >= $contMinPpm
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------ registry

  val queries: Map[String, Q] = Map(
    "dedup_containment" -> dedupContainment,
    "dedup_span_scrub" -> dedupSpanScrub,
    "dedup_dup_spans" -> dedupDupSpans,
    "dedup_winnow_pairs" -> dedupWinnowPairs,
    "dedup_exact" -> dedupExact,
    "dedup_lsh_recall" -> dedupRecall,
    "pipe_dedup_pass" -> pipeDedup,
    "dedup_minhash_lsh" -> dedupMinhash,
    "dedup_cc_clusters" -> dedupCc,
    "dedup_cc_best" -> dedupCcBest,
    "dedup_sparse_cosine" -> dedupSparse,
    "dedup_cc_survivors" -> dedupCcSurvivors,
    "dedup_simhash" -> dedupSimhash,
    "dedup_ngram_jaccard" -> dedupJaccard,
    "dedup_threshold_curve" -> dedupCurve,
    "dedup_incremental" -> dedupIncremental,
    "dedup_near_incremental" -> nearIncr,
    "emb_near_dup" -> embNearDup,
    "emb_mutual_nn" -> mutualNn,
    "ann_brute_topk" -> annBrute,
    "ann_bucketed_topk" -> annBucketed,
    "ann_multiprobe_topk" -> annMultiProbe,
    "ann_multitable_topk" -> annMultiTable,
    "ann_pq_topk" -> annPq,
    "ann_ivfpq_topk" -> annIvfPq,
    "ann_ivf_topk" -> annIvf,
    "ann_kmeans_cells" -> annKmeans,
    "dedup_semantic" -> dedupSemantic,
    "dedup_url_canonical" -> dedupUrlCanonical,
    "ann_recall" -> annRecall,
    "ann_trunc_recall" -> annTrunc)

  val oracle: Map[String, String] = Map(
    "dedup_containment" -> dedupContainmentSql,
    "dedup_span_scrub" -> dedupSpanScrubSql,
    "dedup_dup_spans" -> dedupDupSpansSql,
    "dedup_winnow_pairs" -> dedupWinnowPairsSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_lsh_recall" -> dedupRecallSql,
    "pipe_dedup_pass" -> pipeDedupSql,
    "dedup_minhash_lsh" -> dedupMinhashSql,
    "dedup_cc_clusters" -> dedupCcSql,
    "dedup_cc_best" -> dedupCcBestSql,
    "dedup_sparse_cosine" -> dedupSparseSql,
    "dedup_cc_survivors" -> dedupCcSurvivorsSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_ngram_jaccard" -> dedupJaccardSql,
    "dedup_threshold_curve" -> dedupCurveSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_near_incremental" -> nearIncrSql,
    "emb_near_dup" -> embNearDupSql,
    "emb_mutual_nn" -> mutualNnSql,
    "ann_brute_topk" -> annBruteSql,
    "ann_bucketed_topk" -> annBucketedSql,
    "ann_multiprobe_topk" -> annMultiProbeSql,
    "ann_multitable_topk" -> annMultiTableSql,
    "ann_pq_topk" -> annPqSql,
    "ann_ivfpq_topk" -> annIvfPqSql,
    "ann_ivf_topk" -> annIvfSql,
    "ann_kmeans_cells" -> annKmeansSql,
    "dedup_semantic" -> dedupSemanticSql,
    "dedup_url_canonical" -> dedupUrlCanonicalSql,
    "ann_recall" -> annRecallSql,
    "ann_trunc_recall" -> annTruncSql)
}
