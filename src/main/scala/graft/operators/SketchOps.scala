package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Portable one-pass sketches (beyond-reference, SURVEY §2.11).
  *
  * Design rule: every sketch here is built from a PORTABLE integer hash
  * (the same arithmetic both Spark and the DuckDB oracle can evaluate
  * bit-for-bit) and an ORDER-INDEPENDENT summary (k smallest distinct
  * values), so the estimate itself — not just some error bound — replays
  * exactly in any engine. Opaque binary sketches (Spark's HyperLogLog++
  * in `approx_count_distinct`, `count_min_sketch`) estimate the same
  * quantities but cannot be cross-checked value-for-value against a
  * second engine; when an oracle-exact contract matters more than the
  * last factor of buffer compactness, KMV is the right primitive. The
  * two coexist: `approx_count_distinct` remains the one-liner when no
  * cross-engine replay is required.
  *
  * K-minimum-values (Bar-Yossef et al. 2002): hash every value into
  * [0, M), keep the k smallest DISTINCT hashes; if the k-th smallest is
  * h_k, the distinct count is ≈ (k-1) * M / h_k (the k-th order
  * statistic of n uniform draws sits near k*M/n). Relative error
  * ~ 1/sqrt(k-2). Duplicates collapse by construction — identical
  * values hash identically and the buffer is a set.
  *
  * Scale shape: ONE shuffle on the group key; the aggregation buffer is
  * a bounded sorted array of ≤ k longs, merged map-side like any
  * partial aggregate, so shuffle bytes per group per partition are
  * ≤ 8k regardless of input volume — the property that makes distinct
  * counting viable at 100 TB, where exact per-group distinct counts
  * would shuffle every distinct value.
  */
object SketchOps {

  /** Portable value hash: ((v mod m + m) * a + b) mod m, exact long math
    * end-to-end, replayable in SQL as
    * `((v % 999999937 + 999999937) * 123456791 + 7919) % 999999937`.
    *
    * The pre-reduction keeps (v mod m + m) ≤ 2m, so the product is
    * ≤ 2m·a ≈ 2.5e17 < 2^63 for EVERY long v — no overflow divergence
    * between engines, and negatives land in [0, m) too. The multiplier
    * must be large relative to m / |value range|: an early version used
    * a = 1048573, and for ids ≤ 1500 the product never wrapped past m —
    * hashes came out monotonic in v instead of equidistributed, and the
    * KMV order-statistic estimator read 150 distinct users as ~950
    * (the k-th smallest hash sits where uniformity puts it, and an
    * unwrapped affine map is maximally non-uniform). With a ≈ m/8 the
    * map wraps every few consecutive ids and Weyl equidistribution does
    * the rest. Value sets aligned to multiples of ~m/a remain a known
    * weakness of any affine-mod-prime mix — if ids can be adversarial,
    * hash first with a cryptographic column (md5 prefix) and accept the
    * ~10x per-row cost; for sampling/sketching over organic keys the
    * arithmetic form is the right default.
    *
    * Collisions (values congruent mod m) under-count distincts
    * identically in both engines — that bias is part of the
    * (deterministic) estimator. */
  val hashM: Long = 999999937L
  def portableHash(v: Column, a: Long = 123456791L, b: Long = 7919L): Column =
    ((v.cast("long") % hashM + hashM) * a + b) % hashM

  /** Bounded k-minimum-distinct-values buffer: a sorted Array[Long] of at
    * most k entries. Insert = binary search (reject duplicates, reject
    * anything ≥ current max when full); merge = sorted-array merge
    * truncated at k. Both are order-independent, so the final buffer —
    * and the estimate — is deterministic under any partitioning. */
  final class KmvAgg(k: Int) extends Aggregator[Long, Array[Long], (Long, Long)] {
    require(k >= 3, "k must be >= 3 (estimator uses k-1 and needs slack)")

    override def zero: Array[Long] = Array.emptyLongArray

    override def reduce(buf: Array[Long], h: Long): Array[Long] = {
      val pos = java.util.Arrays.binarySearch(buf, h)
      if (pos >= 0) buf // duplicate hash: a set, not a bag
      else {
        val ins = -pos - 1
        if (buf.length >= k && ins >= k) buf // not smaller than current max
        else {
          val n = math.min(buf.length + 1, k)
          val out = new Array[Long](n)
          System.arraycopy(buf, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(buf, ins, out, ins + 1, n - ins - 1)
          out
        }
      }
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      if (a.isEmpty) return b
      if (b.isEmpty) return a
      val out = new Array[Long](math.min(a.length + b.length, k))
      var i = 0; var j = 0; var n = 0
      while (n < out.length && (i < a.length || j < b.length)) {
        val take =
          if (i >= a.length) { val v = b(j); j += 1; v }
          else if (j >= b.length) { val v = a(i); i += 1; v }
          else if (a(i) < b(j)) { val v = a(i); i += 1; v }
          else if (a(i) > b(j)) { val v = b(j); j += 1; v }
          else { val v = a(i); i += 1; j += 1; v } // same hash on both sides
        out(n) = take; n += 1
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }

    /** (number of retained hashes, k-th smallest hash or hashM if the
      * buffer never filled — in which case the retained count IS the
      * exact distinct-hash count and the caller uses it directly). */
    override def finish(buf: Array[Long]): (Long, Long) =
      if (buf.length < k) (buf.length.toLong, hashM)
      else (k.toLong, buf(k - 1))

    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
  }

  /** Per-group distinct-count estimate of `valueCol` (integral) via KMV
    * with the portable hash. Output: groupCols ++ (n_kept, kth_hash,
    * est_distinct). When a group has fewer than k distinct hashes the
    * estimate is exact (= n_kept). The estimate is floor math end-to-end
    * so the oracle compares as BIGINT, no float rounding seam. */
  def kmvDistinct(
      df: DataFrame, groupCols: Seq[String], valueCol: Column,
      k: Int): DataFrame = {
    val agg = udaf(new KmvAgg(k))
    // COUNT(DISTINCT)-style null policy: null values are not distinct
    // values. (A group consisting ONLY of null values disappears rather
    // than reporting 0 — filter upstream if that distinction matters.)
    df.filter(valueCol.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(agg(portableHash(valueCol)).as("__kmv"))
      .select(groupCols.map(col) :+
        col("__kmv._1").as("n_kept") :+
        col("__kmv._2").as("kth_hash") :+
        when(col("__kmv._1") < k, col("__kmv._1"))
          .otherwise(expr(s"${(k - 1).toLong * hashM} div `__kmv`.`_2`"))
          .cast("long").as("est_distinct"): _*)
  }

  /** The KMV buffer AS the value: the sorted ≤ k smallest distinct
    * hashes themselves, for sketch ALGEBRA across datasets — the k
    * smallest of the merged pair sketch the UNION, and membership of
    * those k in both input sketches estimates the Jaccard overlap
    * (Beyer et al. 2007's multi-set KMV). Same bounded buffer and
    * merge as [[KmvAgg]]; only `finish` differs. */
  final class KmvSketchAgg(k: Int) extends Aggregator[Long, Array[Long], Seq[Long]] {
    private val inner = new KmvAgg(k)
    override def zero: Array[Long] = inner.zero
    override def reduce(buf: Array[Long], h: Long): Array[Long] =
      inner.reduce(buf, h)
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      inner.merge(a, b)
    override def finish(buf: Array[Long]): Seq[Long] =
      scala.collection.immutable.ArraySeq.unsafeWrapArray(buf)
    override def bufferEncoder: Encoder[Array[Long]] = inner.bufferEncoder
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  // ------------------------------------------------------------- HLL

  /** HyperLogLog geometry shared between the Spark plan and the oracle
    * SQL: m = 64 registers (p = 6), value range of the non-bucket hash
    * bits `rest = h // m` < hashM/64 ≈ 2^23.9, so ρ (the geometric
    * observable) spans 1..24 and register weights are 2^(24-ρ). α₆₄ =
    * 0.709 is the HLL paper's exact table constant for m = 64, kept as
    * the rational 709/1000. */
  val hllM: Int = 64
  val hllRestBits: Int = 23
  val hllAlphaNum: Long = 709L
  val hllAlphaDen: Long = 1000L

  /** Per-group portable HyperLogLog distinct-count estimate
    * (Flajolet et al. 2007), alongside the EXACT count for calibration —
    * the estimate-vs-exact output contract of `t_cms_heavy`.
    *
    * Where KMV above keeps the k smallest hashes (≤ 8k bytes/group),
    * HLL compresses further: m fixed registers, each the MAX of a
    * geometric observable — here ρ = 1 + (trailing zero bits of
    * `rest = h // m`), with ρ(0) = restBits+1 falling out of the same
    * formula. MAX per register is the canonical mergeable partial: the
    * per-group shuffle payload is ≤ m small ints regardless of input
    * volume, and registers from disjoint shards combine losslessly —
    * the property that lets 1000 executors sketch 100 TB and merge on
    * one reducer per group.
    *
    * Everything is integer: Σ 2^(-ρ) is scaled by 2^(restBits+1) into
    * the exact integer S = Σ_b 2^(restBits+1-ρ_b) (empty registers
    * contribute 2^(restBits+1)), and the estimate is one 64-bit floor
    * division — replayable bit-for-bit in the DuckDB oracle. The
    * small-range linear-counting correction (est = m·ln(m/V)) is
    * deliberately OMITTED: ln() would open a float seam between
    * engines, and this repo's exact-replay small-n estimator is KMV
    * (kmvDistinct above, exact below k). Raw-HLL bias below n ≈ 2.5m
    * is documented here and visible against the exact column.
    *
    * ρ is computed branch-free as 1 + Σ_{k=1..restBits} [rest mod 2^k = 0]
    * (divisibility by 2^k is nested, so the indicator sum IS the
    * trailing-zero count, and rest = 0 scores all restBits terms) —
    * pure arithmetic that both engines evaluate identically, no
    * bit-intrinsics portability question.
    *
    * Plan shape: ONE scan → (group, value) distinct (map-side partial
    * distinct) feeding BOTH the register build (shuffle on
    * (group, register) with map-side MAX combine, then a ≤ m-row fold
    * per group) and the exact count (a plain count over the same
    * distinct frame). Output:
    * groupCols ++ (n_reg, est_distinct, exact_distinct). */
  def hllDistinct(
      df: DataFrame, groupCols: Seq[String], valueCol: Column): DataFrame = {
    // ONE scan feeds both outputs: the (group, value)-distinct frame is
    // simultaneously the exact count's input and the register build's
    // input (duplicates cannot move a MAX register, so hashing after
    // the distinct is value-identical — and the distinct shuffle
    // combines map-side, so this costs one bounded exchange, not a
    // second pass over 100 TB).
    val distinctVals = df
      .filter(valueCol.isNotNull)
      .select(groupCols.map(col) :+ valueCol.as("__v"): _*)
      .distinct()
    val sketch = hllEstimate(
      hllRegisters(distinctVals, groupCols, col("__v")), groupCols)
    val exact = distinctVals
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("exact_distinct"))
    sketch.join(exact, groupCols)
  }

  /** The HLL register build alone: (groupCols..., bucket, rho) with
    * rho = MAX of the geometric observable per register. Factored out
    * because MAX-per-register is duplicate-blind AND merge-associative,
    * which makes this exact same plan, on a streaming `df`, a RUNNING
    * STREAMING aggregation in Update/Complete mode: state = ≤ m small
    * rows per group, bounded by construction, never by watermark — the
    * bounded-state property the sketch exists for. The final state folds
    * to the estimate with [[hllEstimate]] as a per-group batch step over
    * the sink (two chained aggregations are not streamable in one
    * query). Stream/batch register parity is pinned in FileStreamSpec.
    *
    * Hash note: KMV reads only the ORDER of hashes, so the affine
    * portable hash is enough there; HLL reads the BITS, and an affine
    * map mod a prime keeps arithmetic-progression inputs linearly
    * structured in the low bits — measured: sequential/AP ids estimated
    * up to 1.8-2x high. One non-linear squaring round mod the same
    * prime ((h²+7919) mod M, h < 1e9 so h² < 1e18 fits BIGINT in both
    * engines) scatters the residues: the same inputs then estimate
    * within ~8% at n from 150 to 100k. Replayable verbatim in the
    * oracle SQL. */
  def hllRegisters(
      df: DataFrame, groupCols: Seq[String], valueCol: Column): DataFrame = {
    val h = (portableHash(valueCol) * portableHash(valueCol) + 7919L) % hashM
    val rho = (1 to hllRestBits)
      .map(k => when(col("__rest") % (1L << k) === 0L, 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    df.filter(valueCol.isNotNull)
      .select(groupCols.map(col) :+ h.as("__h"): _*)
      .select(groupCols.map(col) :+ (col("__h") % hllM).as("bucket") :+
        expr(s"__h div $hllM").as("__rest"): _*)
      .withColumn("__rho", rho)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("__rho")).as("rho"))
  }

  /** Fold a register table (from [[hllRegisters]], batch or the final
    * state of the streaming build) to the estimate:
    * (groupCols..., n_reg, est_distinct). Integer end-to-end:
    * Σ 2^-ρ scaled by 2^(restBits+1) into an exact integer, empty
    * registers contributing full weight, one floor division. */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String]): DataFrame = {
    val weightBits = hllRestBits + 1
    // est = α·m² / Σ 2^-ρ = (αNum·m²·2^weightBits) div (αDen·S)
    val estNum = hllAlphaNum * hllM * hllM * (1L << weightBits)
    registers
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).cast("int").as("n_reg"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $weightBits - rho)"))
          .as("__s_present"))
      .withColumn("est_distinct",
        expr(s"$estNum div ($hllAlphaDen * " +
          s"(($hllM - n_reg) * ${1L << weightBits} + __s_present))"))
      .drop("__s_present")
  }
}
