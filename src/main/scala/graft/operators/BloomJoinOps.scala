package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-prefiltered equi-join: build a Bloom sketch of the (filtered)
  * dimension side's key set, drop fact rows that cannot match BEFORE the
  * join's exchange, then run the exact join.
  *
  * The 100 TB story: when the dim side is too large to broadcast-hash-join
  * (tens of millions of keys) but selective against the fact table, the
  * shuffle dominates — every fact row is hashed, serialized, and spilled
  * just to be dropped by the join. A Bloom sketch of the dim keys is a few
  * MB broadcast regardless of fact size; pre-filtering the scan means the
  * exchange carries only probable matches. False positives survive the
  * prefilter but die in the exact join, so the RESULT is bit-identical to
  * the plain join — the sketch affects cost, never semantics (which is
  * what lets a plain-SQL oracle check it). Spark's own runtime bloom
  * filter (InjectRuntimeFilter) makes the same move plan-side when its
  * thresholds line up; this operator is the explicit, always-on form.
  *
  * Scala UDF justification (functions-over-UDFs rule): the public column
  * API has no might_contain; `BloomFilterMightContain` is internal. The
  * sketch rides a broadcast variable, probe is two xxhash64 evaluations
  * per row against a bitmap — no per-row allocation.
  */
object BloomJoinOps {

  /** Inner equi-join of `fact` to `dim` on long keys `factKey == dimKey`,
    * with a dim-side Bloom prefilter on the fact scan.
    *
    * @param expectedKeys sizing for the sketch (overestimate is safe)
    * @param fpp          false-positive rate: tune against shuffle saved —
    *                     1% costs ~9.6 bits/key (12 MB per 10M keys)
    */
  def bloomPrefilteredJoin(
      fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String,
      expectedKeys: Long = 1L << 20, fpp: Double = 0.01): DataFrame = {
    val spark = fact.sparkSession
    // Driver-side sketch build: one pass over the dim keys (order- and
    // partitioning-independent — Bloom insert is a bitwise OR). This is
    // bounded model state like the k-means centroids, not row data.
    val bf = dim.stat.bloomFilter(dimKey, expectedKeys, fpp)
    val bcast = spark.sparkContext.broadcast(bf)
    val mightContain = udf { (k: java.lang.Long) =>
      k != null && bcast.value.mightContainLong(k)
    }
    // shuffle_hash on the exact join: the operator's contract is "dim
    // too large to broadcast" — letting Spark auto-broadcast the dim at
    // test SF (it did, per the AQE-descending broadcast audit) would make
    // the prefilter pointless AND model the wrong plan. The hinted join
    // carries only bloom-surviving fact rows into its exchange, which
    // is the entire point of the operator.
    fact.filter(mightContain(col(factKey)))
      .join(dim.hint("shuffle_hash"), col(factKey) === col(dimKey))
  }

  /** The prefilter alone (for composing with other join shapes). */
  def bloomPrefilter(
      fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
      expectedKeys: Long = 1L << 20, fpp: Double = 0.01): DataFrame = {
    val bf = dim.stat.bloomFilter(dimKey, expectedKeys, fpp)
    val bcast = fact.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf { (k: java.lang.Long) =>
      k != null && bcast.value.mightContainLong(k)
    }
    fact.filter(mightContain(col(factKey)))
  }
}
