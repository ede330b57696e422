package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType)` embedding columns, written as
  * higher-order column expressions (codegen-friendly, no UDF in the hot
  * path). Products are computed in double (cast before multiply) so the
  * DuckDB oracle — which also widens to double — matches bit-for-bit.
  */
object VectorFns {

  /** Dense copy of the first `dim` elements of a UDF-side vector. Call
    * AFTER validating null/length — this does no checks. Catalyst hands
    * Scala UDFs a linked List for array columns (Scala 2.13), so a
    * positional `v(j)` inner loop is O(j) per access = O(dim²) list-node
    * hops per row — measured as 4.1 s of a 4.5 s ANN stage at sf0.1.
    * One iterator pass into a primitive array restores O(dim). */
  def densePrefix(v: Seq[java.lang.Double], dim: Int): Array[Double] = {
    val arr = new Array[Double](dim)
    val it = v.iterator
    var j = 0
    while (j < dim) { arr(j) = it.next(); j += 1 }
    arr
  }

  /** Σ a[i]*b[i] over a known dimension, as the native vec_dot kernel
    * (VectorKernels.dot — identical semantics to a flat element_at
    * tree: per-element double cast, left-assoc
    * no-init accumulation, element_at null/OOB -> null). One static call
    * wherever the expression lands: the flat ~190-node tree was fine in
    * a Project but got pushed into pair-join residual CONDITIONS, where
    * it was evaluated per probed pair outside whole-stage codegen
    * (~12 µs/pair interpreted — the whole cost of a near-dup pair
    * stage). */
  def dotFlat(a: Column, b: Column, dim: Int): Column =
    call_function("vec_dot", a, b, lit(dim))

  /** Σ a[i]^2 (double), native kernel form. */
  def sqNormFlat(a: Column, dim: Int): Column =
    call_function("vec_sqnorm", a, lit(dim))

  /** Cosine when norms are precomputed columns (saves re-reduction in
    * pairwise joins — at scale, norm is computed once per vector, not once
    * per pair). */
  def cosineWithNorms(dotCol: Column, normA: Column, normB: Column): Column =
    dotCol / (normA * normB)
}
