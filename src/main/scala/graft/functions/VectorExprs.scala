package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fixed-dim vector math as native kernels. The flat expression-tree
  * forms these replace (64 element_at products reduced left-to-right)
  * were codegen-friendly in a Project, but Catalyst pushes a cosine
  * THRESHOLD through to the pair join's residual condition, where the
  * ~190-node tree is evaluated per probed pair OUTSIDE whole-stage
  * codegen — interpreted Predicate evaluation measured ~12 µs/pair
  * (3+ s for 270 k candidate pairs at sf0.1, the whole cost of
  * dedup_semantic's pair stage). A kernel is one static call wherever
  * the expression lands — join condition, generated code, or
  * interpreted eval — and can never meet Janino's 64 KB method cliff.
  *
  * Semantics are EXACTLY the flat forms': every element cast
  * float→double before multiplying, accumulation left-associative with
  * NO initial value (acc starts at the first product — the association
  * order of the DuckDB oracles' no-init list_reduce), result NULL if
  * either array is null, shorter than `dim`, or has a null element in
  * the first `dim` positions (element_at's out-of-bounds/null-element
  * null, propagated through + and *).
  */
object VectorKernels {

  private def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  def dot(a: ArrayData, b: ArrayData, dim: Int,
      aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    if (a.numElements() < dim || b.numElements() < dim) return null
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      i += 1
    }
    var acc = get(a, 0, aFloat) * get(b, 0, bFloat)
    i = 1
    while (i < dim) {
      acc += get(a, i, aFloat) * get(b, i, bFloat)
      i += 1
    }
    acc
  }

  def sqNorm(a: ArrayData, dim: Int, aFloat: Boolean): java.lang.Double =
    dot(a, a, dim, aFloat, aFloat)

  def sqDist(a: ArrayData, b: ArrayData, dim: Int,
      aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    if (a.numElements() < dim || b.numElements() < dim) return null
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      i += 1
    }
    val d0 = get(a, 0, aFloat) - get(b, 0, bFloat)
    var acc = d0 * d0
    i = 1
    while (i < dim) {
      val d = get(a, i, aFloat) - get(b, i, bFloat)
      acc += d * d
      i += 1
    }
    acc
  }

  /** ±1 hyperplane/projection component from md5 parity of "i_j" — the
    * value an engine-independent SQL oracle computes as
    * (ascii(substr(md5(i||'_'||j),1,1)) % 2)*2-1. Canonical here; the
    * LSH bucketing (SimilarityOps) and the signed random projection
    * below share one matrix, so a projection's coordinate signs ARE the
    * corresponding hyperplane bits. */
  def planeSign(i: Int, j: Int): Int = mdParitySign(s"${i}_$j")

  /** Table-seeded sibling of [[planeSign]]: table t's plane family is
    * the md5 parity of "t_i_j" — independent draws, disjoint from the
    * single-table "i_j" family. Canonical here so the multi-table
    * expression ([[LshTableBucketsExpr]]), its spec reference, and any
    * oracle recipe share ONE derivation (ADVICE r12: the verbatim
    * duplication in expression + spec could silently drift). */
  def tablePlaneSign(t: Int, i: Int, j: Int): Int = mdParitySign(s"${t}_${i}_$j")

  private def mdParitySign(key: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (hex.charAt(0).toInt % 2) * 2 - 1
  }

  /** out[i] = Σ_j v[j]·signs[i][j], each row the same left-assoc no-init
    * double fold as [[dot]]. Null/short input or a null element in the
    * first `dim` positions → null (whole array, matching the fold's null
    * propagation). */
  def matVec(a: ArrayData, signs: Array[Array[Double]], nOut: Int, dim: Int,
      aFloat: Boolean): Any = {
    if (a.numElements() < dim) return null
    var j = 0
    while (j < dim) {
      if (a.isNullAt(j)) return null
      j += 1
    }
    val v = new Array[Double](dim)
    j = 0
    while (j < dim) { v(j) = get(a, j, aFloat); j += 1 }
    val out = new Array[Double](nOut)
    var i = 0
    while (i < nOut) {
      val row = signs(i)
      var acc = v(0) * row(0)
      j = 1
      while (j < dim) { acc += v(j) * row(j); j += 1 }
      out(i) = acc
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Single LSH bucket: bit i of the result = (v · signs(i) >= 0), MSB
    * first — the exact arithmetic of the SimilarityOps UDF it replaces
    * (acc folds from 0.0; 0.0 + x == x so the no-init oracle fold
    * agrees, and -0.0 >= 0 is true either way). Null/short vector or a
    * null element in the first `dim` slots → null. Returns
    * java.lang.Integer (nullable). */
  def planeBucket(a: ArrayData, signs: Array[Array[Double]],
      nPlanes: Int, dim: Int, aFloat: Boolean): java.lang.Integer = {
    if (a.numElements() < dim) return null
    var j = 0
    while (j < dim) {
      if (a.isNullAt(j)) return null
      j += 1
    }
    val v = new Array[Double](dim)
    j = 0
    while (j < dim) { v(j) = get(a, j, aFloat); j += 1 }
    var bucket = 0
    var i = 0
    while (i < nPlanes) {
      val row = signs(i)
      var acc = 0.0
      j = 0
      while (j < dim) { acc += v(j) * row(j); j += 1 }
      bucket = (bucket << 1) | (if (acc >= 0) 1 else 0)
      i += 1
    }
    bucket
  }

  /** All nTables bucket ids in one pass over the vector — the
    * multi-table E2LSH UDF's arithmetic ([[planeBucket]] per table),
    * one kernel call per row instead of a boxed Seq[java.lang.Double]
    * round-trip (measured 4.9 s task-time over 2,000 rows at 8×6×64 —
    * ~2.5 ms/row of boxing for ~3k multiply-adds). Null semantics as
    * [[planeBucket]]. */
  def tableBuckets(a: ArrayData, signs: Array[Array[Array[Double]]],
      nTables: Int, nPlanes: Int, dim: Int, aFloat: Boolean): Any = {
    if (a.numElements() < dim) return null
    var j = 0
    while (j < dim) {
      if (a.isNullAt(j)) return null
      j += 1
    }
    val v = new Array[Double](dim)
    j = 0
    while (j < dim) { v(j) = get(a, j, aFloat); j += 1 }
    val out = new Array[Int](nTables)
    var t = 0
    while (t < nTables) {
      val tab = signs(t)
      var bucket = 0
      var i = 0
      while (i < nPlanes) {
        val row = tab(i)
        var acc = 0.0
        j = 0
        while (j < dim) { acc += v(j) * row(j); j += 1 }
        bucket = (bucket << 1) | (if (acc >= 0) 1 else 0)
        i += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private[functions] def elemFloat(e: Expression, name: String): Boolean =
    e.dataType match {
      case ArrayType(FloatType, _)  => true
      case ArrayType(DoubleType, _) => false
      case other => throw new IllegalArgumentException(
        s"$name expects ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
    }

  private[functions] def checkVec(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
}

/** `vec_dot(a, b, dim)` — see [[VectorKernels.dot]]. */
case class VecDotExpr(left: Expression, right: Expression, dim: Int)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorKernels.checkVec(left.dataType) && VectorKernels.checkVec(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects ARRAY<FLOAT|DOUBLE> operands, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"
  private lazy val aF = VectorKernels.elemFloat(left, "vec_dot")
  private lazy val bF = VectorKernels.elemFloat(right, "vec_dot")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], dim, aF, bF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // freshName, NOT a fixed local — see RpProjectExpr.doGenCode
    val r = ctx.freshName("dotRes")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double $r = graft.functions.VectorKernels.dot($a, $b, $dim, $aF, $bF);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotExpr =
    copy(left = newLeft, right = newRight)
}

/** `vec_sqnorm(a, dim)` — see [[VectorKernels.sqNorm]]. */
case class VecSqNormExpr(child: Expression, dim: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorKernels.checkVec(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_sqnorm expects ARRAY<FLOAT|DOUBLE>, got ${child.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_sqnorm"
  private lazy val aF = VectorKernels.elemFloat(child, "vec_sqnorm")

  override protected def nullSafeEval(a: Any): Any =
    VectorKernels.sqNorm(a.asInstanceOf[ArrayData], dim, aF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // freshName, NOT a fixed local — see RpProjectExpr.doGenCode
    val r = ctx.freshName("sqnRes")
    nullSafeCodeGen(ctx, ev, a => s"""
      java.lang.Double $r = graft.functions.VectorKernels.sqNorm($a, $dim, $aF);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): VecSqNormExpr =
    copy(child = newChild)
}

/** `vec_sqdist(a, b, dim)` — see [[VectorKernels.sqDist]]. */
case class VecSqDistExpr(left: Expression, right: Expression, dim: Int)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorKernels.checkVec(left.dataType) && VectorKernels.checkVec(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_sqdist expects ARRAY<FLOAT|DOUBLE> operands, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_sqdist"
  private lazy val aF = VectorKernels.elemFloat(left, "vec_sqdist")
  private lazy val bF = VectorKernels.elemFloat(right, "vec_sqdist")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sqDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], dim, aF, bF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // freshName, NOT a fixed local — see RpProjectExpr.doGenCode
    val r = ctx.freshName("sqdRes")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double $r = graft.functions.VectorKernels.sqDist($a, $b, $dim, $aF, $bF);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSqDistExpr =
    copy(left = newLeft, right = newRight)
}

/** `rp_project(v, nOut, dim)` — signed random projection (JL-style
  * dimensionality reduction): out[i] = v · h_i over the md5-parity ±1
  * hyperplane family ([[VectorKernels.planeSign]]). Unscaled on purpose —
  * the JL 1/√nOut factor is a constant the caller applies (or omits:
  * relative distances and cosines are scale-invariant), and leaving it
  * off keeps every coordinate an exact signed sum both engines compute
  * bit-identically. Because the sign rows ARE the LSH hyperplanes,
  * sign(out[i]) reproduces bit i of SimilarityOps.lshBucket — pinned in
  * RetrievalSpec. */
case class RpProjectExpr(child: Expression, nOut: Int, dim: Int)
    extends UnaryExpression {
  require(nOut >= 1 && dim >= 1, "rp_project needs nOut >= 1, dim >= 1")
  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorKernels.checkVec(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rp_project expects ARRAY<FLOAT|DOUBLE>, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "rp_project"
  private lazy val aF = VectorKernels.elemFloat(child, "rp_project")
  @transient private lazy val signs: Array[Array[Double]] =
    Array.tabulate(nOut, dim)((i, j) => VectorKernels.planeSign(i, j).toDouble)

  override protected def nullSafeEval(a: Any): Any =
    VectorKernels.matVec(a.asInstanceOf[ArrayData], signs, nOut, dim, aF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("rpSigns", signs, "double[][]")
    // freshName, NOT a fixed local: with a non-nullable child
    // nullSafeCodeGen emits this snippet unwrapped at method scope, so
    // two calls in one generated method would redeclare the local and
    // janino would reject the stage (silent interpreted fallback — the
    // sorted_intersect_count r11 defect class).
    val r = ctx.freshName("rpRes")
    nullSafeCodeGen(ctx, ev, a => s"""
      Object $r = graft.functions.VectorKernels.matVec($a, $mat, $nOut, $dim, $aF);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $r; }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): RpProjectExpr =
    copy(child = newChild)
}

/** `lsh_bucket(v, nPlanes, dim)` — the single-table hyperplane LSH
  * bucket over the md5-parity "i_j" sign family (the same matrix as
  * [[RpProjectExpr]]: sign(rp_project(v)[i]) IS bit i here). Replaces
  * the SimilarityOps Scala UDF (r12): a fused COLUMN expression at
  * 8×64 terms blows Janino's 64 KB method limit and silently degrades
  * the stage to interpreted eval (why the UDF existed), but a compiled
  * kernel behind one codegen call has no such cliff and skips the UDF's
  * per-row boxed Seq[java.lang.Double] round-trip entirely. Null/short
  * vector → null bucket, as the UDF. */
case class LshBucketExpr(child: Expression, nPlanes: Int, dim: Int)
    extends UnaryExpression {
  require(nPlanes >= 1 && nPlanes <= 31 && dim >= 1,
    "lsh_bucket needs 1 <= nPlanes <= 31 (int bucket), dim >= 1")
  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorKernels.checkVec(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket expects ARRAY<FLOAT|DOUBLE>, got ${child.dataType.sql}")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "lsh_bucket"
  private lazy val aF = VectorKernels.elemFloat(child, "lsh_bucket")
  @transient private lazy val signs: Array[Array[Double]] =
    Array.tabulate(nPlanes, dim)((i, j) => VectorKernels.planeSign(i, j).toDouble)

  override protected def nullSafeEval(a: Any): Any =
    VectorKernels.planeBucket(a.asInstanceOf[ArrayData], signs, nPlanes, dim, aF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("lshSigns", signs, "double[][]")
    // freshName, NOT a fixed local — see RpProjectExpr.doGenCode
    val r = ctx.freshName("lshRes")
    nullSafeCodeGen(ctx, ev, a => s"""
      java.lang.Integer $r = graft.functions.VectorKernels.planeBucket($a, $mat, $nPlanes, $dim, $aF);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $r.intValue(); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucketExpr =
    copy(child = newChild)
}

/** `lsh_table_buckets(v, nTables, nPlanes, dim)` — all nTables E2LSH
  * bucket ids in one compiled pass; table t's planes are the md5-parity
  * family seeded "t_i_j" (independent draws, disjoint from the
  * single-table "i_j" family). Replaces the multi-table Scala UDF
  * (r12): the boxed round-trip measured 4.9 s of task time over 2,000
  * rows at 8 tables × 6 planes × 64 dims — the dominant stage of
  * ann_multitable_topk. Null/short vector → null array. */
case class LshTableBucketsExpr(
    child: Expression, nTables: Int, nPlanes: Int, dim: Int)
    extends UnaryExpression {
  require(nTables >= 1 && nPlanes >= 1 && nPlanes <= 31 && dim >= 1,
    "lsh_table_buckets needs nTables >= 1, 1 <= nPlanes <= 31, dim >= 1")
  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorKernels.checkVec(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lsh_table_buckets expects ARRAY<FLOAT|DOUBLE>, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "lsh_table_buckets"
  private lazy val aF = VectorKernels.elemFloat(child, "lsh_table_buckets")
  @transient private lazy val signs: Array[Array[Array[Double]]] =
    Array.tabulate(nTables, nPlanes, dim)(
      (t, i, j) => VectorKernels.tablePlaneSign(t, i, j).toDouble)

  override protected def nullSafeEval(a: Any): Any =
    VectorKernels.tableBuckets(
      a.asInstanceOf[ArrayData], signs, nTables, nPlanes, dim, aF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("lshTabSigns", signs, "double[][][]")
    // freshName, NOT a fixed local — see RpProjectExpr.doGenCode
    val r = ctx.freshName("lshTabRes")
    nullSafeCodeGen(ctx, ev, a => s"""
      Object $r = graft.functions.VectorKernels.tableBuckets($a, $mat, $nTables, $nPlanes, $dim, $aF);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $r; }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): LshTableBucketsExpr =
    copy(child = newChild)
}

/** `sorted_intersect_count(a, b)` — |a ∩ b| for two ARRAY<BIGINT>
  * inputs that are SORTED STRICTLY ASCENDING (sets, e.g. the
  * array_sort(collect_list(...)) adjacency lists of a distinct edge
  * list). A two-pointer merge walk: no per-row hash-set build and no
  * result-array allocation, which is what `size(array_intersect(a,b))`
  * pays per row when only the SIZE is consumed — that form measured as
  * the dominant cost of the triangle closing stage (GraphOps
  * .triangleStats). On strictly-ascending inputs the walk counts
  * exactly the set intersection, i.e. array_intersect's set semantics;
  * unsorted or duplicate-bearing inputs are OUT OF CONTRACT. */
object SortedIntersectKernel {
  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Null-checking variant for inputs typed containsNull=true:
    * ArrayData.getLong on a null slot silently reads 0, so a null
    * element would otherwise produce a plausible-but-wrong count. A
    * null element anywhere (walked or not) → SQL NULL, matching
    * array_intersect's don't-know semantics rather than guessing. Only
    * compiled into the plan when the input TYPE admits nulls — the hot
    * triangle path (array_sort∘collect_list, containsNull=false) keeps
    * the branch-free [[count]]. */
  def countChecked(a: ArrayData, b: ArrayData): java.lang.Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    while (i < na) { if (a.isNullAt(i)) return null; i += 1 }
    i = 0
    while (i < nb) { if (b.isNullAt(i)) return null; i += 1 }
    count(a, b)
  }
}

/** `packed_pairs(ids, shift)` — all C(n,2) unordered pairs of a bounded
  * DISTINCT id list, each packed into one BIGINT as `(lo << shift) | hi`
  * after an in-kernel sort (so lo < hi always, matching the
  * `a.id < b.id` self-join convention). The bounded-list pair
  * generator for co-occurrence/association queries: ONE primitive
  * long-array allocation per GROUP followed by the codegen'd `explode`
  * and a single-long-key hash aggregate — no per-pair objects, no
  * interpreted higher-order lambdas (both measured to lose in the r10
  * g7 bake-off). Bake-off honesty (r11): on the REGISTERED a19/g7
  * fixtures this form wins the isolated pair stage (0.77 vs 1.17 s)
  * but loses end-to-end, because those queries already
  * hold a distinct/checkpointed (key, item) table for their count
  * sidecars and the extra basket-collect aggregate costs more than the
  * self-join it removes — so they keep their joins (comments there).
  * The kernel EARNS its keep where no such table exists and the input
  * arrives as arrays (session/basket logs), or where per-group fan-out
  * must stay row-local; it is registered SQL surface for exactly those
  * pipelines.
  *
  * Contract (loud, not silent): every id must lie in [0, 2^shift) —
  * out-of-range throws with the offending value, because a truncated
  * pack would MERGE distinct pairs into one count (the silent-wrong
  * class ADVICE r10 flagged on getLong-over-null). shift ≤ 31 keeps
  * lo's bits inside the positive BIGINT range for any in-range hi.
  * Elements must be DISTINCT (collect_list over a distinct-keyed
  * input); a duplicate x would emit the self-pair key (x<<shift)|x
  * with lo==hi — a key the a<b self-join can never produce, i.e. a
  * SILENTLY wrong count, not a doubled one. So duplicates throw: the
  * input is already sorted in-kernel, making the adjacent-equal check
  * O(n) and free (ADVICE r11). Input arrays must be
  * typed containsNull=false (collect_list's type); enforced at
  * analysis, not silently read as zero. Null array → null. */
object PackedPairsKernel {
  def pairs(a: ArrayData, shift: Int): ArrayData = {
    val n = a.numElements()
    // n(n-1)/2 must stay in Int: past this, the pair array itself is
    // the problem (a 46k-wide group = 1B pairs) — fail loud with the
    // group size so the caller caps the hot key, instead of a wrapped
    // allocation size blowing up as NegativeArraySizeException.
    if (n > 46340) throw new IllegalArgumentException(
      s"packed_pairs: group of $n ids would emit ${n.toLong * (n - 1) / 2} " +
        "pairs — cap the group (df/deg/basket cap) before pair generation")
    val lim = 1L << shift
    val v = new Array[Long](n)
    var i = 0
    while (i < n) {
      val x = a.getLong(i)
      if (x < 0L || x >= lim) throw new IllegalArgumentException(
        s"packed_pairs: id $x outside [0, 2^$shift) — raise shift or re-key")
      v(i) = x
      i += 1
    }
    java.util.Arrays.sort(v)
    // Post-sort adjacent-equal scan: a duplicate would pack the
    // self-pair key (x<<shift)|x, un-producible by the a<b self-join
    // this kernel replaces — silent-wrong, so loud, like out-of-range.
    i = 1
    while (i < n) {
      if (v(i) == v(i - 1)) throw new IllegalArgumentException(
        s"packed_pairs: duplicate id ${v(i)} — input must be distinct " +
          "(collect_list over a distinct-keyed table, or collect_set)")
      i += 1
    }
    val out = new Array[Long](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      val lo = v(i) << shift
      var j = i + 1
      while (j < n) { out(k) = lo | v(j); k += 1; j += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

case class PackedPairsExpr(child: Expression, shift: Int)
    extends UnaryExpression {
  require(shift >= 1 && shift <= 31, "packed_pairs needs shift in [1, 31]")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "packed_pairs expects ARRAY<BIGINT> with containsNull=false " +
        s"(collect_list's type), got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "packed_pairs"

  override protected def nullSafeEval(a: Any): Any =
    PackedPairsKernel.pairs(a.asInstanceOf[ArrayData], shift)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.functions.PackedPairsKernel.pairs($a, $shift);
    """)

  override protected def withNewChildInternal(newChild: Expression): PackedPairsExpr =
    copy(child = newChild)
}

case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "sorted_intersect_count expects ARRAY<BIGINT> operands, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_intersect_count"

  /** True when either input's TYPE admits null elements — then the
    * null-scanning kernel runs (a null slot read by getLong is silently
    * 0, i.e. a wrong count). Decided from the schema once (lazy val —
    * nullSafeEval consults it per ROW on interpreted fallback), so the
    * hot triangle path (containsNull=false on both sides) compiles to
    * the branch-free kernel. */
  private lazy val needNullScan: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  })

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (needNullScan)
      SortedIntersectKernel.countChecked(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      SortedIntersectKernel.count(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (needNullScan) {
      // freshName, NOT a fixed local: with non-nullable children
      // nullSafeCodeGen emits this snippet unwrapped at method scope,
      // so two sorted_intersect_count calls in one generated method
      // would redeclare the same local and janino would reject the
      // whole stage (silent fallback to interpreted eval).
      val r = ctx.freshName("sicRes")
      nullSafeCodeGen(ctx, ev, (a, b) => s"""
        java.lang.Long $r = graft.functions.SortedIntersectKernel.countChecked($a, $b);
        if ($r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $r.longValue(); }
      """)
    } else
      nullSafeCodeGen(ctx, ev, (a, b) => s"""
        ${ev.value} = graft.functions.SortedIntersectKernel.count($a, $b);
      """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountExpr =
    copy(left = newLeft, right = newRight)
}
