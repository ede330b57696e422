package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.IntegerType

import graft.functions.{AsciiTokensExpr, BpeCountExpr, BpeTokensExpr,
  GraphemeLenExpr, KGramsExpr, NfcNormalizeExpr, PackedPairsExpr, RepStatsExpr,
  LangHitsExpr, LshBucketExpr, LshTableBucketsExpr, MinHashLanesExpr,
  RpProjectExpr, SimHashExpr,
  SortableBitsExpr, SortedIntersectCountExpr, TfMapExpr,
  VecDotExpr, VecSqDistExpr, VecSqNormExpr, WsWordCountExpr}

/** SparkSessionExtensions hook (enable with
  * `spark.sql.extensions=graft.GraftExtensions`, set by [[Sessions.builder]]):
  * registers the codegen'd native expressions in the session's function
  * registry so the SQL path gets them without UDF overhead. Per SURVEY
  * §4.2 no custom optimizer Rule / SparkStrategy is warranted — every
  * operator's semantics fit Catalyst's plan algebra — so function
  * injection is the only extension point the engine uses.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("ascii_tokens"),
      new ExpressionInfo(classOf[AsciiTokensExpr].getName, "ascii_tokens"),
      (children: Seq[Expression]) =>
        AsciiTokensExpr(children.head, withDigits = true, minLen = 1)))
    ext.injectFunction((
      FunctionIdentifier("ascii_alpha_tokens"),
      new ExpressionInfo(classOf[AsciiTokensExpr].getName, "ascii_alpha_tokens"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => AsciiTokensExpr(c, withDigits = false, minLen = 1)
        case Seq(c, Literal(m: Int, IntegerType)) =>
          AsciiTokensExpr(c, withDigits = false, minLen = m)
        case _ => throw new IllegalArgumentException(
          "ascii_alpha_tokens(text[, minLen literal])")
      }))
    ext.injectFunction((
      FunctionIdentifier("bpe_tokens"),
      new ExpressionInfo(classOf[BpeTokensExpr].getName, "bpe_tokens"),
      (children: Seq[Expression]) => BpeTokensExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("bpe_count"),
      new ExpressionInfo(classOf[BpeCountExpr].getName, "bpe_count"),
      (children: Seq[Expression]) => BpeCountExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("lang_hits"),
      new ExpressionInfo(classOf[LangHitsExpr].getName, "lang_hits"),
      (children: Seq[Expression]) => LangHitsExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("ws_word_count"),
      new ExpressionInfo(classOf[WsWordCountExpr].getName, "ws_word_count"),
      (children: Seq[Expression]) => WsWordCountExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("tf_map"),
      new ExpressionInfo(classOf[TfMapExpr].getName, "tf_map"),
      (children: Seq[Expression]) => TfMapExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("rep_stats"),
      new ExpressionInfo(classOf[RepStatsExpr].getName, "rep_stats"),
      (children: Seq[Expression]) => RepStatsExpr(children.head)))
    def kgramsBuilder(distinct: Boolean): Seq[Expression] => Expression = {
      case Seq(c, Literal(k: Int, IntegerType)) => KGramsExpr(c, k, distinct)
      case _ => throw new IllegalArgumentException(
        "kgrams/distinct_kgrams(tokens, k literal)")
    }
    ext.injectFunction((
      FunctionIdentifier("kgrams"),
      new ExpressionInfo(classOf[KGramsExpr].getName, "kgrams"),
      kgramsBuilder(distinct = false)))
    ext.injectFunction((
      FunctionIdentifier("distinct_kgrams"),
      new ExpressionInfo(classOf[KGramsExpr].getName, "distinct_kgrams"),
      kgramsBuilder(distinct = true)))
    ext.injectFunction((
      FunctionIdentifier("ascii_simhash"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "ascii_simhash"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(b: Int, IntegerType)) => SimHashExpr(c, b)
        case _ => throw new IllegalArgumentException(
          "ascii_simhash(text, bits literal)")
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_lanes"),
      new ExpressionInfo(classOf[MinHashLanesExpr].getName, "minhash_lanes"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(k: Int, IntegerType), Literal(n: Int, IntegerType)) =>
          MinHashLanesExpr(c, k, n)
        case _ => throw new IllegalArgumentException(
          "minhash_lanes(tokens, k literal, numHashes literal)")
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDotExpr].getName, "vec_dot"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b, Literal(d: Int, IntegerType)) => VecDotExpr(a, b, d)
        case _ => throw new IllegalArgumentException("vec_dot(a, b, dim literal)")
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_sqnorm"),
      new ExpressionInfo(classOf[VecSqNormExpr].getName, "vec_sqnorm"),
      (children: Seq[Expression]) => children match {
        case Seq(a, Literal(d: Int, IntegerType)) => VecSqNormExpr(a, d)
        case _ => throw new IllegalArgumentException("vec_sqnorm(a, dim literal)")
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_sqdist"),
      new ExpressionInfo(classOf[VecSqDistExpr].getName, "vec_sqdist"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b, Literal(d: Int, IntegerType)) => VecSqDistExpr(a, b, d)
        case _ => throw new IllegalArgumentException("vec_sqdist(a, b, dim literal)")
      }))
    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(
        classOf[SortedIntersectCountExpr].getName, "sorted_intersect_count"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => SortedIntersectCountExpr(a, b)
        case _ => throw new IllegalArgumentException(
          "sorted_intersect_count(a, b)")
      }))
    ext.injectFunction((
      FunctionIdentifier("packed_pairs"),
      new ExpressionInfo(classOf[PackedPairsExpr].getName, "packed_pairs"),
      (children: Seq[Expression]) => children match {
        case Seq(a, Literal(s: Int, IntegerType)) => PackedPairsExpr(a, s)
        case _ => throw new IllegalArgumentException(
          "packed_pairs(ids, shift literal)")
      }))
    ext.injectFunction((
      FunctionIdentifier("sortable_bits"),
      new ExpressionInfo(classOf[SortableBitsExpr].getName, "sortable_bits"),
      (children: Seq[Expression]) => SortableBitsExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "nfc_normalize"),
      (children: Seq[Expression]) => NfcNormalizeExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("grapheme_len"),
      new ExpressionInfo(classOf[GraphemeLenExpr].getName, "grapheme_len"),
      (children: Seq[Expression]) => GraphemeLenExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("rp_project"),
      new ExpressionInfo(classOf[RpProjectExpr].getName, "rp_project"),
      (children: Seq[Expression]) => children match {
        case Seq(a, Literal(n: Int, IntegerType), Literal(d: Int, IntegerType)) =>
          RpProjectExpr(a, n, d)
        case _ => throw new IllegalArgumentException(
          "rp_project(v, nOut literal, dim literal)")
      }))
    ext.injectFunction((
      FunctionIdentifier("lsh_bucket"),
      new ExpressionInfo(classOf[LshBucketExpr].getName, "lsh_bucket"),
      (children: Seq[Expression]) => children match {
        case Seq(a, Literal(p: Int, IntegerType), Literal(d: Int, IntegerType)) =>
          LshBucketExpr(a, p, d)
        case _ => throw new IllegalArgumentException(
          "lsh_bucket(v, nPlanes literal, dim literal)")
      }))
    ext.injectFunction((
      FunctionIdentifier("lsh_table_buckets"),
      new ExpressionInfo(classOf[LshTableBucketsExpr].getName, "lsh_table_buckets"),
      (children: Seq[Expression]) => children match {
        case Seq(a, Literal(t: Int, IntegerType), Literal(p: Int, IntegerType),
            Literal(d: Int, IntegerType)) =>
          LshTableBucketsExpr(a, t, p, d)
        case _ => throw new IllegalArgumentException(
          "lsh_table_buckets(v, nTables literal, nPlanes literal, dim literal)")
      }))
  }
}
