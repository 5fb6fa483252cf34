package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BloomContains, BpeSegment, CdcChunksExpr, CharWindowHashesExpr, DeflateLen, DotProduct, FnArity, KllMergeAgg, KllQuantiles, KllSketchAgg, LongDot, LuhnValid, MinHashSignature, NfkcNormalize, NgramScore, PorterStem, PqCodesExpr, RollingFingerprint, SignDotsExpr, SimHash, SortedIntersectCount, TermBucketCounts, TokenWindowHashesExpr, TokenizeText, UnigramSegment, WordpieceSegment}

/** Spark extensions entry point: lets any session pick up graft's native
  * expressions at build time —
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * (Sessions built by graft itself get the same functions via
  * `Tables.tune`, which registers post-hoc; this class is for sessions
  * graft does not construct, e.g. spark-submit / Thrift server users
  * calling `graft_dot` from SQL. Builders are arity-guarded like the
  * GraftFunctions copies: wrong-arity SQL calls get WRONG_NUM_ARGS, not
  * IndexOutOfBoundsException.)
  *
  * Such sessions should also size the generated-code cache at build
  * time, `.config("spark.sql.codegen.cache.maxEntries", "1000")` as
  * `Tables.tune` does: it is a static conf that Spark reads once, at the
  * JVM's first compile, and at its default of 100 entries re-running
  * graft's plans recompiles them (see `Tables.tune`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      FnArity.checked("graft_dot", 2)(args => DotProduct(args(0), args(1)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_intersect_n"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "graft_intersect_n"),
      FnArity.checked("graft_intersect_n", 2)(args =>
        SortedIntersectCount(args(0), args(1)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash64"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash64"),
      FnArity.checked("graft_minhash64", 1)(args => MinHashSignature(args(0)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash].getName, "graft_simhash64"),
      FnArity.checked("graft_simhash64", 1)(args => SimHash(args(0)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[RollingFingerprint].getName, "graft_fingerprint"),
      FnArity.checked("graft_fingerprint", 1)(args => RollingFingerprint(args(0)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_nfkc"),
      new ExpressionInfo(classOf[NfkcNormalize].getName, "graft_nfkc"),
      FnArity.checked("graft_nfkc", 1)(args => NfkcNormalize(args(0)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_porter"),
      new ExpressionInfo(classOf[PorterStem].getName, "graft_porter"),
      FnArity.checked("graft_porter", 1)(args => PorterStem(args(0)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_luhn"),
      new ExpressionInfo(classOf[LuhnValid].getName, "graft_luhn"),
      FnArity.checked("graft_luhn", 1)(args => LuhnValid(args(0)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_deflate_len"),
      new ExpressionInfo(classOf[DeflateLen].getName, "graft_deflate_len"),
      FnArity.checked("graft_deflate_len", 1)(args => DeflateLen(args(0)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_tokens"),
      new ExpressionInfo(classOf[TokenizeText].getName, "graft_tokens"),
      FnArity.checked("graft_tokens", 1)(args => TokenizeText(args(0)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_sign_dots"),
      new ExpressionInfo(classOf[SignDotsExpr].getName, "graft_sign_dots"),
      FnArity.checked("graft_sign_dots", 2)(args =>
        SignDotsExpr(args(0), args(1)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_rep_signals"),
      new ExpressionInfo(classOf[graft.functions.RepSignalsExpr].getName,
        "graft_rep_signals"),
      FnArity.checked("graft_rep_signals", 1)(args =>
        graft.functions.RepSignalsExpr(args(0)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_exif_gps"),
      new ExpressionInfo(classOf[graft.functions.ExifGpsExpr].getName,
        "graft_exif_gps"),
      FnArity.checked("graft_exif_gps", 3)(args =>
        graft.functions.ExifGpsExpr(args(0), args(1), args(2)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_codes"),
      new ExpressionInfo(classOf[PqCodesExpr].getName, "graft_pq_codes"),
      FnArity.checked("graft_pq_codes", 3)(args =>
        PqCodesExpr(args(0), args(1), args(2)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot_long"),
      new ExpressionInfo(classOf[LongDot].getName, "graft_dot_long"),
      FnArity.checked("graft_dot_long", 2)(args => LongDot(args(0), args(1)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunksExpr].getName, "graft_cdc_chunks"),
      FnArity.checked("graft_cdc_chunks", 2)(args =>
        CdcChunksExpr(args(0), args(1)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_token_window_hashes"),
      new ExpressionInfo(classOf[TokenWindowHashesExpr].getName,
        "graft_token_window_hashes"),
      FnArity.checked("graft_token_window_hashes", 2)(args =>
        TokenWindowHashesExpr(args(0), args(1)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_term_buckets"),
      new ExpressionInfo(classOf[TermBucketCounts].getName,
        "graft_term_buckets"),
      FnArity.checked("graft_term_buckets", 2)(args =>
        TermBucketCounts(args(0), args(1)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_char_window_hashes"),
      new ExpressionInfo(classOf[CharWindowHashesExpr].getName,
        "graft_char_window_hashes"),
      FnArity.checked("graft_char_window_hashes", 2)(args =>
        CharWindowHashesExpr(args(0), args(1)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_ngram_score"),
      new ExpressionInfo(classOf[NgramScore].getName, "graft_ngram_score"),
      FnArity.checked("graft_ngram_score", 2)(args => NgramScore(args(0), args(1)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_bpe_segment"),
      new ExpressionInfo(classOf[BpeSegment].getName, "graft_bpe_segment"),
      FnArity.checked("graft_bpe_segment", 2)(args => BpeSegment(args(0), args(1)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_unigram_segment"),
      new ExpressionInfo(classOf[UnigramSegment].getName, "graft_unigram_segment"),
      FnArity.checked("graft_unigram_segment", 2)(args =>
        UnigramSegment(args(0), args(1)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_wordpiece_segment"),
      new ExpressionInfo(classOf[WordpieceSegment].getName, "graft_wordpiece_segment"),
      FnArity.checked("graft_wordpiece_segment", 2)(args =>
        WordpieceSegment(args(0), args(1)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_kll_agg"),
      new ExpressionInfo(classOf[KllSketchAgg].getName, "graft_kll_agg"),
      FnArity.checked("graft_kll_agg", 2)(args => KllSketchAgg(args(0), args(1)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_kll_merge"),
      new ExpressionInfo(classOf[KllMergeAgg].getName, "graft_kll_merge"),
      FnArity.checked("graft_kll_merge", 2)(args => KllMergeAgg(args(0), args(1)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_kll_quantiles"),
      new ExpressionInfo(classOf[KllQuantiles].getName, "graft_kll_quantiles"),
      FnArity.checked("graft_kll_quantiles", 2)(args => KllQuantiles(args(0), args(1)))))
    // graft-native BloomContains, not Spark's BloomFilterMightContain:
    // the internal class's codegen breaks (janino mis-parse → silent
    // interpreter fallback) when the probe side folds to a negative
    // literal — see BloomContains's scaladoc
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName, "graft_bloom_contains"),
      FnArity.checked("graft_bloom_contains", 2)(args =>
        BloomContains(args(0), args(1)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      FnArity.checked("graft_bloom_agg", 3)(args =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          args(0), args(1), args(2)))))
    // HOF dot-product → native graft_dot rewrite (semantics-guarded)
    ext.injectOptimizerRule(_ => graft.plans.NativeVectorRewrite)
    // whole-operator as-of join: logical node → sorted-merge SparkPlan
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
