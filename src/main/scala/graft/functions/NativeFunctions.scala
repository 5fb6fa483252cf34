package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The one table of graft's native SQL functions: name, expression class
  * and an arity-checked builder. Both registries iterate over it —
  * `GraftFunctions.register` (the `Tables.tune` path, temp functions on
  * an existing session) and `GraftExtensions` (sessions built with
  * `spark.sql.extensions`) — so the two surfaces expose the same set. */
object NativeFunctions {
  final case class Fn(name: String, cls: Class[_], builder: Seq[Expression] => Expression)

  private def fn(name: String, arity: Int, cls: Class[_])(
      mk: Seq[Expression] => Expression): Fn =
    Fn(name, cls, FnArity.checked(name, arity)(mk))

  val all: Seq[Fn] = Seq(
    fn("graft_dot", 2, classOf[DotProduct])(a => DotProduct(a(0), a(1))),
    fn("graft_dot_long", 2, classOf[LongDot])(a => LongDot(a(0), a(1))),
    fn("graft_intersect_n", 2, classOf[SortedIntersectCount])(a =>
      SortedIntersectCount(a(0), a(1))),
    fn("graft_minhash64", 1, classOf[MinHashSignature])(a => MinHashSignature(a(0))),
    fn("graft_simhash64", 1, classOf[SimHash])(a => SimHash(a(0))),
    fn("graft_fingerprint", 1, classOf[RollingFingerprint])(a => RollingFingerprint(a(0))),
    fn("graft_nfkc", 1, classOf[NfkcNormalize])(a => NfkcNormalize(a(0))),
    // lower()/upper() without Spark's whole-Unicode title-case table
    fn("graft_lower", 1, classOf[GraftLower])(a => GraftLower(a(0))),
    fn("graft_upper", 1, classOf[GraftUpper])(a => GraftUpper(a(0))),
    // single-pass script-aware tokenization (the t-family's hot loop)
    fn("graft_tokens", 1, classOf[TokenizeText])(a => TokenizeText(a(0))),
    // classic Porter 1980 stemming (t26's per-token hot loop)
    fn("graft_porter", 1, classOf[PorterStem])(a => PorterStem(a(0))),
    // Luhn checksum validity (payment-card PII verification)
    fn("graft_luhn", 1, classOf[LuhnValid])(a => LuhnValid(a(0))),
    // compressed-size quality signal (DEFLATE byte count)
    fn("graft_deflate_len", 1, classOf[DeflateLen])(a => DeflateLen(a(0))),
    fn("graft_sign_dots", 2, classOf[SignDotsExpr])(a => SignDotsExpr(a(0), a(1))),
    fn("graft_rep_signals", 1, classOf[RepSignalsExpr])(a => RepSignalsExpr(a(0))),
    fn("graft_exif_gps", 3, classOf[ExifGpsExpr])(a => ExifGpsExpr(a(0), a(1), a(2))),
    fn("graft_pq_codes", 3, classOf[PqCodesExpr])(a => PqCodesExpr(a(0), a(1), a(2))),
    // IVF cell assignment against a constant pivot set (s3/s12/s15/st41)
    fn("graft_ivf_cells", 4, classOf[IvfCellsExpr])(a =>
      IvfCellsExpr(a(0), a(1), a(2), a(3))),
    fn("graft_cdc_chunks", 2, classOf[CdcChunksExpr])(a => CdcChunksExpr(a(0), a(1))),
    fn("graft_token_window_hashes", 2, classOf[TokenWindowHashesExpr])(a =>
      TokenWindowHashesExpr(a(0), a(1))),
    fn("graft_char_window_hashes", 2, classOf[CharWindowHashesExpr])(a =>
      CharWindowHashesExpr(a(0), a(1))),
    fn("graft_term_buckets", 2, classOf[TermBucketCounts])(a => TermBucketCounts(a(0), a(1))),
    // rank-weighted char-n-gram profile scoring (t14's hot loop);
    // args: (text, array<string> profile table — see NgramScores.parse)
    fn("graft_ngram_score", 2, classOf[NgramScore])(a => NgramScore(a(0), a(1))),
    // subword segmenters against a literal fitted table: BPE ("a b"
    // merge pairs in rank order), unigram-LM Viterbi ("<piece>
    // <logp-bits>" rows), WordPiece greedy longest-match (pieces with
    // ##-prefixed continuations)
    fn("graft_bpe_segment", 2, classOf[BpeSegment])(a => BpeSegment(a(0), a(1))),
    fn("graft_unigram_segment", 2, classOf[UnigramSegment])(a =>
      UnigramSegment(a(0), a(1))),
    fn("graft_wordpiece_segment", 2, classOf[WordpieceSegment])(a =>
      WordpieceSegment(a(0), a(1))),
    // mergeable KLL quantile sketches (Spark has no re-mergeable
    // quantile state)
    fn("graft_kll_agg", 2, classOf[KllSketchAgg])(a => KllSketchAgg(a(0), a(1))),
    fn("graft_kll_merge", 2, classOf[KllMergeAgg])(a => KllMergeAgg(a(0), a(1))),
    fn("graft_kll_quantiles", 2, classOf[KllQuantiles])(a => KllQuantiles(a(0), a(1))),
    // build-once/probe-many bloom membership (Curation.bloomGate). The
    // probe is graft's BloomContains, not Spark's BloomFilterMightContain,
    // whose codegen breaks when the probe folds to a negative literal
    // (see BloomContains); the build side is Spark's own aggregate, which
    // upstream keeps off the SQL registry. args: (long hash column,
    // estimatedNumItems, numBits)
    fn("graft_bloom_contains", 2, classOf[BloomContains])(a => BloomContains(a(0), a(1))),
    fn("graft_bloom_agg", 3, classOf[BloomFilterAggregate])(a =>
      new BloomFilterAggregate(a(0), a(1), a(2))))
}
