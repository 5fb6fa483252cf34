package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column builders shared by all graft operators.
  *
  * Everything here is a pure composition of `org.apache.spark.sql.functions`
  * (codegen'd, no UDFs), so operators stay inside whole-stage codegen.
  *
  * Cross-engine determinism: double sums are order-dependent, and Spark's
  * partial aggregation order differs run to run — so any aggregate that
  * feeds the DuckDB oracle goes through exact decimal arithmetic
  * (per-value cast → exact sum → cast back), making the result identical
  * regardless of partitioning. This is also the right call at 100 TB:
  * decimal partial aggs are still map-side combinable and the per-row
  * cast is codegen'd.
  */
object ColumnFns {

  /** Round in the DECIMAL domain: `round()` on a double differs between
    * engines when the exact value is a decimal half (Spark rounds the
    * shortest repr, DuckDB the binary value) — a decimal→decimal cast
    * rounds half-away-from-zero identically everywhere. */
  def decRound(c: Column, scale: Int): Column =
    c.cast(DecimalType(38, scale)).cast("double")

  /** Exact, order-independent sum of a double column, rounded to cents. */
  def decSum(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast(DecimalType(38, 2)).cast("double")

  /** Exact, order-independent sum of a PRODUCT of raw columns: each factor
    * is cast to decimal first (raw parquet values sit ~1e-9 from their
    * decimal form, so the cast is boundary-safe), then multiplied exactly.
    * Casting a computed double product instead would disagree with other
    * engines ~1/10^5 rows — decimal-domain multiplication never does. */
  def decProdSum(price: Column, factors: Column*): Column =
    sum(decProd(price, factors: _*)).cast(DecimalType(38, 2)).cast("double")

  /** Exact decimal product of raw columns WITHOUT the sum/round — for
    * two-level aggregations that sum partials exactly and round once at
    * the end (sum-then-round must happen exactly once to match the
    * single-level decProdSum bit-for-bit). */
  def decProd(price: Column, factors: Column*): Column =
    factors.foldLeft(price.cast(DecimalType(12, 4)))(
      (acc, f) => acc * f.cast(DecimalType(8, 4)))

  /** Exact-sum average, rounded to 4 decimals. NOTE: the final decRound
    * rounds a DOUBLE quotient, which diverges across engines when the
    * true rational lands on an exact decimal half (the t19/q52 finding —
    * Spark rounds the shortest repr, DuckDB the binary value). Keys that
    * can hit halves (sums of 2-decimal inputs over small counts) should
    * use [[ratRound]] on the exact integer numerator instead; this form
    * stays for the keys whose oracles already pin it. */
  def decAvg(c: Column): Column =
    decRound(sum(c.cast(DecimalType(18, 4))).cast("double") / count(lit(1)), 4)

  /** Round-half-away-from-zero of the exact integer rational
    * `(numSql)/(denSql)` (den > 0) at 10^-scale, entirely in integer
    * arithmetic (DECIMAL(38,0) products, one `div`, one final exact
    * scale-down of an integer) — bit-deterministic in every engine,
    * immune to the double→decimal half-tie divergence decRound carries.
    * Operands are SQL fragments naming in-scope columns (expr-built, so
    * the same text replays in a DuckDB oracle with HUGEINT in place of
    * DECIMAL(38,0) and `//` for `div`). */
  def ratRound(numSql: String, denSql: String, scale: Int): Column = {
    val f = "1" + "0" * scale
    expr(
      s"""CAST(CAST((abs(CAST(($numSql) AS DECIMAL(38,0))) * (2 * $f)
            + ($denSql)) div (2 * CAST(($denSql) AS DECIMAL(38,0)))
          AS BIGINT)
          * (CASE WHEN ($numSql) < 0 THEN -1 ELSE 1 END)
          AS DOUBLE) / $f.0""")
  }

  /** Timestamp → stable string forms (hash-identical across engines). */
  def fmtDate(c: Column): Column = date_format(c, "yyyy-MM-dd")
  def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Epoch seconds (floor), matching DuckDB CAST(floor(epoch(ts)) AS BIGINT). */
  def epochSec(c: Column): Column = unix_timestamp(c)

  /** `lower(c)`/`upper(c)` through the `graft_lower`/`graft_upper`
    * kernels ([[graft.functions.CaseMap]]): the same values, without the
    * ~1 s class initializer Spark's own case mapping runs on its first
    * call in a JVM. Every operator case-maps through these. */
  def lowerCase(c: Column): Column = call_function("graft_lower", c)
  def upperCase(c: Column): Column = call_function("graft_upper", c)

  /** Script-aware pre-segmentation: Han / Hiragana / Katakana / Hangul
    * text carries no whitespace word boundaries, so a whitespace split
    * collapses a whole CJK line into ONE degenerate token — poisoning
    * token counts, BPE pre-segmentation, span dedup and packing budgets.
    * Each such codepoint is spaced out into its own token before the
    * split (the standard per-codepoint granularity for dedup/counting;
    * Korean is space-delimited but per-syllable tokens are used for the
    * same granularity). Both engines key the class off the Unicode
    * Script property (Java `\p{IsHan}` == RE2 `\p{Han}`), so the oracle
    * (SparkEntry's `toks` SQL) segments identically; codepoints added
    * after Unicode 13 (Java 17's table) are the one disagreement window
    * and never appear in the test corpora. Pure ASCII is a fixed point:
    * the regex matches nothing and the result is the old whitespace
    * split bit-for-bit. */
  private val CjkSeg =
    "([\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}])"

  def segmentScripts(text: Column): Column =
    regexp_replace(text, CjkSeg, " $1 ")

  /** Lower-cased, script-segmented whitespace tokens, empties dropped.
    * Evaluated by the single-pass native expression ([[graft.functions
    * .Tokenize]], registered as `graft_tokens`) — one scan, no regex,
    * no intermediate strings; [[tokensAlgebra]] is the four-stage
    * column-algebra SPEC it is parity-tested against. */
  def tokens(text: Column): Column = call_function("graft_tokens", text)

  /** The column-algebra reference form of [[tokens]] — 2 regex scans +
    * 3 intermediates per row, kept as the executable spec the native
    * expression is asserted token-for-token equal to
    * (UnicodeTokensSpec), and as the direct mirror of the DuckDB
    * oracle's `toks` fragment. The split class includes U+3000
    * (ideographic space, script=Common — not caught by the CJK class
    * and not matched by either engine's ASCII-only `\s`). */
  def tokensAlgebra(text: Column): Column =
    filter(split(lower(trim(segmentScripts(text))), "[\\s　]+"), t => t =!= "")

  /** Distinct word n-gram shingles over a MATERIALIZED token-array column.
    *
    * Callers must pass a projected column (`withColumn("toks", tokens(...))`),
    * never an inline `tokens(text)` expression: subexpressions referenced
    * inside HOF lambdas are re-evaluated per element access, turning a
    * linear scan into O(len²) per row (measured 30× on the bench).
    */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column =
    array_distinct(rawShinglesFromTokens(toks, n))

  /** RAW (non-distinct) n-gram shingles over a materialized token array —
    * for intra-document repetition measurement, where duplicate shingles
    * are the signal that [[shinglesFromTokens]]'s distinct would erase. */
  def rawShinglesFromTokens(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)))
      .otherwise(array(concat_ws(" ", toks)))

  /** Distinct word n-gram shingles over [[tokens]] (space-joined).
    * Convenience form for tests/small data; hot paths use
    * [[shinglesFromTokens]] on a materialized column. */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(tokens(text), n)

  /** Jaccard similarity of two pre-distinct arrays: |∩| / |∪| (exact
    * int/int division — bit-identical across engines). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Vector ops over array<float|double> columns; math in double. */
  def toDoubleVec(c: Column): Column = c.cast("array<double>")

  /** Dot product via the native codegen expression (registered by
    * Tables.tune / GraftFunctions.register). Same left-to-right summation
    * order as the HOF formulation, so results are bit-identical. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Interpreted HOF fallback (no registry needed); same semantics. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Stopword hit count over a token array (for lang-ID / quality). */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(words.map(lit): _*), t)))

  /** Winnowing-style document fingerprint: min polynomial hash over all
    * char 4-grams. Pure integer math — exact in any engine. */
  def fingerprint(text: Column): Column = fingerprintFromChars(split(text, ""))

  /** Same, over a materialized char-array column (hot path — see
    * [[shinglesFromTokens]] for why). */
  def fingerprintFromChars(chars: Column): Column = {
    val win = transform(
      sequence(lit(0), size(chars) - 4),
      i =>
        ascii(element_at(chars, i + 1)) * 29791 +
          ascii(element_at(chars, i + 2)) * 961 +
          ascii(element_at(chars, i + 3)) * 31 +
          ascii(element_at(chars, i + 4)))
    when(size(chars) >= 4, array_min(win)).otherwise(lit(null).cast("int"))
  }
}
