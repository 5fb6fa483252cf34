package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass script-aware tokenization — the fused form of
  * `ColumnFns.tokensAlgebra`'s four-stage column pipeline
  * (`segmentScripts` regexp_replace → `trim` → `lower` → `split` →
  * `filter`). That algebra is the SPEC: it pays two full regex scans
  * plus three intermediate string/array materializations per row, which
  * round-9's CJK segmenter made the t-family's dominant cost (t3
  * 0.42→0.73 s, t13 0.88→1.76 s at sf0.1). This expression produces the
  * IDENTICAL token array in one scan with no intermediates.
  *
  * Semantics (provably equal to the algebra, pinned by
  * UnicodeTokensSpec's native==algebra parity over the nasty corpus):
  *
  *  - a separator is `\s` (ASCII space/tab/LF/VT/FF/CR — exactly Java
  *    regex `\s`) or U+3000 IDEOGRAPHIC SPACE — the algebra's split
  *    class `[\s　]+`;
  *  - every Han / Hiragana / Katakana / Hangul codepoint (the Unicode
  *    Script property, `Character.UnicodeScript` — the same table Java's
  *    `\p{IsHan}` classes consult) is its OWN token — the algebra's
  *    `segmentScripts` space-padding followed by the split;
  *  - all other codepoints accumulate into maximal runs;
  *  - each token is lowercased with [[CaseMap.lower]], the body of
  *    `lower()` under Spark's default ICU case mappings (ICU's Unicode
  *    tables, not the JDK's: they differ on cased letters added after
  *    Unicode 13, e.g. U+2C2F and U+A7C0). Per-token equals the
  *    algebra's whole-string lowering: token boundaries are separators
  *    or CJK codepoints, none of which are cased, case-ignorable or
  *    combining, and ICU's context-sensitive rules (Final_Sigma, and
  *    the tr/az/lt locales' dot-above rules) look only at adjacent runs
  *    of such characters, which never cross such a boundary;
  *  - empty runs never materialize (the algebra's `filter(_ =!= "")`;
  *    its `trim` was already subsumed by that filter).
  *
  * Supplementary codepoints (e.g. CJK Extension B, U+20000+) take the
  * surrogate-pair path: `codePointAt`/`charCount` iteration, so an
  * Extension-B ideograph is one token, not two broken surrogates —
  * matching the regex engine's codepoint semantics. */
object Tokenize {

  private def isSeparator(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' ||
      cp == '\r' || cp == 0x3000

  private def isCjk(cp: Int): Boolean = {
    // fast reject: every Han/Hiragana/Katakana/Hangul codepoint is
    // ≥ U+1100 (Hangul Jamo) — ASCII and Latin text never pays the
    // UnicodeScript binary search
    if (cp < 0x1100) return false
    val s = Character.UnicodeScript.of(cp)
    (s eq Character.UnicodeScript.HAN) || (s eq Character.UnicodeScript.HIRAGANA) ||
      (s eq Character.UnicodeScript.KATAKANA) || (s eq Character.UnicodeScript.HANGUL)
  }

  /** One scan over the string; called from generated code per row. */
  def tokens(in: UTF8String): ArrayData = {
    val s = in.toString
    val n = s.length
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    var start = -1
    while (i < n) {
      val cp = s.codePointAt(i)
      val w = Character.charCount(cp)
      if (isSeparator(cp)) {
        if (start >= 0) {
          out.add(CaseMap.lower(UTF8String.fromString(s.substring(start, i))))
          start = -1
        }
      } else if (isCjk(cp)) {
        if (start >= 0) {
          out.add(CaseMap.lower(UTF8String.fromString(s.substring(start, i))))
          start = -1
        }
        out.add(CaseMap.lower(UTF8String.fromString(s.substring(i, i + w))))
      } else if (start < 0) {
        start = i
      }
      i += w
    }
    if (start >= 0)
      out.add(CaseMap.lower(UTF8String.fromString(s.substring(start, n))))
    // Object[] and Array[Any] share erasure — the cast is free and
    // avoids an element-by-element copy
    new GenericArrayData(out.toArray().asInstanceOf[Array[Any]])
  }
}

/** `graft_tokens(text)` → array<string> of lower-cased script-aware
  * tokens. Registered by GraftFunctions; `ColumnFns.tokens` routes every
  * token-layer operator through it. */
case class TokenizeText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_tokens"

  override protected def nullSafeEval(in: Any): Any =
    Tokenize.tokens(in.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.Tokenize.tokens($in);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
