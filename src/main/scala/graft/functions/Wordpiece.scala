package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** WordPiece subword tokenization — the THIRD production tokenizer
  * family beside BPE ([[Bpe]]) and unigram-LM ([[Unigram]]): the
  * published algorithm behind the BERT tokenizer (Schuster & Nakajima,
  * ICASSP 2012; Wu et al. 2016 §4.1). LEARN merges like BPE but scores
  * each candidate pair by `count(ab) / (count(a) · count(b))` — the
  * likelihood-gain objective that prefers merging pieces which are rare
  * on their own (the training rule documented in the public
  * HuggingFace tokenizers reference); word-internal continuation
  * pieces carry the `##` prefix. APPLY needs no merge ranks at all:
  * greedy LONGEST-MATCH-FIRST against the vocabulary, and a word with
  * any unmatchable position becomes a single `[UNK]` (the BERT
  * whole-word fallback).
  *
  * Scale posture mirrors the other two families: learning touches only
  * the (word, count) aggregate — vocab-bounded, never the corpus —
  * and apply is a map-side codegen expression with the vocabulary
  * riding along as a broadcast-sized reference object.
  *
  * Determinism contract: pair scores are compared as EXACT integer
  * cross-products (BigInt — `cnt_ab·cA'·cB'` vs `cnt_a'b'·cA·cB`),
  * never as floating ratios, with a lexicographic pair tie-break —
  * two fits on the same dict are bit-identical on any JVM. */
object Wordpiece {

  val Unk = "[UNK]"

  /** Strip the continuation marker for display/loss checks. */
  def strip(piece: String): String =
    if (piece.startsWith("##")) piece.substring(2) else piece

  private def isCont(sym: String): Boolean = sym.startsWith("##")

  /** The merged form of an adjacent pair: the right side's `##` is
    * absorbed (`un ##able` → `unable`, `##ab ##le` → `##able`). */
  private def joined(a: String, b: String): String = a + strip(b)

  /** Learn `numMerges` merges from a word-frequency table; returns the
    * final vocabulary (initial alphabet + merged symbols), sorted.
    * Initial alphabet: each word's first char as-is plus `##`-prefixed
    * continuations — the WordPiece word-internal marking. */
  def learn(wordCounts: Seq[(String, Long)], numMerges: Int): Seq[String] = {
    var vocab = wordCounts.map { case (w, c) =>
      val syms = new Array[String](w.length)
      var j = 0
      while (j < w.length) {
        syms(j) = if (j == 0) String.valueOf(w.charAt(j))
                  else "##" + w.charAt(j)
        j += 1
      }
      (syms.toVector, c)
    }
    val pieces = scala.collection.mutable.LinkedHashSet.empty[String]
    vocab.foreach(_._1.foreach(pieces += _))
    var i = 0
    var exhausted = false
    while (i < numMerges && !exhausted) {
      val pairCnt = scala.collection.mutable.Map.empty[(String, String), Long]
      val symCnt = scala.collection.mutable.Map.empty[String, Long]
      vocab.foreach { case (syms, c) =>
        var j = 0
        while (j < syms.length) {
          symCnt(syms(j)) = symCnt.getOrElse(syms(j), 0L) + c
          if (j < syms.length - 1) {
            val k = (syms(j), syms(j + 1))
            pairCnt(k) = pairCnt.getOrElse(k, 0L) + c
          }
          j += 1
        }
      }
      if (pairCnt.isEmpty) exhausted = true
      else {
        // argmax of cnt(ab)/(cnt(a)·cnt(b)) via exact cross-products
        var best: (String, String) = null
        var bestNum = BigInt(0); var bestDen = BigInt(1)
        pairCnt.toSeq.sortBy(_._1).foreach { case ((a, b), cab) =>
          val num = BigInt(cab); val den = BigInt(symCnt(a)) * BigInt(symCnt(b))
          if (best == null || num * bestDen > bestNum * den) {
            best = (a, b); bestNum = num; bestDen = den
          }
        }
        pieces += joined(best._1, best._2)
        vocab = vocab.map { case (syms, c) =>
          (mergeAll(syms.toArray, best._1, best._2).toVector, c)
        }
        i += 1
      }
    }
    pieces.toSeq.sorted
  }

  private def mergeAll(syms: Array[String], a: String, b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
        out += joined(a, b); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.result()
  }

  /** Greedy longest-match-first segmentation of one word: at each
    * position take the LONGEST vocab piece (`##`-prefixed after the
    * first); any unmatchable position collapses the whole word to
    * `[UNK]` — the published BERT inference, exactly. */
  def encodeWord(word: String, vocab: java.util.HashSet[String],
                 maxPieceLen: Int): Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < n) {
      var l = math.min(maxPieceLen, n - i)
      var hit: String = null
      while (l >= 1 && hit == null) {
        val raw = word.substring(i, i + l)
        val cand = if (i == 0) raw else "##" + raw
        if (vocab.contains(cand)) hit = cand
        else l -= 1
      }
      if (hit == null) return Array(Unk)
      out += hit
      i += l
    }
    out.toArray
  }

  /** Whole-document segmentation: the shared word contract
    * (Locale.ROOT lower, trim, \s+ split), each word greedily matched.
    * Locale.ROOT is host-independent; Spark's lower() is not (see
    * [[Bpe.segment]]).
    * Called from generated code. */
  def segment(text: UTF8String, vocab: java.util.HashSet[String],
              maxPieceLen: Int): ArrayData = {
    val words = text.toString.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (w.nonEmpty) {
        val toks = encodeWord(w, vocab, maxPieceLen)
        var j = 0
        while (j < toks.length) { out += UTF8String.fromString(toks(j)); j += 1 }
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}

/** `graft_wordpiece_segment(text, vocab)` → array<string> of WordPiece
  * subword tokens. `vocab` must be a foldable array<string> of pieces
  * (`##`-prefixed continuations included); the lookup set is built once
  * per expression instance and shipped to generated code as a reference
  * object — the greedy matcher runs compiled inside whole-stage codegen. */
case class WordpieceSegment(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_wordpiece_segment"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string text column, got ${left.dataType}")
    else if (!right.dataType.isInstanceOf[ArrayType] ||
             right.dataType.asInstanceOf[ArrayType].elementType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects an array<string> vocab, got ${right.dataType}")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName vocab must be a literal (foldable) piece table")
    else if (right.eval(null) == null)
      TypeCheckResult.TypeCheckFailure(s"$prettyName vocab literal must not be null")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val vocabSet: java.util.HashSet[String] = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    val s = new java.util.HashSet[String](arr.numElements() * 2)
    var i = 0
    while (i < arr.numElements()) { s.add(arr.getUTF8String(i).toString); i += 1 }
    s
  }

  private lazy val maxPieceLen: Int = {
    var mx = 1
    val it = vocabSet.iterator()
    while (it.hasNext) mx = math.max(mx, Wordpiece.strip(it.next()).length)
    mx
  }

  override protected def nullSafeEval(text: Any, vocab: Any): Any =
    Wordpiece.segment(text.asInstanceOf[UTF8String], vocabSet, maxPieceLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.addReferenceObj("wordpieceVocab", vocabSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.functions.Wordpiece.segment($t, $v, $maxPieceLen);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): WordpieceSegment =
    copy(left = l, right = r)
}
