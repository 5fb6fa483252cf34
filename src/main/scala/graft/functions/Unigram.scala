package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM subword tokenization — the OTHER production tokenizer
  * family beside BPE (the public Kudo 2018 algorithm, arXiv:1804.10959,
  * the model behind SentencePiece's default): LEARN fits piece
  * probabilities on a word-frequency dict by hard EM (Viterbi E-step,
  * count-normalize M-step — the deterministic variant of the paper's
  * EM, trading the soft posterior for exact integer counts); APPLY
  * segments each word by Viterbi — the max-probability split under the
  * learned unigram model, which is the paper's inference step exactly.
  *
  * Scale posture mirrors [[Bpe]]: learning touches only the
  * (word, count) aggregate — vocab-bounded, never the corpus — so at
  * 100 TB the fit is a distributed word count plus a driver loop over
  * ≤maxVocab rows; apply is a map-side codegen expression with the
  * piece table riding along as a broadcast-sized reference object.
  *
  * Determinism contract (the oracle-gate requirement): EM state is
  * exact Long counts; probabilities materialize once, as final
  * log-probs; every argmax tie breaks structurally (longer piece, then
  * the iteration order fixed by position) — two fits on the same dict
  * are bit-identical. */
object Unigram {

  /** Log-prob assigned to a character never seen at fit time — harsh
    * enough that known pieces always win, finite so segmentation is
    * total (every word segments; nothing throws). */
  val UnkLogProb: Double = -20.0

  /** Learn a `vocabSize`-piece model from a word-frequency table.
    * Seeding: every substring of length ≤ `maxPieceLen` scored by
    * occurrence×count (the suffix-array candidate step of the paper,
    * exact here because the dict is bounded); all seen single chars are
    * always kept — full coverage, the paper's character-coverage
    * constraint. Then `emIters` rounds of hard EM, then a prune to the
    * top pieces by (count, lexicographic) with chars exempt. */
  def learn(wordCounts: Seq[(String, Long)], vocabSize: Int = 400,
            maxPieceLen: Int = 4, emIters: Int = 3): Seq[(String, Double)] = {
    require(vocabSize > 0 && maxPieceLen > 0 && emIters >= 0)
    val cand = scala.collection.mutable.HashMap.empty[String, Long]
    wordCounts.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var l = 1
        while (l <= maxPieceLen && i + l <= w.length) {
          val p = w.substring(i, i + l)
          cand.update(p, cand.getOrElse(p, 0L) + c)
          l += 1
        }
        i += 1
      }
    }
    if (cand.isEmpty) return Seq.empty
    val chars = cand.keysIterator.filter(_.length == 1).toSeq.sorted
    val seedMultis = cand.iterator.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(vocabSize * 4)
    var vocab: Seq[(String, Long)] =
      chars.map(ch => ch -> cand(ch)) ++ seedMultis
    var iter = 0
    while (iter < emIters) {
      val lp = toLogProbs(vocab)
      val maxLen = vocab.iterator.map(_._1.length).max
      val nc = scala.collection.mutable.HashMap.empty[String, Long]
      wordCounts.foreach { case (w, c) =>
        val pieces = viterbi(w, lp, maxLen)
        var j = 0
        while (j < pieces.length) {
          nc.update(pieces(j), nc.getOrElse(pieces(j), 0L) + c)
          j += 1
        }
      }
      // +1 smoothing on every seen char: coverage survives even when
      // Viterbi routed all its mass through multi-char pieces
      chars.foreach(ch => nc.update(ch, nc.getOrElse(ch, 0L) + 1L))
      vocab = nc.toSeq.filter(_._2 > 0).sortBy { case (p, c) => (-c, p) }
      iter += 1
    }
    val keepChars = vocab.filter(_._1.length == 1)
    val keepMultis = vocab.filter(_._1.length > 1)
      .take(math.max(0, vocabSize - keepChars.size))
    val kept = keepChars ++ keepMultis
    val total = kept.iterator.map(_._2).sum.toDouble
    kept.map { case (p, c) => p -> math.log(c.toDouble / total) }
      .sortBy(_._1)
  }

  private def toLogProbs(vocab: Seq[(String, Long)]): java.util.HashMap[String, java.lang.Double] = {
    val total = vocab.iterator.map(_._2).sum.toDouble
    val m = new java.util.HashMap[String, java.lang.Double](vocab.size * 2)
    vocab.foreach { case (p, c) =>
      m.put(p, java.lang.Double.valueOf(math.log(c.toDouble / total)))
    }
    m
  }

  /** Max-probability segmentation of one word under the piece log-prob
    * table: classic O(n·maxLen) Viterbi over split points. Equal-score
    * ties go to the LONGER final piece (ascending-length scan with >=),
    * which is a fixed structural rule, never float luck. Characters
    * absent from the table segment as themselves at [[UnkLogProb]], so
    * segmentation is total and lossless (concat == word). */
  def viterbi(word: String, lp: java.util.HashMap[String, java.lang.Double],
              maxPieceLen: Int): Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty
    val score = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var best = Double.NegativeInfinity
      var bestL = 0
      var l = 1
      val maxL = math.min(maxPieceLen, i)
      while (l <= maxL) {
        val piece = word.substring(i - l, i)
        val plp = lp.get(piece)
        val pieceLp =
          if (plp != null) plp.doubleValue()
          else if (l == 1) UnkLogProb
          else Double.NegativeInfinity
        if (pieceLp != Double.NegativeInfinity) {
          val cand = score(i - l) + pieceLp
          if (cand >= best) { best = cand; bestL = l }
        }
        l += 1
      }
      score(i) = best
      back(i) = bestL
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) {
      val l = back(pos)
      out += word.substring(pos - l, pos)
      pos -= l
    }
    out.reverseIterator.toArray
  }

  /** Whole-document segmentation: the [[Bpe.segment]] word contract
    * (Locale.ROOT lower, trim, \s+ split), each word Viterbi-segmented.
    * Locale.ROOT is host-independent; Spark's lower() is not (see
    * [[Bpe.segment]]).
    * Called from generated code. */
  def segment(text: UTF8String, lp: java.util.HashMap[String, java.lang.Double],
              maxPieceLen: Int): ArrayData = {
    val words = text.toString.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (w.nonEmpty) {
        val toks = viterbi(w, lp, maxPieceLen)
        var j = 0
        while (j < toks.length) { out += UTF8String.fromString(toks(j)); j += 1 }
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}

/** `graft_unigram_segment(text, model)` → array<string> of unigram-LM
  * subword tokens. `model` must be a foldable array<string> whose
  * elements are `"<piece> <doubleToLongBits(logp)>"` — pieces come from
  * whitespace-split words so the last-space split is unambiguous, and
  * raw long bits carry the fitted log-prob exactly (a decimal rendering
  * would re-round). The piece table is built once per expression
  * instance and shipped to generated code as a reference object. */
case class UnigramSegment(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_unigram_segment"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string text column, got ${left.dataType}")
    else if (!right.dataType.isInstanceOf[ArrayType] ||
             right.dataType.asInstanceOf[ArrayType].elementType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects array<string> model rows, got ${right.dataType}")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName model must be a literal (foldable) piece table")
    else if (right.eval(null) == null)
      TypeCheckResult.TypeCheckFailure(s"$prettyName model literal must not be null")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val pieceTable: java.util.HashMap[String, java.lang.Double] = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    val m = new java.util.HashMap[String, java.lang.Double](arr.numElements() * 2)
    var i = 0
    while (i < arr.numElements()) {
      val row = arr.getUTF8String(i).toString
      val cut = row.lastIndexOf(' ')
      require(cut > 0, s"$prettyName model row '$row' is not '<piece> <bits>'")
      m.put(row.substring(0, cut), java.lang.Double.valueOf(
        java.lang.Double.longBitsToDouble(row.substring(cut + 1).toLong)))
      i += 1
    }
    m
  }

  private lazy val maxPieceLen: Int = {
    var mx = 1
    val it = pieceTable.keySet().iterator()
    while (it.hasNext) mx = math.max(mx, it.next().length)
    mx
  }

  override protected def nullSafeEval(text: Any, model: Any): Any =
    Unigram.segment(text.asInstanceOf[UTF8String], pieceTable, maxPieceLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = ctx.addReferenceObj("unigramPieces", pieceTable, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.functions.Unigram.segment($t, $tbl, $maxPieceLen);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): UnigramSegment =
    copy(left = l, right = r)
}
