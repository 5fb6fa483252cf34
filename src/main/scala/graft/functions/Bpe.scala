package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenization (the public Sennrich et al. 2016
  * algorithm, no end-of-word marker): LEARN builds a ranked merge table
  * from a word-frequency dict; APPLY greedily merges each word by rank.
  *
  * Scale posture: learning only ever touches the (word, count)
  * aggregate — vocab-bounded, never the corpus — so at 100 TB the fit is
  * a distributed word count + a driver-side loop over ≤maxVocab rows
  * (the same model-state shape as k-means centroids). Apply is a pure
  * map-side codegen expression per document; the merge table rides along
  * as a broadcast-sized reference object.
  */
object Bpe {

  /** Learn `numMerges` merges from a word-frequency table. Deterministic:
    * best pair = highest summed count, ties broken by lexicographically
    * smallest (first, then second) symbol — engine-independent. Counts
    * include overlapping pairs ("aaa" has (a,a) twice), matching the
    * published reference implementation. */
  def learn(wordCounts: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    var vocab = wordCounts.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    var exhausted = false
    while (i < numMerges && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var j = 0
        while (j < syms.length - 1) {
          val k = (syms(j), syms(j + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          j += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        vocab = vocab.map { case (syms, c) => (mergeAll(syms.toArray, best._1, best._2).toVector, c) }
        i += 1
      }
    }
    merges.toSeq
  }

  /** Merge every (a, b) adjacency left-to-right in one pass — leftmost
    * occurrence wins on overlap ("aaa" + (a,a) → [aa, a]). */
  private def mergeAll(syms: Array[String], a: String, b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
        out += (a + b); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.result()
  }

  /** Ranks map ("a b" → rank) from merges in learned order. Symbols never
    * contain whitespace (words are whitespace-split), so the space-joined
    * key is unambiguous. */
  def ranksOf(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), r) => m.put(a + " " + b, Integer.valueOf(r)) }
    m
  }

  /** Encode one word: repeatedly merge ALL occurrences of the
    * lowest-ranked applicable pair until none applies. BPE's invariant —
    * a rule's symbols were created by strictly earlier rules — makes this
    * the exact greedy-by-rank segmentation. */
  def encodeWord(word: String, ranks: java.util.HashMap[String, Integer]): Array[String] = {
    var syms: Array[String] = {
      val out = new Array[String](word.length)
      var j = 0
      while (j < word.length) { out(j) = String.valueOf(word.charAt(j)); j += 1 }
      out
    }
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestA: String = null
      var bestB: String = null
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.get(syms(j) + " " + syms(j + 1))
        if (r != null && r.intValue() < bestRank) {
          bestRank = r.intValue(); bestA = syms(j); bestB = syms(j + 1)
        }
        j += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        syms = mergeAll(syms, bestA, bestB)
        if (syms.length < 2) done = true
      }
    }
    syms
  }

  /** Whole-document segmentation: lower/trim/split on \s+ (the exact
    * ColumnFns.tokens contract), each word greedily merged. Called from
    * generated code — one pass, no boxing beyond the symbol strings. */
  def segment(text: UTF8String, ranks: java.util.HashMap[String, Integer]): ArrayData = {
    // Locale.ROOT, not the JVM default, so a word segments the same on
    // every host. Spark's lower() (the tokens() contract the learn side
    // uses) is NOT locale-independent: under its ICU case mappings a
    // non-ASCII string follows the JVM default locale (with
    // -Duser.language=tr, lower('Iñ') is 'ıñ'). On ASCII the two agree
    val words = text.toString.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (w.nonEmpty) {
        val toks = encodeWord(w, ranks)
        var j = 0
        while (j < toks.length) { out += UTF8String.fromString(toks(j)); j += 1 }
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}

/** `graft_bpe_segment(text, merges)` → array<string> of BPE subword
  * tokens. `merges` must be a foldable array<string> of space-joined
  * pairs in learned rank order (the literal the driver-side fit
  * produces); the ranks map is built once per expression instance and
  * shipped to generated code as a reference object — the merge loop
  * itself runs compiled inside whole-stage codegen. */
case class BpeSegment(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_bpe_segment"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string text column, got ${left.dataType}")
    else if (!right.dataType.isInstanceOf[ArrayType] ||
             right.dataType.asInstanceOf[ArrayType].elementType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects array<string> merges, got ${right.dataType}")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName merges must be a literal (foldable) merge table")
    // a foldable NULL (e.g. CAST(NULL AS ARRAY<STRING>)) would pass the
    // shape checks but NPE when the ranks map is built — reject it at
    // analysis time with a clear message instead
    else if (right.eval(null) == null)
      TypeCheckResult.TypeCheckFailure(s"$prettyName merges literal must not be null")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val ranks: java.util.HashMap[String, Integer] = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    val m = new java.util.HashMap[String, Integer](arr.numElements() * 2)
    var i = 0
    while (i < arr.numElements()) {
      m.put(arr.getUTF8String(i).toString, Integer.valueOf(i))
      i += 1
    }
    m
  }

  override protected def nullSafeEval(text: Any, merges: Any): Any =
    Bpe.segment(text.asInstanceOf[UTF8String], ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.functions.Bpe.segment($t, $r);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BpeSegment =
    copy(left = l, right = r)
}
