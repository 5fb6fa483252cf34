package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ColumnFns._
import graft.operators.{Dedup, TextOps}

/** Script-aware tokenization (round-9 headline): CJK text must not
  * collapse to one degenerate token per line.
  *
  * The expected token lists below are the OUTPUT OF THE DUCKDB ORACLE
  * FRAGMENT (SparkEntry's `toks` SQL) run over the same strings — i.e.
  * each `assert(tokens == ...)` here is a cross-engine parity check
  * hard-coded at spec-writing time. If either side's segmentation
  * drifts (regex class semantics, Unicode table version), this spec and
  * the driver's DuckDB gate disagree in the same direction.
  */
class UnicodeTokensSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def tok(s: String): Seq[String] =
    Seq(s).toDF("text").select(tokens(col("text")).as("t"))
      .as[Seq[String]].head()

  test("Han text segments per codepoint; embedded ASCII words survive") {
    assert(tok("Spark处理大规模数据的引擎") ==
      Seq("spark", "处", "理", "大", "规", "模", "数", "据", "的", "引", "擎"))
    assert(tok("GPU加速Computing") == Seq("gpu", "加", "速", "computing"))
  }

  test("Hiragana/Katakana segment per codepoint (ー isolated by neighbors)") {
    assert(tok("これはテストです") ==
      Seq("こ", "れ", "は", "テ", "ス", "ト", "で", "す"))
    assert(tok("カーナビ") == Seq("カ", "ー", "ナ", "ビ"))
  }

  test("Hangul segments per syllable; existing spaces are still boundaries") {
    assert(tok("한국어 텍스트 처리") ==
      Seq("한", "국", "어", "텍", "스", "트", "처", "리"))
  }

  test("ideographic space U+3000 is a token boundary, not a token") {
    assert(tok("机器学习　模型训练") ==
      Seq("机", "器", "学", "习", "模", "型", "训", "练"))
  }

  test("pure ASCII is a fixed point of the old whitespace split") {
    assert(tok("Hello   World") == Seq("hello", "world"))
    assert(tok("  a\tb\nc  ") == Seq("a", "b", "c"))
    assert(tok("") == Seq.empty)
  }

  test("t3 token counts are non-degenerate on planted zh documents") {
    val docs = Seq(
      (1L, "机器学习模型在大规模数据上训练"),
      (2L, "plain english text here")
    ).toDF("doc_id", "text")
    val counts = TextOps.tokenCounts(docs)
      .select($"doc_id", $"ws_tokens").as[(Long, Int)].collect().toMap
    assert(counts(1L) == 15, "zh doc must count per-codepoint, not 1")
    assert(counts(2L) == 4)
  }

  test("native graft_tokens == the column-algebra spec, token for token") {
    // the single-pass expression must reproduce the four-stage algebra
    // (segmentScripts→trim→lower→split→filter) EXACTLY — this corpus
    // pins every edge the fusion argument leans on:
    val nasty = Seq(
      "Spark处理大规模数据的引擎",          // Han + embedded ASCII
      "GPU加速Computing",                   // case folding around CJK
      "これはテストです", "カーナビ",        // kana (ー isolated by neighbors)
      "한국어 텍스트 처리",                  // Hangul + real spaces
      "机器学习　模型训练",                  // U+3000 ideographic space
      "Hello   World", "  a\tb\nc  ",       // ASCII whitespace runs
      "", " \t\n ", "　",                   // empty / separator-only
      "ΑΣ ΒΑΣΙΣ ΣΟΦΟΣ",                    // Greek final sigma (context rule)
      "ΑΣ漢 ΣΑ",                           // sigma adjacent to CJK boundary
      "ﬁﬂ ＡＢＣ",                          // compat chars pass through (no NFKC here)
      "𠀀𠀁 plain",     // CJK Ext-B (supplementary Han)
      "mixed日本語and한국어text",            // three scripts fused in one run
      "ab\fc\rd",                     // VT / FF / CR separators
      "\u2C2F \uA7C0x"                 // cased after Unicode 13: ICU lowers, JDK 17 does not
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = nasty.toDF("id", "text")
    val both = df.select(
        tokens(col("text")).as("nat"), tokensAlgebra(col("text")).as("alg"))
      .as[(Seq[String], Seq[String])].collect()
    both.zip(nasty).foreach { case ((nat, alg), (_, t)) =>
      assert(nat === alg, s"native != algebra on <$t>")
    }
    // null propagates like the algebra's (null in → null out)
    val nulls = Seq((1L, null: String)).toDF("id", "text")
      .select(tokens(col("text")).as("t")).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("span dedup sees sub-line CJK repeats (token windows now exist)") {
    // 10-codepoint repeated run inside otherwise-distinct zh lines:
    // with whitespace-only tokens each doc was ONE token and d16 was
    // blind; per-codepoint tokens give it 8-token windows to match.
    val rep = "数据清洗流程完全相同哦"
    val docs = Seq(
      (1L, s"文档甲$rep 结尾不同"),
      (2L, s"另一篇$rep 完全另写")
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs)
    assert(spans.count() == 2, "one duplicated span per doc")
    assert(spans.agg(min($"n_span_tokens")).as[Int].head() >= 8)
  }
}
