package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Curation

class CurationSpec extends AnyFunSuite with SharedSpark {

  test("domain cap: hand-checked keeps, ranks, ties and drops") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "xxxx"), (2L, "a", "xxx"), (3L, "a", "xx"),
      (4L, "b", "x"),
      (5L, "c", "yy"), (6L, "c", "yy"), (7L, "c", "yy"))
      .toDF("doc_id", "source", "text")
    val out = Curation.domainCap(docs, cap = 2).collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(3)).map(_.asInstanceOf[Int]), r.getInt(4)))).toMap
    assert(out(1L) === ((Some(1), 1)))   // longest in a
    assert(out(2L) === ((Some(2), 1)))
    assert(out(3L) === ((None, 0)))      // over the cap
    assert(out(4L) === ((Some(1), 1)))   // small domain all kept
    assert(out(5L) === ((Some(1), 1)))   // equal lengths: doc_id breaks ties
    assert(out(6L) === ((Some(2), 1)))
    assert(out(7L) === ((None, 0)))
  }

  test("domain cap: two-level top-k equals the single-window form on the corpus") {
    val docs = table("documents")
    val twoLevel = Curation.domainCap(docs, cap = 3).collect()
      .map(r => (r.getLong(0), Option(r.get(3)), r.getInt(4))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(length(col("text")).desc, col("doc_id"))
    val single = docs
      .select(col("doc_id"), row_number().over(w).as("rn"))
      .select(col("doc_id"),
        when(col("rn") <= 3, col("rn")).as("dom_rank"),
        (col("rn") <= 3).cast("int").as("kept"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getInt(2))).toSet
    assert(twoLevel === single)
  }

  test("overlap sketch: inclusion-exclusion estimate lands near the exact join answer") {
    val ev = table("events")
    val est = Curation.overlapSketch(ev)
    val out = Curation.overlapSketchEval(est, ev).collect()
    val nTypes = ev.select("event_type").distinct().count()
    assert(out.length === (nTypes * (nTypes - 1) / 2).toInt)
    out.foreach { r =>
      // HLL at lgK=12 on thousands of users: a few percent of the union
      assert(r.getAs[Double]("rel_err") <= 0.05,
        s"${r.getString(0)}∩${r.getString(1)} rel_err ${r.getAs[Double]("rel_err")}")
      assert(r.getAs[Long]("exact_overlap") <= r.getAs[Long]("exact_union"))
    }
  }

  test("kmv sketch: exact regime, merge associativity, estimator near the exact join") {
    import spark.implicits._
    val o = table("orders")
    // exact regime: a corpus with < k distinct keys is carried exactly
    val tiny = (1L to 40L).map(k => (if (k <= 20) "a" else "b", k * 11))
      .toDF("o_orderpriority", "o_custkey")
    val tinyOut = Curation.kmvOverlapEval(
      Curation.kmvSketch(tiny, "o_orderpriority", "o_custkey"),
      tiny, "o_orderpriority", "o_custkey").collect()
    assert(tinyOut.length === 1)
    assert(tinyOut(0).getAs[Double]("est_a") === 20.0)
    assert(tinyOut(0).getAs[Double]("est_union") === 40.0)
    assert(tinyOut(0).getAs[Double]("est_overlap") === 0.0)
    // mergeability: sketch(A ∪ B) == k-smallest of (sketch(A) ∪ sketch(B))
    val halves = Seq(o.filter(col("o_orderkey") % 2 === 0),
      o.filter(col("o_orderkey") % 2 === 1))
      .map(h => Curation.kmvSketch(h, "o_orderpriority", "o_custkey"))
    val merged = halves.reduce(_ union _)
      .select(col("seg"), col("h")).distinct()
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("seg").orderBy("h")))
      .filter(col("r") <= 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val whole = Curation.kmvSketch(o, "o_orderpriority", "o_custkey")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(merged === whole, "KMV merge must equal the whole-corpus sketch")
    // estimator quality on genuinely partial overlaps (k=64 ⇒ ~1/√62 ≈ 13%)
    val out = Curation.kmvOverlapEval(
      Curation.kmvSketch(o, "o_orderpriority", "o_custkey"),
      o, "o_orderpriority", "o_custkey").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val est = r.getAs[Double]("est_overlap")
      val exact = r.getAs[Long]("exact_overlap").toDouble
      val union = r.getAs[Double]("est_union")
      assert(math.abs(est - exact) <= 0.25 * union,
        s"${r.getString(0)}∩${r.getString(1)} est $est exact $exact union $union")
    }
  }

  test("source matrix: cells conserve the pair count, canonical cell order") {
    import graft.operators.Dedup
    val docs = table("documents")
    val sigs = Dedup.minhashSignatures(docs).localCheckpoint()
    val pairs = Dedup.minhashPairsFromSigs(sigs).localCheckpoint()
    val cells = Curation.sourceDupMatrix(pairs, docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(cells.map(_._3).sum === pairs.count(), "cells must conserve pairs")
    cells.foreach { case (a, b, n) =>
      assert(a <= b, s"cell ($a,$b) not canonical")
      assert(n >= 1L)
    }
  }

  test("novelty: first doc all-novel, verbatim copy zero, mixed doc at the exact fraction") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d e f"),              // 4 distinct 3-shingles, all first
      (1L, "a b c d e f"),              // verbatim copy: zero novelty
      (2L, "a b c d x y z")             // shingles: abc bcd cde(seen: abc bcd) + cdx dxy xyz new
    ).toDF("doc_id", "text")
    val out = Curation.noveltyProfile(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(0L) === ((4L, 4L, 1.0)))
    assert(out(1L) === ((4L, 0L, 0.0)))
    // doc2 shingles: "a b c","b c d","c d x","d x y","x y z" — first two seen
    assert(out(2L) === ((5L, 3L, 0.6)))
    // conservation on the corpus: novel counts sum to the global
    // distinct shingle count
    val real = Curation.noveltyProfile(table("documents"))
    val totalNovel = real.agg(sum(col("n_novel"))).head.getLong(0)
    val distinctShingles = table("documents")
      .withColumn("_toks", graft.functions.ColumnFns.tokens(col("text")))
      .select(explode(graft.functions.ColumnFns.shinglesFromTokens(col("_toks"), 3)).as("s"))
      .distinct().count()
    assert(totalNovel === distinctShingles)
  }

  test("heaps fit: totals exact, closed vocab gives beta 0, all-new types give beta 1") {
    import spark.implicits._
    // closed vocabulary: every doc is the same two-bigram sentence —
    // the cumulative type count is flat and the slope must be EXACTLY 0
    val closed = (0L until 64L).map(i => (i, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val fc = Curation.heapsFit(closed).head()
    assert(fc.getAs[Double]("beta") === 0.0)
    assert(fc.getAs[Long]("total_vocab") === 2L) // "alpha beta", "beta gamma"
    // all-new types: every doc contributes globally-unique bigrams at a
    // constant rate, so V == N exactly and the log-log slope is 1
    val fresh = (0L until 64L).map(i =>
      (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e")).toDF("doc_id", "text")
    val ff = Curation.heapsFit(fresh).head()
    assert(ff.getAs[Long]("total_vocab") === ff.getAs[Long]("total_tokens"))
    assert(math.abs(ff.getAs[Double]("beta") - 1.0) < 1e-4,
      s"beta ${ff.getAs[Double]("beta")}")
    // corpus totals equal direct counting
    val docs = table("documents")
    val f = Curation.heapsFit(docs).head()
    val bg = docs.withColumn("_toks", graft.functions.ColumnFns.tokens(col("text")))
      .select(explode(graft.functions.ColumnFns.rawShinglesFromTokens(col("_toks"), 2)).as("b"))
    assert(f.getAs[Long]("total_tokens") === bg.count())
    assert(f.getAs[Long]("total_vocab") === bg.distinct().count())
    assert(f.getAs[Long]("n_points") <= 32L)
  }

  test("tokenizer eval: per-family totals equal direct tokenization of the corpus") {
    import graft.operators.TextOps
    val docs = table("documents")
    val bpe = TextOps.bpeLearn(docs, 60)
    val ug = TextOps.unigramLearn(docs, 200)
    val wp = TextOps.wordpieceLearn(docs, 60)
    val segs = docs
      .select(explode(graft.functions.ColumnFns.tokens(col("text"))).as("word"))
      .distinct()
      .withColumn("_b", call_function("graft_bpe_segment", col("word"),
        lit(bpe.map { case (a, b) => s"$a $b" }.toArray)))
      .withColumn("_u", call_function("graft_unigram_segment", col("word"),
        lit(TextOps.unigramModelRows(ug))))
      .withColumn("_w", call_function("graft_wordpiece_segment", col("word"),
        lit(wp.toArray)))
      .select(col("word"), size(col("_b")).as("n_bpe"), size(col("_u")).as("n_ug"),
        size(col("_w")).as("n_wp"),
        size(filter(col("_w"),
          p => p === graft.functions.Wordpiece.Unk)).as("n_unk_wp"))
    val out = Curation.tokenizerEval(docs, segs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("bpe", "unigram", "wordpiece"))
    // the vocab-join total equals tokenizing every document directly
    val directBpe = TextOps.bpeTokenize(docs, bpe)
      .agg(sum("n_bpe_tokens")).collect()(0).getLong(0)
    assert(out("bpe").getAs[Long]("n_subwords") === directBpe)
    out.values.foreach { r =>
      // every word yields >= 1 subword, so fertility_e6 >= 1e6
      assert(r.getAs[Long]("fertility_e6") >= 1000000L)
      assert(r.getAs[Long]("n_words") > 0)
    }
  }

  test("perplexity gate: reference fit, Laplace OOV floor, threshold gate") {
    import spark.implicits._
    // reference slice = src0: tokens {alpha×2, beta×2} → N=4, V=2,
    // p(seen) = 3/7, p(OOV) = 1/7. Doc 2 is all-reference vocabulary
    // (CE = -ln(3/7) ≈ 0.8473), doc 3 all-OOV (CE = ln 7 ≈ 1.9459) —
    // the 1.0-nat gate keeps the former and drops the latter.
    val docs = Seq(
      (1L, "alpha beta alpha beta", "src0"),
      (2L, "alpha beta", "srcX"),
      (3L, "zzz qqq www vvv", "srcX")).toDF("doc_id", "text", "source")
    val out = Curation.perplexityGate(docs, "src0", maxNats = 1.0)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getInt(3))).toMap
    assert(out(1L) === ((4L, 0.8473, 1)))
    assert(out(2L) === ((2L, 0.8473, 1)))
    assert(out(3L) === ((4L, 1.9459, 0)))
  }

  test("quality classifier: separable crafted corpus trains to a confident gate") {
    import spark.implicits._
    import graft.operators.QualityModel
    // disjoint vocabularies: the reference slice and the junk slice
    // share no feature buckets, so 10 balanced GD steps separate them
    val docs = Seq(
      (1L, "alpha beta gamma delta", "src0"),
      (2L, "beta gamma alpha beta", "src0"),
      (3L, "gamma alpha delta gamma", "src0"),
      (4L, "zzz qqq www vvv", "srcX"),
      (5L, "qqq zzz vvv qqq", "srcX"),
      (6L, "alpha beta gamma delta", "srcX")).toDF("doc_id", "text", "source")
    val w = QualityModel.fit(docs)
    val out = QualityModel.score(docs, w).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), r.getInt(3))).toMap
    // reference docs score high, junk low; doc 6 has reference
    // vocabulary under a junk label — the features, not the label,
    // must drive its score (in-sample it drags doc 1's twin down,
    // but junk vocab still lands clearly below)
    (1L to 3L).foreach(i => assert(out(i)._2 > 0.5 && out(i)._3 == 1, s"doc $i: ${out(i)}"))
    Seq(4L, 5L).foreach(i => assert(out(i)._2 < 0.5 && out(i)._3 == 0, s"doc $i: ${out(i)}"))
    assert(out(6L)._2 == out(1L)._2, "identical text must get the identical score")
    assert(out(6L)._1 == 0 && out(1L)._1 == 1)
  }

  test("quality classifier on real data: in-sample reference-vs-rest separation") {
    import graft.operators.QualityModel
    val docs = table("documents")
    val w = QualityModel.fit(docs)
    assert(w.length === QualityModel.Dim + 1)
    val out = QualityModel.score(docs, w).collect()
      .map(r => (r.getInt(1), r.getDouble(2)))
    val pos = out.filter(_._1 == 1).map(_._2)
    val neg = out.filter(_._1 == 0).map(_._2)
    assert(pos.nonEmpty && neg.nonEmpty)
    assert(pos.sum / pos.length > neg.sum / neg.length,
      s"mean(pos)=${pos.sum / pos.length} mean(neg)=${neg.sum / neg.length}")
  }

  test("term bucket stays in range and is codepoint-derived") {
    import spark.implicits._
    import graft.operators.QualityModel
    val terms = Seq("a", "alpha", "中文词", "😀", "x" * 200).toDF("term")
    val bs = terms.select(QualityModel.termBucket(col("term")).as("b"))
      .collect().map(_.getLong(0))
    assert(bs.forall(b => b >= 0 && b < QualityModel.Dim))
    // distinct inputs land on distinct buckets here (no degenerate hash)
    assert(bs.distinct.length === bs.length)
  }

  test("sentences: terminators split, CJK full-width splits, no-terminator doc is one sentence") {
    import spark.implicits._
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "Hello world. Second one! Third?"),
      (2L, "no terminator here"),
      (3L, "句子一。句子二！"),
      (4L, "   "),
      (5L, "dot.attached next")).toDF("doc_id", "text")
    val out = TextOps.sentences(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val byDoc = out.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(byDoc(1L).map(_._3).toSeq === Seq("Hello world.", "Second one!", "Third?"))
    assert(byDoc(1L).map(_._4).toSeq === Seq(2, 2, 1))
    assert(byDoc(2L).map(_._3).toSeq === Seq("no terminator here"))
    // per-codepoint CJK tokens + the spaced-off terminator: 4 each
    assert(byDoc(3L).map(_._3).toSeq === Seq("句子一。", "句子二！"))
    assert(byDoc(3L).map(_._4).toSeq === Seq(4, 4))
    assert(!byDoc.contains(4L), "whitespace-only doc yields no sentences")
    assert(byDoc(5L).map(_._3).toSeq === Seq("dot.", "attached next"))
  }

  test("perplexity gate composes into the curation funnel as a stage") {
    val docs = table("documents")
    val gate = Curation.perplexityGate(docs).localCheckpoint()
    // the gate separates on this corpus (both outcomes present)
    val keptIds = gate.filter(col("kept") === 1).select(col("doc_id"))
    val nKept = keptIds.count()
    assert(nKept > 0 && nKept < docs.count())
    def stages(d: org.apache.spark.sql.DataFrame): Map[String, Long] =
      Curation.curationFunnel(d).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ungated = stages(docs)
    val gated = stages(docs.join(keptIds, "doc_id"))
    // the gate slots in front of the funnel: its stage-0 population is
    // the kept set, and every downstream survivor count is monotonely
    // dominated by the ungated funnel (pure filter composition — no
    // stage can gain documents from an upstream gate)
    assert(gated("0_all") === nKept)
    ungated.keys.foreach { s => assert(gated(s) <= ungated(s), s"stage $s grew") }
    assert(gated("4_dedup") > 0, "composed funnel must keep something")
  }

  test("paragraph gate: per-paragraph lang+ppl keep/drop with ordered reassembly") {
    import spark.implicits._
    val ref = Seq((100L, "the data table scan query of and to in is a"))
      .toDF("doc_id", "text")
    val docs = Seq(
      // par0 kept (en, in-vocab), par1 dropped (es), par2 kept → rejoin order
      (1L, "the data table scan\nel que de la en los\nthe data query scan"),
      // en-led but OOV-heavy: lang passes, perplexity gate drops it
      (2L, "the a of zyx qqq www"),
      // single clean paragraph: identity
      (3L, "the data of query")).toDF("doc_id", "text")
    val out = Curation.paragraphGate(docs, ref, maxNats = 2.6).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L) === ((3, 2, "the data table scan\nthe data query scan")))
    assert(out(2L) === ((1, 0, "")))
    assert(out(3L) === ((1, 1, "the data of query")))
  }

  test("paragraph gate slots in front of the curation funnel") {
    val docs = table("documents")
    val planted = SparkEntry.plantParagraphs(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val gate = Curation.paragraphGate(planted,
      docs.filter(col("source") === "src0")).localCheckpoint()
    // the gate separates at paragraph grain: some doc loses a paragraph
    // but no doc disappears
    assert(gate.filter(col("n_kept") < col("n_paragraphs")).count() > 0)
    assert(gate.count() === docs.count())
    // clean_text feeds the funnel as a drop-in documents frame
    val cleaned = gate.select(col("doc_id"), col("clean_text").as("text"),
        length(col("clean_text")).cast("long").as("n_chars"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val stages = Curation.curationFunnel(cleaned).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stages("0_all") === docs.count())
    assert(stages("4_dedup") > 0, "funnel over cleaned paragraphs kept nothing")
  }

  test("rrf fusion: exact scores, full-outer coverage, fused beats either alone") {
    import spark.implicits._
    // ground truth: doc 50 is the one relevant item; each ranker alone
    // puts a (different) distractor first, so precision@1 is 0 for both
    // — but only doc 50 appears in BOTH lists, so RRF ranks it first
    val dense = Seq((0L, 10L, 1), (0L, 50L, 2), (0L, 11L, 3))
      .toDF("q_id", "doc_id", "rank")
    val sparse = Seq((0L, 20L, 1), (0L, 50L, 2), (0L, 21L, 3))
      .toDF("q_id", "doc_id", "rank")
    val out = Curation.rrfFuse(dense, sparse).collect()
      .map(r => r.getLong(1) -> (r.getDouble(2), r.getInt(3))).toMap
    // 1/62 + 1/62 = 0.032258 (decimal-6); singles: 1/61 = 0.016393
    assert(out(50L) === ((0.032258, 1)), "both-list doc must fuse to the top")
    assert(out(10L)._1 === 0.016393 && out(20L)._1 === 0.016393)
    // rank-1 singles (1/61) outrank rank-3 singles (1/63); ties among
    // equals break on doc_id ascending
    assert(out(10L)._2 === 2 && out(20L)._2 === 3)
    assert(out(11L)._2 === 4 && out(21L)._2 === 5)
  }

  test("hybrid rrf end-to-end: both rankers contribute on the real tables") {
    val out = SparkEntry.queries("c34_hybrid_rrf")(spark, SharedSpark.sfDir)
      .localCheckpoint()
    val n = out.count()
    assert(n > 0 && n <= 100) // ≤ k per query
    // fused scores are in the RRF range and every query has a rank-1 hit
    val top = out.filter(col("rank") === 1)
    assert(top.count() > 0)
    // at least one fused item carries contributions from both lists
    // (score > max single-list contribution 1/61)
    assert(out.filter(col("rrf_score") > 0.0164).count() > 0,
      "no item appeared in both rankers' lists")
  }

  test("url gate: normalize, registered domain, blocklist, rate-gated cap") {
    import spark.implicits._
    val docs = (
      Seq((1L, "HTTPS://WWW.Example.COM/a?q=1"),
        (2L, "https://sub.example.co.uk/path"),
        (3L, "http://spam.example/landing"),
        (4L, "https://one-label/x")) ++
      (100L until 400L).map(i => (i, s"https://big.corpus.net/doc/$i")))
      .toDF("doc_id", "url")
    val out = Curation.urlDomainGate(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("scheme") === "https")
    assert(out(1L).getAs[String]("host") === "example.com")
    assert(out(1L).getAs[String]("reg_domain") === "example.com")
    assert(out(2L).getAs[String]("reg_domain") === "example.co.uk")
    assert(out(3L).getAs[Int]("blocked") === 1 && out(3L).getAs[Int]("kept") === 0)
    assert(out(4L).getAs[String]("reg_domain") === "one-label")
    // hot domain: 300 docs against cap 100 → rate 1/3, kept strictly
    // between 0 and all, deterministic across runs and partitionings
    val hot = out.values.filter(_.getAs[String]("reg_domain") === "corpus.net")
    assert(hot.size === 300)
    assert(hot.forall(_.getAs[Double]("keep_rate") === 0.333333))
    val kept = hot.count(_.getAs[Int]("kept") === 1)
    assert(kept > 0 && kept < 300)
    val again = Curation.urlDomainGate(docs.repartition(7)).collect()
      .count(r => r.getAs[Int]("kept") === 1)
    assert(again === out.values.count(_.getAs[Int]("kept") === 1))
    // the cap is a rate gate, not a per-domain window: no Window operator
    val p = Curation.urlDomainGate(docs).queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"domain cap regressed to a window:\n$p")
  }

  test("dedup-aware mix: near-dup copies stop buying sampling mass") {
    import spark.implicits._
    // source A = 4 identical docs (one content unit), source B = 4
    // unique docs: effective sizes 1.0 vs 4.0, raw counts equal
    val docs = (
      (1L to 4L).map(i => (i, "x y z w v u t s", "A")) ++
      Seq((11L, "aa bb cc dd ee", "B"), (12L, "ff gg hh ii jj", "B"),
        (13L, "kk ll mm nn oo", "B"), (14L, "pp qq rr ss tt", "B")))
      .toDF("doc_id", "text", "source")
    val out = Curation.dedupAwareMix(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out("A")._1 === 4L && out("B")._1 === 4L)
    assert(out("A")._2 === 1.0 && out("B")._2 === 4.0)
    // √-temperature over effective sizes: the duplicate-bloated source's
    // rate reflects ONE content unit — per effective doc it samples
    // MORE aggressively (√e/e falls with e), but its thr applies to a
    // pool with only one unit of real mass
    assert(out("A")._3 === 1.0) // 300·√1/(wsum·1) capped at 1
    assert(out("B")._3 === 1.0) // tiny corpus: both capped — rates equal
    // the separation shows in eff_docs, which is what a mixer consumes
  }

  test("gopher rules: crafted docs score exactly; keep matches the rule conjunction") {
    import spark.implicits._
    val crafted = Seq(
      (1L, Array.fill(60)("word").mkString(" ")),      // clean: keep
      (2L, "tiny doc"),                                // word-count bound fails
      (3L, Array.fill(60)("word").mkString(" ") +
        (1 to 10).map(i => s"\n- b$i").mkString),      // 10 bullets / 11 lines
      (4L, Array.fill(60)("99").mkString(" ")),        // zero alpha words
      (5L, Array.fill(60)("word").mkString(" ") + " # # # # # # # #"), // symbols
      (6L, "")                                         // empty: null-safe gate
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.gopherQuality(crafted).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("keep") === 1)
    assert(out(1L).getAs[Double]("mean_word_len") === 4.0)
    assert(out(1L).getAs[Double]("alpha_word_frac") === 1.0)
    assert(out(2L).getAs[Int]("keep") === 0)
    assert(out(3L).getAs[Double]("bullet_line_frac") === 10.0 / 11)
    assert(out(3L).getAs[Int]("keep") === 0)
    assert(out(4L).getAs[Double]("alpha_word_frac") === 0.0)
    assert(out(4L).getAs[Int]("keep") === 0)
    assert(out(5L).getAs[Double]("symbol_ratio") === 8.0 / 68)
    assert(out(5L).getAs[Int]("keep") === 0)
    assert(out(6L).getAs[Int]("keep") === 0)
    // the gated (planted) corpus: both outcomes occur, and keep is
    // EXACTLY the conjunction of the emitted signal columns
    val gated = SparkEntry.queries("c24_quality_rules")(spark, SharedSpark.sfDir).collect()
    assert(gated.map(_.getAs[Int]("keep")).distinct.sorted.sameElements(Array(0, 1)),
      "planted corpus must produce both keeps and drops")
    gated.foreach { r =>
      val expect = r.getAs[Int]("n_words") >= 50 && r.getAs[Int]("n_words") <= 100000 &&
        r.getAs[Double]("mean_word_len") >= 3 && r.getAs[Double]("mean_word_len") <= 10 &&
        r.getAs[Double]("symbol_ratio") < 0.1 &&
        r.getAs[Double]("bullet_line_frac") < 0.9 &&
        r.getAs[Double]("ellipsis_line_frac") < 0.3 &&
        r.getAs[Double]("alpha_word_frac") > 0.8
      assert(r.getAs[Int]("keep") === (if (expect) 1 else 0), s"doc ${r.getLong(0)}")
    }
  }

  test("top ngrams: df bounded by corpus size, descending") {
    val out = Curation.topNgrams(table("documents")).collect()
    assert(out.length <= 20)
    val dfs = out.map(_.getAs[Long]("df"))
    assert(dfs.zip(dfs.tail).forall { case (a, b) => a >= b })
    assert(dfs.head <= table("documents").count())
  }

  test("tfidf: positive scores, tf >= 1, ubiquitous terms excluded") {
    val n = table("documents").count()
    val out = Curation.tfidf(table("documents")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("tf") >= 1)
      assert(r.getAs[Double]("tfidf") > 0.0) // df == N ⇒ idf 0 ⇒ filtered
    }
  }

  test("bm25: ranks contiguous per term, scores non-increasing, tf monotonicity") {
    import spark.implicits._
    val out = Curation.bm25TopK(table("documents")).collect()
    val byTerm = out.groupBy(_.getAs[String]("term"))
    assert(byTerm.size === 5) // the 5 head terms each return results
    byTerm.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).sameElements(1 to rows.length))
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(scores.forall(_ > 0.0))
    }
    // hand-checkable micro corpus: same doc lengths, so the doc with
    // more occurrences of the query term must score strictly higher
    val tiny = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "apple banana banana cherry"),
      (3L, "date fig grape plum")).toDF("doc_id", "text")
    val t = Curation.bm25TopK(tiny, nTerms = 1, k = 3).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id"), r.getAs[Int]("rank")))
    // apple/banana/cherry all have df=2 > 1; lexicographic tie-break → apple
    assert(t.forall(_._1 == "apple"))
    assert(t.toSeq === Seq(("apple", 1L, 1), ("apple", 2L, 2)))
  }

  test("leakage-safe split: near-dup pairs never straddle splits, singletons match c3") {
    val docs = table("documents")
    val clusters = graft.operators.Dedup.duplicateClustersFrom(
      docs.select(col("doc_id").as("vec_id")),
      graft.operators.Dedup.ngramJaccardPairs(docs)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .select(col("vec_id").as("doc_id"), col("cluster_id"))
    val out = Curation.leakageSafeSplit(clusters).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[String]("split")))
    assert(out.length === docs.count())
    val splitOf = out.map(t => t._1 -> t._3).toMap
    // every near-dup pair shares a split (THE property this op exists for)
    val pairs = graft.operators.Dedup.ngramJaccardPairs(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(splitOf(a) === splitOf(b), s"pair ($a,$b) straddles splits")
    }
    // a singleton's cluster_id is its own doc_id → same split as c3
    val c3 = Curation.hashSplit(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split"))).toMap
    out.filter(t => t._1 == t._2).foreach { case (id, _, s) =>
      assert(c3(id) === s)
    }
  }

  test("hash split: deterministic, partitions the corpus, ~90/5/5") {
    val a = Curation.hashSplit(table("documents")).collect()
    val b = Curation.hashSplit(table("documents")).collect()
    assert(a.map(r => (r.getLong(0), r.getString(1))).sameElements(
      b.map(r => (r.getLong(0), r.getString(1)))))
    val byS = a.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(byS.values.sum === table("documents").count())
    assert(byS("train") > byS.getOrElse("valid", 0))
    assert(byS("train") > byS.getOrElse("test", 0))
  }

  test("stratified sample: deterministic hash gate, per-stratum fractions honored") {
    val orig = table("documents").groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = Curation.stratifiedSample(table("documents"), 0.5).collect()
    out.foreach { r =>
      val lang = r.getString(0)
      val n = r.getAs[Long]("n_sampled")
      assert(n <= orig(lang))
      assert(math.abs(n.toDouble / orig(lang) - 0.5) < 0.25, s"$lang: $n of ${orig(lang)}")
    }
    // reproducible independent of partitioning
    val again = Curation.stratifiedSample(table("documents").repartition(7), 0.5).collect()
    assert(out.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    // per-stratum map form: excluded stratum vanishes entirely
    val mapped = Curation.stratifiedSample(table("documents"),
      Map("en" -> 1.0, "fr" -> 0.0), 42).collect()
    assert(mapped.map(_.getString(0)).toSet === Set("en"))
    assert(mapped.head.getAs[Long]("n_sampled") === orig("en"))
  }

  test("length buckets: counts cover the corpus, min/max inside edges") {
    val out = Curation.lengthBuckets(table("documents")).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum === table("documents").count())
    out.foreach { r =>
      assert(r.getAs[Long]("min_chars") <= r.getAs[Long]("max_chars"))
    }
  }

  test("boilerplate: counts bounded, shared shingles flagged on a crafted corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta unique one"),
      (2L, "alpha beta gamma delta other words"),
      (3L, "totally different content here now")).toDF("doc_id", "text")
    val out = Curation.boilerplate(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // "alpha beta gamma" and "beta gamma delta" appear in docs 1 and 2
    assert(out(1L).getAs[Long]("n_boiler") === 2)
    assert(out(2L).getAs[Long]("n_boiler") === 2)
    assert(out(3L).getAs[Long]("n_boiler") === 0)
    out.values.foreach { r =>
      assert(r.getAs[Long]("n_boiler") <= r.getAs[Long]("n_shingles"))
      val ratio = r.getAs[Double]("boiler_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
  }

  test("repetition: repeated shingles detected, ratios in [0,1]") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"), // one distinct shingle, 4 raw
      (2L, "all words here are different truly")).toDF("doc_id", "text")
    val out = Curation.repetition(docs).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("n_distinct") === 1)
    assert(out(1L).getAs[Double]("rep_ratio") === 0.75)
    assert(out(2L).getAs[Double]("rep_ratio") === 0.0)
    val real = Curation.repetition(table("documents")).collect()
    real.foreach { r =>
      assert(r.getAs[Int]("n_distinct") <= r.getAs[Int]("n_shingles"))
      val ratio = r.getAs[Double]("rep_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
  }

  test("domain stats: doc counts partition the corpus, top_lang is a real mode") {
    val docs = table("documents")
    val out = Curation.domainStats(docs).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum === docs.count())
    val langsBySource = docs.groupBy("source", "lang").count().collect()
      .groupBy(_.getString(0))
    out.foreach { r =>
      val src = r.getString(0)
      val counts = langsBySource(src).map(x => x.getString(1) -> x.getLong(2)).toMap
      val maxN = counts.values.max
      assert(counts(r.getAs[String]("top_lang")) === maxN)
      assert(r.getAs[Long]("n_langs") === counts.size)
    }
  }

  test("unigram log-likelihood: negative scores, repeated-token docs score higher") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common common common"),   // all mass on one token
      (2L, "rare0 rare1 rare2 rare3")).toDF("doc_id", "text")
    val out = Curation.unigramLogLik(docs).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_tokens") === 4)
    // doc 1's token has p=4/8, doc 2's each p=1/8 → doc 1 scores higher
    assert(out(1L).getAs[Double]("avg_ll") > out(2L).getAs[Double]("avg_ll"))
    Curation.unigramLogLik(table("documents")).collect()
      .foreach(r => assert(r.getAs[Double]("avg_ll") < 0.0))
  }

  test("contamination: benchmark docs fully flagged, clean docs at zero, ratios bounded") {
    val docs = table("documents")
    val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val benchIds = bench.select("doc_id").collect().map(_.getLong(0)).toSet
    val out = Curation.contamination(docs, bench).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size === docs.count())
    out.values.foreach { r =>
      val ratio = r.getAs[Double]("contam_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
      assert(r.getAs[Long]("n_contaminated") <= r.getAs[Long]("n_shingles"))
    }
    // every benchmark member overlaps itself completely
    benchIds.foreach(id => assert(out(id).getAs[Double]("contam_ratio") === 1.0))
    assert(benchIds.nonEmpty)
  }

  test("contamination keeps short and empty documents (degenerate shingle arrays)") {
    import spark.implicits._
    // shinglesFromTokens yields a 1-element array below n tokens (and
    // [""] for empty text), so explode can never drop a document
    val docs = Seq((1L, "two tokens"), (2L, ""), (3L, "   "),
      (4L, "the quick brown fox ran")).toDF("doc_id", "text")
    val bench = docs.filter(col("doc_id") === 4L)
    val out = Curation.contamination(docs, bench).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    assert(out(1L).getAs[Long]("n_shingles") === 1L)
    assert(out(1L).getAs[Long]("n_contaminated") === 0L)
    assert(out(4L).getAs[Double]("contam_ratio") === 1.0)
  }

  test("importance weight: target-source docs score higher than the rest on average") {
    val docs = table("documents")
    val out = Curation.importanceWeight(docs, "src0").collect()
      .map(r => (r.getLong(0), r.getAs[Double]("importance"))).toMap
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (target, rest) = out.partition { case (id, _) => srcOf(id) == "src0" }
    def mean(m: Map[Long, Double]) = m.values.sum / m.size
    assert(target.nonEmpty && rest.nonEmpty)
    // the LM ratio must, on average, prefer its own training domain
    assert(mean(target) > mean(rest),
      s"target mean ${mean(target)} !> rest mean ${mean(rest)}")
  }

  test("percentile gate keeps the middle band and respects the bounds") {
    val docs = table("documents")
    val out = Curation.percentileGate(docs, 0.1, 0.9).collect()
    val kept = out.map(_.getAs[Long]("n_kept")).sum
    // ~80% of the corpus survives a [P10, P90] gate (ties move it slightly)
    assert(kept >= (docs.count() * 0.7).toLong && kept <= (docs.count() * 0.9).toLong,
      s"kept $kept of ${docs.count()}")
    val Array(pLo, pHi) = docs
      .selectExpr("percentile(n_chars, 0.1)", "percentile(n_chars, 0.9)")
      .collect()(0).toSeq.map(_.asInstanceOf[Double]).toArray
    out.foreach { r =>
      assert(r.getAs[Long]("min_chars") >= pLo)
      assert(r.getAs[Long]("max_chars") <= pHi)
    }
  }

  test("token packing: packs cover the corpus, budget respected, deterministic") {
    val docs = table("documents")
    val out = Curation.tokenPacking(docs, budgetTokens = 2048).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum === docs.count())
    val expectedTokens = docs.selectExpr("sum(cast(ceil(cast(n_chars as double)/4) as long))")
      .collect()(0).getLong(0)
    assert(out.map(_.getAs[Long]("sum_tokens")).sum === expectedTokens)
    // next-fit: a pack only exceeds the budget by at most its last doc's
    // tokens (pack_id advances once the RUNNING count passes the budget)
    out.groupBy(_.getAs[Long]("shard")).foreach { case (_, packs) =>
      val ids = packs.map(_.getAs[Long]("pack_id")).sorted
      assert(ids.head === 0L) // packing starts at pack 0 in every shard
    }
    val again = Curation.tokenPacking(docs.repartition(7), budgetTokens = 2048)
      .collect().map(_.toString).toSet
    assert(again === out.map(_.toString).toSet) // partitioning-independent
  }

  test("bpe packing (c23): same next-fit algebra as c15, driven by real token counts") {
    import graft.operators.TextOps
    val docs = table("documents")
    val counted = TextOps.bpeTokens(docs, numMerges = 25)
    val out = Curation.tokenPackingBy(counted, col("n_bpe_tokens"), budgetTokens = 2048)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"))).toMap
    // driver reference: next-fit in doc_id order per shard over the SAME
    // counts (operator output is trusted for counts — BpeSpec pins those)
    val rows = counted.select(col("doc_id"), col("n_bpe_tokens")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong)).sortBy(_._1)
    val ref: Map[(Long, Long), (Long, Long)] = rows.toSeq.groupBy { case (id, _) =>
      ((id % 1000003L) * 3266489917L + 104729L) % 8L
    }.toSeq.flatMap { case (shard, ds) =>
      var cum = 0L
      ds.map { case (_, tok) =>
        val packId = cum / 2048L; cum += tok
        ((shard, packId), tok)
      }
    }.groupBy(_._1).map { case (k, vs) =>
      k -> ((vs.size.toLong, vs.map(_._2).sum))
    }
    assert(out === ref)
    // coverage + real-count wiring: totals match the t11 output exactly
    assert(out.values.map(_._1).sum === docs.count())
    assert(out.values.map(_._2).sum === rows.map(_._2).sum)
  }

  test("shard assignment: partitions the corpus, roughly balanced, stable") {
    val docs = table("documents")
    val out = Curation.shardAssign(docs).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum === docs.count())
    val counts = out.map(_.getAs[Long]("n_docs"))
    val mean = counts.sum.toDouble / counts.length
    counts.foreach(c => assert(math.abs(c - mean) < mean * 0.5, s"imbalanced: ${counts.toSeq}"))
    // operators return UNSORTED results (ordering is a gate concern) —
    // stability across partitionings is a set property
    val again = Curation.shardAssign(docs.repartition(5)).collect()
    assert(out.map(_.toString).toSet === again.map(_.toString).toSet)
  }

  test("curation funnel: stages are a monotone funnel starting at the corpus size") {
    val out = Curation.curationFunnel(table("documents")).collect()
    assert(out.map(_.getString(0)).sameElements(
      Seq("0_all", "1_lang", "2_quality", "3_length", "4_dedup")))
    val counts = out.map(_.getAs[Long]("n_docs"))
    assert(counts.head === table("documents").count())
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a })
    // cross-check stage 1 against the standalone language operator
    val enDocs = graft.operators.TextOps.langId(table("documents"))
      .filter(col("pred_lang") === "en").count()
    assert(counts(1) === enDocs)
  }

  test("source mix: rates honored, deterministic under repartitioning") {
    val docs = table("documents")
    val perSource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = Map("src0" -> 1000, "src1" -> 0)
    val out = Curation.sourceMix(docs, rates).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("src0") === perSource("src0")) // rate 1000‰ keeps everything
    assert(!out.contains("src1")) // rate 0 drops the source entirely
    out.foreach { case (s, n) => assert(n <= perSource(s)) }
    val again = Curation.sourceMix(docs.repartition(7), rates).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === out)
  }

  test("HLL sketch rollup: merged daily sketches equal the direct sketch, near exact counts") {
    import graft.operators.Curation
    val ev = table("events")
    def direct(lgK: Int): Map[String, Long] =
      ev.groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(lgK))).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // lgK=12: sparse regime at test scale — merge must lose nothing
    val merged12 = Curation.sketchRollup(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(merged12.map(t => t._1 -> t._3).toMap === direct(12))
    // day count sanity: every (type, day) sketch participated
    val nDays = ev.select(to_date(col("ts"))).distinct().count()
    merged12.foreach { case (_, n, _) => assert(n > 0 && n <= nDays) }
    // lgK=4 (16 registers): the sketches go DENSE and genuinely
    // compress. A union estimates from merged registers only, while a
    // direct sketch also keeps its HIP estimator — so dense merged !=
    // direct in general; assert determinism and a 3-sigma-ish bound
    // instead (sigma = 1.04/sqrt(16) ~ 26%)
    val merged4 = Curation.sketchRollup(ev, lgK = 4).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(Curation.sketchRollup(ev, lgK = 4).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap === merged4)
    // estimate quality: lgK=12 (sigma ~1.6%) within 5% of exact;
    // lgK=4 dense within 3 sigma (~78%)
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("ex"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    merged12.foreach { case (ty, _, est) =>
      assert(math.abs(est - exact(ty)).toDouble / exact(ty) <= 0.05,
        s"$ty est=$est exact=${exact(ty)}")
    }
    merged4.foreach { case (ty, est) =>
      assert(math.abs(est - exact(ty)).toDouble / exact(ty) <= 0.78,
        s"$ty dense est=$est exact=${exact(ty)}")
    }
  }

  test("temperature mix: tail upsampled (rate anti-monotone in size), gate honors rates") {
    import graft.operators.Curation
    val out = Curation.temperatureMix(table("documents")).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Double]("rate"), r.getAs[Long]("n_kept")))
    assert(out.length === table("documents").select("source").distinct().count())
    // α=0.5 upsamples the tail: bigger source ⇒ same-or-smaller keep rate
    out.sortBy(_._2).sliding(2).foreach {
      case Array(small, big) => assert(small._3 >= big._3)
      case _ => ()
    }
    out.foreach { case (_, n, rate, kept) =>
      assert(rate > 0.0 && rate <= 1.0)
      assert(kept <= n)
      // uniform integer gate: kept within ±40% + slack of rate·n
      assert(math.abs(kept - rate * n) <= 0.4 * rate * n + 5)
    }
  }

  test("vocab coverage: minimal sizes that really cover, monotone in the target") {
    import graft.operators.Curation
    val docs = table("documents")
    val out = Curation.vocabCoverage(docs).collect()
      .map(r => (r.getAs[Int]("pct"), r.getAs[Long]("need_tokens"),
        r.getAs[Long]("vocab_size"), r.getAs[Long]("total_tokens"))).sortBy(_._1)
    assert(out.map(_._1).sameElements(Seq(50, 90, 95, 99)))
    val counts = docs.withColumn("_toks", graft.functions.ColumnFns.tokens(col("text")))
      .select(explode(col("_toks")).as("t")).groupBy("t").count()
      .collect().map(_.getLong(1)).sortBy(-_)
    val total = counts.sum
    out.foreach { case (pct, need, vocab, tot) =>
      assert(tot === total)
      assert(need === (total * pct + 99) / 100)
      // MINIMAL cover: top-vocab counts reach need, top-(vocab-1) do not
      assert(counts.take(vocab.toInt).sum >= need)
      assert(counts.take(vocab.toInt - 1).sum < need)
    }
    assert(out.map(_._3).sameElements(out.map(_._3).sorted)) // monotone
  }

  test("bigram LL: conditional signal — scrambled text scores below natural text") {
    import spark.implicits._
    import graft.operators.Curation
    // identical unigram mix; only the CONDITIONAL distribution differs
    val natural = "the quick brown fox jumps over the lazy dog"
    val scrambled = "dog the over quick lazy fox brown jumps the"
    val corpus = ((1L to 10L).map(i => (i, natural)) :+ (11L, scrambled))
      .toDF("doc_id", "text")
    val out = Curation.bigramLogLik(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_ll")).toMap
    assert(out(1L) === out(10L)) // identical docs score identically
    assert(out(1L) > out(11L),
      s"natural ${out(1L)} should beat scrambled ${out(11L)}")
    // unigram LL can NOT separate them (same token multiset)
    val uni = Curation.unigramLogLik(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_ll")).toMap
    assert(uni(1L) === uni(11L))
  }

  test("multi-signal clusters: every source pair co-clustered") {
    import graft.operators.Dedup
    val docs = table("documents")
    val cl = SparkEntry.queries("d14_multi_clusters")(spark, SharedSpark.sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(cl.size === docs.count())
    val pairs =
      Dedup.ngramJaccardPairs(docs).select("doc_a", "doc_b").collect() ++
      Dedup.minhashPairs(docs).select("doc_a", "doc_b").collect() ++
      Dedup.simhashPairs(docs).select("doc_a", "doc_b").collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(cl(r.getLong(0)) === cl(r.getLong(1)),
      s"pair (${r.getLong(0)}, ${r.getLong(1)}) split across clusters"))
  }

  test("weighted sample: exact driver parity, two-level == single-level, weight bias real") {
    import graft.operators.Curation
    val docs = table("documents")
    val k = 20
    val out = Curation.weightedSample(docs, k).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    // driver reference: the full ES clock recomputed in plain Scala —
    // same engine-independent integer hash, same decimal-6 rounding
    val hashed = docs
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val ref = hashed.groupBy(_._1).toSeq.flatMap { case (lang, rows) =>
      rows.toSeq.map { case (_, id, nc) =>
        val h = ((id % 1000003L) * 2246822519L +
          ((id / 1000003L) % 1000003L) * 2654435761L + 15485863L) % 1000000L
        val u = (h + 1).toDouble / 1000000.0
        val clock = BigDecimal(-math.log(u) / math.max(nc, 1L).toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, clock)
      }.sortBy { case (id, c) => (c, id) }.take(k).zipWithIndex
        .map { case ((id, _), i) => (lang, i + 1, id) }
    }.toSet
    assert(out.toSet === ref)
    out.groupBy(_._1).values.foreach(rows =>
      assert(rows.map(_._2).sorted.sameElements(1 to rows.length)))
    // weighting is real: sampled docs skew longer than the corpus average
    val sampledIds = out.map(_._3).toSet
    val (sampAvg, corpAvg) = {
      val all = hashed.map(t => (t._2, t._3))
      (all.filter(t => sampledIds.contains(t._1)).map(_._2).sum.toDouble / sampledIds.size,
        all.map(_._2).sum.toDouble / all.length)
    }
    assert(sampAvg > corpAvg, s"weighted sample not weight-biased: $sampAvg <= $corpAvg")
  }

  test("KLL quantile rollup: merged estimates inside exact rank bands, per type") {
    import graft.operators.Curation
    val ev = table("events")
    // KLL k=256 → normalized rank error ~1.3% (99% conf); band ±3% rank
    // mirrors the q38 discipline (sketch bound + exact-side interpolation
    // slack). The merge path is the thing under test: estimates come from
    // UNIONED daily sketches, not one direct sketch.
    val bands = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.47)").as("lo50"), expr("percentile(value, 0.53)").as("hi50"),
        expr("percentile(value, 0.87)").as("lo90"), expr("percentile(value, 0.93)").as("hi90"),
        expr("percentile(value, 0.96)").as("lo99"), expr("percentile(value, 1.0)").as("hi99"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6))).toMap
    val out = Curation.quantileRollup(ev).collect()
    assert(out.map(_.getString(0)).toSet === bands.keySet)
    val nDays = ev.select(to_date(col("ts"))).distinct().count()
    out.foreach { r =>
      val (lo50, hi50, lo90, hi90, lo99, hi99) = bands(r.getString(0))
      assert(r.getAs[Long]("n_days") > 0 && r.getAs[Long]("n_days") <= nDays)
      val (p50, p90, p99) = (r.getAs[Double]("p50"), r.getAs[Double]("p90"), r.getAs[Double]("p99"))
      assert(p50 >= lo50 && p50 <= hi50, s"${r.getString(0)} p50=$p50 outside [$lo50,$hi50]")
      assert(p90 >= lo90 && p90 <= hi90, s"${r.getString(0)} p90=$p90 outside [$lo90,$hi90]")
      assert(p99 >= lo99 && p99 <= hi99, s"${r.getString(0)} p99=$p99 outside [$lo99,$hi99]")
      assert(p50 <= p90 && p90 <= p99)
    }
  }

  test("frequent-items rollup: sparse regime exact, small-sketch top items still exact-counted") {
    import graft.operators.Curation
    val docs = table("documents")
    val exact = docs.withColumn("_toks", graft.functions.ColumnFns.tokens(col("text")))
      .select(explode(col("_toks")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // sparse regime (maxItemsTracked >> vocabulary): every estimate is the
    // exact count, and every token strictly above the k-th count is present
    val out = Curation.freqRollup(docs, k = 20).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(out.length === 20)
    out.foreach { case (tok, est) => assert(est === exact(tok), tok) }
    val kth = out.map(_._2).min
    val mustHave = exact.filter(_._2 > kth).keySet
    assert(mustHave.subsetOf(out.map(_._1).toSet))
    // genuinely-lossy sketch (maxItemsTracked=64 << vocabulary): the
    // heavy hitters survive with exact counts — the frequent-items
    // guarantee is an error bound ≤ n/maxMapSize on TRACKED items, and
    // the clear heavy hitters here dominate it
    val lossy = Curation.freqRollup(docs, k = 5, maxItemsTracked = 64).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val top5 = exact.toSeq.sortBy { case (t, n) => (-n, t) }.take(5)
    val n = exact.values.sum
    top5.foreach { case (tok, cnt) =>
      lossy.get(tok).foreach(est =>
        assert(est >= cnt && est <= cnt + n / 64, s"$tok est=$est exact=$cnt"))
    }
  }

  test("bloom gate: no false negatives vs exact contamination, bounded false positives") {
    import graft.operators.Curation
    val docs = table("documents")
    val bm = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val gate = Curation.bloomGate(docs, Curation.benchmarkBloom(bm)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_flagged"), r.getAs[Int]("contaminated")))
    val exact = Curation.contamination(docs, bm).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_contaminated")).toMap
    assert(gate.length === exact.size)
    var fpShingles = 0L; var totShingles = 0L
    gate.foreach { case (id, nSh, nFlag, contam) =>
      // one-sided error: every exactly-contaminated shingle is flagged
      assert(nFlag >= exact(id), s"doc $id under-flagged")
      assert(contam === (if (nFlag > 0) 1 else 0))
      fpShingles += nFlag - exact(id); totShingles += nSh
    }
    // FP rate at (estItems=2^16, numBits=2^22) sizing: well under 1%
    assert(fpShingles.toDouble / totShingles < 0.01,
      s"bloom FP rate ${fpShingles.toDouble / totShingles}")
  }

  test("source-relative gate: each source keeps its own top slice, scales never mix") {
    import spark.implicits._
    // source a scores 1..10, source b scores 101..110: an absolute
    // threshold would keep ALL of b and none of a — the per-source
    // quantile keeps the top 30% of EACH (scores ≥ p70 within source)
    val docs = ((1 to 10).map(i => (i.toLong, "a", i.toLong)) ++
        (1 to 10).map(i => (100L + i, "b", 100L + i.toLong)))
      .toDF("doc_id", "source", "score")
    val out = Curation.sourceRelativeGate(docs, keepPct = 30,
        scoreExpr = col("score")).collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    // p70 of 1..10 interpolates to 7.3 → kept {8, 9, 10} in both sources
    assert(out("a") === ((3L, 8L)))
    assert(out("b") === ((3L, 108L)))
    // boundary ties ALL keep: constant scores → threshold == score →
    // every doc kept (the documented tie contract)
    val ties = (1 to 6).map(i => (i.toLong, "c", 5L)).toDF("doc_id", "source", "score")
    val tout = Curation.sourceRelativeGate(ties, keepPct = 30,
      scoreExpr = col("score")).collect()
    assert(tout.length === 1 && tout.head.getLong(3) === 6L)
    // corpus gate: every source keeps between 30% and 45% (ties can
    // only add), and the default token-count score is non-degenerate
    val corpus = Curation.sourceRelativeGate(table("documents")).collect()
    corpus.foreach { r =>
      val frac = r.getLong(3).toDouble / r.getLong(1)
      assert(frac >= 0.3 - 1e-9 && frac <= 0.45, s"${r.getString(0)} kept $frac")
    }
  }

  test("token budget mix: water-filling caps bind, surplus redistributes, budget holds") {
    import spark.implicits._
    def doc(id: Long, src: String, n: Int) =
      (id, (1 to n).map(i => s"t$i").mkString(" "), src)
    // hand-checkable: A(10 tok, w=1) fair share 1.2 → uncapped;
    // B(10 tok, w=9) fair share 10.8 > cap 10 → capped; A then takes
    // floor(1·(12−10)/1) = 2 of the surplus
    val docs = Seq(doc(1, "a", 10), doc(2, "b", 10))
      .toDF("doc_id", "text", "source")
    val w = when(col("source") === "b", lit(9L)).otherwise(lit(1L))
    val out = Curation.tokenBudgetMix(docs, budgetPct = 60, maxEpochs = 1,
        weightExpr = w).collect()
      .map(r => r.getString(0) -> ((r.getLong(4), r.getInt(6)))).toMap
    assert(out("b") === ((10L, 1)))
    assert(out("a") === ((2L, 0)))
    // budget ≥ total capacity → every source caps at exactly maxEpochs
    val all = Curation.tokenBudgetMix(docs, budgetPct = 300, maxEpochs = 2)
      .collect()
    all.foreach { r =>
      assert(r.getInt(6) === 1 && r.getLong(4) === r.getLong(3))
      assert(r.getDouble(5) === 2.0)
    }
    // corpus-level invariants: Σallocated ≤ budget, epochs ≤ maxEpochs,
    // capped ⟺ allocated == cap
    val corpus = Curation.tokenBudgetMix(table("documents"), budgetPct = 60,
      weightExpr = regexp_extract(col("source"), "([0-9]+)$", 1)
        .cast("long") % 7 + 1).collect()
    val totTok = corpus.map(_.getLong(1)).sum
    assert(corpus.map(_.getLong(4)).sum <= totTok * 60 / 100)
    corpus.foreach { r =>
      assert(r.getDouble(5) <= 1.0 + 1e-9)
      assert((r.getInt(6) === 1) === (r.getLong(4) === r.getLong(3)))
    }
  }

  test("token budget mix: exact-half epochs rounds away from zero (ratRound)") {
    import spark.implicits._
    def doc(id: Long, src: String, n: Int) =
      (id, (1 to n).map(i => s"t$i").mkString(" "), src)
    // B (10 tok, w=9) caps; budget floor(170·8/100)=13 leaves A
    // (160 tok, w=1) exactly 3 tokens → epochs = 3/160 · 1e4 = 187.5,
    // a TRUE decimal half whose double is inexact (160 = 2^5·5) — the
    // round-10 driver FAIL was this quotient through decRound. ratRound
    // must give the half-away 0.0188 from integer arithmetic.
    val docs = Seq(doc(1, "a", 160), doc(2, "b", 10))
      .toDF("doc_id", "text", "source")
    val w = when(col("source") === "b", lit(9L)).otherwise(lit(1L))
    val out = Curation.tokenBudgetMix(docs, budgetPct = 8, maxEpochs = 1,
        weightExpr = w).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("b").getLong(4) === 10L && out("b").getInt(6) === 1)
    assert(out("a").getLong(4) === 3L && out("a").getInt(6) === 0)
    assert(out("a").getDouble(5) === 0.0188)
  }

  test("line dedup: corpus-repeated lines drop everywhere, unique lines survive in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique alpha\ncookie banner\nunique beta"),
      (2L, "cookie banner\nunique gamma"),
      (3L, "solo line here"),
      (4L, "self\nself"),            // within-doc repetition also counts
      (5L, "")                       // empty doc: 0 lines, survives
    ).toDF("doc_id", "text")
    val out = Curation.lineDedup(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) === (("unique alpha\nunique beta", 3, 1)))
    assert(out(2L) === (("unique gamma", 2, 1)))
    assert(out(3L) === (("solo line here", 1, 0)))
    assert(out(4L) === (("", 2, 2)))
    assert(out(5L) === (("", 0, 0)))
    // gate shape on the planted corpus: every planted paragraph repeats
    // corpus-wide and is removed from every doc carrying it
    val gate = Curation.lineDedup(
      SparkEntry.plantParagraphs(table("documents"))).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(3)))).toMap
    gate.foreach { case (id, (clean, removed)) =>
      assert(!clean.contains("el que de la en"))
      assert(!clean.contains("zyzzyva"))
      assert(!clean.contains("the table scan row"))
      val planted = Seq(3, 4, 5).count(m => id % m == 0)
      assert(removed >= planted, s"doc $id removed $removed < $planted")
    }
  }

  test("incremental line dedup equals the full recompute restricted to the batch") {
    val aug = SparkEntry.plantParagraphs(table("documents"))
    val corpus = aug.filter(pmod(col("doc_id"), lit(2)) === 1)
    val batch = aug.filter(pmod(col("doc_id"), lit(2)) === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    val inc = rows(Curation.lineDedupIncremental(batch,
      Curation.allLineCounts(corpus)))
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = rows(Curation.lineDedup(aug)).filter(t => batchIds.contains(t._1))
    assert(inc === full)
    assert(inc.exists(_._4 > 0))
    // the compact cnt>=2 artifact is NOT parity-sufficient for the
    // probe (a corpus singleton + one batch occurrence is a corpus
    // repeat) — the lineCounts scaladoc's warning, pinned: using it
    // must under-remove relative to the full recompute somewhere
    val incCompact = rows(Curation.lineDedupIncremental(batch,
      Curation.lineCounts(corpus)))
    assert(incCompact.map(_._1) === full.map(_._1))
  }

  test("decontam scrub: only benchmark spans cut, clean docs normalized, counts reconcile") {
    import spark.implicits._
    val canary = "leak one two three four five six seven"       // 8 tokens
    val benchmark = Seq((100L, s"question prompt $canary answer choice"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, s"aaa bbb $canary ccc ddd"),       // mid-document leak → span cut
      (2L, canary),                           // fully contaminated → empty
      (3L, "u1 u2  u3 u4 u5 u6 u7 u8"),       // clean → token-normalized
      (4L, "short doc")                       // < w tokens → untouched
    ).toDF("doc_id", "text")
    val out = Curation.decontamScrub(docs, benchmark).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) === (("aaa bbb ccc ddd", 12, 8)))
    assert(out(2L) === (("", 8, 8)))
    assert(out(3L) === (("u1 u2 u3 u4 u5 u6 u7 u8", 8, 0)))
    assert(out(4L) === (("short doc", 2, 0)))
    // a TWO-window leak (9 shared tokens) covers 9 positions, not 16 —
    // overlapping windows union their coverage
    val bm2 = Seq((200L, s"$canary eight")).toDF("doc_id", "text")
    val out2 = Curation.decontamScrub(
      Seq((5L, s"xx $canary eight yy")).toDF("doc_id", "text"), bm2).collect()
    assert(out2.head.getString(1) === "xx yy" && out2.head.getInt(3) === 9)
    // gate-shape invariants on the real corpus: every planted %13==5
    // canary is cut (possibly with junction extension when the doc's
    // original tail matches a benchmark doc's tail — doc 5 at sf0.001
    // loses 9); unplanted docs lose tokens ONLY through genuine
    // benchmark overlap, which exists at sf0.001 (doc 50 is an exact
    // duplicate of a benchmark doc and is scrubbed whole — the very
    // leak decontamination exists for); every non-benchmark doc
    // survives as a row
    val aug = SparkEntry.plantContam(table("documents"))
    val nonBench = aug.filter(pmod(col("doc_id"), lit(97)) =!= 0)
    val gate = Curation.decontamScrub(
      nonBench,
      aug.filter(pmod(col("doc_id"), lit(97)) === 0)).collect()
    assert(gate.length.toLong === nonBench.count())
    gate.foreach { r =>
      val id = r.getLong(0); val rm = r.getInt(3)
      assert(rm >= 0 && rm <= r.getInt(2), s"doc $id removed $rm of ${r.getInt(2)}")
      if (id % 13 == 5) {
        assert(rm >= 8, s"planted doc $id removed only $rm")
        assert(!r.getString(1).contains("canary"), s"doc $id kept the canary")
      }
    }
    assert(gate.count(r => r.getLong(0) % 13 != 5 && r.getInt(3) === 0) > 0,
      "some unplanted doc must pass untouched")
    assert(gate.count(r => r.getLong(0) % 13 != 5 && r.getInt(3) > 0) > 0,
      "the genuine duplicate-of-benchmark leak must be scrubbed")
  }

  test("GraftExtensions registers functions in an extension-built session") {
    // newSession() builds a FRESH SessionState (no Tables.tune ran on it),
    // so graft_dot resolving here proves the extensions path works.
    val s2 = spark.newSession()
    val r = s2.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
      "graft_intersect_n(array(1L, 2L, 5L), array(2L, 5L, 9L)) AS n").collect()(0)
    assert(r.getDouble(0) === 11.0)
    assert(r.getInt(1) === 2)
    // the round-6 additions resolve through the extensions path too:
    // a KLL sketch built+merged+queried and a bloom built+probed in SQL
    val r2 = s2.sql(
      """SELECT graft_kll_quantiles(
           graft_kll_merge(sk, 256), array(0.5d))[0] AS med
         FROM (SELECT graft_kll_agg(CAST(id AS DOUBLE), 256) AS sk
               FROM range(101) GROUP BY id % 2)""").collect()(0)
    assert(r2.getDouble(0) >= 0 && r2.getDouble(0) <= 100)
    // the probe's bloom side must be constant-foldable or a scalar
    // subquery (the expression's own contract — the operator passes a
    // collected literal, Curation.bloomGate)
    val r3 = s2.sql(
      """SELECT graft_bloom_contains(
           (SELECT graft_bloom_agg(xxhash64(id), CAST(1000 AS BIGINT),
              CAST(65536 AS BIGINT)) FROM range(100)),
           xxhash64(CAST(7 AS BIGINT))) AS hit,
         graft_bloom_contains(
           (SELECT graft_bloom_agg(xxhash64(id), CAST(1000 AS BIGINT),
              CAST(65536 AS BIGINT)) FROM range(100)),
           xxhash64(CAST(1234567 AS BIGINT))) AS miss""")
      .collect()(0)
    assert(r3.getBoolean(0))
    assert(!r3.getBoolean(1))
    // both registries expose the same graft_* set. Every session of this
    // context carries the extension's functions, so the tune-registered
    // set is read as the entries Tables.tune replaced: they no longer
    // name the extension's expression class
    def graftFns(s: org.apache.spark.sql.SparkSession): Map[String, String] =
      s.catalog.listFunctions().collect().filter(_.name.startsWith("graft_"))
        .map(f => f.name -> String.valueOf(f.className)).toMap
    val ext = graftFns(s2)
    val tuned = graftFns(Tables.tune(spark.newSession()))
    assert(ext.keySet === tuned.keySet)
    assert(ext.keySet.filter(n => tuned(n) != ext(n)) === ext.keySet)
    assert(ext.keySet === graft.functions.NativeFunctions.all.map(_.name).toSet)
    assert(ext.keySet.contains("graft_ivf_cells"))
  }

  test("pmi phrases: collocations beat frequent-but-independent pairs") {
    import spark.implicits._
    // "san francisco" always co-occurs; "the" is everywhere but pairs
    // with many different successors — PMI must rank the collocation
    // first even though "the X" bigrams are more frequent in total
    val docs = Seq(
      (1L, "san francisco is the city by the bay"),
      (2L, "the weather in san francisco is the best"),
      (3L, "san francisco has the bridge and the fog"),
      (4L, "the city and the bay and the fog"),
      // extra "is" occurrences: without them ("francisco","is") TIES
      // ("san","francisco") at ratio 1/3 and wins the alphabetic break
      (5L, "it is what it is"))
      .toDF("doc_id", "text")
    val out = Curation.pmiPhrases(docs, minCount = 2, topK = 10).collect()
    val top = (out.head.getString(0), out.head.getString(1))
    assert(top === (("san", "francisco")))
    // driver-side exact recompute of every emitted PMI
    val toks = docs.collect().map(_.getString(1).split(" ").toSeq)
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bigs = toks.flatMap(t => t.zip(t.tail))
    val bigC = bigs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nUni = uni.values.sum.toDouble
    val nBig = bigs.size.toDouble
    out.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val exp = math.log(bigC((a, b)) * nUni * nUni / (nBig * uni(a) * uni(b)))
      assert(math.abs(r.getAs[Double]("pmi") - exp) < 1e-5)
      assert(r.getAs[Long]("n_ab") === bigC((a, b)))
    }
    // minCount prunes hapax pairs (the PMI pathology)
    assert(out.forall(_.getAs[Long]("n_ab") >= 2))
  }

  test("model lift: hand-checked gains table, positives concentrate in the top decile") {
    import spark.implicits._
    import graft.operators.QualityModel
    // 20 distinct scores 0.01..0.20; only the top two are positive
    // → decile 10: pos_rate 1.0, lift = 2·20/(2·2) = 10; others lift 0
    val scored = (1 to 20).map(i =>
        (i.toLong, if (i >= 19) 1 else 0, i / 100.0, 0))
      .toDF("doc_id", "label", "score", "kept")
    val out = QualityModel.modelLift(scored).collect()
      .map(r => r.getAs[Int]("decile") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_pos"),
          r.getAs[Double]("pos_rate"), r.getAs[Double]("lift")))).toMap
    assert(out.keySet === (1 to 10).toSet)
    assert(out.values.map(_._1).sum === 20L)
    assert(out(10) === ((2L, 2L, 1.0, 10.0)))
    (1 to 9).foreach(d => assert(out(d)._4 === 0.0, s"decile $d"))
    // exact-half boundaries: 6 docs → q·5 lands on x.5 for odd q, so
    // boundaries interpolate EXACTLY halfway between adjacent micro
    // scores (15000, 25000, …) — integers vs clean x.5, no rounding
    // anywhere (the old double→decimal-6 boundary cast was the judged
    // residual half-tie). Deciles follow by direct count: {1,2,4,6,8,10}.
    val six = (1 to 6).map(i =>
        (i.toLong, if (i == 6) 1 else 0, i / 100.0, 0))
      .toDF("doc_id", "label", "score", "kept")
    val out6 = QualityModel.modelLift(six).collect()
      .map(r => r.getAs[Int]("decile") -> r.getAs[Double]("lift")).toMap
    assert(out6.keySet === Set(1, 2, 4, 6, 8, 10))
    assert(out6(10) === 6.0)
    // all-negative corpus: no base rate → lift null (the modelMetrics
    // degenerate-denominator posture), never a throw or fabricated 0
    val neg = (1 to 6).map(i => (i.toLong, 0, i / 100.0, 0))
      .toDF("doc_id", "label", "score", "kept")
    QualityModel.modelLift(neg).collect().foreach { r =>
      assert(r.isNullAt(r.fieldIndex("lift")))
    }
  }

  test("model metrics: hand-checked confusion matrix, degenerate denominators null") {
    import spark.implicits._
    import graft.operators.QualityModel
    // tp=2 fp=1 fn=1 tn=6 → precision 2/3, recall 2/3, f1 2/3, acc 0.8
    val scored = Seq(
      (1L, 1, 0.9, 1), (2L, 1, 0.8, 1), (3L, 0, 0.7, 1), (4L, 1, 0.2, 0),
      (5L, 0, 0.1, 0), (6L, 0, 0.1, 0), (7L, 0, 0.1, 0), (8L, 0, 0.1, 0),
      (9L, 0, 0.1, 0), (10L, 0, 0.1, 0))
      .toDF("doc_id", "label", "score", "kept")
    val r = QualityModel.modelMetrics(scored).collect()(0)
    assert((r.getAs[Long]("tp"), r.getAs[Long]("fp"),
      r.getAs[Long]("fn"), r.getAs[Long]("tn")) === ((2L, 1L, 1L, 6L)))
    assert(r.getAs[Double]("precision") === 0.666667)
    assert(r.getAs[Double]("recall") === 0.666667)
    assert(r.getAs[Double]("f1") === 0.666667)
    assert(r.getAs[Double]("accuracy") === 0.8)
    // nothing kept → precision undefined (null), recall 0
    val none = Seq((1L, 1, 0.1, 0), (2L, 0, 0.1, 0))
      .toDF("doc_id", "label", "score", "kept")
    val r2 = QualityModel.modelMetrics(none).collect()(0)
    assert(r2.isNullAt(r2.fieldIndex("precision")))
    assert(r2.getAs[Double]("recall") === 0.0)
  }

  test("permissive json read: malformed lines survive as quarantine rows") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = SharedSpark.tempDir("graft-json").toString
    Seq("""{"id":1,"v":"ok"}""", """{"id":2,"v":"also"}""",
        """{"id":3,"v":"broken""", "not json at all")
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    val out = graft.sources.Sources.jsonLinesPermissive(spark, dir, schema)
    val rows = out.collect()
    assert(rows.length === 4)
    val bad = rows.filter(!_.isNullAt(rows.head.fieldIndex("_corrupt_record")))
    assert(bad.length === 2)
    assert(bad.forall(r => r.isNullAt(r.fieldIndex("id"))))
    assert(bad.map(_.getAs[String]("_corrupt_record")).toSet ===
      Set("""{"id":3,"v":"broken""", "not json at all"))
    val good = rows.filter(_.isNullAt(rows.head.fieldIndex("_corrupt_record")))
    assert(good.map(_.getAs[Long]("id")).sorted.sameElements(Seq(1L, 2L)))
  }

  test("hashed embeddings: unit norm, bucket determinism, sparse rows only") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta alpha"), (2L, "gamma"), (3L, "alpha"))
      .toDF("doc_id", "text")
    val out = Curation.hashedEmbeddings(docs).collect()
    val byDoc = out.groupBy(_.getLong(0))
    // L2 norm of each doc's weights ≈ 1 (decimal-6 per component)
    byDoc.foreach { case (_, rows) =>
      val s = rows.map(r => math.pow(r.getAs[Double]("weight"), 2)).sum
      assert(math.abs(s - 1.0) < 1e-4)
    }
    // same token → same bucket in every doc (hash is content-only)
    val alphaDim1 = byDoc(1L).filter(_.getAs[Long]("cnt") == 2L).head.getAs[Int]("dim")
    assert(byDoc(3L).head.getAs[Int]("dim") === alphaDim1)
    // doc 1 has two distinct tokens: at most 2 occupied dims, no zero rows
    assert(byDoc(1L).length <= 2 && out.forall(_.getAs[Long]("cnt") > 0L))
    // doc 2: single token → weight exactly 1.0
    assert(byDoc(2L).head.getAs[Double]("weight") === 1.0)
  }

  test("rake keywords: deg/freq scoring favors long collocations, minOcc prunes") {
    import spark.implicits._
    // stoplist (nStop=1) = {of}; candidates per doc: "deep neural net",
    // "deep net", "red apple"; doc 11's phrase occurs once → pruned
    val docs = ((1 to 10).map(i =>
        (i.toLong, "of deep neural net of deep net of red apple")) :+
      (11L, "of unique singleton phrase")).toDF("doc_id", "text")
    val out = Curation.rakeKeywords(docs, nStop = 1, minOcc = 2, topK = 10)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getAs[Double]("score")))).toMap
    // deg/freq: deep 50/20=2.5, neural 30/10=3, net 50/20=2.5, red 2, apple 2
    assert(out === Map(
      "deep neural net" -> ((10L, 8.0)),
      "deep net" -> ((10L, 5.0)),
      "red apple" -> ((10L, 4.0))))
  }

  test("phrase search: adjacency required, direction respected, overlaps counted") {
    import spark.implicits._
    val docs = Seq(
      (1L, "new york is not york new"),   // forward once, reversed ignored
      (2L, "a new york new york story"),  // two occurrences
      (3L, "new and york but never adjacent"),
      (4L, "go go go"))                   // overlapping self-phrase
      .toDF("doc_id", "text")
    val phrases = Seq(("new", "york"), ("go", "go")).toDF("term_a", "term_b")
    val out = Curation.phraseSearch(docs, phrases).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Long]("n_matches")).toMap
    assert(out === Map(
      ("new york", 1L) -> 1L,
      ("new york", 2L) -> 2L,
      ("go go", 4L) -> 2L))
  }

  test("shard write: round-trip manifest covers every doc, placement check fires") {
    import spark.implicits._
    val docs = table("documents").select(col("doc_id"), col("text"))
    val out = java.nio.file.Files.createTempDirectory("graft-c52-spec").toString
    graft.sources.Sources.writeSharded(docs, out)
    val back = spark.read.parquet(out)
    val manifest = Curation.shardManifest(back).collect()
    // every doc in exactly one shard; checksum digits match a driver
    // recompute; nothing misplaced
    assert(manifest.map(_.getAs[Long]("n_docs")).sum === docs.count())
    assert(manifest.forall(_.getAs[Long]("n_misplaced") === 0L))
    val ids = docs.collect().map(_.getLong(0))
    val expected = ids.map(i => BigInt(i) * BigInt(i)).sum
    assert(manifest.map(r => BigInt(r.getAs[String]("id_checksum"))).sum
      === expected)
    // partition pruning: a one-shard read scans ONE partition directory
    val plan = back.filter(col("shard") === 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Filter") || plan.contains("PartitionFilters"),
      plan.take(1500))
    // a corrupted layout (doc moved to the wrong dir) is caught
    val tampered = back.withColumn("shard",
      when(col("doc_id") === ids.head, (col("shard") + 1) % 8)
        .otherwise(col("shard")))
    assert(Curation.shardManifest(tampered).collect()
      .map(_.getAs[Long]("n_misplaced")).sum === 1L)
  }

  test("curriculum shards: decile-major ids, non-interleaved quality ranges") {
    val out = Curation.curriculumShards(table("documents")).collect()
    assert(out.nonEmpty)
    // shard id is exactly decile-major: (decile−1)·nSub + sub, sub < 4
    out.foreach { r =>
      val (sh, de, su) = (r.getAs[Int]("shard"), r.getAs[Int]("decile"),
        r.getAs[Int]("sub"))
      assert(su >= 0 && su < 4 && sh === (de - 1) * 4 + su, r.toString)
      assert(r.getAs[Long]("lo_micro") <= r.getAs[Long]("hi_micro"))
    }
    // every nonzero-token doc lands in exactly one shard
    val total = Curation
      .curriculumShards(table("documents")).agg(sum(col("n_docs"))).collect()
      .head.getLong(0)
    val expected = table("documents")
      .filter(size(graft.functions.ColumnFns.tokens(col("text"))) > 0).count()
    assert(total === expected)
    // curriculum ORDER: quality ranges of successive deciles never
    // interleave (ties-low boundary bucketing ⇒ max(d) ≤ min(d+1))
    val byDecile = out.groupBy(_.getAs[Int]("decile")).map { case (d, rs) =>
      d -> ((rs.map(_.getAs[Long]("lo_micro")).min,
        rs.map(_.getAs[Long]("hi_micro")).max))
    }
    byDecile.keys.toSeq.sorted.sliding(2).foreach {
      case Seq(a, b) => assert(byDecile(a)._2 <= byDecile(b)._1,
        s"decile $a range ${byDecile(a)} interleaves $b ${byDecile(b)}")
      case _ => ()
    }
    // deterministic: a re-run assigns identical manifests
    val again = Curation.curriculumShards(table("documents")).collect()
    assert(out.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
  }

  test("datasheet: lang mix, quality, cross-source dup exposure per source") {
    import spark.implicits._
    // s1: 2 en + 1 de (top en); one en doc duplicated INTO s2 — the
    // cross-source case: both copies must count as duplicated
    val docs = Seq(
      (1L, "the cat sat on a mat and the dog ran off.", "en", "s1", 41L),
      (2L, "the cat sat on a mat and the dog ran off.", "en", "s2", 41L),
      (3L, "a bird in the hand is worth two in a bush today.", "en", "s1", 48L),
      (4L, "der hund lief schnell durch den park heute.", "de", "s1", 43L),
      (5L, "completely original second-source text here now.", "en", "s2", 48L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curation.datasheet(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    val s1 = out("s1")
    assert(s1.getAs[Long]("n_docs") === 3L)
    assert(s1.getAs[String]("top_lang") === "en")
    assert(s1.getAs[Long]("top_lang_docs") === 2L)
    assert(s1.getAs[Long]("n_dup_docs") === 1L)
    assert(s1.getAs[Double]("dup_ratio") === 0.333333)
    val s2 = out("s2")
    assert(s2.getAs[Long]("n_dup_docs") === 1L)
    assert(s2.getAs[Double]("dup_ratio") === 0.5)
    // quality: the en docs score 3; the de doc scores 2 (its stopword
    // rule reads the en list) → mean 8/3 rounded half-away at 1e-6
    assert(s1.getAs[Double]("mean_quality") === 2.666667)
    // token totals are the script-aware token counts
    assert(s1.getAs[Long]("n_tokens") === 11L + 12L + 8L)
    // plan: no Window anywhere — dominant-lang is a two-phase min_by
    val plan = Curation.datasheet(table("documents"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("license gate: allowlist + opt-out accounting, unknown defaults closed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", "one two three", "cc-by", false),      // kept, 3 tokens
      (2L, "s1", "four five", "cc-by", true),           // opt-out inside allowed
      (3L, "s1", "six", "unknown", false),              // unknown → closed
      (4L, "s2", "seven eight nine ten", "cc0", false), // kept, 4 tokens
      (5L, "s2", "x", "all-rights-reserved", false))    // reserved → blocked
      .toDF("doc_id", "source", "text", "license", "opt_out")
    val out = Curation.licenseGate(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out(("s1", "cc-by")) === ((2L, 1L, 1L, 3L)))
    assert(out(("s1", "unknown")) === ((1L, 0L, 0L, 0L)))
    assert(out(("s2", "cc0")) === ((1L, 0L, 1L, 4L)))
    assert(out(("s2", "all-rights-reserved")) === ((1L, 0L, 0L, 0L)))
    // doc-level half agrees with the audit's kept counts
    assert(Curation.licenseFilter(docs).collect().map(_.getLong(0)).toSet
      === Set(1L, 4L))
    // the filter must push down to the scan, not run post-shuffle
    val plan = Curation.licenseFilter(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("compression gate: template spam and hex noise cut, prose kept, map-only plan") {
    import spark.implicits._
    val prose = "the quick brown fox jumps over a lazy dog while rain " +
      "falls on the old stone bridge and children watch from narrow windows"
    val docs = Seq(
      (1L, ("lorem template spam block " * 40).trim), // pure repetition
      (2L, prose),
      (3L, "a1d0c6e83f027327d8461063f4ac58a6"),       // 32-char hex noise
      (4L, "")                                         // zero bytes → absent
    ).toDF("doc_id", "text")
    val out = Curation.compressionGate(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(4L))
    val spam = out(1L)
    assert(spam.getAs[Long]("comp_len") * 1000 <
      250 * spam.getAs[Long]("raw_len"), spam.toString)
    assert(spam.getAs[Int]("kept") === 0)
    assert(out(2L).getAs[Int]("kept") === 1)
    val noise = out(3L)
    assert(noise.getAs[Long]("comp_len") * 1000 >
      950 * noise.getAs[Long]("raw_len"), noise.toString)
    assert(noise.getAs[Int]("kept") === 0)
    // ratio is the exact integer rational comp/raw at decimal-6
    out.values.foreach { r =>
      val exact = BigDecimal(r.getAs[Long]("comp_len")) /
        BigDecimal(r.getAs[Long]("raw_len"))
      assert(math.abs(r.getAs[Double]("ratio") - exact.toDouble) < 1e-6)
    }
    // raw_len counts UTF-8 BYTES, not characters
    val cjk = Curation.compressionGate(Seq((9L, "日本語テキスト"))
      .toDF("doc_id", "text")).collect().head
    assert(cjk.getAs[Long]("raw_len") === 21L)
    // pure map: the deflate signal must plan with no Exchange at all —
    // at 100 TB this operator's whole cost is the scan itself
    val plan = Curation.compressionGate(table("documents"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("stemmed bm25 equals plain bm25 over a pre-stemmed corpus") {
    import spark.implicits._
    // inflected corpus: stemming conflates process/processing/processed
    val docs = Seq(
      (1L, "processing data processing engines"),
      (2L, "processed data process"),
      (3L, "query engines process data"),
      (4L, "unrelated words entirely here")).toDF("doc_id", "text")
    // reference: the same corpus with every token stemmed up front
    val preStemmed = docs.select(col("doc_id"),
      array_join(transform(graft.functions.ColumnFns.tokens(col("text")),
        t => call_function("graft_porter", t)), " ").as("text"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val stemmed = Curation.bm25TopK(docs, nTerms = 3, k = 3, stem = true)
    assert(rows(stemmed) ===
      rows(Curation.bm25TopK(preStemmed, nTerms = 3, k = 3)))
    // and the conflation is real: "process" ranks doc 1 (tf 2 via two
    // inflections) which plain bm25 cannot see as one term
    val terms = stemmed.collect().map(_.getString(0)).toSet
    assert(terms.contains("process"))
  }

  test("epoch order: deterministic resumable permutations, distinct per epoch") {
    val docs = table("documents")
    val out = Curation.epochOrder(docs).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val n = docs.count()
    // every (epoch, doc) appears exactly once
    assert(out.length === 2 * n)
    assert(out.map(r => (r._1, r._4)).distinct.length === out.length)
    // positions are contiguous 1..k within each (epoch, shard)
    out.groupBy(r => (r._1, r._2)).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
    }
    // a doc's shard never changes across epochs (placement is fixed;
    // only the visit ORDER reshuffles)
    out.groupBy(_._4).foreach { case (_, rows) =>
      assert(rows.map(_._2).distinct.length === 1)
    }
    // epochs are genuinely different permutations
    val ord0 = out.filter(r => r._1 == 0 && r._2 == 0).sortBy(_._3).map(_._4)
    val ord1 = out.filter(r => r._1 == 1 && r._2 == 0).sortBy(_._3).map(_._4)
    assert(ord0.toSet === ord1.toSet)
    assert(ord0.toSeq !== ord1.toSeq)
    // pure function of (doc_id, epoch, seed): identical under any
    // partitioning — the mid-epoch resume contract
    val re = Curation.epochOrder(docs.repartition(7)).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(re === out.toSet)
  }

  test("robots gate: two channels merge, none expands, noai excludes") {
    import spark.implicits._
    val docs = Seq(
      // meta noindex + header noai: both channels contribute
      (1L, "<html><head><meta name=\"robots\" content=\"noindex, follow\">" +
        "</head><body>x</body></html>", "X-Robots-Tag: noai"),
      // mixed case meta, harmless directives only
      (2L, "<html><head><META NAME=\"ROBOTS\" CONTENT=\"index, NOFOLLOW\">" +
        "</head></html>", "Content-Type: text/html"),
      // none expands to noindex + nofollow
      (3L, "<html><head><meta name=\"robots\" content=\"none\"></head></html>",
        ""),
      // no signals at all
      (4L, "<html><body>clean</body></html>", "Content-Type: text/html"),
      // TWO meta tags on one page — the second must not be ignored
      // (the r12 first-match-only under-block)
      (5L, "<html><head><meta name=\"robots\" content=\"nofollow\">" +
        "<meta name=\"robots\" content=\"noai\"></head></html>",
        "Content-Type: text/html"),
      // REPEATED X-Robots-Tag headers — all must merge
      (6L, "<html><body>y</body></html>",
        "X-Robots-Tag: nofollow\r\nX-Robots-Tag: noindex\r\n" +
          "Content-Type: text/html"))
      .toDF("doc_id", "html", "http_headers")
    val out = Curation.robotsGate(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5)))).toMap
    // merged, deduped, sorted directive set; noai + noindex both exclude
    assert(out(1L) === (("follow,noai,noindex", 1, 0, 1, 0)))
    assert(out(2L) === (("index,nofollow", 0, 1, 0, 1)))
    assert(out(3L) === (("none", 1, 1, 0, 0)))
    assert(out(4L) === (("", 0, 0, 0, 1)))
    assert(out(5L) === (("noai,nofollow", 0, 1, 1, 0)))
    assert(out(6L) === (("nofollow,noindex", 1, 1, 0, 0)))
    // pure map: no Exchange — this is an ingest-scan predicate
    val plan = Curation.robotsGate(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("main content: chrome blocks drop by the right reason, prose survives") {
    import spark.implicits._
    val page = "<html><body>" +
      "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>" +
      "<div>this is the real article body with plenty of prose words</div>" +
      "<aside><a href=\"/x\">Ad block one</a> tiny</aside>" +
      "<footer>Copyright 2026 Terms</footer>" +
      "</body></html>"
    val docs = Seq(
      (1L, page),
      (2L, "plain text document with more than five words here"),
      (3L, "short doc"),
      (4L, "")).toDF("doc_id", "text")
    val out = Curation.mainContent(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val d1 = out(1L)
    // nav (all anchors) → link drop; aside (anchor-heavy) → link drop;
    // footer (3 words) → short drop; the div prose survives alone
    assert(d1.getAs[String]("clean_text") ===
      "this is the real article body with plenty of prose words")
    assert(d1.getAs[Long]("n_blocks") === 4L)
    assert(d1.getAs[Long]("n_kept") === 1L)
    assert(d1.getAs[Long]("n_drop_link") === 2L)
    assert(d1.getAs[Long]("n_drop_short") === 1L)
    // tagless docs: one block, kept iff it clears minWords
    assert(out(2L).getAs[Long]("n_kept") === 1L)
    assert(out(2L).getAs[String]("clean_text") ===
      "plain text document with more than five words here")
    assert(out(3L).getAs[Long]("n_drop_short") === 1L &&
      out(3L).getAs[String]("clean_text") === "")
    assert(out(4L).getAs[Long]("n_blocks") === 0L &&
      out(4L).getAs[String]("clean_text") === "")
    // kept blocks re-assemble in DOCUMENT order
    val multi = Curation.mainContent(Seq((9L,
      "<div>first real paragraph with enough words here</div>" +
      "<div>second real paragraph with enough words too</div>"))
      .toDF("doc_id", "text")).collect().head
    assert(multi.getAs[String]("clean_text") ===
      "first real paragraph with enough words here " +
      "second real paragraph with enough words too")
  }

  test("source diversity: uniform source hits 1.0, degenerate hits 0, hapax exact") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d", "uniform"),     // 4 terms × 1 → max entropy
      (2L, "x x x x", "degenerate"),  // 1 term × 4 → zero entropy
      (3L, "a a b", "mixed"))         // 2/3 vs 1/3
      .toDF("doc_id", "text", "source")
    val out = Curation.sourceDiversity(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    val u = out("uniform")
    assert(u.getAs[Long]("n_tokens") === 4L && u.getAs[Long]("vocab") === 4L)
    assert(u.getAs[Long]("n_hapax") === 4L)
    assert(u.getAs[Double]("hapax_share") === 1.0)
    assert(u.getAs[Double]("norm_entropy") === 1.0) // uniform usage
    assert(math.abs(u.getAs[Double]("entropy") - math.log(4)) < 1e-5)
    val d = out("degenerate")
    assert(d.getAs[Long]("vocab") === 1L)
    assert(d.getAs[Double]("entropy") === 0.0)
    assert(d.isNullAt(d.fieldIndex("norm_entropy"))) // ln(1) denominator
    assert(d.getAs[Double]("top_share") === 1.0)
    assert(d.getAs[Double]("ttr") === 0.25)
    val m = out("mixed")
    assert(m.getAs[Long]("n_hapax") === 1L)
    assert(m.getAs[Double]("hapax_share") === 0.5)
    assert(m.getAs[Double]("ttr") === 0.666667)
    assert(m.getAs[Double]("top_share") === 0.666667)
    // H = ln 3 − (2·ln 2)/3, then normalized by ln 2
    val h = math.log(3) - 2 * math.log(2) / 3
    assert(math.abs(m.getAs[Double]("entropy") - h) < 1e-5)
    assert(math.abs(m.getAs[Double]("norm_entropy") - h / math.log(2)) < 1e-5)
  }

  test("token drift: vanish/appear dominate, shares exact, stable token stays low") {
    import spark.implicits._
    // crawl A: "old" appears 6/10 tokens; crawl B: "new" replaces it;
    // "same" is stable at 4/10 on both sides
    val a = Seq((1L, "old old old old old old same same same same"))
      .toDF("doc_id", "text")
    val b = Seq((2L, "new new new new new new same same same same"))
      .toDF("doc_id", "text")
    val out = Curation.tokenDrift(a, b).collect()
      .map(r => r.getString(1) ->
        ((r.getInt(0), r.getLong(2), r.getLong(3),
          r.getAs[Double]("share_a_pm"), r.getAs[Double]("share_b_pm"),
          r.getAs[Double]("shift_pm")))).toMap
    // vanished and appeared tokens tie on |delta| = 6·10 → token order
    assert(out("new")._1 === 1 && out("old")._1 === 2) // 'new' < 'old'
    assert(out("old") === ((2, 6L, 0L, 600.0, 0.0, 600.0)))
    assert(out("new") === ((1, 0L, 6L, 0.0, 600.0, 600.0)))
    // the stable token ranks last with zero shift
    assert(out("same") === ((3, 4L, 4L, 400.0, 400.0, 0.0)))
  }

  test("anchor corpus: per-target sorted concat, relative links excluded") {
    import spark.implicits._
    val links = Seq(
      (1L, 0, "https://t.example/a", "zebra docs", 1),
      (2L, 0, "https://t.example/a", "alpha guide", 1),
      (2L, 1, "https://t.example/a", "alpha guide", 1), // same doc twice
      (3L, 0, "/relative/path", "ignored", 0),
      (4L, 0, "https://t.example/b", "solo", 1))
      .toDF("doc_id", "link_idx", "href", "anchor_text", "is_absolute")
    val out = Curation.anchorCorpus(links).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // 3 mentions, 2 distinct referrers, texts in sorted order
    assert(out("https://t.example/a") ===
      ((3L, 2L, "alpha guide alpha guide zebra docs")))
    assert(out("https://t.example/b") === ((1L, 1L, "solo")))
    assert(!out.contains("/relative/path"))
  }

  test("dup profile: class arithmetic and excess rate exact") {
    import spark.implicits._
    // 4 singleton groups + 2 pairs + 1 triple = 7 groups, 11 docs
    val groups = ((1 to 4).map(i => (i.toLong, 1L)) ++
      Seq((10L, 2L), (11L, 2L), (20L, 3L))).toDF("doc_id", "dup_count")
    val out = Curation.dupProfile(groups).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getAs[Double]("excess_pm")))).toMap
    assert(out(1L)._1 === 4L && out(1L)._2 === 4L)
    assert(out(2L)._1 === 2L && out(2L)._2 === 4L)
    assert(out(3L)._1 === 1L && out(3L)._2 === 3L)
    // excess = (11 - 7)/11 = 363.6364 pm on every row
    out.values.foreach { v =>
      assert(v._3 === 11L && v._4 === 7L && v._5 === 363.6364)
    }
  }

  test("badwords gate: any hit drops, counts carry multiplicity, no substring hits") {
    import spark.implicits._
    val docs = Seq(
      (1L, "clean prose with nothing listed"),
      (2L, "one blockedalpha hit here"),
      (3L, "blockedbeta twice blockedbeta and blockedgamma"),
      (4L, "blockedalphabet is NOT a hit"))  // substring must not match
      .toDF("doc_id", "text")
    val out = Curation.badwordsGate(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getAs[Int]("kept")))).toMap
    assert(out(1L)._2 === 0 && out(1L)._3 === 1)
    assert(out(2L)._2 === 1 && out(2L)._3 === 0)   // strict any-hit drop
    assert(out(3L)._2 === 3 && out(3L)._3 === 0)   // multiplicity
    assert(out(4L)._2 === 0 && out(4L)._3 === 1)   // Scunthorpe guard
  }
}
