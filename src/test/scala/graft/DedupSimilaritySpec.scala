package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends AnyFunSuite with SharedSpark {

  test("exact dedup: one row per distinct text, counts add up") {
    val docs = table("documents")
    val out = Dedup.exact(docs)
    assert(out.count() === docs.select("text").distinct().count())
    assert(out.agg(sum("dup_count")).collect()(0).getLong(0) === docs.count())
  }

  test("url dedup: spelling variants collapse, genuine differences survive") {
    import spark.implicits._
    val urls = Seq(
      // five spellings of one page — every rule fires
      (1L, "https://site.example/A/b?x=1&y=2"),
      (2L, "HTTPS://WWW.Site.Example/A/b?y=2&x=1"),
      (3L, "https://site.example:443/A/b/?x=1&y=2"),
      (4L, "https://site.example/A/b?x=1&utm_source=s&y=2#frag"),
      (5L, "https://www.site.example/A/b?utm_campaign=c&x=1&y=2"),
      // genuine differences must NOT collapse:
      (6L, "https://site.example/a/b?x=1&y=2"),    // path case differs
      (7L, "https://site.example/A/b?x=1&y=3"),    // param value differs
      (8L, "https://site.example:8080/A/b?x=1&y=2"), // non-default port
      (9L, "http://site.example/A/b?x=1&y=2")      // scheme differs
    ).toDF("doc_id", "url")
    val out = Dedup.urlDedup(urls).collect()
      .map(r => r.getString(1) -> ((r.getLong(0), r.getLong(2)))).toMap
    assert(out("https://site.example/A/b?x=1&y=2") === ((1L, 5L)))
    assert(out("https://site.example/a/b?x=1&y=2") === ((6L, 1L)))
    assert(out("https://site.example/A/b?x=1&y=3") === ((7L, 1L)))
    assert(out("https://site.example:8080/A/b?x=1&y=2") === ((8L, 1L)))
    assert(out("http://site.example/A/b?x=1&y=2") === ((9L, 1L)))
    assert(out.size === 5)
    // bare-host URL: empty path, empty query — canonical is scheme://host
    val bare = Dedup.urlDedup(Seq(
      (10L, "https://Host.Example/"), (11L, "https://host.example")
    ).toDF("doc_id", "url")).collect()
    assert(bare.length === 1 && bare.head.getString(1) === "https://host.example"
      && bare.head.getLong(2) === 2L)
  }

  test("containment: embedded docs found where Jaccard is blind, boilerplate invisible") {
    import spark.implicits._
    val core = (1 to 30).map(i => s"core$i").mkString(" ")
    val wrapper = (1 to 300).map(i => s"extra$i").mkString(" ")
    val docs = Seq(
      (1L, core, "s0"),                         // the embedded original
      (2L, s"$wrapper $core", "s0"),            // 10× wrapper around it
      (3L, "totally different words here x y z a b c d e f", "s0")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    // the small doc is (almost) fully contained: every core shingle of
    // doc 1 appears in doc 2 except the two junction shingles at the
    // wrapper boundary do NOT affect doc 1's side — containment of the
    // smaller set is 1.0
    assert(out.map(t => (t._1, t._2)) === Seq((1L, 2L)))
    assert(out.head._3 === 1.0)
    // symmetric Jaccard at its own default threshold is blind to the
    // same pair (J ≤ min/max ≈ 0.09) — the gap this operator exists for
    val jac = Dedup.ngramJaccardPairs(docs, 0.5).collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    // recall contract: a pair whose entire overlap exceeds the df cap
    // (planted in >cap docs) is deliberately invisible
    val boiler = (1 to 10).map(i => s"bp$i").mkString(" ")
    val many = (0L until 120L).map(i => (10L + i, s"$boiler filler$i", "s0"))
    val bdocs = (many :+ ((500L, boiler, "s0"))).toDF("doc_id", "text", "source")
    val bout = Dedup.containmentPairs(bdocs, dfCap = 100).collect()
    assert(bout.isEmpty, "boilerplate-only overlap must stay invisible")
  }

  test("ngram jaccard pairs: similarity in (0,1], pairs ordered") {
    val out = Dedup.ngramJaccardPairs(table("documents"), 0.3).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      val j = r.getAs[Double]("jacc")
      assert(j >= 0.3 && j <= 1.0)
    }
  }

  test("prefix all-pairs: exact across sources, equals brute force, beats d4's blocking") {
    import spark.implicits._
    // cross-source near-dups d4's same-source blocking cannot see
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val extra = Seq(
      (9001L, base, "sA"),
      (9002L, s"$base tail1 tail2", "sB"), // cross-source near-dup of 9001
      (9003L, "unrelated words entirely different content here now", "sC"))
      .toDF("doc_id", "text", "source")
    val docs = table("documents").select("doc_id", "text", "source").union(extra)
    val out = Dedup.prefixAllPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 1. the planted cross-source pair is found (d4 would miss it)
    assert(out.exists { case (a, b, j) => a == 9001L && b == 9002L && j >= 0.5 })
    val blocked = Dedup.ngramJaccardPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(!blocked.exists { case (a, b, _) => a == 9001L && b == 9002L })
    // 2. restricted to same-source pairs, d35 == d4 exactly
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.filter { case (a, b, _) => srcOf(a) == srcOf(b) }.toSet === blocked)
    // 3. exactness: equals the unblocked brute force on a small slice
    val slice = docs.filter(col("doc_id") % 7 === 0 || col("doc_id") >= 9000L)
    val fast = Dedup.prefixAllPairs(slice, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sh = slice.select(col("doc_id"),
        array_sort(transform(graft.functions.ColumnFns.shinglesFromTokens(
          graft.functions.ColumnFns.tokens(col("text")), 3), s => xxhash64(s))).as("hsh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val brute = (for {
      a <- sh.keys; b <- sh.keys if a < b
      inter = (sh(a) intersect sh(b)).size
      denom = sh(a).size + sh(b).size - inter if denom > 0
      j = inter.toDouble / denom if j >= 0.5
    } yield (a, b, j)).toSet
    assert(fast === brute)
  }

  test("incremental prefix dedup equals the full recompute restricted to the batch") {
    import spark.implicits._
    val base = (1 to 20).map(i => s"p$i").mkString(" ")
    val extra = Seq(
      (9001L, base, "sA"),                 // odd → corpus
      (9002L, s"$base t1 t2", "sB"),       // even → batch: corpus near-dup
      (9004L, s"$base t1 t2 t3", "sC"))    // even → batch: batch near-dup of 9002
      .toDF("doc_id", "text", "source")
    val docs = table("documents").select("doc_id", "text", "source").union(extra)
    val sh = Dedup.shingleTable(docs)
    val corpusSh = sh.filter(col("doc_id") % 2 === 1).localCheckpoint()
    val corpusDf = Dedup.prefixDfTable(corpusSh).localCheckpoint()
    val corpusPrefix = Dedup.prefixIndex(corpusSh, corpusDf).localCheckpoint()
    val inc = Dedup.prefixIncremental(
        sh.filter(col("doc_id") % 2 === 0), corpusSh, corpusDf, corpusPrefix)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // == the full exact recompute over the union, restricted to pairs
    // touching at least one batch (even) doc
    val full = Dedup.prefixAllPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a % 2 == 0 || b % 2 == 0 }.toSet
    assert(inc === full)
    // both planted shapes present: batch-vs-corpus and batch-vs-batch
    assert(inc.exists { case (a, b, _) => a == 9001L && b == 9002L })
    assert(inc.exists { case (a, b, _) => a == 9002L && b == 9004L })
    // corpus-vs-corpus pairs are NOT the incremental op's business
    assert(!inc.exists { case (a, b, _) => a % 2 == 1 && b % 2 == 1 })
  }

  test("dup spans: planted repeat merges to one maximal island, unique docs absent") {
    import spark.implicits._
    // 12 shared tokens at different offsets in docs 1 and 2 → with w=4
    // every window inside the repeat duplicates; doc 3 is all-unique
    val shared = (1 to 12).map(i => s"rep$i").mkString(" ")
    val docs = Seq(
      (1L, s"aaa bbb $shared ccc ddd"),
      (2L, s"xxx $shared yyy zzz www"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")).toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs, w = 4).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_id"),
        r.getAs[Int]("start_pos"), r.getAs[Int]("end_pos"),
        r.getAs[Long]("n_windows"), r.getAs[Int]("n_span_tokens"))).sorted
    // doc 1: repeat occupies tokens 3..14 → windows 3..11 (9 of them)
    // doc 2: repeat occupies tokens 2..13 → windows 2..10
    assert(out.toSeq === Seq(
      (1L, 1, 3, 14, 9L, 12),
      (2L, 1, 2, 13, 9L, 12)))
    // within-doc repetition alone also counts (boilerplate)
    val self = Seq((7L, s"$shared filler1 filler2 $shared"))
      .toDF("doc_id", "text")
    val selfOut = Dedup.dupSpans(self, w = 4).collect()
    assert(selfOut.length === 2 &&
      selfOut.forall(_.getAs[Int]("n_span_tokens") === 12))
  }

  test("incremental dup spans equal the full recompute restricted to the batch") {
    val docs = table("documents")
    val corpus = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_id"),
        r.getAs[Int]("start_pos"), r.getAs[Int]("end_pos"),
        r.getAs[Long]("n_windows"), r.getAs[Int]("n_span_tokens"))).toSet
    val inc = rows(Dedup.dupSpansIncremental(batch, Dedup.dupSpanShingles(corpus)))
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = rows(Dedup.dupSpans(docs)).filter(t => batchIds.contains(t._1))
    assert(inc === full)
    assert(inc.nonEmpty)
  }

  test("span scrub: duplicated tokens cut, clean docs normalized, counts reconcile") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"rep$i").mkString(" ")
    val docs = Seq(
      (1L, s"aaa bbb $shared ccc ddd"),
      (2L, s"xxx $shared yyy zzz www"),
      (3L, "u1 u2  u3 u4 u5 u6 u7 u8 u9 u10")).toDF("doc_id", "text")
    val out = Dedup.scrubDupSpans(docs, w = 4).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Int]("n_tokens"),
          r.getAs[Int]("n_tokens_removed")))).toMap
    assert(out(1L) === (("aaa bbb ccc ddd", 16, 12)))
    assert(out(2L) === (("xxx yyy zzz www", 16, 12)))
    // span-free doc passes through token-normalized (double space collapsed)
    assert(out(3L) === (("u1 u2 u3 u4 u5 u6 u7 u8 u9 u10", 10, 0)))
    // removal is consistent with the span table on the real corpus
    val corpus = table("documents")
    val removed = Dedup.scrubDupSpans(corpus).agg(sum("n_tokens_removed"))
      .collect()(0).getLong(0)
    val spanTokens = Dedup.dupSpans(corpus).agg(sum("n_span_tokens"))
      .collect()(0).getLong(0)
    assert(removed === spanTokens && removed > 0)
  }

  test("quantized ANN: codes are 0..255 integers, recall vs exact holds") {
    val emb = table("embeddings")
    val codes = Similarity.quantize(emb, Similarity.quantStats(emb))
      .select(explode(col("codes")).as("c")).collect().map(_.getDouble(0))
    assert(codes.forall(c => c >= 0 && c <= 255 && c == c.floor))
    // 8-bit quantization barely moves cosines: the top-5 neighbor sets
    // must overlap the exact ranking substantially (floor 0.6 overall)
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = sets(Similarity.bruteTopK(emb))
    val quant = sets(Similarity.quantizedTopK(emb))
    val recall = exact.intersect(quant).size.toDouble / exact.size
    assert(recall >= 0.6, s"quantized recall $recall below floor")
  }

  test("PQ ANN: codes are valid centroid ids, recall vs exact holds") {
    val emb = table("embeddings")
    val cb = Similarity.pqCodebooks(emb)
    // model artifact sanity: 16 subspaces × 32 centroids, 4-dim each
    assert(cb.count() === 1024)
    assert(cb.select(size(col("c"))).distinct().collect().map(_.getInt(0)).toSeq === Seq(2))
    val codes = Similarity.pqCodes(emb, cb)
      .select(explode(col("codes")).as("c")).collect().map(_.getInt(0))
    assert(codes.forall(c => c >= 0 && c <= 31))
    // PQ at 20 bytes/vector is genuinely lossy on structure-free random
    // embeddings (cosines cluster tightly, so small quantization noise
    // reorders the tail): the floor is lower than s10's near-lossless
    // 64-byte one, but the top-5 sets must still overlap the exact ranking
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = sets(Similarity.bruteTopK(emb))
    val pq = sets(Similarity.pqTopK(emb, cb))
    val recall = exact.intersect(pq).size.toDouble / exact.size
    assert(recall >= 0.4, s"PQ recall $recall below floor")
  }

  test("IVF-PQ: candidates come from probed cells only, recall vs exact holds") {
    val emb = table("embeddings")
    val cb = Similarity.pqCodebooks(emb)
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = sets(Similarity.bruteTopK(emb))
    val ivfpq = sets(Similarity.ivfPqTopK(emb, cb))
    // the IVF probe restricts candidates on TOP of PQ's lossy scoring,
    // so recall can only be ≤ plain PQ's — but with 8/32 cells probed
    // on this corpus the cell filter rarely drops a true neighbor, so
    // the floor stays at s11's
    val recall = exact.intersect(ivfpq).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF-PQ recall $recall below floor")
    // every result must be reachable: candidate in a query-probed cell
    // (subset of the s3 candidate universe restricted by PQ's rn>0)
    val ivf = sets(Similarity.ivfTopK(emb, k = 499))
    assert(ivfpq.subsetOf(ivf), "IVF-PQ returned a pair outside the probed cells")
  }

  test("residual IVFADC: tighter reconstruction on clusters, reversal on isotropic") {
    import spark.implicits._
    import graft.functions.ColumnFns
    // mean squared PQ reconstruction error of a (vec_id, embedding)
    // frame against its own fitted codebooks — the quantity the encoding
    // choice actually moves (ADC scores raw-query · reconstruction, so
    // reconstruction error IS the scoring error)
    def mseOf(emb: org.apache.spark.sql.DataFrame): Double = {
      val cb = Similarity.pqCodebooks(emb)
      val cents = cb.collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
      val codes = Similarity.pqCodes(emb, cb).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val vecs = emb.select(col("vec_id"),
          ColumnFns.toDoubleVec(col("embedding")).as("v")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1))
      val errs = vecs.map { case (id, v) =>
        val rv = codes(id).zipWithIndex.flatMap { case (c, j) => cents((j, c)) }
        v.zip(rv).map { case (a, b) => (a - b) * (a - b) }.sum
      }
      errs.sum / errs.length
    }
    // CLUSTERED corpus — the regime the paper assumes and web-scale
    // embedding corpora are in: members sit in a tight ball around
    // their cluster center, so the nearest pivot (a random member) is
    // close and the residual is the small noise term. The pivot set
    // must COVER the clusters for residuals to be small at all (a
    // cluster with no pivot contributes center-difference-sized
    // residuals — the first cut of this spec measured exactly that
    // failure with 64 clusters over 32 pivots): 128 random-member
    // pivots over 16 clusters leave each cluster covered
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(16, 64)(rnd.nextGaussian())
    val clustered = (0L until 512L).map { id =>
      val c = centers((id % 16).toInt)
      (id, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    // the residual frame's OWN reconstruction error equals the full
    // pipeline's: ‖res − decode(res)‖ = ‖v − (pivot + decode(res))‖
    val resClustered = mseOf(Similarity.ivfResiduals(clustered, nPivots = 128))
    val rawClustered = mseOf(clustered)
    assert(resClustered * 2 < rawClustered,
      s"residual MSE ($resClustered) must be well under raw ($rawClustered) on clusters")
    // ISOTROPIC corpus (the shared test embeddings): random-sample
    // pivots sit FAR from their members on a structure-free sphere, so
    // the residual's per-coordinate spread exceeds the raw vector's and
    // the same m·k budget quantizes WORSE — the documented reversal
    // that keeps s12 on raw codes (top-5 recall measured 0.72 raw vs
    // 0.18 residual on this corpus)
    val iso = table("embeddings")
    val resIso = mseOf(Similarity.ivfResiduals(iso))
    val rawIso = mseOf(iso)
    assert(rawIso < resIso,
      s"on isotropic embeddings raw MSE ($rawIso) must beat residual ($resIso)")
    // and the s15 query path stays functional there (regression guard,
    // not a quality claim)
    val cbRes = Similarity.pqCodebooks(Similarity.ivfResiduals(iso))
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = sets(Similarity.bruteTopK(iso))
    val got = sets(Similarity.ivfPqTopK(iso, cbRes, residual = true))
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall >= 0.05, s"residual isotropic recall $recall below the floor")
  }

  test("ann eval: recall matches a driver-side recompute of the two rankings") {
    val emb = table("embeddings")
    val out = Similarity.annEval(emb).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.size === 10)
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = sets(Similarity.bruteTopK(emb))
    val approx = sets(Similarity.lshTopK(emb))
    out.foreach { case (q, (nExact, nApprox, nHit, recall)) =>
      assert(nExact === exact(q).size.toLong)
      assert(nApprox === approx.getOrElse(q, Set.empty[Long]).size.toLong)
      assert(nHit ===
        exact(q).intersect(approx.getOrElse(q, Set.empty[Long])).size.toLong)
      assert(math.abs(recall - nHit.toDouble / nExact) < 1e-6)
      assert(recall >= 0.0 && recall <= 1.0)
    }
  }

  test("graph ANN: deterministic beam search, shaped output, useful recall") {
    val emb = table("embeddings")
    val out = Similarity.graphAnnTopK(emb).collect()
    // shape: per query a dense 1..k rank prefix (the final beam always
    // holds >= k candidates: 4 entries + 3 hops of top-3 expansions)
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 10L).toSet)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(2)).sorted.toSeq === (1 to 5))
    }
    // determinism: two runs identical
    val again = Similarity.graphAnnTopK(emb).collect()
    assert(out.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
    // the walk must BEAT staying at the entry points: for most queries
    // the final beam escapes the 4 entry ids (graph navigation works)
    val escaped = byQ.values.count(_.exists(r => r.getLong(1) >= 4L))
    assert(escaped >= 7, s"only $escaped/10 queries left the entry set")
    // recall floor vs exact (self-hit excluded on both sides): graph
    // ANN on isotropic vectors is approximate — require overlap, not
    // perfection
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = sets(Similarity.bruteTopK(emb))
    val approx = sets(Similarity.graphAnnTopK(emb))
    val hits = (0L until 10L).map(q =>
      exact(q).intersect(approx(q) - q).size).sum
    assert(hits >= 5, s"graph ANN found only $hits exact-top-5 hits across 10 queries")
  }

  test("routed ANN: geometric levels, deterministic, meets s22's recall bar") {
    val emb = table("embeddings")
    val lv = Similarity.hnswLevels(emb)
    // geometric layer sizes: each level populated, upper ≪ lower
    val byLevel = lv.groupBy("level").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byLevel.getOrElse(0, 0L) > byLevel.getOrElse(1, 0L))
    assert(byLevel.getOrElse(1, 0L) > byLevel.getOrElse(2, 0L))
    assert(byLevel.getOrElse(1, 0L) >= 1, "routing tier empty on this corpus")
    val out = Similarity.routedAnnTopK(emb, lv).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 10L).toSet)
    byQ.values.foreach(rs => assert(rs.map(_.getInt(2)).sorted.toSeq === (1 to 5)))
    // determinism: two runs identical
    val again = Similarity.routedAnnTopK(emb, Similarity.hnswLevels(emb)).collect()
    assert(out.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
    // recall floor vs exact on the real (isotropic) corpus: the
    // query-adaptive routed entries must do at least as well as s22's
    // fixed-entry bar
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = sets(Similarity.bruteTopK(emb))
    val approx = sets(Similarity.routedAnnTopK(emb, lv))
    val hits = (0L until 10L).map(q => exact(q).intersect(approx(q) - q).size).sum
    assert(hits >= 5, s"routed ANN found only $hits exact-top-5 hits across 10 queries")
  }

  test("routed ANN on a clustered corpus: routing reaches the right region") {
    import spark.implicits._
    // 8 tight direction clusters (the regime real embedding corpora
    // live in): the batch-built LSH k-NN graph fragments into cluster
    // islands (intra-bucket edges only), so fixed or greedy-descended
    // entries stay stuck in one island — the flat-scanned routing tier
    // must place entries in each query's OWN cluster
    val rows = (0 until 320).map { i =>
      val dir = i % 8
      val v = Array.tabulate(64) { d =>
        val base = if (d / 8 == dir) 1.0 else 0.0
        base + 0.05 * (((i * 31 + d * 7) % 11) - 5) / 5.0
      }
      (i.toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val lv = Similarity.hnswLevels(emb)
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = sets(Similarity.bruteTopK(emb))
    val approx = sets(Similarity.routedAnnTopK(emb, lv))
    val qs = exact.keySet
    val recall = qs.toSeq.map(q =>
      exact(q).intersect(approx(q) - q).size).sum.toDouble / (qs.size * 5)
    assert(recall >= 0.6, s"clustered-corpus routed-ANN recall $recall below floor")
  }

  test("random projection: 16-dim sketches preserve pairwise distances") {
    import graft.functions.ColumnFns
    val emb = table("embeddings")
    val proj = Similarity.randomProjection(emb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    assert(proj.values.forall(_.length === 16))
    val orig = emb.select(col("vec_id"), ColumnFns.toDoubleVec(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    def dist(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    // JL: sketch distances track original distances up to the r=16
    // distortion (sd ≈ sqrt(2/r) ≈ 0.35 per pair); deterministic
    // operator, so these bounds are exact regression pins, not flaky
    val ratios = (0L until 40L).map(i =>
      dist(proj(i), proj(i + 1)) / dist(orig(i), orig(i + 1)))
    assert(ratios.forall(r => r > 0.3 && r < 2.5),
      s"distortion out of range: min ${ratios.min}, max ${ratios.max}")
    val mean = ratios.sum / ratios.size
    assert(mean > 0.75 && mean < 1.3, s"mean distortion $mean off unity")
  }

  test("SemDeDup: identical-vector group prunes to one keeper, singles survive") {
    import spark.implicits._
    // identical vectors co-assign in ANY clustering (identical distances,
    // identical tie-breaks) and have cosine 1 — a guaranteed prune group;
    // one-hot vectors on distinct axes are pairwise orthogonal — never pruned
    def oneHot(axis: Int, id: Long) =
      (id, Array.tabulate(8)(i => if (i == axis) 1.0f else 0.0f))
    val emb = (Seq(100L, 101L, 102L).map(oneHot(7, _)) ++
      (1 to 5).map(a => oneHot(a, a.toLong))).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(emb, k = 2, iters = 2).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("comp_id"), r.getAs[Boolean]("keep")))).toMap
    assert(out(100L) === ((100L, true)))
    assert(out(101L) === ((100L, false)))
    assert(out(102L) === ((100L, false)))
    (1 to 5).foreach(a => assert(out(a.toLong) === ((a.toLong, true))))
    // real corpus: one row per vector, exactly one keeper per component,
    // and pruned rows only ever come from multi-member components
    val real = Dedup.semDedup(table("embeddings")).collect()
    assert(real.length.toLong === table("embeddings").count())
    val byComp = real.groupBy(_.getAs[Long]("comp_id"))
    assert(byComp.values.forall(_.count(_.getAs[Boolean]("keep")) === 1))
  }

  test("minhash LSH recall: finds every exact pair at its threshold") {
    // exact pairs within the same blocking key, threshold 0.5
    val exact = Dedup.ngramJaccardPairs(table("documents"), 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(table("documents"), 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH drops the source-blocking so it may find MORE; it must not miss
    assert(exact.subsetOf(lsh), s"missed: ${exact.diff(lsh)}")
  }

  test("b-bit minhash: packed estimate equals the component-wise count; exact dup estimates 1") {
    import spark.implicits._
    // plant one verbatim duplicate pair (identical shingle sets ->
    // identical signatures -> candidates in every band)
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    val docs = table("documents").select("doc_id", "text")
      .union(Seq((9000001L, dupText), (9000002L, dupText)).toDF("doc_id", "text"))
    val sigs = Dedup.minhashSignatures(docs).localCheckpoint()
    val out = Dedup.bbitEvalFromSigs(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Double]("est_1bit"), r.getAs[Double]("exact_jaccard"))).toMap
    assert(out.nonEmpty)
    // reference: the low-bit match count computed directly on the
    // UNPACKED signature arrays — a packing bug diverges here
    val sigMap = sigs.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Seq[Long]]("sig")).toMap
    out.foreach { case ((a, b), (est, _)) =>
      val m = sigMap(a).zip(sigMap(b)).count { case (x, y) => (x & 1L) == (y & 1L) }
      assert(est === (m * 2 - 64).toDouble / 64, s"pair ($a,$b)")
    }
    // an exact duplicate pair has identical signatures -> est exactly 1
    out.collect { case ((a, b), (est, ex)) if ex == 1.0 =>
      assert(est === 1.0, s"exact dup ($a,$b) must estimate 1.0, got $est")
    }
    assert(out.values.exists(_._2 == 1.0), "corpus must contain an exact dup pair")
  }

  test("threshold sweep: monotone curve, consistent with the pair operator at its threshold") {
    val sigs = Dedup.minhashSignatures(table("documents")).localCheckpoint()
    val sweep = Dedup.thresholdSweep(sigs).collect()
      .map(r => r.getDouble(0) -> (r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(sweep.map(_._1) === Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    // raising the threshold can only shrink the corpus impact
    sweep.sliding(2).foreach { case Array((_, (_, p1, d1)), (_, (_, p2, d2))) =>
      assert(p2 <= p1 && d2 <= d1)
    }
    // consistency: the 0.5 row counts exactly the d2 pair operator's output
    val d2pairs = Dedup.minhashPairsFromSigs(sigs).count()
    assert(sweep.head._2._2 === d2pairs,
      s"sweep@0.5 ${sweep.head._2._2} vs minhashPairs $d2pairs")
  }

  test("incremental minhash dedup equals the full recompute restricted to the batch") {
    // corpus = the documents table; batch = copies of every 5th doc under
    // new ids (identical text ⇒ Jaccard 1.0 ⇒ batch-vs-corpus pairs are
    // guaranteed, so the equality below is never vacuous)
    val corpus = table("documents")
    val batch = corpus.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("doc_id", col("doc_id") + 10000)
    val inc = Dedup.minhashIncremental(batch, Dedup.minhashSignatures(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashPairs(corpus.unionByName(batch)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => p._1 >= 10000 || p._2 >= 10000).toSet
    assert(inc === full)
    assert(inc.nonEmpty)
    // corpus-internal pairs must NOT be recomputed or emitted
    assert(inc.forall(p => p._1 >= 10000 || p._2 >= 10000))
  }

  test("cluster maintenance: batch bridge merges clusters, untouched clusters pass through") {
    import spark.implicits._
    // three existing clusters; the batch doc pairs with a member of
    // {1,2} AND a member of {3,4} — it must BRIDGE them into one
    // component (min label 1) while {5,6} passes through the anti-join
    // untouched. Pairs are explicit: the subject is the fold, not the
    // probabilistic LSH probe (which the equality test below exercises
    // on real data end-to-end).
    val assign = Seq(
      (1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "cluster_id")
    val batch = Seq(Tuple1(7L), Tuple1(8L)).toDF("doc_id")
    val pairs = Seq((2L, 7L), (7L, 4L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusterMaintenance(assign, batch, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // doc 8 found no pairs → its own singleton cluster
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 1L, 8L -> 8L))
  }

  test("mips: exact top-k ranks by raw inner product; augmented LSH clears the recall floor") {
    val emb = table("embeddings")
    val exact = Similarity.mipsTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // the test corpus is unit-normalized (MIPS degenerates to cosine
    // there), so magnitude-sensitivity is asserted on a crafted corpus:
    // b=(2,2) wins on raw IP, a=(0.9,0.436) wins on cosine
    locally {
      import spark.implicits._
      val crafted = Seq(
        (0L, Seq(1.0, 0.0)), (10L, Seq(0.9, 0.436)), (11L, Seq(2.0, 2.0)))
        .toDF("vec_id", "embedding")
      val mipsTop = Similarity.mipsTopK(crafted, 1, 1).collect()
      assert(mipsTop.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((0L, 11L)))
      val cosTop = Similarity.bruteTopK(crafted, 1, 1).collect()
      assert(cosTop.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((0L, 10L)))
    }
    val approx = Similarity.mipsLshTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the synthetic corpus is ISOTROPIC and unit-norm — the sign-LSH
    // worst case (see the knn-graph spec above; measured 0.06 here), so
    // this floor only guards against bucketing regressions; the
    // clustered-corpus test below is the operating-regime check
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.04, s"augmented-LSH MIPS recall $recall below floor")
  }

  test("mips augmented LSH: high recall on a clustered magnitude-diverse corpus") {
    import spark.implicits._
    // 8 tight direction clusters × varying magnitudes — the regime MIPS
    // indexes serve (retrieval scores = raw IP over clustered corpora)
    val rows = (0 until 160).map { i =>
      val dir = i % 8
      val mag = 1.0 + (i % 5)
      val v = Array.tabulate(64) { d =>
        val base = if (d / 8 == dir) 1.0 else 0.0
        mag * (base + 0.03 * (((i * 31 + d * 7) % 11) - 5) / 5.0)
      }
      (i.toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val exact = Similarity.mipsTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.mipsLshTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"clustered-corpus MIPS recall $recall below floor")
  }

  test("soft dedup weights: 1/cluster-size, total mass = cluster count") {
    import spark.implicits._
    // {1,2,3} near-identical (Jaccard 1 on trigram sets), {4} unique:
    // triplet members weigh 1/3 each, the singleton keeps full mass
    val docs = Seq(
      (1L, "a b c d e", "s"), (2L, "a b c d e", "s"), (3L, "a b c d e", "s"),
      (4L, "p q r s t", "s")).toDF("doc_id", "text", "source")
    val out = Dedup.softDedupWeights(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).toSet === Set(1L, 2L, 3L, 4L))
    assert(out.toSet === Set((1L, 1L, 3L, 1.0 / 3), (2L, 1L, 3L, 1.0 / 3),
      (3L, 1L, 3L, 1.0 / 3), (4L, 4L, 1L, 1.0)))
  }

  test("soft dedup on real data: weight * n_members == 1, mass == cluster count") {
    val out = Dedup.softDedupWeights(
      table("documents").select(col("doc_id"), col("text"), col("source")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length === table("documents").count())
    assert(out.forall { case (_, _, n, w) => w == 1.0 / n })
    val nClusters = out.map(_._2).distinct.length
    val mass = out.map(_._4).sum
    assert(math.abs(mass - nClusters) < 1e-6)
    // non-vacuous: the corpus has real near-dup clusters (n > 1 exists)
    assert(out.exists(_._3 > 1L))
    // PLAN: cluster size must be the two-phase groupBy+join, never a
    // cluster_id-keyed count window — the hottest cluster is by
    // definition the hyper-duplicated page (the d7/c6 rule)
    val plan = Dedup.softDedupWeights(
      table("documents").select(col("doc_id"), col("text"), col("source")))
      .queryExecution.executedPlan.toString
    assert(!plan.linesIterator.exists(l =>
      l.contains("Window") && l.contains("windowspecdefinition(cluster_id")),
      s"cluster-keyed window regressed into:\n${plan.take(2000)}")
  }

  test("sampled index fits: binding cap trains on the hash-prefix sample only") {
    // a binding fitCap must equal fitting directly on the explicit
    // hash-threshold subset (fit-sampling is pure membership, not a
    // different algorithm), and the identity branch must equal cap=0
    val emb = table("embeddings")
    val v = emb.select(col("vec_id"),
      graft.functions.ColumnFns.toDoubleVec(col("embedding")).as("v"))
      .localCheckpoint()
    val n = v.count()
    val cap = 200
    assert(n > cap, "corpus must exceed the cap for a binding test")
    val thr = (BigInt(Long.MinValue) +
      (BigInt(cap) * (BigInt(1) << 64)) / BigInt(n)).toLong
    val sampled = v.filter(xxhash64(col("vec_id")) < lit(thr)).localCheckpoint()
    val sn = sampled.count()
    assert(sn > 0 && sn < n, s"threshold admitted $sn of $n")
    // k-means: seeds are the k smallest hashes — a PREFIX of the same
    // hash order, so full-frame seeding == sample-frame seeding and the
    // two fits must produce bit-identical centroids
    val viaCap = Similarity.kmeansCentroids(v, 8, 3, fitCap = cap)
    val viaSubset = Similarity.kmeansCentroids(sampled, 8, 3, fitCap = 0)
    assert(viaCap.map(_.toSeq).toSeq === viaSubset.map(_.toSeq).toSeq)
    // identity branch: a non-binding cap changes nothing
    val full = Similarity.kmeansCentroids(v, 8, 3, fitCap = 0)
    val slack = Similarity.kmeansCentroids(v, 8, 3, fitCap = (n + 1).toInt)
    assert(full.map(_.toSeq).toSeq === slack.map(_.toSeq).toSeq)
    // PQ codebooks: same membership argument at the subspace layer
    val cbCap = Similarity.pqCodebooks(emb, m = 8, k = 8, iters = 2,
        fitCap = cap).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val embSub = emb.filter(xxhash64(col("vec_id")) < lit(thr))
    val cbSubset = Similarity.pqCodebooks(embSub, m = 8, k = 8, iters = 2,
        fitCap = 0).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    assert(cbCap === cbSubset)
    // kmeansFitIds reproduces the exact membership the fit trained on
    // — the staged table the relational oracles restrict their
    // iteration sums to (r13: keeps Spark and DuckDB fitting on the
    // identical subset once the corpus crosses the cap)
    val fitIds = Similarity.kmeansFitIds(emb, cap)
      .collect().map(_.getLong(0)).sorted.toSeq
    val sampleIds = sampled.select(col("vec_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(fitIds === sampleIds)
    // a cap too close to k risks a sample missing a seed → fail fast,
    // never a silently degraded fit
    intercept[IllegalArgumentException] {
      Similarity.kmeansCentroids(v, 8, 1, fitCap = 20)
    }
    intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(emb, m = 8, k = 8, iters = 1, fitCap = 20)
    }
  }

  test("cluster maintenance equals the full recluster over the union pair graph") {
    // the d19 gate shape on real data: odd-id corpus assignment + the
    // even-id batch's incremental pairs must reproduce the one-shot
    // clustering of everything
    val docs = table("documents")
    val sigs = Dedup.minhashSignatures(docs).localCheckpoint()
    val corpusSigs = sigs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val assign = Dedup.duplicateClustersFrom(
      docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id").as("vec_id")),
      Dedup.minhashPairsFromSigs(corpusSigs)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .select(col("vec_id").as("doc_id"), col("cluster_id"))
    val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val pairs = Dedup.minhashIncremental(batch, corpusSigs)
    val inc = Dedup.clusterMaintenance(assign, batch.select(col("doc_id")), pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val full = Dedup.duplicateClustersFrom(
      docs.select(col("doc_id").as("vec_id")),
      Dedup.minhashPairsFromSigs(sigs)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(inc === full)
    // non-vacuous: the probe found cross-boundary pairs, so some batch
    // doc joined an existing cluster (label ≠ itself)
    assert(pairs.count() > 0)
    assert(inc.exists { case (d, c) => d % 2 == 0 && c != d })
  }

  test("incremental simhash dedup equals the full recompute restricted to the batch") {
    // identical-text copies ⇒ hamming distance 0 ⇒ guaranteed pairs
    val corpus = table("documents")
    val batch = corpus.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("doc_id", col("doc_id") + 10000)
    val inc = Dedup.simhashIncremental(batch, Dedup.simhashSignatures(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = Dedup.simhashPairs(corpus.unionByName(batch)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter(p => p._1 >= 10000 || p._2 >= 10000).toSet
    assert(inc === full)
    assert(inc.nonEmpty)
    assert(inc.forall(p => p._1 >= 10000 || p._2 >= 10000))
    // batch-batch pairs normalize to ONE row each (the swapped-sig trap)
    val ids = inc.map(p => (p._1, p._2))
    assert(ids.size === inc.size)
  }

  test("incremental embedding dedup equals the full recompute restricted to the batch") {
    // corpus = the embeddings table; batch = copies of every 5th vector
    // under new ids (identical vectors ⇒ cosine 1.0 ⇒ batch-vs-corpus
    // pairs are guaranteed, so the equality is never vacuous)
    val corpus = table("embeddings")
    val batch = corpus.filter(pmod(col("vec_id"), lit(5)) === 0)
      .withColumn("vec_id", col("vec_id") + 100000)
    val codes = Dedup.embeddingSignCodes(corpus).localCheckpoint()
    def restricted(full: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      full.map(r => (r.getLong(0), r.getLong(1)))
        .filter(p => p._1 >= 100000 || p._2 >= 100000).toSet
    // b = 1 (first-shared-band fast path, no distinct)
    val inc1 = Dedup.embeddingLshIncremental(batch, codes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full1 = restricted(Dedup.embeddingLshPairs(corpus.unionByName(batch)).collect())
    assert(inc1 === full1)
    assert(inc1.nonEmpty)
    // corpus-internal pairs must NOT be recomputed or emitted
    assert(inc1.forall(p => p._1 >= 100000 || p._2 >= 100000))
    // b = 2 (distinct path): same algorithm ⇒ same restriction equality,
    // whatever the banding's recall at this θ
    val inc2 = Dedup.embeddingLshIncremental(batch, codes, bitsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full2 = restricted(
      Dedup.embeddingLshPairs(corpus.unionByName(batch), bitsPerBand = 2).collect())
    assert(inc2 === full2)
  }

  test("incremental exact dedup: survivors are exactly corpus-unseen batch texts") {
    val docs = table("documents")
    val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val corpusTexts = corpus.select("text").collect().map(_.getString(0)).toSet
    val expected = batch.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filterNot(r => corpusTexts.contains(r._2))
      .groupBy(_._2).map { case (_, rs) => (rs.map(_._1).min, rs.size.toLong) }.toSet
    val out = Dedup.exactIncremental(batch, corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === expected)
    assert(out.nonEmpty)
  }

  test("native signatures are bit-identical to the composable reference") {
    import graft.operators.Dedup
    val hs = table("documents")
      .withColumn("_toks", graft.functions.ColumnFns.tokens(col("text")))
      .withColumn("sh", graft.functions.ColumnFns.shinglesFromTokens(col("_toks"), 3))
      .withColumn("hsh", array_sort(transform(col("sh"), s => xxhash64(s))))
      .select(col("doc_id"), col("hsh"))
    val both = hs
      .withColumn("ref_sig", Dedup.minhashSignature(Dedup.hashShingles(col("hsh"))))
      .withColumn("native_sig", call_function("graft_minhash64", col("hsh")))
      .withColumn("ref_sim", Dedup.simhashFromHashes(col("hsh")))
      .withColumn("native_sim", call_function("graft_simhash64", col("hsh")))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](r.fieldIndex("ref_sig")) ===
        r.getSeq[Long](r.fieldIndex("native_sig")), s"minhash doc ${r.getLong(0)}")
      assert(r.getLong(r.fieldIndex("ref_sim")) ===
        r.getLong(r.fieldIndex("native_sim")), s"simhash doc ${r.getLong(0)}")
    }
  }

  test("simhash pairs respect the hamming bound") {
    val out = Dedup.simhashPairs(table("documents"), 3).collect()
    out.foreach(r => assert(r.getAs[Int]("dist") <= 3))
  }

  test("embedding near-dup pairs match a driver-side recompute") {
    val vecs = table("embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // mirror the operator's decimal-rounded threshold compare
    def cos6(a: Array[Double], b: Array[Double]) =
      BigDecimal(cos(a, b)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = (for {
      (i, vi) <- vecs.toSeq; (j, vj) <- vecs.toSeq
      if i < j && cos6(vi, vj) >= 0.45
    } yield (i, j)).toSet
    val out = Dedup.embeddingPairs(table("embeddings")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === expected)
  }

  test("banded sign-LSH pairs reproduce the exact truth set (both thresholds)") {
    Seq(0.45, 0.35).foreach { th =>
      val exact = Dedup.embeddingPairs(table("embeddings"), th).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val lsh = Dedup.embeddingLshPairs(table("embeddings"), th).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // verify stage makes lsh ⊆ exact; full recall makes them equal
      assert(lsh === exact, s"θ=$th missed: ${exact.diff(lsh)}")
      assert(exact.nonEmpty)
    }
  }

  test("capped and wide-band LSH variants: capped equals fast path, wide stays a subset") {
    val exact = Dedup.embeddingPairs(table("embeddings"), 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // a non-binding cap routes through the distinct branch — same result
    val cappedDf = Dedup.embeddingLshPairs(table("embeddings"), 0.45,
      maxBucket = 100000)
    val cappedOut = cappedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedOut === exact)
    // PLAN: the cap is the shared two-phase capBuckets, never a
    // (band, chunk)-keyed count window — the buckets being dropped are
    // exactly the hottest keys (the c28/d7 rule, r11 verdict item 3)
    val cplan = cappedDf.queryExecution.executedPlan.toString
    assert(!cplan.contains("Window ["),
      s"bucket-keyed window regressed into the capped branch:\n${cplan.take(2000)}")
    // wider bands prune harder; the exact-cosine verify keeps output ⊆ truth
    val wide = Dedup.embeddingLshPairs(table("embeddings"), 0.45,
        numPlanes = 16, bitsPerBand = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide.subsetOf(exact))
  }

  test("LSH-sourced duplicate clusters equal the exact-pair clustering") {
    val viaExact = Dedup.duplicateClusters(table("embeddings"), 0.35).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLsh = Dedup.duplicateClustersLsh(table("embeddings"), 0.35).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLsh === viaExact)
  }

  test("simhash pairs are insensitive to the tightened bucket cap") {
    val tight = Dedup.simhashPairs(table("documents"), 3, maxBucket = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val loose = Dedup.simhashPairs(table("documents"), 3, maxBucket = 10000).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight === loose)
  }

  test("IVF cell assignment is a projection: no window/sort before the cell join") {
    val plan = Similarity.ivfTopK(table("embeddings"), numQueries = 10, k = 5)
      .queryExecution.executedPlan.toString
    // exactly one Window node in the whole plan — the final top-k rank
    // over q_id; the per-vector argmax must NOT appear as a second window
    // ("Window [" excludes the WindowGroupLimit helper nodes)
    assert(plan.sliding("Window [".length).count(_ == "Window [") === 1, plan)
    // and no exchange keyed on the corpus vec_id (the old crossJoin+
    // row_number assignment hash-partitioned 32× the corpus by vec_id)
    assert(!plan.contains("hashpartitioning(vec_id"), plan)
  }

  test("canonical: one survivor per text group, best quality wins") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the a of and to in is words here now"), // dup text, high stop ratio
      (2L, "the a of and to in is words here now"),
      (3L, "zz qq xx")).toDF("doc_id", "text")
    val out = Dedup.canonical(docs).collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet === Set(1L, 3L)) // equal quality ⇒ min id survives
    assert(out(1L).getAs[Long]("dup_count") === 2)
    assert(out(3L).getAs[Long]("dup_count") === 1)
    // full corpus: survivors' dup counts add up to the corpus size
    val real = Dedup.canonical(table("documents")).collect()
    assert(real.map(_.getAs[Long]("dup_count")).sum === table("documents").count())
    // PLAN: two-phase combinable aggregate, never a Window partitioned
    // on the raw text key — a window cannot partial-aggregate, so a
    // hyper-duplicated page (the regime this operator exists for) would
    // land every copy on one reducer (the round-10 verdict's flagged
    // hot-key shape). partial_max_by in the physical plan proves the
    // map-side combine actually planned.
    val plan = Dedup.canonical(table("documents"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(2000))
    assert(plan.contains("partial_max_by") || plan.contains("partial_maxby") ||
      plan.toLowerCase.contains("partial") && plan.contains("max_by"),
      plan.take(2000))
  }

  test("connected components: chain + triangle resolve to min-id labels") {
    import spark.implicits._
    // chain 1-2-3-4-5-6 (diameter > 2 forces pointer jumping), triangle 10-11-12
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("duplicate clusters: edge endpoints share a cluster, labels are member minima") {
    val pairs = Dedup.embeddingPairs(table("embeddings"), 0.35).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.duplicateClusters(table("embeddings"), 0.35).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size === table("embeddings").count())
    pairs.foreach { case (a, b) => assert(clusters(a) === clusters(b), s"pair ($a,$b)") }
    // every cluster's label is its smallest member
    clusters.groupBy(_._2).foreach { case (lab, members) =>
      assert(members.keys.min === lab)
    }
    assert(pairs.nonEmpty)
  }

  test("brute-force ANN: k results per query, ranks contiguous, really top-k") {
    val out = Similarity.bruteTopK(table("embeddings"), numQueries = 3, k = 5).collect()
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size === 3)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 5))
    }
  }

  test("IVF ANN: deterministic, well-formed, nontrivial recall vs brute force") {
    val ivf1 = Similarity.ivfTopK(table("embeddings"), numQueries = 10, k = 5).collect()
    val ivf2 = Similarity.ivfTopK(table("embeddings"), numQueries = 10, k = 5).collect()
    assert(ivf1.map(_.toString).sameElements(ivf2.map(_.toString))) // reproducible
    ivf1.groupBy(_.getAs[Long]("q_id")).values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rows.length))
    }
    val brute = Similarity.bruteTopK(table("embeddings"), numQueries = 10, k = 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val found = ivf1.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = found.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.2, s"IVF recall collapsed: $recall") // deterministic on this data
  }

  test("text clusters: d4 pair endpoints share a cluster, non-pairs are singletons") {
    val docs = table("documents")
    val pairs = Dedup.ngramJaccardPairs(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val clusters = SparkEntry.queries("d10_text_clusters")(spark, SharedSpark.sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toMap
    assert(clusters.size === docs.count())
    pairs.foreach { case (a, b) => assert(clusters(a) === clusters(b)) }
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    clusters.foreach { case (d, c) =>
      if (!paired.contains(d)) assert(c === d, s"unpaired doc $d not a singleton")
      assert(c <= d) // cluster label is the component minimum
    }
  }

  test("k-NN graph: every vector gets k ranked neighbours; LSH graph recall holds") {
    val exact = Similarity.knnGraph(table("embeddings"), k = 3).collect()
    val n = table("embeddings").count()
    assert(exact.length === n * 3)
    exact.groupBy(_.getAs[Long]("q_id")).values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 3))
      assert(!rows.exists(r => r.getAs[Long]("neighbor_id") == r.getAs[Long]("q_id")))
    }
    val truth = exact.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = Similarity.knnGraphLsh(table("embeddings"), k = 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = lsh.intersect(truth).size.toDouble / truth.size
    // the synthetic corpus is ISOTROPIC — true "neighbours" sit near
    // cos 0.5, the worst case for sign-LSH (see embeddingLshPairs'
    // Scaladoc); measured 0.119 at sf0.001, so this floor only guards
    // against bucketing regressions. The clustered-corpus test below is
    // the operating-regime recall check.
    assert(recall >= 0.08, s"LSH knn-graph recall collapsed: $recall")
  }

  test("k-NN graph refuses a corpus above the exact-baseline bound unless forced") {
    val emb = table("embeddings")
    val n = emb.count()
    // the probe refuses the O(n²) baseline at distributed size...
    val ex = intercept[IllegalArgumentException] {
      Similarity.knnGraph(emb, k = 3, maxExactRows = n - 1)
    }
    assert(ex.getMessage.contains("knnGraphLsh"))
    // ...force overrides for deliberate truth-set builds...
    assert(Similarity.knnGraph(emb, k = 3, maxExactRows = n - 1, force = true)
      .limit(1).count() === 1)
    // ...and the sub-quadratic twin never probes or refuses
    assert(Similarity.knnGraphLsh(emb, k = 3).limit(1).count() === 1)
  }

  test("k-NN graph on a corpus smaller than k ranks all available neighbours") {
    import spark.implicits._
    val tiny = Seq(
      (0L, Seq.fill(64)(1.0f)), (1L, Seq.fill(64)(0.9f)), (2L, Seq.fill(64)(-1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.knnGraph(tiny, k = 3).collect()
    // 3 vectors → each query has only 2 candidates; both must rank
    assert(out.length === 6)
    out.groupBy(_.getAs[Long]("q_id")).values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 2))
    }
  }

  test("LSH k-NN graph: high recall on a clustered corpus (the operating regime)") {
    import spark.implicits._
    // 20 tight clusters × 10 vectors: centre ± small noise, seeded — the
    // shape of a real near-dup embedding corpus (within-cluster cosine
    // ≈ 0.99 ⇒ per-plane agreement ≈ 0.95, so hamming-1 multi-probe
    // recovers nearly every within-cluster neighbour)
    val rnd = new scala.util.Random(7)
    val rows = for {
      c <- 0 until 20
      centre = Array.fill(64)(rnd.nextGaussian())
      i <- 0 until 10
    } yield (c * 10L + i, centre.map(x => (x + rnd.nextGaussian() * 0.07).toFloat).toSeq)
    val df = rows.toDF("vec_id", "embedding")
    val truth = Similarity.knnGraph(df, k = 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = Similarity.knnGraphLsh(df, k = 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = lsh.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"clustered-corpus recall: $recall")
  }

  test("k-means: exact parity with a driver-side Lloyd reference, clusters nonempty-ish") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val emb = table("embeddings")
    val k = 8; val iters = 5
    val out = Similarity.kmeans(emb, k, iters).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    // driver reference mirroring the operator's decimal discipline exactly
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    var cents = emb.withColumn("hk", xxhash64(col("vec_id")))
      .orderBy(col("hk"), col("vec_id")).limit(k)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    def d6(x: Double): Double =
      new JBD(x).setScale(6, RoundingMode.HALF_UP).doubleValue()
    def assign(v: Array[Double]): Int = {
      val vv = v.map(x => x * x).sum
      cents.zipWithIndex.map { case (c, i) =>
        val dotvc = v.zip(c).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
        (d6(vv - 2.0 * dotvc + c.map(x => x * x).sum), i)
      }.min._2
    }
    var sse = Double.MaxValue
    for (_ <- 1 to iters) {
      val groups = vecs.toSeq.groupBy { case (_, v) => assign(v) }
      val curSse = vecs.values.map { v =>
        val c = cents(assign(v))
        v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
      }.sum
      assert(curSse <= sse + 1e-9); sse = curSse // Lloyd never worsens SSE
      cents = cents.zipWithIndex.map { case (old, i) =>
        groups.get(i).map { members =>
          val n = new JBD(members.size)
          Array.tabulate(old.length) { p =>
            members.map { case (_, v) =>
              new JBD(v(p)).setScale(12, RoundingMode.HALF_UP)
            }.reduce(_.add(_)).divide(n, 12, RoundingMode.HALF_UP).doubleValue()
          }
        }.getOrElse(old)
      }
    }
    val ref = vecs.map { case (id, v) => id -> assign(v) }
    assert(out === ref)
    assert(out.values.toSet.size > 1, "degenerate single-cluster result")
  }

  test("diversity sample: members of their clusters, genuinely the most central") {
    val emb = table("embeddings")
    val sel = Similarity.diversitySample(emb, k = 8, iters = 5, perCluster = 10).collect()
      .map(r => (r.getAs[Int]("cluster"), r.getAs[Int]("rank"), r.getAs[Long]("vec_id")))
    val assign = Similarity.kmeans(emb, k = 8, iters = 5).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    // selected vectors carry their k-means cluster
    sel.foreach { case (c, _, id) => assert(assign(id) === c) }
    sel.groupBy(_._1).foreach { case (c, rows) =>
      val size = assign.count(_._2 == c)
      assert(rows.length === math.min(10, size))
      assert(rows.map(_._2).sorted.sameElements(1 to rows.length))
    }
    // coverage: every non-empty cluster contributes
    assert(sel.map(_._1).toSet === assign.values.toSet)
  }

  test("pagerank: driver parity on the k-NN graph, mass conserved, dangling handled") {
    val edges = Similarity.knnGraph(table("embeddings"))
      .select(col("q_id").as("src"), col("neighbor_id").as("dst"))
    val out = Similarity.pageRank(edges).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("rank")).toMap
    // total mass: dangling-free graph conserves sum(rank) = 1
    assert(math.abs(out.values.sum - 1.0) < 1e-6)
    // driver reference in plain doubles (decimal sums agree to ~1e-12)
    val es = edges.collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")))
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val n = nodes.length
    val deg = es.groupBy(_._1).view.mapValues(_.length).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 10) {
      val inflow = es.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / deg(s) }.sum).toMap
      rank = nodes.map(id =>
        id -> (0.15 / n + 0.85 * inflow.getOrElse(id, 0.0))).toMap
    }
    out.foreach { case (id, r) => assert(math.abs(r - rank(id)) < 1e-9, s"node $id") }
    // dangling redistribution: a 2-node graph with one sink still sums to 1
    val tiny = spark.createDataFrame(Seq((1L, 2L))).toDF("src", "dst")
    val tinyRanks = Similarity.pageRank(tiny, iters = 5).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("rank")).toMap
    assert(math.abs(tinyRanks.values.sum - 1.0) < 1e-6)
    assert(tinyRanks(2L) > tinyRanks(1L)) // the sink accumulates rank
  }

  test("graph loops release each round they replace: one persistent RDD per result") {
    val emb = table("embeddings")
    val edges = Similarity.knnGraphLsh(emb)
      .select(col("q_id").as("src"), col("neighbor_id").as("dst"),
        col("rank").cast("long").as("w"))
      .localCheckpoint()
    val pairs = edges.select(col("src"), col("dst"))
    val seeds = emb.filter(col("vec_id") < 3).select(col("vec_id"))
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRank" -> (() => Similarity.pageRank(pairs)),
      "bfsHops" -> (() => Similarity.bfsHops(pairs, seeds)),
      "shortestPaths" -> (() => Similarity.shortestPaths(edges, seeds)),
      "kCore" -> (() => Similarity.kCore(pairs)),
      "labelPropagation" -> (() => Similarity.labelPropagation(pairs)),
      "connectedComponents" -> (() => Dedup.connectedComponents(
        pairs.select(col("src").as("a"), col("dst").as("b")), maxDriverEdges = 0L)))
    val sc = spark.sparkContext
    try ops.foreach { case (name, op) =>
      val before = sc.getPersistentRDDs.keySet.toSet
      assert(op().count() > 0, name)
      val added = sc.getPersistentRDDs.keySet.toSet -- before
      assert(added.size <= 1, s"$name left ${added.size} persistent RDDs")
      added.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist()))
    } finally graft.sources.TxTable.release(edges)
  }

  test("label propagation: exact parity with a driver-side synchronous reference") {
    val edges = Similarity.knnGraphLsh(table("embeddings"))
      .select(col("q_id").as("src"), col("neighbor_id").as("dst"))
    val out = Similarity.labelPropagation(edges).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("label")).toMap
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val und = (es ++ es.map(_.swap)).distinct
    val inN = und.groupBy(_._2) // neighbours feeding each dst
    var lab = und.map(_._1).distinct.map(id => id -> id).toMap
    for (_ <- 1 to 5) {
      lab = lab.keys.map { id =>
        val counts = inN(id).map { case (s, _) => lab(s) }
          .groupBy(identity).view.mapValues(_.size)
        id -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    assert(out === lab)
    assert(out.values.toSet.size < out.size, "no communities formed — vacuous")
  }

  test("LSH ANN returns a subset of each query's true neighbourhood ranking") {
    val brute = Similarity.bruteTopK(table("embeddings"), numQueries = 5, k = 50).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = Similarity.lshTopK(table("embeddings"), numQueries = 5, k = 5).collect()
    lsh.groupBy(_.getAs[Long]("q_id")).values.foreach { rows =>
      assert(rows.length <= 5)
      assert(rows.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rows.length))
    }
    // sanity: probed candidates are real vectors (ids exist)
    val ids = table("embeddings").select("vec_id").collect().map(_.getLong(0)).toSet
    lsh.foreach(r => assert(ids.contains(r.getAs[Long]("neighbor_id"))))
    assert(brute.nonEmpty)
  }

  test("fuzzy join plan: a real equi-join on the block key, never a nested loop") {
    import spark.implicits._
    val cat = table("part").select(col("p_partkey").as("cat_id"),
      col("p_name").as("name"))
    val dirty = cat.select(col("cat_id").as("dirty_id"), col("name"))
    val p = Dedup.fuzzyNameJoin(dirty, cat).queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"fuzzy join degenerated to an unblocked compare:\n$p")
  }

  test("fuzzy join: union blocking matches last-token edits, both-token edits invisible") {
    import spark.implicits._
    val catalog = Seq((1L, "small ring"), (2L, "red widget"), (3L, "blue bolt"),
        (4L, "smell ring"), (5L, "ab gear"))
      .toDF("cat_id", "name")
    val dirty = Seq(
      (10L, "smalL ring"),   // 1 sub → best = cat 1 (lev 1 beats cat 4's lev 2)
      (11L, "red widget"),   // exact → lev 0
      (12L, "xyzzy bolt"),   // lev 4 from "blue bolt" → above maxDist, dropped
      (13L, "small rung"),   // edit in the LAST token — the old single-
                             // blocking miss, now carried by the
                             // first-token pass → cat 1 at lev 1
      (14L, "zab gear"),     // insertion CROSSES a length band (7→8 chars):
                             // only the ±1 multi-probe keeps it visible
      (15L, "xmall rinx"))   // edits touch BOTH block tokens → invisible
                             // (the residual recall contract)
      .toDF("dirty_id", "name")
    val out = Dedup.fuzzyNameJoin(dirty, catalog).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("matched_id"), r.getAs[Int]("lev")))).toMap
    assert(out === Map(10L -> ((1L, 1)), 11L -> ((2L, 0)), 13L -> ((1L, 1)),
      14L -> ((5L, 1))))
  }

  test("minhash eval: identical docs estimate 1.0 exactly, errors are consistent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // identical
      (3L, "alpha beta gamma delta epsilon zeta eta iota"))  // near dup
      .toDF("doc_id", "text")
    val out = Dedup.minhashEval(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    // identical shingle sets ⇒ identical signatures ⇒ estimate exactly 1
    val (e12, x12, err12) = out((1L, 2L))
    assert(e12 === 1.0 && x12 === 1.0 && err12 === 0.0)
    out.values.foreach { case (est, exact, err) =>
      assert(est >= 0.0 && est <= 1.0 && exact > 0.0 && exact <= 1.0)
      assert(err === math.abs(est - exact))
      assert(math.round(est * 64) === est * 64, "estimate must be k/64 dyadic")
    }
    // the corpus population: every pair d2 reports must be evaluated
    val evalPairs = Dedup.minhashEval(table("documents")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val d2Pairs = Dedup.minhashPairs(table("documents")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d2Pairs.subsetOf(evalPairs))
  }

  test("snapshot diff: all four statuses, text identity decides changed") {
    import spark.implicits._
    val prev = Seq((1L, "alpha"), (2L, "bravo"), (3L, "charlie"))
      .toDF("doc_id", "text")
    val next = Seq((2L, "bravo"), (3L, "charlie updated"), (4L, "delta"))
      .toDF("doc_id", "text")
    val out = Dedup.snapshotDiff(prev, next).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "deleted", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("triangle counts: known graph, direction and duplicates ignored") {
    import spark.implicits._
    // triangles {1,2,3} and {2,3,4}; edge (4,5) closes nothing; edges
    // arrive directed, reversed and duplicated — canonicalization must
    // collapse all of that before counting
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (2L, 4L),
        (3L, 4L), (4L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val out = Similarity.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_triangles")).toMap
    assert(out === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    // node 5 participates in no triangle and is absent
    assert(!out.contains(5L))
  }

  test("k-core: clique survives, chains cascade out, fixpoint within budget") {
    import spark.implicits._
    // 4-clique {1,2,3,4} is the 3-core; a pendant chain 4-10-11 and a
    // triangle {20,21,22} (all degrees 2) peel away. Node 10 starts at
    // degree 2 and node 11 at 1 — the CASCADE: 11 goes in round 1,
    // which cannot resurrect 10 (synchronous rounds). Directed and
    // duplicated edges canonicalize first.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
        (3L, 4L), (4L, 3L), (4L, 10L), (10L, 11L),
        (20L, 21L), (21L, 22L), (22L, 20L))
      .toDF("src", "dst")
    val out = Similarity.kCore(edges, k = 3).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("core_degree")).toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k = 2 keeps the triangle too, still drops the chain
    val out2 = Similarity.kCore(edges, k = 2).collect()
      .map(_.getLong(0)).toSet
    assert(out2 === Set(1L, 2L, 3L, 4L, 20L, 21L, 22L))
    // gate-corpus fixpoint: one more round changes nothing (the
    // fixed-round contract is exact on this graph)
    val g = Similarity.knnGraphLsh(table("embeddings"))
      .select(col("q_id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint()
    val r8 = Similarity.kCore(g, rounds = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r9 = Similarity.kCore(g, rounds = 9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r8 === r9)
  }

  test("mmr rerank: redundant near-duplicate demoted below a diverse hit") {
    import spark.implicits._
    // q = e_x; A1/A2 nearly identical (cos ≈ 1), both most relevant;
    // B slightly less relevant but nearly orthogonal to A1.
    // Pure relevance ranks [A1, A2, B]; MMR must rank [A1, B, A2].
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.8f, 0.6f, 0.0f), 0),     // A1: cos(q)=0.8
      (2L, Seq(0.79f, 0.613f, 0.0f), 0),  // A2: cos(q)≈0.79, cos(A1)≈1
      (3L, Seq(0.78f, -0.62f, 0.0f), 0))  // B:  cos(q)≈0.78, cos(A1)≈0.25
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.mmrRerank(emb, k = 3, nQueries = 1).collect()
      .map(r => r.getAs[Int]("rank") -> r.getAs[Long]("neighbor_id")).toMap
    assert(out === Map(1 -> 1L, 2 -> 3L, 3 -> 2L))
  }

  test("mmr rerank: full rank ladder per query, no repeats, rank-1 is the brute top-1") {
    val emb = table("embeddings")
    val out = Similarity.mmrRerank(emb).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id")))
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet === (0L until 10L).toSet)
    byQ.foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.sameElements(1 to 5))
      assert(rows.map(_._3).distinct.length === 5)
    }
    val brute = Similarity.bruteTopK(emb, numQueries = 10, k = 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("neighbor_id")).toMap
    byQ.foreach { case (q, rows) =>
      assert(rows.find(_._2 == 1).get._3 === brute(q))
    }
  }

  test("silhouette: exact parity with a driver-side recompute, bounded values") {
    import graft.functions.ColumnFns
    val emb = table("embeddings")
    val out = Similarity.silhouette(emb).collect()
      .map(r => r.getAs[Int]("cluster") ->
        ((r.getAs[Long]("n_points"), r.getAs[Double]("mean_silhouette")))).toMap
    val n = emb.count()
    assert(out.values.map(_._1).sum === n)
    out.values.foreach { case (_, s) => assert(s >= -1.0 && s <= 1.0) }
    // driver replay: same centroids, same decimal-6 argmin/second-best,
    // same sqrt/clamp/ratio rounding, same exact-decimal mean
    val v = emb.select(col("vec_id"),
      ColumnFns.toDoubleVec(col("embedding")).as("v"))
    val cents = Similarity.kmeansCentroids(v.localCheckpoint(), 8, 5)
    def d6(x: Double): Double =
      new java.math.BigDecimal(x).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue
    val acc = collection.mutable.Map[Int, (Long, java.math.BigDecimal)]()
    v.collect().foreach { r =>
      val vec = r.getSeq[Double](1).toArray
      val ds = cents.zipWithIndex.map { case (c, i) =>
        val vv = vec.map(x => x * x).sum
        val cc = c.map(x => x * x).sum
        val dt = vec.zip(c).map { case (a, b) => a * b }.sum
        (d6(vv - 2.0 * dt + cc), i)
      }.sorted
      val (a6, cid) = ds(0)
      val b6 = ds(1)._1
      val (sa, sb) = (math.sqrt(math.max(a6, 0)), math.sqrt(math.max(b6, 0)))
      val s = if (math.max(sa, sb) > 0) d6((sb - sa) / math.max(sa, sb)) else 0.0
      val (cnt, sum) = acc.getOrElse(cid, (0L, java.math.BigDecimal.ZERO))
      acc(cid) = (cnt + 1,
        sum.add(new java.math.BigDecimal(s).setScale(6, java.math.RoundingMode.HALF_UP)))
    }
    acc.foreach { case (cid, (cnt, ssum)) =>
      val mean = d6(ssum.doubleValue / cnt)
      assert(out(cid)._1 === cnt)
      assert(out(cid)._2 === mean, s"cluster $cid")
    }
  }

  test("lsh band stats: hand-built buckets, pair mass, cap count") {
    import spark.implicits._
    // band 0: buckets of size 3, 2, 1, 1 → pairs 3+1 = 4, singles 2;
    // band 1: one hot bucket of 5 → pairs 10, trips a cap of 4
    val banded = (Seq.fill(3)((0, 100L)) ++ Seq.fill(2)((0, 200L)) ++
      Seq((0, 300L), (0, 400L)) ++ Seq.fill(5)((1, 500L)))
      .zipWithIndex.map { case ((band, bh), i) => (i.toLong, band, bh) }
      .toDF("doc_id", "band", "bh")
    val out = graft.operators.Dedup.lshBandStats(banded, maxBucket = 4)
      .collect().map(r => r.getInt(1 - 1) -> r).toMap
    val b0 = out(0)
    assert(b0.getAs[Long]("n_buckets") === 4L)
    assert(b0.getAs[Long]("n_rows") === 7L)
    assert(b0.getAs[Long]("max_bucket") === 3L)
    assert(b0.getAs[Long]("n_singletons") === 2L)
    assert(b0.getAs[Long]("n_cand_pairs") === 4L)
    assert(b0.getAs[Long]("n_capped") === 0L)
    val b1 = out(1)
    assert(b1.getAs[Long]("n_cand_pairs") === 10L)
    assert(b1.getAs[Long]("n_capped") === 1L)
  }

  test("centroid update: weighted means exact, untouched cells identical") {
    import org.apache.spark.sql.functions._
    val emb = table("embeddings")
    val batch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val out = graft.operators.Similarity.centroidUpdate(emb, batch).collect()
    assert(out.length === 8 * 64)
    // driver-side recompute: fit + assign + weighted mean in BigDecimal
    val cents = graft.operators.Similarity.fitCentroids(emb)
    val vecs = emb.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cell(v: Array[Double]) = {
      val vv = v.map(x => x * x).sum
      cents.zipWithIndex.map { case (c, i) =>
        val d = vv - 2.0 * v.zip(c).map(p => p._1 * p._2).sum + c.map(x => x * x).sum
        (BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP), i)
      }.min._2
    }
    val assign = vecs.map { case (id, v) => id -> cell(v) }
    val ncs = assign.groupBy(_._2).map { case (c, m) => c -> m.size }
    val bAssign = assign.filter(_._1 % 2 == 1)
    out.foreach { r =>
      val (c, pos) = (r.getAs[Int]("cluster"), r.getAs[Int]("pos"))
      val nc = ncs.getOrElse(c, 0)
      val bvs = bAssign.filter(_._2 == c).keys.map(vecs(_)(pos)).toSeq
      assert(r.getAs[Long]("n_corpus") === nc.toLong, s"nc $c")
      assert(r.getAs[Long]("n_batch") === bvs.size.toLong, s"nb $c")
      if (nc + bvs.size > 0) {
        val num = BigDecimal(cents(c)(pos)).setScale(12,
          BigDecimal.RoundingMode.HALF_UP) * nc +
          bvs.map(x => BigDecimal(x).setScale(12,
            BigDecimal.RoundingMode.HALF_UP)).sum
        val exp = num.bigDecimal.divide(
          java.math.BigDecimal.valueOf((nc + bvs.size).toLong), 12,
          java.math.RoundingMode.HALF_UP).doubleValue()
        assert(r.getAs[Double]("new_cx") === exp, s"cell $c pos $pos")
      } else {
        assert(r.getAs[Double]("new_cx") === r.getAs[Double]("old_cx"))
      }
    }
    // an empty batch leaves every coordinate exactly in place
    val same = graft.operators.Similarity.centroidUpdate(
      emb, emb.filter(lit(false))).collect()
    assert(same.forall(r =>
      r.getAs[Double]("new_cx") === r.getAs[Double]("old_cx")))
  }

  test("centroid drift: identical batch is drift-free, spine complete, flag exact") {
    import org.apache.spark.sql.functions._
    val emb = table("embeddings")
    // batch == corpus → every cell's rates match exactly, nothing drifts
    val same = graft.operators.Similarity.centroidDrift(emb, emb).collect()
    assert(same.length === 8) // full 0..k-1 spine
    assert(same.map(_.getAs[Int]("cluster")).sorted.toSeq === (0 until 8))
    same.foreach { r =>
      assert(r.getAs[Long]("n_batch") === r.getAs[Long]("n_corpus"))
      assert(r.getAs[Double]("batch_pm") === r.getAs[Double]("corpus_pm"))
      assert(r.getAs[Int]("drifted") === 0)
    }
    assert(same.map(_.getAs[Long]("n_corpus")).sum === emb.count())
    // skewed batch (odd ids): flags must equal the documented integer
    // cross-multiplied formula applied to the returned counts
    val out = graft.operators.Similarity.centroidDrift(emb,
      emb.filter(pmod(col("vec_id"), lit(2)) === 1)).collect()
    val nc = out.map(_.getAs[Long]("n_corpus")).sum
    val nb = out.map(_.getAs[Long]("n_batch")).sum
    out.foreach { r =>
      val expect = (BigInt(r.getAs[Long]("n_batch")) * nc -
        BigInt(r.getAs[Long]("n_corpus")) * nb).abs * 1000 >
        BigInt(100) * nc * nb
      assert(r.getAs[Int]("drifted") === (if (expect) 1 else 0),
        s"cell ${r.getAs[Int]("cluster")}")
    }
  }

  test("pca: recovers a planted dominant direction; components orthogonal; deterministic") {
    import spark.implicits._
    // crafted corpus: strong signal along (1,0,0,...) + weaker along
    // (0,1,0,...) + tiny deterministic noise elsewhere
    val dim = 8
    val vecs = (0 until 200).map { i =>
      val a = (i % 21 - 10) * 0.5          // dominant axis, var ~9.6
      val b = (i % 7 - 3) * 0.3            // second axis, var ~0.36
      val v = Array.tabulate(dim)(d =>
        if (d == 0) a else if (d == 1) b
        else ((i * 31 + d * 17) % 11 - 5) * 0.01)
      (i.toLong, v.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val (muq, ws) = Similarity.pcaFit(vecs, nComponents = 2)
    val w1 = ws.head.map(_.toDouble / 1048576.0)
    val w2 = ws(1).map(_.toDouble / 1048576.0)
    assert(math.abs(w1(0)) > 0.99, s"pc1 not on the planted axis: ${w1.toSeq}")
    assert(math.abs(w2(1)) > 0.99, s"pc2 not on the second axis: ${w2.toSeq}")
    val dot = w1.zip(w2).map { case (a, b) => a * b }.sum
    assert(math.abs(dot) < 0.01, s"components not orthogonal: $dot")
    // determinism: a second fit is bit-identical
    val (muq2, ws2) = Similarity.pcaFit(vecs, nComponents = 2)
    assert(muq.toSeq === muq2.toSeq)
    assert(ws.map(_.toSeq) === ws2.map(_.toSeq))
    // projections: pc1 numerators carry more spread than pc2
    val proj = Similarity.pcaProject(vecs, muq, ws).collect()
    def variance(xs: Seq[Double]) = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    val v1 = variance(proj.map(_.getAs[Double]("pc1")).toSeq)
    val v2 = variance(proj.map(_.getAs[Double]("pc2")).toSeq)
    assert(v1 > v2, s"pc1 variance $v1 not above pc2 $v2")
    // the double forms are exact 2^-40 shifts of the integer numerators
    proj.foreach { r =>
      assert(r.getAs[Double]("pc1") ===
        r.getAs[Long]("pc1_q").toDouble / 1099511627776.0)
    }
  }
}
