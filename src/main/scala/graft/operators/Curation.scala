package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ColumnFns._

/** Corpus-curation operators beyond per-document text analysis:
  * vocabulary statistics, TF-IDF, dataset splitting and sampling.
  *
  * Scale posture: n-gram/TF-IDF are explode → hash-agg (one shuffle on
  * the term key, map-side combined); the hash split is a pure map with a
  * deterministic per-row hash — reproducible across runs, partitionings
  * and engines (no RNG); stratified sampling is per-stratum Bernoulli,
  * no shuffle.
  */
object Curation {

  /** Cross-family tokenizer evaluation — the selection report a
    * pipeline runs before committing a tokenizer to a training corpus:
    * BPE vs unigram-LM vs WordPiece over the SAME corpus, compared on
    * total subword count, fertility (subwords per word, emitted as an
    * exact ×1e6 integer so no float crosses engines) and WordPiece's
    * [UNK] word count (the coverage risk the other families don't
    * have). `wordSegs` carries per-DISTINCT-word subword counts —
    * segmentation cost is vocab-bounded while corpus weighting is just
    * a count join: the "tokenize the vocabulary, weight by the corpus"
    * shape that makes this report affordable at 100 TB (the corpus is
    * scanned once, for word counts only). */
  def tokenizerEval(documents: DataFrame, wordSegs: DataFrame): DataFrame = {
    val wc = documents
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    // the 1-row aggregate is materialized ONCE: the three family
    // selects below each re-evaluate their parent, and without the
    // checkpoint that is three corpus explode+join+aggregate passes
    // for one 3-row report (r14 review)
    val tot = wc.join(wordSegs, "word").agg(
      sum(col("cnt")).as("nw"),
      sum(col("cnt") * col("n_bpe")).as("tb"),
      sum(col("cnt") * col("n_ug")).as("tu"),
      sum(col("cnt") * col("n_wp")).as("tw"),
      sum(col("cnt") * col("n_unk_wp")).as("tunk"))
      .localCheckpoint()
    def fam(name: String, sub: String, unk: Column) = tot.select(
      lit(name).as("family"),
      col("nw").as("n_words"),
      col(sub).as("n_subwords"),
      expr(s"($sub * 1000000) div nw").as("fertility_e6"),
      unk.as("n_unk_words"))
    fam("bpe", "tb", lit(0L))
      .union(fam("unigram", "tu", lit(0L)))
      .union(fam("wordpiece", "tw", col("tunk")))
  }

  /** Global top-k token bigrams by document frequency — explode once,
    * two exact aggregations. */
  def topNgrams(documents: DataFrame, n: Int = 2, k: Int = 20): DataFrame =
    documents
      .withColumn("_toks", tokens(col("text")))
      .withColumn("ng", explode(shinglesFromTokens(col("_toks"), n)))
      .groupBy(col("ng"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("ng"))
      .limit(k)

  /** TF-IDF per (doc, term): tf = term count in doc; idf = ln(N / df)
    * over distinct docs. Fully lazy — N comes in via a broadcast
    * one-row aggregate (a driver-side count() here would run a job at
    * plan-construction time, once per pipeline build). */
  def tfidf(documents: DataFrame, minScore: Double = 0.0): DataFrame = {
    val terms = documents
      .withColumn("term", explode(tokens(col("text"))))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = terms.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = documents.agg(count(lit(1)).as("n"))
    // NO broadcast hint on the df join: the vocabulary of a 100 TB corpus
    // is itself huge. The df side's aggregate partitioning is reused; the
    // per-(doc,term) side reshuffles on term — unavoidable once the df
    // table can't broadcast. AQE still broadcasts small measured sizes.
    terms.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        decRound(col("tf") * log(col("n").cast("double") / col("df")), 6))
      .filter(col("tfidf") > minScore)
      .select(col("doc_id"), col("term"), col("tf"), col("tfidf"))
  }

  /** BM25 top-k retrieval (Robertson/Spärck Jones, the classic IR
    * ranking) for the corpus's own head terms — the retrieval step
    * contamination checks and retrieval-augmented curation pipelines
    * run over a training corpus. Query terms are the `nTerms` highest-
    * document-frequency tokens (ties → lexicographic) so the query set
    * is deterministic and derived relationally; each term's top `k`
    * documents rank by the decimal-6-rounded BM25 score with doc_id
    * ties.
    *
    * Scale shape: the (doc, term) aggregate shuffles once on its key;
    * the tiny query-term and corpus-stat tables broadcast, so scoring
    * is a map over the candidate rows (docs containing a query term)
    * plus one doc-keyed join for lengths — no corpus-wide sort, and the
    * per-term top-k is SALTED TWO-PHASE (top-k within (term, doc-hash
    * salt) partitions, then the final rank over ≤ 32·k survivors per
    * term): the query terms are the HIGHEST-df tokens by construction,
    * so a single term-partitioned window would funnel the corpus's
    * hottest posting lists each onto one reducer — the d16/d7 hot-key
    * shape; per-salt top-k is exact (every global top-k row is in its
    * salt's top-k under the total (score desc, doc_id) order), so the
    * result is bit-identical. All constants
    * enter as single IEEE ops (k1+1 computed the same way in the
    * oracle), and the one `ln` carries the same negligible cross-engine
    * ulp risk c20's note documents. */
  def bm25TopK(documents: DataFrame, nTerms: Int = 5, k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75,
               // stem = true conflates inflections via graft_porter
               // BEFORE any counting (the t26 layer wired in, as a
               // retrieval stack actually deploys it) — tf/df/ranking
               // algebra and plan shape identical, terms become stems;
               // the gate runs stem = false so the oracle replays
               // surface tokens (stemmed parity is spec-gated against
               // a pre-stemmed corpus instead)
               stem: Boolean = false): DataFrame = {
    val terms = documents
      .withColumn("_tok", explode(tokens(col("text"))))
      .withColumn("term",
        if (stem) call_function("graft_porter", col("_tok")) else col("_tok"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qt = dfreq.orderBy(col("df").desc, col("term")).limit(nTerms)
    // doc length = Σ tf over the doc's terms (same aggregate feeds both
    // engines; a second tokenize would just redo the explode)
    val dlen = terms.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val n = documents.agg(count(lit(1)).as("n"))
    val tt = terms.agg(sum(col("tf")).as("tt"))
    val avgdl = col("tt").cast("double") / col("n").cast("double")
    val idf = log(lit(1.0) +
      (col("n").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val denom = col("tf") +
      lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / avgdl)
    val score = idf * (col("tf") * (lit(k1) + lit(1.0))) / denom
    val wSalt = Window.partitionBy(col("term"), col("salt"))
      .orderBy(col("score").desc, col("doc_id"))
    val w = Window.partitionBy(col("term")).orderBy(col("score").desc, col("doc_id"))
    terms.join(broadcast(qt.withColumnRenamed("term", "qterm")),
        col("term") === col("qterm"))
      .join(dlen, "doc_id")
      .crossJoin(broadcast(n)).crossJoin(broadcast(tt))
      .withColumn("score", decRound(score, 6))
      .withColumn("salt", pmod(col("doc_id"), lit(32L)))
      .withColumn("rk1", row_number().over(wSalt))
      .filter(col("rk1") <= k)
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("term"), col("rank"), col("doc_id"), col("score"))
  }

  /** Deterministic hash-based train/valid/test split: engine-independent
    * multiplicative hash on the id — reproducible anywhere, no RNG, and
    * stable when the corpus grows (a doc never changes split).
    *
    * The id is reduced mod 1000003 (prime) BEFORE the affine multiply so
    * the product stays ≤ 1000002·2654435761 ≈ 2.7e15 ≪ Long.Max — no
    * overflow under Spark 4 ANSI mode even for ids beyond 2^33 (a raw
    * `doc_id * 2654435761` throws once doc_id exceeds ~3.47e9, plausible
    * at 100 TB corpus scale). */
  def hashSplit(documents: DataFrame,
                trainPct: Int = 90, validPct: Int = 5): DataFrame = {
    val bucket =
      pmod(pmod(col("doc_id"), lit(1000003L)) * 2654435761L + 104729L, lit(100L))
    documents
      .select(col("doc_id"),
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + validPct, "valid")
          .otherwise("test").as("split"))
  }

  /** Leakage-safe train/valid/test split: [[hashSplit]]'s hash applied
    * to the NEAR-DUP CLUSTER id instead of the document id — every
    * member of a duplicate cluster lands in the same split, so a
    * near-duplicate of a training document can never surface in
    * valid/test (the contamination mode a whole-corpus per-doc hash
    * split misses entirely). Input is a (doc_id, cluster_id) labeling —
    * d10's text clusters in the gated query; singletons carry
    * cluster_id = doc_id, so assignment is exactly [[hashSplit]] for
    * them and only genuine near-dup groups move together. Pure
    * projection over the cluster table — the clustering pass is where
    * the work (and the scale posture, see connectedComponents) lives. */
  def leakageSafeSplit(clusters: DataFrame,
                       trainPct: Int = 90, validPct: Int = 5): DataFrame = {
    val bucket =
      pmod(pmod(col("cluster_id"), lit(1000003L)) * 2654435761L + 104729L, lit(100L))
    clusters.select(col("doc_id"), col("cluster_id"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + validPct, "valid")
        .otherwise("test").as("split"))
  }

  /** Per-stratum counts after a deterministic stratified sample: a
    * seeded per-row hash gate admits ~`fraction` of each stratum.
    * Unlike `sampleBy` (whose rand(seed) depends on partition layout,
    * so results shift with cluster size), the hash gate is reproducible
    * on any partitioning, and the plan stays lazy — no driver-side
    * distinct() at construction time. The gate is the repo's
    * engine-independent integer hash (sourceMix's overflow-safe shape)
    * with the stratum mixed in through its leading character codes, so
    * the full DuckDB oracle replays it — pure integer arithmetic end to
    * end. */
  private def stratumGate(seed: Long): Column = {
    // char codes are length-guarded EXPLICITLY (not via Spark's
    // ascii('')==0 convention) so the DuckDB oracle can mirror the same
    // CASE — ord('') errors there, and an unguarded oracle would diverge
    // on any stratum label shorter than 2 chars
    val c1 = when(length(col("lang")) >= 1, ascii(substring(col("lang"), 1, 1)))
      .otherwise(lit(0))
    val c2 = when(length(col("lang")) >= 2, ascii(substring(col("lang"), 2, 1)))
      .otherwise(lit(0))
    pmod(pmod(col("doc_id"), lit(1000003L)) * 2246822519L +
      // second mixing term over the HIGH digits: without it, ids that
      // differ by a multiple of 1000003 would gate identically — a
      // systematic correlation once the corpus passes ~1M docs
      pmod(expr("doc_id div 1000003"), lit(1000003L)) * 2654435761L +
      (c1 * 31 + c2) * lit(97003L) +
      lit(seed), lit(1000000L))
  }

  def stratifiedSample(documents: DataFrame, fractions: Map[String, Double],
                       seed: Long): DataFrame = {
    val M = 1000000L
    val frac = fractions.foldLeft(lit(0.0)) { case (acc, (k, f)) =>
      when(col("lang") === k, f).otherwise(acc)
    }
    documents
      .filter(stratumGate(seed) < (frac * M).cast("long"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
  }

  /** Deterministic weighted reservoir sample: exactly k docs per stratum
    * with inclusion probability ∝ weight (n_chars here), via
    * Efraimidis–Spirakis exponential clocks — `clock = −ln(u)/w` with a
    * hash-derived uniform, smallest k clocks win. No RNG state, no
    * reservoir object: reproducible across runs, partitionings and
    * retries, which is what makes a sampled training mix AUDITABLE.
    *
    * Scale shape: TWO-LEVEL top-k. A single `row_number() over
    * (partition by lang)` would funnel each stratum through one reducer
    * (5 strata = 5 reducers at 100 TB); level 1 takes the per-(stratum,
    * 64-salt-cell) top-k — 64-way parallel per stratum — and level 2
    * ranks only the ≤ 64·k survivors. The global top-k is a subset of
    * the union of cell top-ks, so the result is IDENTICAL to the
    * single-window form.
    *
    * Cross-engine determinism (full DuckDB oracle): u comes from the
    * engine-independent integer hash (sourceMix's overflow-safe
    * mod-reduce shape, its own additive seed) at millionth granularity,
    * so both engines feed `ln` the SAME IEEE double; the clock is
    * decimal-rounded at 6 — the repo's standard boundary — and the
    * RANKING uses the rounded clock with a doc_id tie-break, so the
    * oracle replays the selection exactly. Residual risk: `ln` is the
    * one non-integer step in the replay, relying on JVM Math.log and
    * DuckDB's libm agreeing to the last ulp; a 1-ulp divergence landing
    * exactly on a 0.5e-6 rounding boundary would flip the rounded clock
    * and could change top-k membership. Probability is negligible, but
    * if a hash-gate flake ever appears, snap the clock to the grid from
    * integer inputs (precompute −ln((h+1)/1e6) at fixed granularity)
    * instead of widening the rounding. */
  def weightedSample(documents: DataFrame, k: Int = 50): DataFrame = {
    val M = 1000000L
    // high-digit mixing term for the same reason as stratumGate's
    val u = (pmod(pmod(col("doc_id"), lit(1000003L)) * 2246822519L +
      pmod(expr("doc_id div 1000003"), lit(1000003L)) * 2654435761L + lit(15485863L),
      lit(M)) + 1).cast("double") / M.toDouble
    val clock = decRound(-log(u) / greatest(col("n_chars"), lit(1)).cast("double"), 6)
    val salt = pmod(xxhash64(col("doc_id"), lit(7)), lit(64))
    val w1 = Window.partitionBy(col("lang"), col("salt"))
      .orderBy(col("clock"), col("doc_id"))
    val w2 = Window.partitionBy(col("lang")).orderBy(col("clock"), col("doc_id"))
    documents
      .select(col("lang"), col("doc_id"), col("n_chars"),
        clock.as("clock"), salt.as("salt"))
      .withColumn("rn1", row_number().over(w1)).filter(col("rn1") <= k)
      .withColumn("rn", row_number().over(w2)).filter(col("rn") <= k)
      .select(col("lang"), col("rn").cast("int").as("rn"),
        col("doc_id"), col("n_chars"))
  }

  /** Per-domain document cap — the published web-curation anti-spam
    * step (RefinedWeb/C4-family recipes): no single domain may
    * contribute more than `cap` documents to the training mix, because
    * a handful of template-heavy domains otherwise dominate any crawl.
    * Within a domain the HIGHEST-QUALITY docs are kept (text length
    * here as the stand-in quality signal with a doc_id tie-break; any
    * deterministic score column composes the same way). Output: every
    * doc with its kept flag and, for kept docs, the within-domain rank.
    *
    * Scale shape: the c20 TWO-LEVEL top-k — a single row_number over
    * (partition by source) funnels each domain through ONE reducer, and
    * the hottest domain is by definition the reason this gate exists;
    * level 1 ranks per (source, 64-salt-cell) and keeps each cell's
    * top-cap, level 2 ranks only the ≤ 64·cap survivors. The global
    * top-cap is a subset of the union of cell top-caps, so the result
    * is IDENTICAL to the single-window form (spec-asserted). The corpus
    * is then flagged by one doc_id-keyed left join against the kept set
    * (cap·|domains| rows — broadcastable at any realistic cap). */
  def domainCap(documents: DataFrame, cap: Int = 20): DataFrame = {
    val base = documents.select(col("doc_id"), col("source"),
      length(col("text")).cast("int").as("text_len"))
    val salt = pmod(xxhash64(col("doc_id"), lit(11)), lit(64))
    val w1 = Window.partitionBy(col("source"), col("salt"))
      .orderBy(col("text_len").desc, col("doc_id"))
    val w2 = Window.partitionBy(col("source"))
      .orderBy(col("text_len").desc, col("doc_id"))
    val kept = base.withColumn("salt", salt)
      .withColumn("rn1", row_number().over(w1)).filter(col("rn1") <= cap)
      .withColumn("dom_rank", row_number().over(w2))
      .filter(col("dom_rank") <= cap)
      .select(col("doc_id"), col("dom_rank").cast("int").as("dom_rank"))
    base.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("text_len"),
        col("dom_rank"), col("dom_rank").isNotNull.cast("int").as("kept"))
  }

  /** Uniform-fraction convenience form (every stratum keeps `fraction`). */
  def stratifiedSample(documents: DataFrame, fraction: Double = 0.5,
                       seed: Long = 42): DataFrame = {
    val M = 1000000L
    documents
      .filter(stratumGate(seed) < (fraction * M).toLong)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
  }

  /** Corpus-boilerplate detection (the shingle generalization of
    * CCNet-style line dedup): an n-gram shingle is boilerplate when its
    * corpus occurrence count is ≥ `minDf`; each document reports how
    * much of it is boilerplate. TWO-PHASE, never a shingle-partitioned
    * window (the d16/d7 lesson, applied here where it matters MOST: a
    * boilerplate shingle is by definition the hottest key in the
    * corpus — a window would land every one of its millions of
    * occurrences on one reducer just to count them, while
    * `groupBy(sh).count` partial-aggregates the hot shingle down to
    * one row per map task and AQE skew-split covers the join back).
    * The exploded shingle stream is materialized once and feeds all
    * three passes (count, per-doc total, semi-join) — the
    * repetitionSignals staging posture. */
  def boilerplate(documents: DataFrame, n: Int = 3, minDf: Long = 2): DataFrame = {
    val sh = documents
      .withColumn("_toks", tokens(col("text")))
      .select(col("doc_id"), explode(shinglesFromTokens(col("_toks"), n)).as("sh"))
      .localCheckpoint()
    val boiler = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select(col("sh"))
    val total = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val nb = sh.join(boiler, Seq("sh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
    total.join(nb, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      // exact bigint/bigint division — bit-identical across engines
      .withColumn("boiler_ratio",
        col("n_boiler").cast("double") / col("n_shingles"))
  }

  /** Intra-document repetition ratio: 1 − distinct/total over RAW (non-
    * distinct) n-gram shingles. Pure map — no shuffle at all; the classic
    * "repeated paragraph" quality filter at corpus scale. */
  def repetition(documents: DataFrame, n: Int = 3): DataFrame =
    documents
      .withColumn("_toks", tokens(col("text")))
      .withColumn("_sh", rawShinglesFromTokens(col("_toks"), n))
      .select(col("doc_id"), size(col("_sh")).as("n_shingles"),
        size(array_distinct(col("_sh"))).as("n_distinct"))
      .withColumn("rep_ratio",
        lit(1.0) - col("n_distinct").cast("double") / col("n_shingles"))

  /** Per-source (domain) corpus statistics with the dominant language —
    * the provenance-analysis pass used to weight or drop domains. Two
    * aggregations shuffled on `source` + a broadcast of the tiny
    * top-language table. */
  def domainStats(documents: DataFrame): DataFrame = {
    val langCounts = documents.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n").desc, col("lang"))
    val top = langCounts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"))
    documents.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"))
      // no broadcast hint: at web scale 'source' is millions of domains;
      // both sides are per-source aggregates, the join reuses their
      // partitioning (AQE broadcasts small cases on its own)
      .join(top, "source")
      // exact int sums divided in double — deterministic cross-engine
      .withColumn("avg_chars", col("sum_chars").cast("double") / col("n_docs"))
      .select(col("source"), col("n_docs"), col("sum_chars"), col("n_langs"),
        col("avg_chars"), col("top_lang"))
  }

  /** Deterministic dataset mixing: each source is sampled at its own
    * rate (permille), via the same engine-independent multiplicative
    * hash gate as [[hashSplit]] — so the mix is reproducible on any
    * engine/partitioning and stable as the corpus grows (a kept doc
    * stays kept). The pure-map gate + one aggregation is the 100 TB
    * shape for corpus re-weighting. */
  def sourceMix(documents: DataFrame, rates: Map[String, Int],
                defaultPermille: Int = 500, seed: Long = 104729L): DataFrame = {
    val rate = rates.foldLeft(lit(defaultPermille)) {
      case (acc, (s, r)) => when(col("source") === s, r).otherwise(acc)
    }
    // DIFFERENT multiplier than hashSplit's 2654435761 (xxhash prime2
    // instead of the Knuth constant): with the same hash, mix and split
    // would be the same value mod 1000 vs mod 100 — a 5%-rate mix would
    // land every kept doc in 'train'. Distinct multipliers decorrelate
    // the two gates. Same overflow-safe mod-reduce-first shape.
    val gate =
      pmod(pmod(col("doc_id"), lit(1000003L)) * 2246822519L + lit(seed), lit(1000L))
    documents.filter(gate < rate)
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
  }

  /** Temperature-based dataset mixing: per-source keep rates computed
    * FROM the data as nₛ^α / Σ n^α (α < 1 upsamples the tail — the
    * standard multinomial-with-temperature mix of multilingual /
    * multi-source pretraining), scaled to a token^W target corpus size,
    * then applied through the engine-independent integer hash gate (the
    * [[sourceMix]] gate with per-source COMPUTED thresholds).
    *
    * Cross-engine determinism: α is fixed at 0.5 so n^α is `sqrt`
    * (IEEE-correctly-rounded in every engine, unlike `pow`); the weight
    * sum is exact decimal (order-independent); the rate is
    * decimal-rounded at 6 and floored to a millionth-scale integer
    * threshold — from there the gate is pure integer arithmetic. */
  def temperatureMix(documents: DataFrame, targetTotal: Long = 300,
                     seed: Long = 104729L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val counts = documents.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val wsum = counts
      .agg(sum(sqrt(col("n")).cast(DecimalType(28, 12))).cast("double").as("wsum"))
    val rates = counts.crossJoin(broadcast(wsum))
      .withColumn("rate", decRound(
        least(lit(1.0), lit(targetTotal.toDouble) * sqrt(col("n")) / (col("wsum") * col("n"))), 6))
      .select(col("source"), col("n").as("n_docs"), col("rate"),
        floor(col("rate") * 1e6).cast("long").as("thr"))
    val gate =
      pmod(pmod(col("doc_id"), lit(1000003L)) * 2246822519L + lit(seed), lit(1000000L))
    documents.join(broadcast(rates), "source")
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("rate")).as("rate"),
        count(when(gate < col("thr"), 1)).as("n_kept"))
  }

  /** Dedup-aware temperature mixing — [[temperatureMix]] with each
    * source's RAW document count replaced by its EFFECTIVE size: the sum
    * of [[Dedup.softDedupWeights]] (Σ 1/cluster-size), so a source
    * bloated by near-duplicate copies no longer buys sampling mass with
    * them (the composition a production mixer ships: dedup informs the
    * mix, nothing is discarded). Per-doc weights are decimal-12 summed
    * (order-independent), the √-temperature algebra and the per-doc
    * mod-hash keep gate are c22's verbatim — rates just read effective
    * sizes. One extra aggregate over the weight table; the corpus-side
    * work is the clustering c28 already pays. */
  def dedupAwareMix(documents: DataFrame, targetTotal: Long = 300,
                    seed: Long = 104729L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Dedup.softDedupWeights(documents)
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
    val counts = w.groupBy(col("source")).agg(count(lit(1)).as("n"),
      sum(col("weight").cast(DecimalType(28, 12))).cast("double").as("e"))
    val wsum = counts
      .agg(sum(sqrt(col("e")).cast(DecimalType(28, 12))).cast("double").as("wsum"))
    val rates = counts.crossJoin(broadcast(wsum))
      .withColumn("rate", decRound(
        least(lit(1.0),
          lit(targetTotal.toDouble) * sqrt(col("e")) / (col("wsum") * col("e"))), 6))
      .select(col("source"), col("n").as("n_docs"),
        decRound(col("e"), 4).as("eff_docs"), col("rate"),
        floor(col("rate") * 1e6).cast("long").as("thr"))
    val gate =
      pmod(pmod(col("doc_id"), lit(1000003L)) * 2246822519L + lit(seed), lit(1000000L))
    documents.join(broadcast(rates), "source")
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("eff_docs")).as("eff_docs"),
        max(col("rate")).as("rate"),
        count(when(gate < col("thr"), 1)).as("n_kept"))
  }

  /** Epoch-capped token-budget allocation — the published data-recipe
    * problem (Llama/GPT-class mixes): split a total token budget B
    * across sources proportionally to per-source weights, but never
    * allocate any source more than `maxEpochs` passes over its own
    * tokens (repeating a small source beyond a few epochs degrades the
    * model, so its surplus must flow to the others). That is exact
    * WATER-FILLING, solved relationally:
    *
    * sort sources by cap/weight ascending (the order in which caps
    * bind) — keyed on `(cap div weight, cap/weight as double, source)`:
    * the exact long integer part first (plain long division — never
    * overflows, unlike a scaled `cap·10^k div weight` whose quotient
    * exceeds Long past cap/weight ≈ 9.2·10^(18−k)), the IEEE double
    * quotient as the within-integer refiner (both engines IEEE-divide
    * the same two integers, so the bits — and the order — are
    * identical), and the source name as total-order tie-break. Two
    * sources whose true rationals differ only beyond double precision
    * order by name — deterministically and identically on both
    * engines (the allocation DECISIONS stay all-integer regardless) —
    * take
    * running sums of cap and weight over the strict prefix, and source
    * i is capped iff its fair share at that point already exceeds its
    * cap: `w_i · (B − Σ_prefix cap) ≥ cap_i · (W − Σ_prefix w)` — a
    * cross-multiplied ALL-INTEGER test, no division on the decision
    * path. Capped sources take exactly their cap; the rest split the
    * remaining budget by weight (floor division, both engines floor the
    * same IEEE quotient). Standard water-filling gives the capped set
    * as a prefix of this order, so one window pass decides every
    * source.
    *
    * Plan: per-source token counts are one map-side-combinable
    * aggregate over the corpus; everything after runs on #sources rows
    * (the window is source-count-sized — at 100 TB this is dozens of
    * rows, not a data-sized shuffle). Weights come from `weightExpr`
    * (a per-source column; default uniform). */
  def tokenBudgetMix(documents: DataFrame,
                     budgetPct: Int = 100, maxEpochs: Int = 1,
                     weightExpr: Column = lit(1L)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = documents
      .withColumn("_n", size(tokens(col("text"))).cast("long"))
      .groupBy(col("source"))
      .agg(sum(col("_n")).as("n_tokens"))
      .withColumn("weight", weightExpr.cast("long"))
      .withColumn("cap", col("n_tokens") * maxEpochs)
    // floor() explicitly before the long cast: Spark's double→long cast
    // truncates while DuckDB's ROUNDS — floor+cast agrees everywhere
    val totals = stats.agg(
      floor((sum(col("n_tokens")) * budgetPct).cast("double") / 100)
        .cast("long").as("budget"),
      sum(col("weight")).as("tot_w"))
    val ord = Window.orderBy(
      expr("cap div weight").asc,
      (col("cap").cast("double") / col("weight")).asc,
      col("source").asc)
    val pre = ord.rowsBetween(Window.unboundedPreceding, -1)
    val ranked = stats.crossJoin(broadcast(totals))
      .withColumn("pre_cap", coalesce(sum(col("cap")).over(pre), lit(0L)))
      .withColumn("pre_w", coalesce(sum(col("weight")).over(pre), lit(0L)))
      .withColumn("capped",
        col("weight") * (col("budget") - col("pre_cap")) >=
          col("cap") * (col("tot_w") - col("pre_w")))
    val fill = ranked.agg(
      sum(when(col("capped"), col("cap")).otherwise(lit(0L))).as("cap_sum"),
      sum(when(!col("capped"), col("weight")).otherwise(lit(0L))).as("w_unc"))
    ranked.crossJoin(broadcast(fill))
      // greatest(w_unc, 1): when EVERY source caps, w_unc is 0 and the
      // otherwise-branch is dead — but ANSI would still throw on the
      // Infinity→long cast it computes
      .withColumn("allocated",
        when(col("capped"), col("cap")).otherwise(
          floor((col("weight") * (col("budget") - col("cap_sum"))).cast("double")
            / greatest(col("w_unc"), lit(1L))).cast("long")))
      .select(col("source"), col("n_tokens"), col("weight"), col("cap"),
        col("allocated"),
        ratRound("allocated", "n_tokens", 4).as("epochs"),
        col("capped").cast("int").as("capped"))
  }

  /** Per-document average unigram log-likelihood under the corpus
    * unigram distribution — the classic cheap LM-quality signal
    * (gibberish and boilerplate score low). Per-token log-probs are
    * rounded in the decimal domain before the exact decimal sum, so the
    * score is engine-stable; the tf join is left to AQE (vocabulary-sized
    * at corpus scale). */
  def unigramLogLik(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = documents
      .withColumn("term", explode(tokens(col("text"))))
      .select(col("doc_id"), col("term"))
    val tf = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val total = toks.agg(count(lit(1)).as("total"))
    toks.join(tf, "term")
      .crossJoin(broadcast(total))
      .withColumn("ll", decRound(log(col("tf").cast("double") / col("total")), 6))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("ll").cast(DecimalType(28, 6))).as("_sll"))
      .select(col("doc_id"), col("n_tokens"),
        decRound(col("_sll").cast("double") / col("n_tokens"), 4).as("avg_ll"))
  }

  /** Vocabulary coverage curve: the vocab size needed to cover p% of all
    * token occurrences, for each coverage target — the sizing question
    * every tokenizer build answers first. Pure integer arithmetic
    * (targets are PERCENTS, need = ⌈total·p/100⌉ via integer division),
    * so the result is engine-exact with no float boundary.
    *
    * Scale shape: the corpus collapses to term counts (one shuffle),
    * then counts collapse to COUNT CLASSES (n, n_terms) — the window
    * runs over the class table, whose size is the number of DISTINCT
    * frequency values (≤ a few thousand at any corpus size — frequency
    * domains grow ~log with corpus, not linearly), never over the vocab
    * itself. A boundary falling inside an equal-count class is resolved
    * by integer ceil within the class (terms of equal count are
    * interchangeable for coverage). */
  /** Heaps'-law vocabulary-growth fit V(N) = K·N^β — the capacity-
    * planning number a tokenizer/vocab build reads off the corpus
    * BEFORE committing to a vocab size ([[vocabCoverage]] answers "how
    * big for THIS corpus"; the Heaps exponent answers "how does that
    * grow when the corpus 100×es" — exactly the extrapolation a 100 TB
    * ingest needs from its sample). Public formulation: Heaps 1978 /
    * Baeza-Yates & Ribeiro-Neto's log-log least squares.
    *
    * Scale shape: the growth curve is measured at BUCKET granularity —
    * documents in doc_id order split into `buckets` contiguous ranges;
    * per-bucket token counts and per-bucket NEW-vocab counts (a term's
    * first occurrence bucket is a min-aggregate, the same first-
    * occurrence trick as q30's cumulative-users rewrite) reduce the
    * corpus in TWO key-partitioned aggregations, and only then does the
    * ≤`buckets`-row curve pass through the cumulative window — the
    * sanctioned dimension-bounded class, never a corpus-sized
    * cumulative. The fit is closed-form least squares over the curve's
    * (ln N, ln V): ln's decimal-6 cast (the t7/c27 cross-engine ln
    * discipline), EXACT decimal sums of x/y/xy/x², and a fixed-shape
    * double expression for β and ln K that both engines evaluate
    * identically. */
  def heapsFit(documents: DataFrame, buckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val mx = documents.agg(max(col("doc_id"))).head().getLong(0) + 1
    // the TYPE class under measurement is word BIGRAMS: the synthetic
    // corpus has a CLOSED ~31-word unigram vocabulary (measured — a
    // unigram fit saturates in the first bucket and β degenerates to
    // 0), while its bigram types keep growing across the whole corpus;
    // the operator is parametric in the shingle width
    val toksDf = documents
      .withColumn("g", expr(s"(doc_id * $buckets) div $mx"))
      .withColumn("_toks", tokens(col("text")))
      .withColumn("term", explode(rawShinglesFromTokens(col("_toks"), 2)))
      .select(col("g"), col("term"))
    val tk = toksDf.groupBy(col("g")).agg(count(lit(1)).as("tk"))
    val nv = toksDf.groupBy(col("term")).agg(min(col("g")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("nv"))
    val w = Window.orderBy(col("g"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = tk.join(nv, Seq("g"), "left")
      .withColumn("cum_t", sum(col("tk")).over(w))
      .withColumn("cum_v", sum(coalesce(col("nv"), lit(0L))).over(w))
      .withColumn("x", log(col("cum_t").cast("double")).cast(DecimalType(18, 6)))
      .withColumn("y", log(col("cum_v").cast("double")).cast(DecimalType(18, 6)))
    curve.agg(
        count(lit(1)).as("n_points"),
        max(col("cum_t")).as("total_tokens"),
        max(col("cum_v")).as("total_vocab"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"))
      .withColumn("beta", decRound(
        (col("n_points") * col("sxy") - col("sx") * col("sy")) /
          (col("n_points") * col("sxx") - col("sx") * col("sx")), 6))
      .withColumn("ln_k", decRound(
        (col("sy") - col("beta") * col("sx")) / col("n_points"), 6))
      .select(col("n_points"), col("total_tokens"), col("total_vocab"),
        col("beta"), col("ln_k"))
  }

  def vocabCoverage(documents: DataFrame,
                    targets: Seq[Int] = Seq(50, 90, 95, 99)): DataFrame = {
    val counts = documents
      .withColumn("_toks", tokens(col("text")))
      .select(explode(col("_toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("n").desc)
    val classes = counts.groupBy(col("n")).agg(count(lit(1)).as("nterms"))
      .withColumn("class_tokens", col("n") * col("nterms"))
      .withColumn("cum_after",
        sum(col("class_tokens")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_before", col("cum_after") - col("class_tokens"))
      .withColumn("terms_before", coalesce(
        sum(col("nterms")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val total = counts.agg(sum(col("n")).as("total"))
    val tgt = targets.foldLeft(Option.empty[DataFrame]) { (acc, p) =>
      // `div` (integer division), not `/` (double): total·p exceeds
      // 2^53 at real corpus scale, where a double round-trip drops bits
      val one = total.select(lit(p).as("pct"),
        expr(s"(total * $p + 99) div 100").as("need"), col("total"))
      Some(acc.map(_.union(one)).getOrElse(one))
    }.get
    classes.join(broadcast(tgt),
        col("cum_before") < col("need") && col("cum_after") >= col("need"))
      .select(col("pct"), col("need").as("need_tokens"),
        (col("terms_before") +
          expr("(need - cum_before + n - 1) div n")).as("vocab_size"),
        col("total").as("total_tokens"))
  }

  /** Bigram-LM document score: average Laplace-smoothed log
    * P(wᵢ | wᵢ₋₁) per document — the first-order upgrade of
    * [[unigramLogLik]] (t7): repetitive or scrambled text scores low
    * even when its unigram mix looks natural, because the CONDITIONAL
    * distribution is what shuffling destroys.
    *
    * Same shape and determinism discipline as t7: corpus-level bigram /
    * preceding-unigram counts are two hash aggregations, the smoothed
    * log-likelihood is decimal-rounded at 6 (exact-rational input, so
    * sub-ulp ln() platform differences cannot flip the rounding), and
    * per-doc sums are exact decimal. Docs with fewer than two tokens
    * carry no bigram and are excluded on BOTH engine sides. */
  def bigramLogLik(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val bg = documents
      .withColumn("_toks", tokens(col("text")))
      .filter(size(col("_toks")) >= 2)
      .select(col("doc_id"), explode(rawShinglesFromTokens(col("_toks"), 2)).as("bigram"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val bc = bg.groupBy(col("bigram")).agg(count(lit(1)).as("bc"))
    val pc = bg.groupBy(col("w1")).agg(count(lit(1)).as("pc"))
    val vocab = documents
      .withColumn("_toks", tokens(col("text")))
      .select(explode(col("_toks")).as("term")).agg(countDistinct(col("term")).as("v"))
    bg.join(bc, "bigram").join(pc, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("ll",
        decRound(log((col("bc") + 1).cast("double") / (col("pc") + col("v"))), 6))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("ll").cast(DecimalType(28, 6))).as("_sll"))
      .select(col("doc_id"), col("n_bigrams"),
        decRound(col("_sll").cast("double") / col("n_bigrams"), 4).as("avg_ll"))
  }

  /** CCNet-style perplexity gate: score every document's cross-entropy
    * (nats/token) under a Laplace-smoothed unigram LM fit on a CLEAN
    * REFERENCE SLICE of the corpus (CCNet fits KenLM on Wikipedia; here
    * the reference is a source partition), then gate on an absolute
    * threshold — documents whose token mix diverges from the reference
    * (gibberish, boilerplate, wrong-language residue) score high and are
    * dropped. Differs from t7 (corpus-self-fit, no smoothing, no gate):
    * the LM here is FOREIGN to most documents, so OOV mass matters —
    * Laplace `(c(w)+1)/(N+V+1)` gives unseen tokens the floor probability
    * `1/(N+V+1)` without a separate OOV branch.
    *
    * Scale shape: the reference LM is vocabulary-sized (a pushed-down
    * source filter → one hash aggregation), its totals a broadcast
    * one-row frame; scoring is one explode + one vocabulary join (AQE
    * broadcasts it when small) + one per-doc aggregation. Same decimal
    * discipline as t7/c21: per-token log-probs are exact-rational inputs
    * rounded at 6, per-doc sums exact decimal, final division rounded at
    * 4 — engine-stable, so the gate cannot flip cross-engine. */
  def perplexityGate(documents: DataFrame, refSource: String = "src0",
                     maxNats: Double = 3.42): DataFrame =
    perplexityGateAgainst(documents,
      documents.filter(col("source") === refSource), maxNats)

  /** [[perplexityGate]] against an EXPLICIT reference corpus — the form a
    * streaming deployment uses: the LM side is a static, persisted table
    * (fit once over the clean slice), each arriving batch is scored and
    * gated against it independently. Per-document scoring depends only
    * on the reference, so a doc-partitioned union of batch results
    * equals the batch run (st16 gates on exactly that equality). */
  def perplexityGateAgainst(documents: DataFrame, reference: DataFrame,
                            maxNats: Double = 3.42): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = documents
      .withColumn("term", explode(tokens(col("text"))))
      .select(col("doc_id"), col("term"))
    val refToks = reference
      .withColumn("term", explode(tokens(col("text"))))
      .select(col("term"))
    val tf = refToks.groupBy(col("term")).agg(count(lit(1)).as("rtf"))
    val stats = refToks.agg(count(lit(1)).as("rtotal"),
      countDistinct(col("term")).as("rv"))
    toks.join(tf, Seq("term"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("lp",
        decRound(log((coalesce(col("rtf"), lit(0L)) + 1).cast("double") /
          (col("rtotal") + col("rv") + 1)), 6))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lp").cast(DecimalType(28, 6))).as("_slp"))
      .select(col("doc_id"), col("n_tokens"),
        decRound(negate(col("_slp").cast("double")) / col("n_tokens"), 4)
          .as("cross_entropy"))
      .withColumn("kept", (col("cross_entropy") <= maxNats).cast("int"))
  }

  /** BM25 ranking of the corpus against QUERY DOCUMENTS (doc_id <
    * numQueries) — the sparse half of hybrid retrieval: each query doc's
    * distinct terms score every corpus document sharing a term (standard
    * presence-weighted BM25 query form; query-side tf deliberately
    * ignored), self-matches excluded. Per-(query,term,doc) contributions
    * are decimal-6 rounded then exact-decimal summed (the t7 discipline
    * — engine-stable regardless of join order), ranked per query with
    * the id tie-break. Scale shape: corpus stats are c25's (term-keyed
    * hash aggs, map-side combined); the query term table is numQueries
    * docs' vocabulary — broadcast; scoring is one broadcast join + one
    * (q,doc)-keyed aggregation; the rank window partitions on q_id
    * (bounded by numQueries, each holding candidate rows only). */
  def bm25QueryDocRanking(documents: DataFrame, numQueries: Int = 10,
                          k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val terms = documents
      .withColumn("term", explode(tokens(col("text"))))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dlen = terms.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val n = documents.agg(count(lit(1)).as("n"))
    val tt = terms.agg(sum(col("tf")).as("tt"))
    val avgdl = col("tt").cast("double") / col("n").cast("double")
    val qterms = terms.filter(col("doc_id") < numQueries)
      .select(col("doc_id").as("q_id"), col("term").as("qterm"))
    val idf = log(lit(1.0) +
      (col("n").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val denom = col("tf") +
      lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / avgdl)
    val contrib = idf * (col("tf") * (lit(k1) + lit(1.0))) / denom
    val scored = terms
      .join(broadcast(qterms),
        col("term") === col("qterm") && col("doc_id") =!= col("q_id"))
      .join(dfreq, "term").join(dlen, "doc_id")
      .crossJoin(broadcast(n)).crossJoin(broadcast(tt))
      .withColumn("c", decRound(contrib, 6))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("c").cast(DecimalType(28, 6))).as("_s"))
      .withColumn("score", col("_s").cast("double"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("doc_id"), col("score"), col("rank"))
  }

  /** Reciprocal-rank fusion of two rankings over the same (q_id, doc_id)
    * key — the public hybrid-retrieval combiner (Cormack et al.'s RRF):
    * `rrf = Σ 1/(kRrf + rank)` over the lists the item appears in
    * (missing from a list = no contribution — asymmetric coverage of
    * the two indexes is the normal case). Rank-only fusion, so the two
    * scorers' incomparable score scales never meet; kRrf=60 is the
    * paper's constant. Both inputs are top-k tables (bounded per
    * query), so the full-outer join and the re-rank window are
    * query-bounded — the fusion step's cost is independent of corpus
    * size no matter how big the indexes behind the lists are. */
  def rrfFuse(dense: DataFrame, sparse: DataFrame,
              kRrf: Int = 60, k: Int = 10): DataFrame = {
    val a = dense.select(col("q_id"), col("doc_id"), col("rank").as("rank_a"))
    val b = sparse.select(col("q_id"), col("doc_id"), col("rank").as("rank_b"))
    val fused = a.join(b, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_score", decRound(
        coalesce(lit(1.0) / (lit(kRrf) + col("rank_a")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(kRrf) + col("rank_b")), lit(0.0)), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("doc_id"), col("rrf_score"), col("rank"))
  }

  /** URL/domain-layer curation — the C4/RefinedWeb step BEFORE any text
    * operator touches a byte of body text: parse and normalize the URL,
    * extract the registered domain, gate on a domain blocklist, and cap
    * any one domain's share of the corpus. URL algebra is pure columns
    * (scheme/host/path regexes over literal classes both engines share;
    * host lowercased, one leading `www.` stripped); the registered
    * domain is the host's last two labels — last three when the last
    * two are a listed two-label public suffix (`co.uk` etc.; the full
    * public-suffix list is data, not code — swap `twoLabelTlds` for it
    * at deployment). The per-domain cap is deliberately NOT a
    * row_number window (one reducer per hot domain — a crawl of
    * wikipedia.org would straggle exactly like the span family's hot
    * shingle): it is the c22 rate-gate — a map-side-combinable
    * per-domain count, rate = min(1, cap/n), and a deterministic
    * per-doc mod-hash against the rate — so a hot domain costs one
    * partial-count row per task and the gate stays a pure map.
    * `kept` = not blocked AND hash-gate passes. */
  def urlDomainGate(documents: DataFrame, urlCol: String = "url",
                    blocklist: Seq[String] = Seq("spam.example", "ads.example"),
                    twoLabelTlds: Seq[String] = Seq("co.uk", "ac.uk", "com.au", "co.jp"),
                    maxPerDomain: Long = 100, seed: Long = 104729L): DataFrame =
    urlDomainGateAgainst(documents, documents, urlCol, blocklist,
      twoLabelTlds, maxPerDomain, seed)

  /** [[urlDomainGate]] with the per-domain rate table built from a
    * SEPARATE static corpus — the st16/st17 deployment split: the
    * domain counts (the only corpus-wide state in the gate) come from
    * the persisted crawl inventory, and each ingest batch is parsed,
    * blocklisted and rate-gated against them as a pure map. With
    * `corpus == batch` this IS [[urlDomainGate]]. Batch domains absent
    * from the corpus keep rate 1 (nothing known to cap against). */
  def urlDomainGateAgainst(batch: DataFrame, corpus: DataFrame,
                    urlCol: String = "url",
                    blocklist: Seq[String] = Seq("spam.example", "ads.example"),
                    twoLabelTlds: Seq[String] = Seq("co.uk", "ac.uk", "com.au", "co.jp"),
                    maxPerDomain: Long = 100, seed: Long = 104729L): DataFrame = {
    def parse(df: DataFrame): DataFrame = {
      val url = col(urlCol)
      val scheme = lowerCase(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
      val rawHost = lowerCase(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
      val host = regexp_replace(rawHost, "^www\\.", "")
      df.select(col("doc_id"), scheme.as("scheme"), host.as("host"))
        .withColumn("_labels", split(col("host"), "\\."))
        .withColumn("_n", size(col("_labels")))
        .withColumn("_last2", when(col("_n") >= 2,
          concat_ws(".", slice(col("_labels"), -2, 2))).otherwise(col("host")))
        .withColumn("reg_domain",
          when(col("_n") >= 3 &&
              col("_last2").isInCollection(twoLabelTlds),
            concat_ws(".", slice(col("_labels"), -3, 3)))
            .otherwise(col("_last2")))
        .withColumn("blocked",
          col("reg_domain").isInCollection(blocklist).cast("int"))
        .select(col("doc_id"), col("scheme"), col("host"),
          col("reg_domain"), col("blocked"))
    }
    val counts = parse(corpus).groupBy(col("reg_domain"))
      .agg(count(lit(1)).as("n_domain_docs"))
      .withColumn("keep_rate", decRound(
        least(lit(1.0), lit(maxPerDomain.toDouble) / col("n_domain_docs")), 6))
      .withColumn("_thr", floor(col("keep_rate") * 1e6).cast("long"))
    val gate =
      pmod(pmod(col("doc_id"), lit(1000003L)) * 2246822519L + lit(seed),
        lit(1000000L))
    parse(batch).join(counts, Seq("reg_domain"), "left")
      .select(col("doc_id"), col("scheme"), col("host"), col("reg_domain"),
        col("blocked"),
        coalesce(col("n_domain_docs"), lit(0L)).as("n_domain_docs"),
        coalesce(col("keep_rate"), lit(1.0)).as("keep_rate"),
        (col("blocked") === 0 &&
          gate < coalesce(col("_thr"), lit(1000000L))).cast("int").as("kept"))
  }

  /** CCNet-granularity PARAGRAPH curation: language-ID and perplexity
    * are scored PER PARAGRAPH and paragraphs are kept or dropped
    * individually, then the survivors re-assemble in order — the
    * granularity real web pipelines run (CCNet scores lang/ppl per
    * paragraph; a page with one good paragraph and nine boilerplate ones
    * keeps the one). Paragraphs are newline-split segments (trimmed,
    * empties dropped, 0-based ordinal); each is kept iff its
    * stopword-argmax language equals `lang` AND its cross-entropy under
    * the reference Laplace unigram LM (the [[perplexityGateAgainst]]
    * scoring, decimal discipline included) is ≤ `maxNats`. Every
    * document survives with its kept paragraphs newline-joined (empty
    * string when none survive — the d18 every-doc-survives posture).
    *
    * Scale shape: the LM side is vocabulary-sized and broadcast exactly
    * as in c27; paragraph scoring adds one explode + the vocab join +
    * one (doc, par)-keyed aggregation, and re-assembly is one doc-keyed
    * aggregate over the paragraph table (collect_list is bounded by the
    * document's own length — the same bound d18's re-assembly carries).
    * No step holds more than one document's paragraphs in a row. */
  /** Main-content extraction — the boilerplate-REMOVAL layer between
    * t16 (strip every tag, keep ALL text — nav and footer included) and
    * c32 (LM-score paragraphs of already-clean text): the
    * trafilatura/jusText-family heuristic every production crawl
    * pipeline runs, reduced to its load-bearing core. The raw HTML
    * splits into BLOCKS at closing block-level tags; each block is
    * classified by two integer signals — LINK DENSITY (3·anchor-text
    * chars > block-text chars ⇒ navigation/listing chrome; the
    * comparison is cross-multiplied, no float) and MINIMUM PROSE LENGTH
    * (fewer than `minWords` words ⇒ captions/copyright lines) — and the
    * survivors re-assemble in document order. Per doc: the extracted
    * `clean_text` plus the block audit (total/kept/dropped-by-reason)
    * a curation review reads first.
    *
    * Classification precedence is fixed (empty → link → short → keep)
    * so the audit counts partition the blocks deterministically. Tag
    * stripping inside a block is t16's regex posture (no entity decode
    * here — run t21/t6 downstream). Plan: one explode + per-block maps
    * + ONE doc-keyed combinable aggregate whose collect_list is bounded
    * by a single document's blocks (the d18/c32 re-assembly bound) —
    * one shuffle on doc_id, linear at any corpus scale. */
  def mainContent(documents: DataFrame, minWords: Int = 5): DataFrame = {
    val blockSplit = "</(p|div|li|h1|h2|h3|nav|footer|header|aside)>"
    val blocks = documents.select(col("doc_id"),
      posexplode(split(col("text"), blockSplit)).as(Seq("ord", "b")))
    val scored = blocks
      .withColumn("_links",
        regexp_extract_all(col("b"), lit("<a [^>]*>([^<]*)</a>"), lit(1)))
      .withColumn("_l", coalesce(aggregate(transform(col("_links"),
        x => length(x)), lit(0), (acc, x) => acc + x), lit(0)))
      .withColumn("_btext", trim(regexp_replace(
        regexp_replace(col("b"), "<[^>]*>", " "), "[\\s　]+", " ")))
      .withColumn("_t", length(col("_btext")))
      .withColumn("_nw", when(col("_btext") === "", lit(0))
        .otherwise(size(split(col("_btext"), " "))))
      .withColumn("_cls", when(col("_t") === 0, lit("empty"))
        .when(col("_l") * 3 > col("_t"), lit("link"))
        .when(col("_nw") < minWords, lit("short"))
        .otherwise(lit("keep")))
    scored.groupBy(col("doc_id")).agg(
      array_join(transform(array_sort(collect_list(
        when(col("_cls") === "keep", struct(col("ord"), col("_btext"))))),
        s => s.getField("_btext")), " ").as("clean_text"),
      sum(when(col("_cls") =!= "empty", 1).otherwise(0)).as("n_blocks"),
      sum(when(col("_cls") === "keep", 1).otherwise(0)).as("n_kept"),
      sum(when(col("_cls") === "link", 1).otherwise(0)).as("n_drop_link"),
      sum(when(col("_cls") === "short", 1).otherwise(0)).as("n_drop_short"))
  }

  def paragraphGate(documents: DataFrame, reference: DataFrame,
                    lang: String = "en", maxNats: Double = 6.0): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val pars = documents
      .withColumn("_ps",
        filter(transform(split(col("text"), "\n"), p => trim(p)), p => p =!= ""))
      .select(col("doc_id"), posexplode(col("_ps")).as(Seq("par_id", "par")))
    val parToks = pars.withColumn("_toks", tokens(col("par")))
    // per-paragraph language: scores materialized once (t1 discipline —
    // predLangFromScores over attributes, never inline HOF re-evaluation)
    val scored = parToks.select(
      Seq(col("doc_id"), col("par_id"), col("par")) ++
        TextOps.langOrder.map(l =>
          stopwordHits(col("_toks"), TextOps.stopwords(l)).as(s"_s_$l")): _*)
    val withLang = scored.withColumn("pred_lang",
      TextOps.predLangFromScores(TextOps.langOrder.map(l => l -> col(s"_s_$l"))))
      .select(col("doc_id"), col("par_id"), col("par"), col("pred_lang"))
    // per-paragraph cross-entropy against the reference LM — c27's exact
    // decimal discipline at (doc, par) granularity
    val refToks = reference
      .withColumn("term", explode(tokens(col("text"))))
      .select(col("term"))
    val tf = refToks.groupBy(col("term")).agg(count(lit(1)).as("rtf"))
    val stats = refToks.agg(count(lit(1)).as("rtotal"),
      countDistinct(col("term")).as("rv"))
    val ce = parToks
      .select(col("doc_id"), col("par_id"), explode(col("_toks")).as("term"))
      .join(tf, Seq("term"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("lp",
        decRound(log((coalesce(col("rtf"), lit(0L)) + 1).cast("double") /
          (col("rtotal") + col("rv") + 1)), 6))
      .groupBy(col("doc_id"), col("par_id"))
      .agg(count(lit(1)).as("_n"),
        sum(col("lp").cast(DecimalType(28, 6))).as("_slp"))
      .select(col("doc_id"), col("par_id"),
        decRound(negate(col("_slp").cast("double")) / col("_n"), 4)
          .as("cross_entropy"))
    val gated = withLang.join(ce, Seq("doc_id", "par_id"))
      .withColumn("kept",
        (col("pred_lang") === lang && col("cross_entropy") <= maxNats)
          .cast("int"))
    val rebuilt = gated.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_paragraphs"),
        sum(col("kept")).cast("int").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("kept") === 1,
            struct(col("par_id"), col("par"))))),
          s => s.getField("par")), "\n").as("clean_text"))
    documents.select(col("doc_id")).join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_paragraphs"), lit(0)).as("n_paragraphs"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** End-to-end curation funnel: survivor counts after each stage of the
    * standard pre-training pipeline (language gate → quality gate →
    * length band → exact dedup). Computed as a SINGLE conditional
    * aggregation over one scan — stage predicates become boolean flags
    * and the funnel is sums of flag conjunctions (+ a distinct count for
    * the dedup stage) — instead of five filtered sub-scans. That single
    * pass is the difference between one and five reads of a 100 TB
    * corpus. */
  def curationFunnel(documents: DataFrame, lang: String = "en",
                     minQuality: Int = 2, minChars: Long = 100,
                     maxChars: Long = 2000): DataFrame = {
    // flags are pure column expressions over one materialized token
    // array — truly one scan, no joins (pred_lang/quality_score as
    // separate DataFrames would shuffle the full corpus twice on doc_id).
    // Stopword scans project ONCE into score columns; pred_lang and the
    // quality stop-ratio both read the attributes (the en score is shared
    // by both signals) — inline, the pred_lang when-chain would re-run
    // every language scan per branch (conditionals are outside Spark's
    // subexpression elimination; see TextOps.predLangFromScores).
    val langs = TextOps.langOrder
    val scored = documents
      .withColumn("_toks", tokens(col("text")))
      .select(col("text") +: col("n_chars") +: size(col("_toks")).as("_nw") +:
        langs.map(l =>
          graft.functions.ColumnFns.stopwordHits(col("_toks"), TextOps.stopwords(l))
            .as(s"_score_$l")): _*)
    val punctRatio = (length(col("text")) -
      length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("double") /
      nullif(length(col("text")), lit(0))
    val flagged = scored.select(col("text"),
      (TextOps.predLangFromScores(langs.map(l => l -> col(s"_score_$l"))) === lang)
        .as("f1"),
      (TextOps.qualityScoreFromParts(col("_nw"), punctRatio,
        col("_score_en").cast("double") / nullif(col("_nw"), lit(0))) >= minQuality)
        .as("f2"),
      col("n_chars").between(minChars, maxChars).as("f3"))
    val row = flagged.agg(
      count(lit(1)).as("n_all"),
      sum(when(col("f1"), 1L).otherwise(0L)).as("n_lang"),
      sum(when(col("f1") && col("f2"), 1L).otherwise(0L)).as("n_quality"),
      sum(when(col("f1") && col("f2") && col("f3"), 1L).otherwise(0L)).as("n_length"),
      countDistinct(when(col("f1") && col("f2") && col("f3"), col("text")))
        .as("n_dedup"))
    row.select(expr(
        "stack(5, '0_all', n_all, '1_lang', n_lang, '2_quality', n_quality, " +
        "'3_length', n_length, '4_dedup', n_dedup) AS (stage, n_docs)"))
  }

  /** Benchmark decontamination: per-document n-gram overlap against a
    * benchmark/eval set — the standard pre-training hygiene pass (a doc
    * sharing many shingles with an eval benchmark leaks test data into
    * training). Benchmark sets are tiny next to the corpus (MMLU-sized,
    * not web-sized), so their distinct shingle table BROADCASTS and the
    * corpus side stays map-local: explode → broadcast-hash left join →
    * per-doc count. The only shuffle is the per-doc re-aggregation, and
    * map-side combine collapses it to one row per document (a document's
    * exploded shingles are partition-local). */
  def contamination(documents: DataFrame, benchmark: DataFrame,
                    n: Int = 3): DataFrame = {
    val docSh = documents
      .withColumn("_toks", tokens(col("text")))
      .select(col("doc_id"), explode(shinglesFromTokens(col("_toks"), n)).as("sh"))
    val bmSh = benchmark
      .withColumn("_toks", tokens(col("text")))
      .select(explode(shinglesFromTokens(col("_toks"), n)).as("bsh"))
      .distinct()
    docSh.join(broadcast(bmSh), col("sh") === col("bsh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("bsh").isNotNull, 1L).otherwise(0L)).as("n_contaminated"))
      // exact bigint/bigint division — bit-identical across engines
      .withColumn("contam_ratio",
        col("n_contaminated").cast("double") / col("n_shingles"))
  }

  /** Corpus-wide repeated-line removal — C4's documented cleanup step
    * (Raffel et al. 2020 §2.2: any line occurring more than once in the
    * corpus is boilerplate — cookie notices, nav bars, license headers
    * — and is dropped EVERYWHERE, keeping the rest of each page):
    * lines are newline-split trimmed non-empty segments; a line whose
    * exact text occurs >1 time corpus-wide (within a doc or across
    * docs) is cut; survivors re-join in document order, every doc
    * surviving (d18's contract — empty string when nothing does).
    *
    * Duplicate marking is the TWO-PHASE shape the span family
    * standardized on after the hot-shingle lesson: `groupBy(line)
    * .count` (map-side combinable, AQE skew-split applies) left-joined
    * back — never a count-over-line window, which would put one
    * reducer behind every cookie banner at crawl scale. Re-assembly is
    * one doc-keyed aggregate bounded by the doc's own length. */
  def lineDedup(documents: DataFrame): DataFrame =
    lineScrub(documents, lineCounts(documents))

  /** The `(line, cnt >= 2)` corpus repeated-line artifact — the compact
    * persistable state [[lineDedup]] cuts against. NOTE the incremental
    * probe needs the FULL line table ([[allLineCounts]]): a line the
    * corpus holds ONCE is not cut by the batch-less run, but a batch
    * occurrence makes it corpus-repeated. */
  def lineCounts(documents: DataFrame): DataFrame =
    allLineCounts(documents).filter(col("cnt") >= 2)

  /** Every corpus line with its occurrence count (cnt >= 1). */
  def allLineCounts(documents: DataFrame): DataFrame =
    docLines(documents).groupBy(col("line")).agg(count(lit(1)).as("cnt"))

  /** Incremental [[lineDedup]]: a NEW batch's lines probe the persisted
    * corpus line table (`allLineCounts` of the corpus) — a batch line
    * is cut iff it repeats WITHIN the batch or exists ANYWHERE in the
    * corpus, which equals the full [[lineDedup]] over corpus ∪ batch
    * restricted to batch documents (spec-asserted) without re-splitting
    * a single corpus document — the d17 ingest posture at line
    * granularity. Corpus side = one key scan of the artifact. */
  def lineDedupIncremental(batch: DataFrame, corpusLines: DataFrame): DataFrame = {
    val bc = docLines(batch).groupBy(col("line")).agg(count(lit(1)).as("bcnt"))
    val dup = bc.join(corpusLines.select(col("line")), Seq("line"), "left_semi")
      .select(col("line"))
      .union(bc.filter(col("bcnt") >= 2).select(col("line")))
      .distinct()
    lineScrub(batch, dup)
  }

  /** The FROZEN-boilerplate ingest gate: cut from `batch` every line
    * present ANYWHERE in the persisted corpus line artifact
    * ([[allLineCounts]]), survivors re-assembled in order. This is
    * [[lineDedupIncremental]] WITHOUT the within-batch repeat clause —
    * deliberately: a per-document result depending only on the static
    * artifact composes onto doc-disjoint micro-batches unchanged (the
    * st19/st20 stateless-gate posture), so a streamed union equals the
    * batch run verbatim; within-batch repeats settle at the next
    * compaction (the full [[lineDedup]] rerun) — the trade every
    * frozen-blocklist ingest gate makes, and the delta the st21 spec
    * demonstrates against [[lineDedupIncremental]]. */
  def lineScrubAgainst(batch: DataFrame, corpusLines: DataFrame): DataFrame =
    lineScrub(batch, corpusLines.select(col("line")))

  private def docLines(documents: DataFrame): DataFrame =
    documents
      .withColumn("_ls",
        filter(transform(split(col("text"), "\n"), l => trim(l)), l => l =!= ""))
      .select(col("doc_id"), posexplode(col("_ls")).as(Seq("p", "line")))

  /** Cut every line present in `badLines` from every doc and re-join
    * survivors in order — the shared remediation half of [[lineDedup]]
    * and [[lineDedupIncremental]] (the d18 contract: every doc
    * survives, empty string when nothing does). */
  private def lineScrub(documents: DataFrame, badLines: DataFrame): DataFrame = {
    val kept = docLines(documents)
      .join(badLines.select(col("line")), Seq("line"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("p"), col("line")))),
          s => s.getField("line")), "\n").as("clean_text"),
        count(lit(1)).as("n_kept"))
    documents
      .withColumn("_n", size(filter(transform(split(col("text"), "\n"),
        l => trim(l)), l => l =!= "")))
      .select(col("doc_id"), col("_n"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("_n").cast("int").as("n_lines"),
        (col("_n") - coalesce(col("n_kept"), lit(0L))).cast("int")
          .as("n_lines_removed"))
  }

  /** Span-level benchmark decontamination — [[contamination]]'s
    * REMEDIATION half: where c12 scores and drops whole documents, this
    * removes exactly the contaminated w-token spans and keeps the rest
    * of the document (what production pipelines actually ship:
    * discarding a 10k-token doc over one leaked benchmark sentence
    * wastes the other 99.9%). Every w-token window of `documents` whose
    * shingle appears as ANY w-token window of `benchmark` marks its
    * positions covered; covered tokens are cut and survivors re-join in
    * document order — the d18 scrub contract ((doc_id, clean_text,
    * n_tokens, n_tokens_removed), every doc survives, empty string when
    * nothing does).
    *
    * Plan shape: the benchmark shingle set is DISTINCT and broadcast
    * (eval suites are small next to the corpus — c12's call); matched
    * windows explode to ≤ w positions each, so the covered-position
    * frame scales with CONTAMINATION VOLUME, not corpus size; the
    * re-assembly is d18's doc-keyed aggregate, bounded by each doc's
    * own length. No corpus-wide shuffle except the final doc-keyed
    * aggregation. */
  def decontamScrub(documents: DataFrame, benchmark: DataFrame,
                    w: Int = 8): DataFrame = {
    val bmSh = Dedup.windowOccurrences(benchmark, w)
      .select(col("sh").as("bsh")).distinct()
    val covered = Dedup.windowOccurrences(documents, w)
      .join(broadcast(bmSh), col("sh") === col("bsh"), "left_semi")
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + (w - 1))).as("p"))
      .distinct()
    val toksTbl = documents
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("tok"))
    val kept = toksTbl.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("p"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_tokens_kept"))
    documents
      .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens").cast("int").as("n_tokens"),
        (col("n_tokens") - coalesce(col("n_tokens_kept"), lit(0L)))
          .cast("int").as("n_tokens_removed"))
  }

  /** DSIR-style importance weight: average per-token log-likelihood RATIO
    * between a target-domain unigram LM and the corpus unigram LM — the
    * cheap data-selection score (positive ⇒ doc looks more like the
    * target domain than the average corpus doc). Both LMs are
    * Laplace-smoothed over the corpus vocabulary so out-of-target terms
    * stay finite. Documents with ZERO tokens have no defined score and
    * are absent from the output (the SQL oracle's join drops them the
    * same way — like t7); callers gating on importance should treat
    * absence as "no signal". Plan shape: one explode, two vocabulary-sized
    * aggregates merged by a single term-keyed join (left to AQE, like
    * tfidf), per-token ratios decimal-rounded, exact decimal per-doc
    * average — engine-stable like t7. */
  def importanceWeight(documents: DataFrame,
                       targetSource: String = "src0"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = documents
      .withColumn("term", explode(tokens(col("text"))))
      .select(col("doc_id"), col("source"), col("term"))
    // one pass over the exploded tokens builds BOTH LMs (the target tf is
    // a conditional aggregate, not a second scan)
    val tf = toks.groupBy(col("term"))
      .agg(count(lit(1)).as("ctf"),
        sum(when(col("source") === targetSource, 1L).otherwise(0L)).as("ttf"))
    val totals = tf.agg(
      sum(col("ctf")).as("ctot"), sum(col("ttf")).as("ttot"),
      count(lit(1)).as("vocab"))
    val num = (col("ttf") + 1).cast("double") / (col("ttot") + col("vocab"))
    val den = (col("ctf") + 1).cast("double") / (col("ctot") + col("vocab"))
    toks.join(tf, "term")
      .crossJoin(broadcast(totals))
      .withColumn("llr", decRound(log(num) - log(den), 6))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("llr").cast(DecimalType(28, 6))).as("_sllr"))
      .select(col("doc_id"), col("n_tokens"),
        decRound(col("_sllr").cast("double") / col("n_tokens"), 4).as("importance"))
  }

  /** Deterministic training-shard assignment + balance statistics: docs
    * hash to `nShards` output shards (the write-layout stage of a
    * training pipeline — each shard becomes one output file group).
    * Third independent multiplier, so shard, split (hashSplit) and mix
    * (sourceMix) gates are pairwise uncorrelated; same overflow-safe
    * engine-independent form. Pure map + one tiny aggregate. */
  /** The one shard-hash definition shared by [[shardAssign]] and
    * [[tokenPacking]] — overflow-safe (doc_id is reduced mod 1000003
    * before the multiply) and engine-independent; the c11/c15 oracle SQL
    * mirrors these constants verbatim, so change them in lockstep. */
  /** Public form of the shard hash for write-layout callers
    * ([[shardManifest]] / Sources.writeSharded / the c52 gate) — same
    * constants as the c11/c15 oracle replays. */
  def shardIdCol(nShards: Int, seed: Long = 104729L): Column =
    shardCol(nShards, seed)

  private def shardCol(nShards: Int, seed: Long): Column =
    pmod(pmod(col("doc_id"), lit(1000003L)) * 3266489917L + lit(seed), lit(nShards.toLong))

  /** Deterministic per-epoch training order — the DATALOADER layer
    * after c50 (curriculum gives ONE global order) and c52 (shards fix
    * placement): pretraining visits the corpus once per epoch in a
    * DIFFERENT pseudorandom order each time, and that order must be a
    * pure function of (doc_id, epoch, seed) so any worker can resume
    * mid-epoch from a position counter alone — no shuffle files, no
    * stored permutation, identical on re-run at any parallelism. Order
    * key = the repo's engine-independent integer hash with the epoch
    * mixed in (distinct epochs → distinct permutations, spec-pinned);
    * position = row_number within (epoch, shard) ordered by
    * (okey, doc_id) — the per-shard window is bounded by corpus/nShards
    * (shard count is the parallelism knob, the c15 packing posture; at
    * 100 TB nShards is thousands, so no reducer holds more than one
    * shard-epoch of ids — and only ids + two longs cross the shuffle,
    * never text). */
  def epochOrder(documents: DataFrame, nEpochs: Int = 2,
                 nShards: Int = 8, seed: Long = 104729L): DataFrame = {
    val okey = pmod(
      pmod(col("doc_id") + col("epoch") * 7919L, lit(1000003L)) *
        2654435761L + lit(seed), lit(999999937L))
    documents
      .select(col("doc_id"), shardCol(nShards, seed).as("shard"))
      .withColumn("epoch", explode(sequence(lit(0L), lit(nEpochs - 1L))))
      .withColumn("okey", okey)
      .withColumn("pos", row_number().over(Window
        .partitionBy(col("epoch"), col("shard"))
        .orderBy(col("okey"), col("doc_id"))).cast("int"))
      .select(col("epoch").cast("int").as("epoch"),
        col("shard").cast("int").as("shard"), col("pos"), col("doc_id"))
  }

  def shardAssign(documents: DataFrame, nShards: Int = 8,
                  seed: Long = 104729L): DataFrame = {
    val shard = shardCol(nShards, seed)
    documents
      .select(shard.as("shard"), col("n_chars"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** Per-shard release MANIFEST over a written-and-read-back shard
    * layout — the artifact a dataset release ships next to its files
    * (and the check that the write actually landed where the hash says
    * it should): per shard, document and token counts, the doc_id
    * span, an order-independent id checksum (Σ doc_id² in exact
    * DECIMAL(38,0) — overflow-safe at any corpus size; a manifest
    * integrity check, not a cryptographic digest), and `n_misplaced` —
    * rows whose partition value disagrees with the shard hash
    * recomputed from their doc_id (0 in a correct layout; nonzero
    * means the write path corrupted placement). One map-side
    * combinable aggregate over the read-back files. */
  def shardManifest(written: DataFrame, nShards: Int = 8,
                    seed: Long = 104729L): DataFrame =
    written
      .withColumn("_expect", shardCol(nShards, seed))
      // pin the partition column's type: hive-style inference types the
      // read-back shard=N value by magnitude, and the manifest schema
      // must not depend on how many shards the layout happens to have
      .withColumn("shard", col("shard").cast("int"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        // exact DECIMAL(38,0) internally, emitted as STRING: the digits
        // survive any corpus scale on any engine (a double would round
        // past 2^53; the gate compares the digit string)
        sum((col("doc_id").cast("decimal(19,0)") * col("doc_id"))
          .cast("decimal(38,0)")).cast("string").as("id_checksum"),
        sum(when(col("shard") =!= col("_expect"), 1L).otherwise(0L))
          .as("n_misplaced"))

  /** Curriculum-ordered sharding — the composition of c11's
    * deterministic shard hash and c44's quantile-boundary deciles that
    * curriculum training schedules actually consume: every document is
    * bucketed by corpus-wide QUALITY DECILE (here the exact type-token
    * ratio in integer micro-units — the c44/s19 posture: boundaries
    * interpolate between integers, comparisons never round), then
    * hash-assigned to one of `nSub` sub-shards WITHIN its decile, and
    * the final shard id is decile-major (`(decile−1)·nSub + sub`) — so
    * a scheduler reading shards in id order replays the corpus
    * low-quality → high-quality (or reversed), while each shard stays
    * an unbiased hash sample of its decile. Zero-token docs have no
    * ratio and are absent (the t7 contract).
    *
    * Plan: one exact-percentile aggregate broadcasts 9 boundaries; the
    * decile + shard assignment is then a pure map; one combinable
    * aggregate emits the (shard, decile, sub) manifest — at 100 TB the
    * only corpus-wide work is the scan and the boundary aggregate,
    * never a global sort by score (ntile would shuffle everything to
    * rank it; boundary bucketing is the partial-agg form). Identical
    * scores merge boundary deciles — the c44 calibrated-not-count-exact
    * contract. */
  def curriculumShards(documents: DataFrame, nSub: Int = 4,
                       seed: Long = 7919L): DataFrame = {
    val scored = documents
      .withColumn("_toks", tokens(col("text")))
      .select(col("doc_id"),
        size(col("_toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("_toks"))).cast("long").as("n_types"))
      .filter(col("n_tokens") > 0)
      .withColumn("micro", expr(
        "CAST((CAST(n_types AS DECIMAL(38,0)) * 1000000) div n_tokens AS BIGINT)"))
    val qs = (1 to 9).map(i => (i / 10.0, i))
    val boundCols = qs.map { case (q, i) =>
      expr(s"percentile(micro, $q)").as(s"b_$i")
    }
    val bounds = scored.agg(boundCols.head, boundCols.tail: _*)
    scored.crossJoin(broadcast(bounds))
      .withColumn("decile",
        (qs.map { case (_, i) =>
          when(col("micro") > col(s"b_$i"), 1).otherwise(0)
        }.reduce(_ + _) + 1).cast("int"))
      .withColumn("sub", shardCol(nSub, seed).cast("int"))
      .withColumn("shard", (col("decile") - 1) * nSub + col("sub"))
      .groupBy(col("shard"), col("decile"), col("sub"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("micro")).as("lo_micro"), max(col("micro")).as("hi_micro"),
        sum(col("micro")).as("_sm"))
      .select(col("shard"), col("decile"), col("sub"), col("n_docs"),
        col("n_tokens"), col("lo_micro"), col("hi_micro"),
        ratRound("_sm", "n_docs * 1000000", 6).as("mean_ttr"))
  }

  /** Global-quantile-driven length gate: keep documents whose length
    * falls inside the corpus's [lo, hi] percentile band — the adaptive
    * form of fixed-threshold length filtering (thresholds track the
    * corpus instead of being hand-tuned per source). Plan shape: ONE
    * exact-percentile aggregate collapses to a single broadcast row; the
    * gate itself is then a pure map over the corpus — the global
    * statistic costs one aggregation, never a sort of 100 TB. */
  def percentileGate(documents: DataFrame, lo: Double = 0.1,
                     hi: Double = 0.9): DataFrame = {
    val bounds = documents.agg(
      expr(s"percentile(n_chars, $lo)").as("p_lo"),
      expr(s"percentile(n_chars, $hi)").as("p_hi"))
    // gate in the DECIMAL domain: Spark percentile and DuckDB
    // quantile_cont interpolate the same bound but can differ by an ulp —
    // raw-double compares against integer n_chars would flip boundary
    // docs between engines, so both sides round to 6 decimals first
    // (cosAtLeast's discipline; the c14 oracle mirrors the cast)
    documents.crossJoin(broadcast(bounds))
      .filter(col("n_chars") >= decRound(col("p_lo"), 6) &&
        col("n_chars") <= decRound(col("p_hi"), 6))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
  }

  /** Per-source relative quality gate — the calibration posture real
    * multilingual/multi-domain pipelines need: an ABSOLUTE quality
    * threshold mis-gates across sources (a good Thai doc scores
    * differently from a good English doc under any fixed rule), so each
    * source keeps its own top `keepPct` percent by score. [[percentileGate]]'s
    * shape with the quantile computed PER SOURCE: thresholds via the
    * partial-aggregating percentile (NOT a per-source rank window — one
    * reducer per hot source is the d16 straggler lesson; the percentile
    * buffer merges map-side), broadcast back, filter in the decimal-6
    * domain (c14's boundary discipline). Boundary ties all keep —
    * count-exact top-k is not the contract, calibrated thresholds are.
    * `scoreExpr` is any per-row score; default token count. */
  def sourceRelativeGate(documents: DataFrame, keepPct: Int = 30,
                         scoreExpr: Column =
                           size(tokens(col("text"))).cast("long")): DataFrame = {
    val scored = documents.withColumn("_score", scoreExpr)
    val q = 1.0 - keepPct / 100.0
    val thr = scored.groupBy(col("source"))
      .agg(expr(s"percentile(_score, $q)").as("thr"), count(lit(1)).as("n_docs"))
    scored.join(broadcast(thr), "source")
      .filter(col("_score") >= decRound(col("thr"), 6))
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"),
        decRound(max(col("thr")), 6).as("thr"),
        count(lit(1)).as("n_kept"), min(col("_score")).as("min_score_kept"))
  }

  /** Deterministic sequence packing: documents are packed into fixed
    * token-budget groups (the sample-packing step that turns a corpus
    * into fixed-length training sequences). Next-fit in doc_id order
    * within each hash shard: pack_id = (running token count − own
    * tokens) div budget — a single window per shard, so packing
    * parallelizes across shards (a GLOBAL greedy pack would serialize
    * the corpus through one partition; per-shard next-fit is the shape
    * that survives 100 TB, and shard assignment is already
    * reproducible). Token counts use the chars/4 heuristic of t3's
    * approx_bpe — swap in real tokenizer counts by joining a token-count
    * column upstream. */
  def tokenPacking(documents: DataFrame, budgetTokens: Long = 2048,
                   nShards: Int = 8, seed: Long = 104729L): DataFrame =
    tokenPackingBy(documents,
      ceil(col("n_chars").cast("double") / 4).cast("long"),
      budgetTokens, nShards, seed)

  /** [[tokenPacking]] against a caller-supplied token-count column —
    * the same per-shard next-fit, but the budget is honored against
    * REAL tokenizer output instead of the chars/4 heuristic (the gated
    * c23 composition packs by t11's corpus-learned BPE counts). */
  def tokenPackingBy(documents: DataFrame, tokenCount: Column,
                     budgetTokens: Long = 2048,
                     nShards: Int = 8, seed: Long = 104729L): DataFrame = {
    val shard = shardCol(nShards, seed)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    documents
      .select(shard.as("shard"), col("doc_id"), tokenCount.cast("long").as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      // integer division (div), not double floor — engine-exact
      .withColumn("pack_id", expr(s"(cum - tok) div $budgetTokens"))
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tokens"))
  }

  /** Document length histogram on fixed bucket edges (training-data
    * length filtering diagnostics). */
  def lengthBuckets(documents: DataFrame): DataFrame = {
    val edges = Seq(0L, 100L, 200L, 300L, 400L, 500L, Long.MaxValue)
    val bucket = edges.sliding(2).zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (Seq(lo, hi), i)) =>
        when(col("n_chars") >= lo && col("n_chars") < hi, i).otherwise(acc)
    }
    documents
      .select(bucket.as("bucket"), col("n_chars"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
  }

  /** Persistable per-(event_type, day) HLL sketch table of distinct
    * users — the mergeable pre-aggregation artifact: at 100 TB this
    * table is written once per day (tiny: one ≤2^lgK-register sketch
    * per group) and every distinct-count question over any date range
    * becomes a merge of stored sketches instead of a raw-event scan.
    * DataSketches HLL is what `approx_count_distinct` does NOT give
    * you: sketches are first-class values that persist and re-merge. */
  def dailyUserSketches(events: DataFrame, lgK: Int = 12): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))

  /** Distinct-user estimates per event type by MERGING the daily sketch
    * table — the rollup a dashboard runs over the persisted artifact.
    * Union is register-wise max: associative and commutative, so
    * partial aggregation composes across any partitioning. In the
    * sparse regime the merged estimate equals sketching the raw stream
    * directly (spec-asserted); once sketches go dense the union
    * estimates from the merged registers alone while a direct sketch
    * also carries its HIP estimator, so the two may differ within the
    * configured error bound — the registers are path-independent, the
    * estimator is not (spec bounds the dense-regime deviation).
    * Rows-only gate: the estimate is DataSketches-specific — DuckDB's
    * approx_count_distinct is a different HLL; the spec bounds the
    * error vs exact distinct counts instead. */
  /** Cross-segment audience OVERLAP without a join — the HLL
    * inclusion–exclusion identity |A∩B| ≈ est(A) + est(B) − est(A∪B):
    * the warehouse trick that answers "how many users do these two
    * segments share" from the per-segment sketch table ALONE — at
    * 100 TB the per-type sketches are KB-sized mergeable state, the
    * pairwise union is |segments|² sketch merges that never touch the
    * corpus, while the exact answer would need a user-keyed self-join
    * of the whole fact table (the audit below pays that join once, at
    * gate scale, to bound the estimator). Estimates are staged (the
    * q13 idiom: engine-specific sketch output as parquet) and the
    * downstream audit algebra — exact overlap, exact union, relative
    * error against the union — replays relationally. */
  def overlapSketch(events: DataFrame, lgK: Int = 12): DataFrame = {
    val sk = events.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))
      .localCheckpoint()
    sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
      .join(sk.select(col("event_type").as("type_b"), col("sk").as("skb")),
        col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        hll_sketch_estimate(col("ska")).as("est_a"),
        hll_sketch_estimate(col("skb")).as("est_b"),
        hll_sketch_estimate(hll_union(col("ska"), col("skb"))).as("est_union"))
      .withColumn("est_overlap",
        col("est_a") + col("est_b") - col("est_union"))
  }

  /** The c64 audit over the STAGED estimates: exact pairwise overlap
    * and union by the user-keyed join the sketch path avoids, and the
    * estimator's relative error against the exact UNION size (overlap
    * itself can be 0; the union never is). */
  def overlapSketchEval(est: DataFrame, events: DataFrame): DataFrame = {
    val uu = events.select(col("event_type"), col("user_id")).distinct()
      .localCheckpoint()
    val perType = uu.groupBy(col("event_type")).agg(count(lit(1)).as("nd"))
    val ov = uu.select(col("event_type").as("type_a"), col("user_id"))
      .join(uu.select(col("event_type").as("type_b"), col("user_id").as("u2")),
        col("user_id") === col("u2") && col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("exact_overlap"))
    est
      .join(ov, Seq("type_a", "type_b"))
      .join(perType.select(col("event_type").as("type_a"), col("nd").as("na")), "type_a")
      .join(perType.select(col("event_type").as("type_b"), col("nd").as("nb")), "type_b")
      .withColumn("exact_union", col("na") + col("nb") - col("exact_overlap"))
      .select(col("type_a"), col("type_b"),
        col("est_overlap"), col("exact_overlap"), col("exact_union"),
        decRound(abs(col("est_overlap") - col("exact_overlap")).cast("double")
          / col("exact_union"), 6).as("rel_err"))
  }

  /** KMV (k-minimum-values / theta) sketch over per-segment audiences —
    * the Beyer et al. 2007 / theta-sketch (Dasgupta et al. 2016) family,
    * closing what [[overlapSketch]]'s HLL cannot do: HLL registers only
    * UNION, so c64 reaches intersection through inclusion–exclusion
    * (error grows with |A∪B|/|A∩B|), while a KMV sketch is a uniform
    * SAMPLE of the hashed keys below a threshold and therefore supports
    * a DIRECT intersection estimator: with θ = min(θ_A, θ_B), the
    * sample {x ∈ sk_A ∩ sk_B : h(x) < θ} is a uniform sample of A∩B and
    * |sample|/θ estimates it. And unlike HLL (engine-specific register
    * layout, c64 must stage its estimates), KMV built on the project's
    * engine-independent hash is FULLY deterministic — every number
    * here, sketch included, replays relationally in the oracle.
    *
    * Sketch = the k smallest distinct hash values per segment
    * (distinct-then-rank: one shuffle on (type, h), top-k per group —
    * KB-sized mergeable state per segment; merging two sketches is
    * "k smallest of the concatenation", associative and commutative).
    * The gated query PERSISTS the sketch table and estimates from the
    * read-back artifact alone — the c16 posture: pairwise work is
    * |segments|²·k sketch rows and never touches the corpus. Regimes:
    * a segment with < k distinct hashes is carried EXACTLY (θ = 1,
    * estimate ≡ count); otherwise θ = h_k/M and est = (k−1)/θ. The
    * exact audit join (paid once, at gate scale) bounds the estimator
    * like c64's eval. */
  def kmvSketch(df: DataFrame, segCol: String, keyCol: String,
                k: Int = 64): DataFrame = {
    val M = 2147483647L
    val h = pmod(pmod(col(keyCol), lit(1000003L)) * 2654435761L
      + 104729L, lit(M))
    val w = Window.partitionBy(col("seg")).orderBy(col("h"))
    df.select(col(segCol).as("seg"), h.as("h")).distinct()
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= k)
      .select(col("seg"), col("h"), col("r"))
  }

  /** KMV sketch MERGE: k smallest distinct hashes of the union — the
    * associative/commutative combine that makes the sketch table
    * incrementally maintainable (st40 merges each micro-batch's sketch
    * into the persisted state; the spec proves merged halves ≡ the
    * whole-corpus sketch). */
  def kmvMerge(a: DataFrame, b: DataFrame, k: Int = 64): DataFrame = {
    val w = Window.partitionBy(col("seg")).orderBy(col("h"))
    a.select(col("seg"), col("h")).union(b.select(col("seg"), col("h")))
      .distinct()
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= k)
      .select(col("seg"), col("h"), col("r"))
  }

  /** Pairwise audience estimates from the persisted KMV sketch table
    * ALONE (+ the exact audit against `events`). See [[kmvSketch]]. */
  def kmvOverlapEval(sk: DataFrame, df: DataFrame, segCol: String,
                     keyCol: String, k: Int = 64): DataFrame = {
    val M = 2147483647L
    // per-segment regime: n < k => the sketch IS the hash set (theta = M);
    // n = k => theta = h_k and est = (k-1)*M/h_k
    val stats = sk.groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), max(col("h")).as("hk"))
      .withColumn("theta", when(col("n") < k, lit(M)).otherwise(col("hk")))
      .withColumn("est",
        when(col("n") < k, col("n").cast("double"))
          .otherwise(lit((k - 1).toDouble) * M / col("hk")))
      .localCheckpoint()
    val pairs = stats.select(col("seg").as("seg_a"),
        col("theta").as("tha"), col("est").as("est_a"))
      .join(stats.select(col("seg").as("seg_b"),
        col("theta").as("thb"), col("est").as("est_b")),
        col("seg_a") < col("seg_b"))
      .withColumn("th", least(col("tha"), col("thb")))
    // per-pair sample counts below the pair threshold theta
    val below = pairs.select(col("seg_a"), col("seg_b"), col("th"))
      .join(sk.withColumnRenamed("seg", "ty"),
        col("ty") === col("seg_a") || col("ty") === col("seg_b"))
      .filter(col("h") < col("th"))
    val cnts = below
      .groupBy(col("seg_a"), col("seg_b"))
      .agg(countDistinct(col("h")).as("n_union"),
        sum(when(col("ty") === col("seg_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("ty") === col("seg_b"), 1L).otherwise(0L)).as("n_b"))
      .withColumn("n_int", col("n_a") + col("n_b") - col("n_union"))
    val est = pairs.join(cnts, Seq("seg_a", "seg_b"))
      .select(col("seg_a"), col("seg_b"), col("est_a"), col("est_b"),
        (col("n_union").cast("double") * M / col("th")).as("est_union"),
        (col("n_int").cast("double") * M / col("th")).as("est_overlap"))
    // the exact audit: the key-keyed join the sketch path avoids
    val uu = df.select(col(segCol).as("seg"), col(keyCol).as("k")).distinct()
      .localCheckpoint()
    val ov = uu.select(col("seg").as("seg_a"), col("k"))
      .join(uu.select(col("seg").as("seg_b"), col("k").as("k2")),
        col("k") === col("k2") && col("seg_a") < col("seg_b"))
      .groupBy(col("seg_a"), col("seg_b"))
      .agg(count(lit(1)).as("exact_overlap"))
    // LEFT join: a pair with ZERO shared keys is still a pair the
    // report must carry (est_overlap near 0 is the estimator doing its
    // job, not a missing row)
    est.join(ov, Seq("seg_a", "seg_b"), "left")
      .select(col("seg_a"), col("seg_b"), col("est_a"), col("est_b"),
        col("est_union"), col("est_overlap"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"))
  }

  /** Per-document NOVELTY profile — the data-valuation signal a
    * dedup-aware curriculum reads before c28's soft weights or c56's
    * epoch ordering: of each document's distinct 3-shingles, how many
    * are FIRST seen in that document (under the corpus's doc_id
    * ingestion order)? A document full of already-seen shingles is
    * boilerplate/duplication even when no single pair-level detector
    * fires; a high-novelty document carries new content. This is the
    * corpus-positional counterpart of c7 (WITHIN-doc repetition) and
    * c61 (corpus dup RATE) — novelty localizes the duplication to the
    * documents that contribute nothing.
    *
    * Scale shape: the first-occurrence trick (q30's cumulative-users
    * rewrite, t38's first-bucket min) — per-shingle min(doc_id) is ONE
    * partial-aggregating shuffle, per-first-doc novel counts need NO
    * join back to the pair table, and the final doc-keyed left join
    * joins two doc-sized aggregates. Nothing corpus-quadratic, no
    * window over the corpus. */
  def noveltyProfile(documents: DataFrame): DataFrame = {
    val sh = documents
      .withColumn("_toks", tokens(col("text")))
      .select(col("doc_id"), explode(shinglesFromTokens(col("_toks"), 3)).as("sh"))
    val perDoc = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val novel = sh.groupBy(col("sh")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_shingles"))
          .as("novelty"))
  }

  /** Cross-source DUPLICATION MATRIX — the provenance question behind
    * c61's single dup-rate number: WHICH sources duplicate WHICH
    * (mirror sites, syndication feeds, scraped re-posts all show up as
    * hot off-diagonal cells; a hot diagonal cell is a source that
    * re-crawls itself). Consumes the d2 near-dup pair table verbatim
    * (work already paid) and joins each endpoint to its source — two
    * skinny joins of the PAIR table against a doc-keyed projection,
    * then a symmetric (least, greatest) cell aggregation; the corpus
    * itself is never re-shuffled. The cell counts are the datasheet
    * table a multi-source release publishes next to c49. */
  def sourceDupMatrix(pairs: DataFrame, documents: DataFrame): DataFrame = {
    val src = documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  def sketchRollup(events: DataFrame, lgK: Int = 12): DataFrame =
    dailyUserSketches(events, lgK)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est_users"))

  /** Persistable per-(event_type, day) KLL quantile sketch table — the
    * quantile member of the sketch-artifact family ([[dailyUserSketches]]
    * for distinct counts, [[tokenFreqSketches]] for heavy hitters).
    * graft-native aggregate (`functions/KllQuantile.scala`): Spark has no
    * re-mergeable quantile state — `approx_percentile` evaluates in place
    * and its GK buffer is never a column value. Per-group state is
    * O(k log n) regardless of the value domain. */
  def valueQuantileSketches(events: DataFrame, k: Int = 256): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(call_function("graft_kll_agg", col("value"), lit(k)).as("sk"))

  /** Per-type p50/p90/p99 by MERGING the daily sketch table — the rollup
    * a dashboard runs over the persisted artifact; any date range rolls
    * up without touching raw events. Merge is sketch-native union
    * (associative + commutative → partial-agg safe). Rows-only gate: KLL
    * compaction flips random coins, so estimates are bounded (normalized
    * rank error, spec-asserted in the rank domain like q38), not
    * bit-reproducible. */
  def quantileRollup(events: DataFrame, k: Int = 256): DataFrame =
    valueQuantileSketches(events, k)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        call_function("graft_kll_merge", col("sk"), lit(k)).as("sk"))
      .withColumn("qs",
        call_function("graft_kll_quantiles", col("sk"), typedLit(Seq(0.5, 0.9, 0.99))))
      .select(col("event_type"), col("n_days"),
        element_at(col("qs"), 1).as("p50"),
        element_at(col("qs"), 2).as("p90"),
        element_at(col("qs"), 3).as("p99"))

  /** Persistable per-source frequent-tokens sketch table — the
    * heavy-hitters companion to [[dailyUserSketches]]: one bounded
    * DataSketches frequent-items state per source (`approx_top_k_
    * accumulate`), written once and re-merged for any source subset
    * instead of re-scanning the corpus. Per-group state is
    * O(maxItemsTracked) regardless of vocabulary size — the property
    * an exact token groupBy loses at 100 TB, where the term dimension
    * itself is billions of keys. */
  def tokenFreqSketches(documents: DataFrame, maxItemsTracked: Int = 65536): DataFrame =
    documents
      .withColumn("_toks", tokens(col("text")))
      .select(col("source"), explode(col("_toks")).as("token"))
      .groupBy(col("source"))
      .agg(call_function("approx_top_k_accumulate", col("token"),
        lit(maxItemsTracked)).as("sk"))

  /** Global top-k tokens by MERGING the per-source sketch table
    * (`approx_top_k_combine` → `estimate`) — the rollup a curation
    * dashboard runs over the persisted artifact. Combine is the
    * sketch-native union: associative, commutative, error-bounded, so
    * partials compose across any partitioning. While every source's
    * tracked map stays sparse (distinct tokens ≤ ~0.75·maxItemsTracked)
    * the counts are exact and the rollup equals the exact global top-k
    * (spec-asserted); rows-only gate because the sketch internals are
    * engine-specific. */
  def freqRollup(documents: DataFrame, k: Int = 20,
                 maxItemsTracked: Int = 65536): DataFrame =
    tokenFreqSketches(documents, maxItemsTracked)
      .agg(call_function("approx_top_k_combine", col("sk"),
        lit(maxItemsTracked)).as("sk"))
      .select(explode(call_function("approx_top_k_estimate", col("sk"),
        lit(k))).as("e"))
      .select(col("e.item").as("token"), col("e.count").as("est_count"))

  /** Build-once Bloom filter over the benchmark's distinct shingle
    * hashes, returned serialized (Spark's `bloom_filter_agg` — the same
    * sketch InjectRuntimeFilter plants for join pruning). The ONE
    * driver-side `head()` here is the point of the operator: the filter
    * is a bounded `numBits/8`-byte artifact that replaces broadcasting
    * the full benchmark shingle set — at 100 TB a benchmark suite's
    * shingle table is GBs (too big to broadcast exactly), while the
    * bloom stays fixed-size with a one-sided error that only ever
    * OVER-flags (no contaminated document escapes). */
  def benchmarkBloom(benchmark: DataFrame, n: Int = 3,
                     estItems: Long = 1L << 16, numBits: Long = 1L << 22): Array[Byte] = {
    val bytes = benchmark
      .withColumn("_toks", tokens(col("text")))
      .select(explode(shinglesFromTokens(col("_toks"), n)).as("sh"))
      .agg(call_function("graft_bloom_agg", xxhash64(col("sh")),
        lit(estItems), lit(numBits)).as("bf"))
      .head.getAs[Array[Byte]](0)
    require(bytes != null, "bloom_filter_agg over an empty benchmark")
    bytes
  }

  /** Probe-side decontamination gate: per-document shingle hits against
    * the serialized bloom (constant-foldable literal → the probe is a
    * pure map over the document scan, no join, no shuffle beyond the
    * per-doc count). False-negative-free by bloom construction;
    * false-positive rate is sized by (estItems, numBits) and measured
    * against the exact [[contamination]] in the spec. Rows-only gate:
    * the bit pattern is Spark-sketch-specific. */
  def bloomGate(documents: DataFrame, bloom: Array[Byte], n: Int = 3): DataFrame =
    documents
      .withColumn("_toks", tokens(col("text")))
      .select(col("doc_id"), explode(shinglesFromTokens(col("_toks"), n)).as("sh"))
      .withColumn("hit",
        call_function("graft_bloom_contains", lit(bloom), xxhash64(col("sh"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_flagged"))
      .withColumn("contaminated", (col("n_flagged") > 0).cast("int"))

  /** Full-oracle merge report over the STAGED daily/merged HLL estimate
    * tables (the r13 staged-artifact conversion of the old rows-only
    * c16 gate): the DataSketches estimates stage as parquet the oracle
    * reads verbatim; the rollup algebra — day counts, daily min/max,
    * the union-vs-exact relative error and the max-daily ≤ union ≤
    * sum-daily sanity band — is engine-independent and replays
    * relationally in both engines. The exact distinct count exists only
    * at gate scale; production rolls up the sketch table alone. */
  def sketchRollupEval(daily: DataFrame, merged: DataFrame,
                       events: DataFrame): DataFrame = {
    val agg = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        max(col("est_daily")).as("max_daily"),
        sum(col("est_daily")).as("sum_daily"))
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    agg.join(merged, Seq("event_type")).join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("est_users"),
        col("max_daily"), col("sum_daily"), col("exact_users"),
        decRound(abs(col("est_users") - col("exact_users")).cast("double")
          / col("exact_users"), 6).as("rel_err"),
        (col("est_users") >= col("max_daily") &&
          col("est_users") <= col("sum_daily")).cast("int").as("bounded"))
      .orderBy(col("event_type"))
  }

  /** Full-oracle accuracy report over the STAGED [[freqRollup]] top-k
    * estimates: the frequent-items sketch contents are engine-specific
    * (staged); each tracked token's EXACT global count is a plain
    * token-explode aggregate both engines replay, and `is_exact` marks
    * where the sparse-regime guarantee (estimate == exact while the
    * tracked map never overflows) held. One wide shuffle on the token
    * key for the exact side — gate-scale only; production reads the
    * merged sketch. */
  def freqRollupEval(est: DataFrame, documents: DataFrame): DataFrame = {
    val exact = documents
      .withColumn("_toks", tokens(col("text")))
      .select(explode(col("_toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("exact_count"))
    est.join(exact, Seq("token"), "left")
      .select(col("token"), col("est_count"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"),
        (col("est_count") === coalesce(col("exact_count"), lit(0L)))
          .cast("int").as("is_exact"))
      // token asc — the gate's presentation sort (gateSort) and the
      // oracle's ORDER BY must agree; est_count-desc was only cosmetic
      .orderBy(col("token"))
  }

  /** Full-oracle false-positive report over the STAGED [[bloomGate]]
    * per-doc flag counts: the bloom bit pattern is engine-specific
    * (its n_flagged column stages as parquet); the exact contamination
    * side is [[contamination]]'s shingle semi-join replayed by both
    * engines, and `false_pos` is the one-sided-error audit — a bloom
    * may over-flag (false_pos = 1) but by construction never
    * under-flags, so `exact_hit = 1 AND flagged = 0` cannot occur (the
    * replayed `missed` column pins that at zero for every document). */
  def bloomGateEval(flags: DataFrame, documents: DataFrame,
                    benchmark: DataFrame, n: Int = 3): DataFrame =
    contamination(documents, benchmark, n)
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"))
      .join(flags.select(col("doc_id"), col("n_flagged")), Seq("doc_id"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        col("n_flagged"),
        (col("n_flagged") > 0).cast("int").as("flagged"),
        (col("n_contaminated") > 0).cast("int").as("exact_hit"),
        ((col("n_flagged") > 0) && col("n_contaminated") === 0)
          .cast("int").as("false_pos"),
        ((col("n_contaminated") > 0) && col("n_flagged") === 0)
          .cast("int").as("missed"))
      .orderBy(col("doc_id"))

  /** Full-oracle rank-error report over the STAGED [[quantileRollup]]
    * merged quantiles (p50/p90/p99): KLL estimates are randomized and
    * engine-specific (staged); the empirical rank of each estimate and
    * its distance from the target quantile — the normalized rank error
    * KLL actually bounds — is exact counting both engines replay. */
  def quantileRollupEval(est: DataFrame, events: DataFrame): DataFrame =
    events.join(broadcast(est), Seq("event_type"))
      .groupBy(col("event_type"), col("n_days"),
        col("p50"), col("p90"), col("p99"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("p50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("value") <= col("p90"), 1L).otherwise(0L)).as("le90"),
        sum(when(col("value") <= col("p99"), 1L).otherwise(0L)).as("le99"))
      .select(col("event_type"), col("n_days"),
        col("p50"), col("p90"), col("p99"),
        decRound(abs(col("le50").cast("double") / col("n") - 0.5), 6).as("rank_err50"),
        decRound(abs(col("le90").cast("double") / col("n") - 0.9), 6).as("rank_err90"),
        decRound(abs(col("le99").cast("double") / col("n") - 0.99), 6).as("rank_err99"))
      .orderBy(col("event_type"))

  /** Full-oracle report over the STAGED streaming sketch rollup (st10):
    * the watermark-driven incremental estimates stage as parquet; the
    * exact per-type distinct count and relative error replay
    * relationally — the same audit as [[sketchRollupEval]] minus the
    * daily band (the stream emits only the merged rollup). */
  def sketchStreamEval(merged: DataFrame, events: DataFrame): DataFrame = {
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("est_users"),
        col("exact_users"),
        decRound(abs(col("est_users") - col("exact_users")).cast("double")
          / col("exact_users"), 6).as("rel_err"))
      .orderBy(col("event_type"))
  }

  /** The (doc, position, token) posting substrate shared by PMI mining
    * and phrase search — one tokenize, 1-based positions. */
  private def positionalTokens(documents: DataFrame): DataFrame =
    documents
      .withColumn("_toks", tokens(col("text")))
      .select(col("doc_id"), posexplode(col("_toks")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("term"))

  /** PMI collocation mining — the phrase-vocabulary step (word2vec's
    * phrase pass, tokenizer multi-word entries): adjacent token bigrams
    * scored by pointwise mutual information
    * `pmi = ln(c_ab·N_u² / (N_b·c_a·c_b))` — how much more often the
    * pair occurs than its unigram frequencies predict. A raw-frequency
    * top list (c1) surfaces "of the"; PMI surfaces "san francisco".
    * `minCount` suppresses the classic PMI pathology (a hapax pair of
    * two hapax words scores arbitrarily high). All counts are exact
    * combinable aggregates; the two unigram joins key on the bigram's
    * OWN terms (vocabulary-sized, never broadcast — the c2 rationale);
    * the product is computed in DOUBLE with a fixed op order (the
    * integer product c_ab·N_u² overflows BIGINT at corpus scale and
    * ANSI would throw), one ln, decimal-6, deterministic top-k. */
  def pmiPhrases(documents: DataFrame, minCount: Long = 5,
                 topK: Int = 20): DataFrame = {
    // bigrams are a MAP-ONLY array transform over the materialized token
    // column (never a posting-table self-join on (doc, p) — that shuffles
    // the whole corpus twice for pairs that are adjacent in the array we
    // already hold); unigram/bigram totals fold out of the count tables
    val uni = documents
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c_term"))
    val totals = broadcast(uni.agg(sum(col("c_term")).as("n_uni")))
    val big = documents
      .withColumn("_toks", tokens(col("text")))
      .withColumn("n", size(col("_toks")))
      .filter(col("n") >= 2)
      .select(explode(transform(sequence(lit(1), col("n") - 1),
        i => struct(element_at(col("_toks"), i).as("term_a"),
          element_at(col("_toks"), i + 1).as("term_b")))).as("bg"))
      .select(col("bg.term_a").as("term_a"), col("bg.term_b").as("term_b"))
      .groupBy(col("term_a"), col("term_b")).agg(count(lit(1)).as("n_ab"))
    val totB = broadcast(big.agg(sum(col("n_ab")).as("n_big")))
    big
      .filter(col("n_ab") >= minCount)
      .join(uni.select(col("term").as("term_a"), col("c_term").as("n_a")), "term_a")
      .join(uni.select(col("term").as("term_b"), col("c_term").as("n_b")), "term_b")
      .crossJoin(totals).crossJoin(totB)
      .select(col("term_a"), col("term_b"), col("n_ab"), col("n_a"), col("n_b"),
        decRound(log(
          col("n_ab").cast("double") * col("n_uni") * col("n_uni")
            / (col("n_big").cast("double") * col("n_a") * col("n_b"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("term_a"), col("term_b"))
      .limit(topK)
  }

  /** Feature-hashed document embeddings — the hashing trick
    * (Weinberger et al. 2009): every token folds into one of `dim`
    * buckets by the c30 Horner char hash (engine-replayable, unlike
    * xxhash64), bucket counts L2-normalize into a fixed-width sparse
    * vector per document. This is the zero-vocabulary text→vector
    * bridge: no dictionary to build, ship or keep consistent across
    * batches — the property that makes it the standard first featurizer
    * at crawl scale — and its output plugs the documents table into the
    * whole s-family (ANN, k-means, SemDeDup) without a model. One
    * explode→combinable aggregate, one tiny per-doc norm join; emitted
    * sparse (only occupied dims — exploding empty cells would ×dim the
    * output for zeros). */
  def hashedEmbeddings(documents: DataFrame, dim: Int = 32): DataFrame = {
    val bucket = pmod(aggregate(
      transform(split(col("term"), ""), ch => ascii(ch).cast("long")),
      lit(0L), (acc, c) => pmod(acc * 31 + c, lit(1000003L))), lit(dim.toLong))
    val b = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .withColumn("dim", bucket)
      .groupBy(col("doc_id"), col("dim"))
      .agg(count(lit(1)).as("cnt"))
    val nrm = b.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("cnt") * col("cnt")).cast("double")).as("nrm"))
    b.join(nrm, "doc_id")
      .select(col("doc_id"), col("dim").cast("int").as("dim"), col("cnt"),
        decRound(col("cnt").cast("double") / col("nrm"), 6).as("weight"))
  }

  /** RAKE keyword extraction (Rose et al. 2010 — the standard
    * unsupervised multi-word keyword miner): candidate phrases are the
    * maximal runs of NON-stopword tokens (stopwords act as phrase
    * delimiters), each word scores deg/freq over the candidate set
    * (deg = Σ lengths of the phrases it appears in — favors words that
    * live in long collocations), and a phrase scores the sum of its
    * words' scores. The stoplist is CORPUS-ADAPTIVE (t9's recipe: top
    * `nStop` tokens by frequency, count-desc/term tie-break) — no
    * language-specific word list, so it works on any corpus the token
    * stream covers. `minOcc` keeps the corpus-wide top list to phrases
    * that actually repeat (classic RAKE is per-document; aggregated
    * over a corpus, score ∝ length makes every unique sentence-minus-
    * stopwords a top candidate without it). Plan: one tokenize, the
    * stoplist broadcast, the phrase-island merge a doc-keyed window,
    * the per-phrase length window bounded by RUN LENGTH (stopwords cap
    * runs — no hot key exists), word stats combinable, deg/freq via
    * ratRound (exact rational — freq can reach corpus scale where the
    * double quotient hits halves), phrase scores exact decimal sums. */
  def rakeKeywords(documents: DataFrame, nStop: Int = 30, minOcc: Int = 3,
                   topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val occ = positionalTokens(documents)
    val stop = occ.groupBy(col("term")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term")).limit(nStop)
      .agg(collect_list(col("term")).as("stoplist"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val phr = occ.crossJoin(broadcast(stop))
      .filter(!array_contains(col("stoplist"), col("term")))
      .select(col("doc_id"), col("p"), col("term"))
      .withColumn("brk",
        when(col("p") =!= lag(col("p"), 1).over(byDoc) + 1, 1).otherwise(0))
      .withColumn("g", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("len",
        count(lit(1)).over(Window.partitionBy(col("doc_id"), col("g"))))
    val wstats = phr.groupBy(col("term"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .withColumn("wscore", ratRound("deg", "freq", 6))
    val inst = phr.groupBy(col("doc_id"), col("g"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("p"), col("term")))),
        s => s.getField("term")), " ").as("phrase"))
    val ptab = inst.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minOcc)
    ptab
      .select(col("phrase"), col("n_occurrences"),
        explode(split(col("phrase"), " ")).as("term"))
      .join(wstats.select(col("term"), col("wscore")), "term")
      .groupBy(col("phrase"), col("n_occurrences"))
      .agg(sum(col("wscore").cast(DecimalType(28, 6))).as("_s"))
      .select(col("phrase"), col("n_occurrences"),
        col("_s").cast("double").as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(topK)
  }

  /** Exact phrase search from the positional index — retrieval beyond
    * bag-of-words (c25's BM25 cannot distinguish "new york" from "york
    * new"): for each query bigram, the documents containing the exact
    * adjacent sequence, with occurrence counts. The query set here is
    * [[pmiPhrases]]' top collocations — the end-to-end composition
    * (mine phrases → verify where they live) with no driver round-trip:
    * the phrase table is a k-row broadcast, postings are SEMI-JOINED
    * down to query terms before the position join (the corpus-wide
    * posting table never self-joins — only the filtered slivers do),
    * and the position match `p_b = p_a + 1` is an equi-join after the
    * doc+term keys. The posting projection evaluates once per join
    * side (twice total — a cheap codegen scan; materializing the
    * corpus-wide posting table to save the second pass costs more than
    * it buys, the d8 recompute-beats-checkpoint measurement). */
  def phraseSearch(documents: DataFrame, phrases: DataFrame): DataFrame = {
    val occ = positionalTokens(documents)
    val ph = broadcast(phrases.select(col("term_a"), col("term_b")))
    val occA = occ.join(ph.select(col("term_a").as("term")), Seq("term"), "left_semi")
    val occB = occ.join(ph.select(col("term_b").as("term")), Seq("term"), "left_semi")
    occA.select(col("doc_id"), col("p"), col("term").as("term_a"))
      .join(ph, "term_a")
      .join(occB.select(col("doc_id").as("doc_b"), col("p").as("p_b"),
          col("term").as("term_b2")),
        col("doc_b") === col("doc_id") && col("term_b2") === col("term_b") &&
          col("p_b") === col("p") + 1)
      .groupBy(col("term_a"), col("term_b"), col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
      .select(concat_ws(" ", col("term_a"), col("term_b")).as("phrase"),
        col("doc_id"), col("n_matches"))
  }

  /** Corpus datasheet — the per-source release report every dataset
    * ships (Datasheets for Datasets, Gebru et al. 2018): language mix
    * (dominant language + its doc count), scale (docs / tokens /
    * chars), quality (mean rule score — the t2 integer score averaged
    * as an EXACT integer rational), and exact-duplicate exposure
    * (corpus-wide: a doc whose text also appears under another source
    * counts as duplicated HERE — dup clusters cross sources, which is
    * why this is one corpus-level report and not per-source runs).
    *
    * Plan: copy counting keys on md5 DIGESTS, never raw text — both
    * the count shuffle and the join back ship 32-char digests instead
    * of document bodies (the d26 ship-digests posture; md5 because
    * both engines compute identical hex, and a false dup needs a
    * same-digest collision — the d26 argument), one aggregation to
    * (source, lang) — everything after runs on the dimension-bounded
    * (source × lang) table. The dominant language is a TWO-PHASE
    * min_by over struct(−n, lang) (highest count, then lexicographic
    * tie-break) — the d7 lesson: never a window over a corpus-keyed
    * partition. */
  def datasheet(documents: DataFrame): DataFrame = {
    val digested = documents
      .withColumn("_h", md5(col("text").cast("binary")))
    val copies = digested.groupBy(col("_h"))
      .agg(count(lit(1)).as("copies"))
    val perLang = digested
      .withColumn("_toks", tokens(col("text")))
      .select(col("source"), col("lang"), col("_h"),
        size(col("_toks")).cast("long").as("_nt"),
        col("n_chars"),
        TextOps.qualityScoreCol(col("text"), col("_toks")).as("_q"))
      .join(copies, "_h")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("_nt")).as("tk"),
        sum(col("n_chars")).as("ch"), sum(col("_q")).as("qs"),
        sum(when(col("copies") > 1, 1L).otherwise(0L)).as("du"))
    perLang.groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"), sum(col("tk")).as("n_tokens"),
        sum(col("ch")).as("n_chars"), sum(col("qs")).as("_qsum"),
        sum(col("du")).as("n_dup_docs"),
        min_by(col("lang"), struct(negate(col("n")), col("lang"))).as("top_lang"),
        max(col("n")).as("top_lang_docs"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("top_lang"), col("top_lang_docs"),
        ratRound("_qsum", "n_docs", 6).as("mean_quality"),
        col("n_dup_docs"),
        ratRound("n_dup_docs", "n_docs", 6).as("dup_ratio"))
  }

  /** License/opt-out governance gate — the filter a real crawl pipeline
    * runs BEFORE any text operator spends a cycle: only documents whose
    * license class is on the allowlist AND whose creator has not opted
    * out of training use may proceed. Returns the per-(source, license)
    * AUDIT table — doc counts, opt-out counts, kept counts and kept
    * token mass — the compliance artifact every dataset release ships
    * (the c33 URL-gate shape one governance layer up). Pair with
    * [[licenseFilter]] for the doc-level stream into the rest of the
    * pipeline.
    *
    * Plan: one map-side-combinable aggregate over the corpus keyed on
    * (source, license) — dimension-bounded output (#sources × #license
    * classes), a dozens-of-rows table at 100 TB. The allowlist is a
    * driver-side constant folded into the predicate: no join, no
    * broadcast, no shuffle beyond the one aggregation. */
  /** In-band robots/opt-out gate — the crawl-governance layer c48
    * cannot see: c48 gates on license METADATA columns, but the
    * signals a publisher actually controls arrive IN BAND — a
    * `<meta name="robots">` tag inside the HTML and an `X-Robots-Tag`
    * response header — and a pipeline that ignores them trains on
    * content whose owner said no. Per document: the merged,
    * deduplicated, sorted directive set from BOTH channels
    * (case-insensitive per the robots spec; `none` expands to
    * noindex+nofollow per its documented semantics), the three flags a
    * governance review reads (`noindex`, `nofollow`, `noai` — the
    * emerging AI-training opt-out directive), and the training
    * eligibility verdict (`noindex` or `noai` excludes; `nofollow`
    * constrains link-following, not content use — reported, never
    * gated on). Pure map — two codegen regex extracts + array algebra,
    * no shuffle, fused into the feeding scan at any corpus scale;
    * composes with c48 (metadata layer) and c33 (URL layer) as the
    * third governance tier. */
  def robotsGate(documents: DataFrame, htmlCol: String = "html",
                 headersCol: String = "http_headers"): DataFrame = {
    // ALL matches on both channels (r13 fix): a page may carry several
    // <meta name="robots"> tags and a response several X-Robots-Tag
    // headers (both legal and common — e.g. separate noindex and noai
    // tags); reading only the first silently under-blocks an opt-out
    // gate. Every match's comma-list flattens into one directive set.
    val mcs = regexp_extract_all(col(htmlCol),
      lit("(?i)<meta name=\"robots\" content=\"([^\"]*)\""), lit(1))
    val hcs = regexp_extract_all(col(headersCol),
      lit("(?i)x-robots-tag: ([^\r\n]*)"), lit(1))
    val dirs = array_sort(array_distinct(filter(
      transform(flatten(transform(concat(mcs, hcs),
        m => split(lowerCase(m), ",\\s*"))), x => trim(x)), x => x =!= "")))
    def has(d: String) = array_contains(dirs, d)
    documents.select(col("doc_id"),
      array_join(dirs, ",").as("directives"),
      (has("noindex") || has("none")).cast("int").as("noindex"),
      (has("nofollow") || has("none")).cast("int").as("nofollow"),
      has("noai").cast("int").as("noai"),
      (!(has("noindex") || has("none") || has("noai")))
        .cast("int").as("eligible"))
  }

  def licenseGate(documents: DataFrame,
                  allow: Seq[String] = Seq("cc0", "cc-by", "cc-by-sa"))
      : DataFrame = {
    val kept = col("license").isin(allow: _*) && !col("opt_out")
    documents
      .withColumn("_n", size(tokens(col("text"))).cast("long"))
      .groupBy(col("source"), col("license"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("opt_out"), 1L).otherwise(0L)).as("n_opt_out"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        sum(when(kept, col("_n")).otherwise(0L)).as("kept_tokens"))
  }

  /** Doc-level half of the governance gate: the allowed, non-opted-out
    * documents — pure filter, pushes down to the scan. */
  def licenseFilter(documents: DataFrame,
                    allow: Seq[String] = Seq("cc0", "cc-by", "cc-by-sa"))
      : DataFrame =
    documents.filter(col("license").isin(allow: _*) && !col("opt_out"))

  /** Compression-ratio quality gate — the Gopher/RedPajama-class
    * compressibility signal: per-document `DEFLATE bytes / raw UTF-8
    * bytes`. Templated spam compresses far below prose (repetition is
    * DEFLATE's whole job — this catches boilerplate that passes c24's
    * rules and t17's token ratios because the repetition spans lines,
    * not tokens); random noise compresses above it. Both tails are cut:
    * kept iff `minPm ≤ 1000·comp/raw ≤ maxPm`, decided ENTIRELY in
    * integer arithmetic (`comp·1000` vs `pm·raw` cross-multiplication —
    * the c36 no-division-on-the-decision-path posture); the reported
    * `ratio` column is the exact integer rational via ratRound,
    * informational only. Zero-byte documents have no ratio and are
    * dropped (the t7 zero-token contract).
    *
    * Plan: pure map over the corpus (the deflate loop runs inside
    * whole-stage codegen via `graft_deflate_len`, O(1) memory per doc)
    * — no shuffle at all; at 100 TB this is the cheapest quality signal
    * per byte in the pipeline. The byte count itself is zlib-build
    *-specific, so oracle replay stages the counts (c23 idiom) and
    * replays the ratio + gate relationally. */
  def compressionGate(documents: DataFrame,
                      minPm: Int = 250, maxPm: Int = 950): DataFrame =
    documents
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("raw_len"),
        call_function("graft_deflate_len", col("text")).as("comp_len"))
      .filter(col("raw_len") > 0)
      .select(col("doc_id"), col("raw_len"), col("comp_len"),
        ratRound("comp_len", "raw_len", 6).as("ratio"),
        (col("comp_len") * 1000 >= lit(minPm.toLong) * col("raw_len") &&
         col("comp_len") * 1000 <= lit(maxPm.toLong) * col("raw_len"))
          .cast("int").as("kept"))

  /** Anchor-text corpus construction — the USE of the t27 link layer
    * (the original web-search insight, recycled by data pipelines: the
    * text other pages use to link TO a page describes it better than
    * the page describes itself, and the aggregated anchors form a
    * clean synthetic document per target): absolute links only
    * (relative hrefs have no cross-site target identity), grouped by
    * target URL; each target's anchor texts concatenate in SORTED
    * order (array_sort over the collected texts — collect order is
    * partition-dependent, sorted order is not; the DuckDB side is
    * string_agg ORDER BY, same contract) with referrer/mention counts.
    * One explode + one target-keyed combinable aggregate; anchors are
    * short strings, so the shuffle carries link-sized rows, never
    * documents. */
  def anchorCorpus(links: DataFrame): DataFrame =
    links
      .filter(col("is_absolute") === 1)
      .groupBy(col("href").as("target"))
      .agg(count(lit(1)).as("n_refs"),
        countDistinct(col("doc_id")).as("n_docs"),
        concat_ws(" ", array_sort(collect_list(col("anchor_text"))))
          .as("anchor_doc"))

  /** Duplication-rate PROFILE — the datasheet number every pipeline
    * reports ("the corpus was X% exact duplicates") plus the shape
    * behind it: over [[graft.operators.Dedup.exact]]'s group table, one
    * row per duplicate-multiplicity class (dup_count, how many groups,
    * how many documents), with corpus totals and the excess rate —
    * (docs − groups)/docs, the fraction deleted by keep-one dedup —
    * as an exact per-mille rational on every row. The class table is
    * tiny (multiplicity classes grow ~log with corpus), totals are one
    * more combinable aggregate — nothing beyond what d1 already pays. */
  def dupProfile(groups: DataFrame): DataFrame = {
    val classes = groups.groupBy(col("dup_count"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("dup_count")).as("n_docs"))
    val totals = classes.agg(sum(col("n_docs")).as("total_docs"),
      sum(col("n_groups")).as("total_groups"))
    classes.crossJoin(broadcast(totals))
      .select(col("dup_count"), col("n_groups"), col("n_docs"),
        col("total_docs"), col("total_groups"),
        ratRound("(total_docs - total_groups) * 1000", "total_docs", 4)
          .as("excess_pm"))
  }

  /** Neutral stand-in blocklist for [[badwordsGate]] — the real C4
    * deployment points this at the published badwords list; the list
    * is DATA, not code (the c33 PSL posture), and the algebra is
    * list-size-independent. */
  val defaultBlocklist: Seq[String] = Seq(
    "blockedalpha", "blockedbeta", "blockedgamma")

  /** Word-blocklist gate — the C4 "bad words" filter, the single most
    * widely replicated curation rule in published pipelines (C4 drops
    * any document containing ANY listed word; later pipelines keep the
    * doc but record the match count and threshold it — both contracts
    * are served here: `kept` is the strict C4 drop-on-any, the counts
    * and per-mille rate feed a softer gate). Matching is exact-token
    * over the shared lower-cased tokenizer — deliberately NOT
    * substring matching, whose false positives (the classic
    * "Scunthorpe problem") are why naive grep-based filters
    * over-delete. Pure map: the literal list folds into codegen for
    * dictionary-scale lists; a corpus-sized list would switch to the
    * t29 broadcast-join shape (documented, same semantics). */
  def badwordsGate(documents: DataFrame,
                   blocklist: Seq[String] = defaultBlocklist): DataFrame =
    documents
      .withColumn("_toks", tokens(col("text")))
      .select(col("doc_id"),
        size(col("_toks")).as("n_tokens"),
        size(filter(col("_toks"), t => t.isin(blocklist: _*))).as("n_blocked"))
      .withColumn("blocked_pm", when(col("n_tokens") > 0,
        ratRound("n_blocked * 1000", "n_tokens", 4)))
      .withColumn("kept", (col("n_blocked") === 0).cast("int"))

  /** Crawl-over-crawl token-distribution DRIFT report — s20's monitor
    * idea at the TEXT layer (a new crawl that quietly shifts topic,
    * language or spam mix changes the token distribution first; every
    * artifact fit on the old crawl — the c30 classifier, the c27 LM,
    * t11's BPE merges — decays silently until someone re-fits): the
    * top-k tokens by absolute share shift between a reference corpus
    * and a new batch, ranked by the EXACT integer cross-product
    * abs(cnt_a·Nb − cnt_b·Na) (no float touches the ordering, ties
    * break on the token), with per-mille shares and the shift itself
    * as ratRound rationals. Tokens missing from one side count 0 —
    * appearing/vanishing vocabulary is the loudest drift signal and
    * surfaces at the top.
    *
    * Scale shape: one combinable token count per side, a
    * vocabulary-bounded full-outer join on the token key, scalar
    * totals broadcast, top-k by deterministic TakeOrdered. The DELTA
    * products run in DECIMAL(38,0) (count·total overflows a Long at
    * corpus scale). */
  def tokenDrift(corpus: DataFrame, batch: DataFrame,
                 topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    def counts(df: DataFrame, n: String) = df
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as(n))
    val j = counts(corpus, "cnt_a")
      .join(counts(batch, "cnt_b"), Seq("token"), "full_outer")
      .withColumn("cnt_a", coalesce(col("cnt_a"), lit(0L)))
      .withColumn("cnt_b", coalesce(col("cnt_b"), lit(0L)))
    val tot = j.agg(sum(col("cnt_a")).as("na"), sum(col("cnt_b")).as("nb"))
    val scored = j.crossJoin(broadcast(tot))
      .withColumn("_delta", abs(col("cnt_a").cast(dec) * col("nb") -
        col("cnt_b").cast(dec) * col("na")))
      .withColumn("_nprod", col("na").cast(dec) * col("nb"))
    scored.orderBy(col("_delta").desc, col("token")).limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("_delta").desc, col("token"))))
      .select(col("rank"), col("token"), col("cnt_a"), col("cnt_b"),
        ratRound("cnt_a * 1000", "na", 4).as("share_a_pm"),
        ratRound("cnt_b * 1000", "nb", 4).as("share_b_pm"),
        ratRound("_delta * 1000", "_nprod", 4).as("shift_pm"))
  }

  /** Per-source corpus diversity profile — the signal the mixing layer
    * (c22/c31/c36) is blind to: those weight sources by SIZE, but a
    * source can be huge and still be one template stamped a million
    * times. Per source: doc/token/vocab counts, type-token ratio,
    * hapax share (once-occurring terms over vocab — natural prose is
    * hapax-heavy, generated boilerplate is not; t17's per-doc signal
    * lifted to the source level), top-token share, Shannon token
    * entropy in nats (H = ln N − (Σ c·ln c)/N — the identity that
    * needs no per-term probability column), and entropy normalized by
    * ln(vocab) (1.0 = perfectly uniform usage; the cross-source
    * comparable number). Determinism: each c·ln c term is rounded
    * decimal-6 then summed EXACTLY in the decimal domain (the t7/c2
    * ln idiom — partitioning cannot perturb the sum), ratios are exact
    * integer rationals via ratRound, and the two ln(·) finals are
    * decimal-6 rounded before the arithmetic both engines replay.
    *
    * Scale shape: two map-side-combinable aggregates — (source, term)
    * counts, then source — plus a doc-count aggregate joined on the
    * handful of sources; nothing shuffles but term counts. The same
    * plan at 100 TB: term-key cardinality is vocabulary-bounded, and
    * no window or driver collect anywhere. */
  def sourceDiversity(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tf = documents
      .withColumn("term", explode(tokens(col("text"))))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c"))
    val docStats = documents.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val agg = tf.groupBy(col("source")).agg(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("vocab"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
      max(col("c")).as("top_c"),
      sum((col("c").cast("double") * log(col("c").cast("double")))
        .cast(DecimalType(38, 6))).cast(DecimalType(38, 6)).as("_slc"))
    agg.join(docStats, Seq("source"))
      .withColumn("_h", decRound(
        decRound(log(col("n_tokens").cast("double")), 6) -
          col("_slc").cast("double") / col("n_tokens"), 6))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("vocab"), col("n_hapax"),
        ratRound("vocab", "n_tokens", 6).as("ttr"),
        ratRound("n_hapax", "vocab", 6).as("hapax_share"),
        ratRound("top_c", "n_tokens", 6).as("top_share"),
        col("_h").as("entropy"),
        when(col("vocab") > 1, decRound(
          col("_h") / decRound(log(col("vocab").cast("double")), 6), 6))
          .as("norm_entropy"))
  }
}
