package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ColumnFns._

/** Deduplication family: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale posture: the exact + LSH variants are the 100 TB paths — work is
  * proportional to bucket collisions, never all-pairs. The blocked
  * pairwise variant (`ngramJaccardPairs`) is the exact-answer baseline
  * used to verify LSH recall at small scale.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on content DIGESTS, keep the smallest
    * id. The group key is md5(text), not text — the output carries no
    * text, so only 16-byte digests ever cross the shuffle (the d26
    * ship-digests posture; a wrong merge needs an md5 collision, and
    * both engines compute identical digests so the oracle replays the
    * same grouping). Map-side combinable. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .select(md5(col("text").cast("binary")).as("_h"), col("doc_id"))
      .groupBy(col("_h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .select(col("doc_id"), col("dup_count"))

  /** URL-level dedup — the FIRST dedup a web pipeline runs, before any
    * byte of body text is fetched or compared: the same page arrives
    * under many spellings (scheme/host case, `www.`, default ports,
    * trailing slashes, parameter order, tracking parameters, fragments),
    * and canonicalizing the URL collapses them for free. Canonical form:
    * lowercase scheme; host lowercased, default `:80`/`:443` port and
    * one leading `www.` stripped; path with trailing slashes removed
    * (case PRESERVED — URL paths are case-sensitive); query parameters
    * sorted, `utm_*` tracking parameters and empties dropped; fragment
    * discarded. Pure column algebra (shared literal-class regexes —
    * c33's parse), then [[exact]]'s shape keyed on the canonical URL:
    * one map + one map-side-combinable aggregate, no join, no window —
    * the cheapest possible 100 TB plan. */
  def urlDedup(documents: DataFrame, urlCol: String = "url"): DataFrame = {
    val url = col(urlCol)
    val scheme = lowerCase(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rawHost = lowerCase(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val host = regexp_replace(
      regexp_replace(rawHost, ":(80|443)$", ""), "^www\\.", "")
    val path = regexp_replace(
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1),
      "/+$", "")
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    val params = array_join(array_sort(filter(split(query, "&"),
      p => !p.startsWith("utm_") && p =!= "")), "&")
    val canon = concat(scheme, lit("://"), host, path,
      when(params =!= "", concat(lit("?"), params)).otherwise(lit("")))
    documents.select(col("doc_id"), canon.as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .select(col("doc_id"), col("canon_url"), col("dup_count"))
  }

  /** Incremental EXACT dedup of a new batch against an existing corpus:
    * the surviving batch documents — texts unseen in the corpus — one
    * row per distinct batch text with the smallest batch id and the
    * within-batch duplicate count. The exact-dedup analogue of
    * [[minhashIncremental]] (every production ingest dedups the new
    * batch against what's already stored, not the union from scratch).
    * Plan shape: one left-anti join on md5 DIGESTS (the [[exact]]
    * key — both sides ship 16-byte digests, never text) + the
    * [[exact]] group-by on the surviving batch rows only. The corpus
    * side is a single key scan — never grouped, never self-joined;
    * with the corpus digest table bucket-written
    * (`Sources.writeBucketed`) the anti join needs no corpus-side
    * shuffle at all. */
  def exactIncremental(batch: DataFrame, corpus: DataFrame): DataFrame =
    batch
      .select(md5(col("text").cast("binary")).as("_h"), col("doc_id"))
      .join(corpus.select(md5(col("text").cast("binary")).as("_h")),
        Seq("_h"), "left_anti")
      .groupBy(col("_h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .select(col("doc_id"), col("dup_count"))

  /** Shingle sets + sizes + 64-bit hashed form, materialized stage by
    * stage (tokens → shingles → size/hashes) so no HOF lambda recomputes
    * an upstream array. Pair-wise intersections run on the hashed long
    * arrays: set semantics are preserved (xxhash64 collisions across a
    * ~14-element set are ~1e-17) and a long intersect is ~10× cheaper
    * than hashing strings per comparison. */
  private def shingled(documents: DataFrame): DataFrame =
    documents
      .withColumn("_toks", tokens(col("text")))
      .withColumn("sh", shinglesFromTokens(col("_toks"), 3))
      .withColumn("shn", size(col("sh")))
      // sorted so pair-wise intersection is a primitive merge loop
      .withColumn("hsh", array_sort(transform(col("sh"), s => xxhash64(s))))

  /** Compute jacc per pair and filter WITHOUT letting the optimizer push
    * the predicate into the join condition: embedded there it re-runs the
    * intersection for every probed pair (twice — once per reference) and
    * constraint inference then inlines the whole shingle pipeline into
    * per-row isnotnull filters — a measured 6× slowdown. `inter` is
    * emitted through explode(array(...)): a Generate is a pushdown
    * barrier for predicates on its output, and unlike a plain barrier
    * column it survives column pruning because it produces `inter`. */
  private def jaccFiltered(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .withColumn("inter",
        explode(array(call_function("graft_intersect_n", col("sh_a"), col("sh_b")))))
      .withColumn("jacc", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jacc") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jacc"))

  /** Asymmetric CONTAINMENT near-dup pairs — `|A∩B| / min(|A|,|B|)`:
    * catches a document embedded inside a much bigger one (syndicated
    * article + commentary, quoted posts, concatenated files), which
    * symmetric Jaccard structurally MISSES: J ≤ min/max, so a 10×
    * wrapper caps J at 0.1 however perfect the containment — and the
    * same inequality makes d4's size-band blocking useless here
    * (qualifying pairs live in FAR-APART bands by definition).
    * Candidates therefore come from a DF-CAPPED INVERTED INDEX over
    * hashed shingles: shingles with corpus document frequency > dfCap
    * are dropped (boilerplate — the hot keys that would explode
    * quadratically; the d22 maxBucket discipline), docs sharing ≥
    * `minShared` surviving shingles become candidates via a map-side-
    * combinable pair count, and candidates verify with the exact
    * sorted-merge intersection, gated on decimal-6 containment.
    *
    * RECALL CONTRACT (deliberate, documented): a qualifying pair is
    * found iff it shares ≥ minShared shingles of df ≤ dfCap — a pair
    * whose entire overlap is corpus-wide boilerplate is invisible
    * (removing boilerplate is d16/c38's job; containment is about
    * distinctive content). Candidate work is Σ_h df² with df ≤ dfCap —
    * bounded per shingle, independent of corpus². */
  def containmentPairs(documents: DataFrame, threshold: Double = 0.8,
                       dfCap: Int = 100, minShared: Int = 2): DataFrame =
    containmentFromShingles(shingleTable(documents), threshold, dfCap, minShared)

  /** The `(doc_id, shn, hsh)` shingle table as a persistable artifact —
    * the staging surface the containment gate writes for its oracle
    * (and the natural corpus-side state for incremental probes). */
  def shingleTable(documents: DataFrame): DataFrame =
    shingled(documents).select(col("doc_id"), col("shn"), col("hsh"))
      .localCheckpoint()

  /** [[containmentPairs]] over a persisted/staged `(doc_id, shn, hsh)`
    * shingle table — split out so the gate stages the table and the
    * oracle replays candidates AND verification relationally from it
    * (the d2 staged-signature posture). */
  def containmentFromShingles(sh: DataFrame, threshold: Double = 0.8,
                              dfCap: Int = 100, minShared: Int = 2): DataFrame = {
    val inv = sh.select(col("doc_id"), explode(col("hsh")).as("h"))
    val rare = inv.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap && col("df") >= 2)
    val hits = inv.join(rare.select(col("h")), "h")
    val pairs = hits.select(col("doc_id").as("doc_a"), col("h"))
      .join(hits.select(col("doc_id").as("doc_b"), col("h").as("h2")),
        col("h") === col("h2") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_rare"))
      .filter(col("n_shared_rare") >= minShared)
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("shn").as("na"),
        col("hsh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shn").as("nb"),
        col("hsh").as("sh_b")), "doc_b")
      // the jaccFiltered Generate barrier: keep the intersection out of
      // the join condition / constraint inference
      .withColumn("inter",
        explode(array(call_function("graft_intersect_n", col("sh_a"), col("sh_b")))))
      .withColumn("containment",
        decRound(col("inter").cast("double") / least(col("na"), col("nb")), 6))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"), col("containment"))
  }

  def ngramJaccardPairs(documents: DataFrame, threshold: Double = 0.5): DataFrame =
    // materialize the shingle table once: it feeds candidate generation
    // AND both verify join-backs, and each DataFrame reference would
    // otherwise re-run the tokenize→shingle→hash→sort pipeline (3×
    // measured). At corpus scale this is the standard "write the shingle
    // table" staging step; localCheckpoint is its in-memory analogue.
    ngramJaccardPairsFromShingles(
      shingled(documents)
        .select(col("doc_id"), col("source"), col("shn"), col("hsh"))
        .localCheckpoint(),
      threshold)

  /** One tokenize+shingle pass for MULTI-SIGNAL consumers (d14): the
    * Jaccard/minhash shingle columns plus the distinct-token-hash array
    * simhash consumes, in one staging frame. A gate that needs all
    * three signal families checkpoints this ONCE and derives each
    * family's signature table as a cheap projection, instead of
    * re-tokenizing the corpus once per family (r19 optimization round,
    * guide §1.2: remove whole passes first). Column values are
    * byte-identical to the single-family paths: `shn`/`hsh` match
    * [[minhashSignatures]]/[[ngramJaccardPairs]]'s staging and `_th`
    * matches [[simhashSignatures]]' internal token-hash array. */
  def signalTable(documents: DataFrame): DataFrame =
    documents
      .withColumn("_toks", tokens(col("text")))
      .withColumn("sh", shinglesFromTokens(col("_toks"), 3))
      .withColumn("shn", size(col("sh")))
      .withColumn("hsh", array_sort(transform(col("sh"), s => xxhash64(s))))
      .withColumn("_th", transform(array_distinct(col("_toks")), t => xxhash64(t)))
      .select(col("doc_id"), col("source"), col("shn"), col("hsh"), col("_th"))

  /** [[ngramJaccardPairs]] over an ALREADY-MATERIALIZED
    * `(doc_id, source, shn, hsh)` shingle table — the multi-signal
    * reuse hook (same rationale as [[minhashPairsFromSigs]]): the
    * caller stages the table once and every signal family reads it. */
  def ngramJaccardPairsFromShingles(sh: DataFrame,
                                    threshold: Double = 0.5): DataFrame = {
    // Blocking key = (source, size band). Blocking on source alone caps
    // parallelism at the number of sources (20 here — 20 tasks no matter
    // the cluster); the log2-size band multiplies key cardinality. The
    // size-ratio bound J ≤ min/max means qualifying pairs differ by ≤ m
    // bands (2^m ≥ 1/θ), so the probe side replicates into k−m..k+m and
    // every qualifying pair meets in EXACTLY one band (build side keeps
    // its own band only) — no distinct needed, no recall loss.
    val m = math.max(1, math.ceil(math.log(1.0 / threshold) / math.log(2.0)).toInt)
    val band = floor(log(2.0, col("shn"))).cast("int")
    // candidate generation runs on SKINNY columns only (ids + sizes +
    // band): the (2m+1)x probe replication then multiplies 8-byte keys,
    // not the hashed-shingle arrays, which join back by doc id
    // afterwards (same shape as minhashPairs' verify stage)
    val skinny = sh.select(col("doc_id"), col("source"), col("shn"), band.as("k"))
    val a = skinny.select(col("doc_id").as("doc_a"), col("source"),
      col("shn").as("na"), col("k").as("band"))
    val b = skinny.select(col("doc_id").as("doc_b"), col("source").as("src_b"),
        col("shn").as("nb"), col("k").as("kb"))
      .withColumn("band2", explode(array((-m to m).map(d => col("kb") + d): _*)))
    // the two-int size-ratio comparison is cheap enough for the join
    // condition (unlike the intersection itself, see jaccFiltered)
    val cand = a.join(b,
        col("source") === col("src_b") && col("band") === col("band2") &&
        col("doc_a") < col("doc_b") &&
        least(col("na"), col("nb")).cast("double") >=
          lit(threshold) * greatest(col("na"), col("nb")))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"))
    jaccFiltered(
      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("hsh").as("sh_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("hsh").as("sh_b")), "doc_b"),
      threshold)
  }

  /** Exact all-pairs similarity join via PREFIX FILTERING — the
    * AllPairs/PPJoin family (Bayardo, Ma & Srikant, "Scaling Up All
    * Pairs Similarity Search", WWW 2007; Xiao et al., WWW 2008): order
    * every document's shingles by GLOBAL rarity (document frequency
    * ascending, hash tie-break), index only each document's PREFIX —
    * the first `|d| − ⌈t·|d|⌉ + 1` tokens — and generate candidates
    * from shared prefix tokens. The prefix-filtering lemma guarantees
    * ZERO false negatives: two sets with J ≥ t under any shared global
    * order must collide in their prefixes (if they didn't, their
    * overlap is at most min(⌈t·|a|⌉, ⌈t·|b|⌉) − 1, below what J ≥ t
    * requires). So unlike LSH (d2 — probabilistic recall) and unlike
    * d4's size-band blocking (same-source pairs only, a recall
    * contract), this is EXACT over the whole corpus, sub-quadratically.
    *
    * Scale shape: the candidate join is an inverted-index self-join
    * over prefix tokens only — work is Σ_h df_prefix(h)², and because
    * the global order puts FREQUENT shingles at the end of every
    * document, hot tokens structurally cannot enter short prefixes:
    * the algorithm is self-skew-protecting (the published reason
    * AllPairs beats naive inverted-index joins). The size filter
    * (t·|a| ≤ |b|, valid for any qualifying pair) prunes candidates
    * in the join condition on two ints. All shuffles move 8-byte
    * hashes/ids; the per-doc rank window is doc-keyed (the bounded
    * class). Verification is the exact sorted-merge intersection.
    *
    * The staged `(doc_id, shn, hsh)` shingle table makes the whole
    * chain — df, global rank, prefix, candidates, verify — replayable
    * relationally by the oracle (the d2 staged posture). */
  def prefixAllPairs(documents: DataFrame, threshold: Double = 0.5): DataFrame =
    prefixAllPairsFromShingles(shingleTable(documents), threshold)

  /** Per-doc prefix rows (doc_id, shn, h) under the (df asc, hash)
    * global order given by `dfq` — shingles ABSENT from `dfq` rank as
    * df = 0 (rarest), which is what the incremental posture needs:
    * batch-new shingles have no corpus df yet, and the prefix lemma
    * only requires a CONSISTENT total order, not a current one (a
    * stale order costs candidate efficiency, never recall). */
  private def prefixRows(sh: DataFrame, dfq: DataFrame,
                         threshold: Double): DataFrame =
    sh.select(col("doc_id"), col("shn"), explode(col("hsh")).as("h"))
      .join(dfq, Seq("h"), "left")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(coalesce(col("df"), lit(0L)), col("h"))))
      // prefix length |d| − ⌈t·|d|⌉ + 1 (⌈⌉ on an exact-in-binary
      // product, so both engines land on the same integer)
      .filter(col("rnk") <=
        col("shn") - ceil(lit(threshold) * col("shn")).cast("int") + 1)
      .select(col("doc_id"), col("shn"), col("h"))

  /** [[prefixAllPairs]] over an already-staged shingle table. */
  def prefixAllPairsFromShingles(sh: DataFrame, threshold: Double): DataFrame = {
    val inv = sh.select(col("doc_id"), explode(col("hsh")).as("h"))
    // global document frequency per shingle hash: map-side combinable
    val dfq = inv.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val ranked = prefixRows(sh, dfq, threshold)
    val cand = ranked.select(col("doc_id").as("doc_a"), col("shn").as("na"), col("h"))
      .join(ranked.select(col("doc_id").as("doc_b"), col("shn").as("nb"),
          col("h").as("h2")),
        col("h") === col("h2") && col("doc_a") < col("doc_b") &&
          least(col("na"), col("nb")).cast("double") >=
            lit(threshold) * greatest(col("na"), col("nb")))
      .select(col("doc_a"), col("doc_b")).distinct()
    jaccFiltered(
      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("hsh").as("sh_a"),
          col("shn").as("na")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("hsh").as("sh_b"),
          col("shn").as("nb")), "doc_b"),
      threshold)
  }

  /** The corpus PREFIX-ROW artifact for [[prefixIncremental]] — the
    * third persisted table of the prefix index (beside the shingle
    * table and its df table): each corpus doc's rarest-shingle prefix
    * under the (df asc, hash) order. A pure function of
    * (corpusSh, corpusDf), so a pipeline computes it ONCE when the
    * index is built and every later batch probe is a key-scan — the
    * r14 review caught the previous shape recomputing this corpus-wide
    * explode + rank on EVERY incremental call (per-batch cost ∝ corpus
    * in st36's loop, contradicting the probe-the-artifact posture). */
  def prefixIndex(corpusSh: DataFrame, corpusDf: DataFrame,
                  threshold: Double = 0.5): DataFrame =
    prefixRows(corpusSh, corpusDf, threshold)

  /** Incremental prefix-filter dedup — [[prefixAllPairs]] in the
    * d11/d12 ingest posture: the new batch probes the PERSISTED corpus
    * artifacts (shingle table + df table + [[prefixIndex]] — the
    * prefix index a production pipeline keeps) and emits every J ≥ t
    * pair touching the batch (batch-vs-corpus AND batch-vs-batch),
    * which equals the full [[prefixAllPairs]] recompute over the union
    * restricted to batch-touching pairs (spec-asserted). The global
    * order is the CORPUS df (batch-new shingles rank df = 0): the
    * prefix-filter lemma holds for any order both sides share, so a
    * stale index loses zero recall — it only admits a few extra
    * candidates until the index is refreshed, the exactness-under-
    * staleness property LSH signatures don't have. Corpus work: a
    * key-scan of the prefix index for candidates + a doc-keyed fetch
    * of candidate shingle arrays for the verify — never a re-shingle,
    * never a corpus-wide rank. */
  def prefixIncremental(batchSh: DataFrame, corpusSh: DataFrame,
                        corpusDf: DataFrame, corpusPrefix: DataFrame,
                        threshold: Double = 0.5): DataFrame = {
    val bp = prefixRows(batchSh, corpusDf, threshold)
    val cp = corpusPrefix
    val cand = bp.select(col("doc_id").as("doc_x"), col("shn").as("nx"), col("h"))
      .join(bp.union(cp).select(col("doc_id").as("doc_y"),
          col("shn").as("ny"), col("h").as("h2")),
        col("h") === col("h2") && col("doc_x") =!= col("doc_y") &&
          least(col("nx"), col("ny")).cast("double") >=
            lit(threshold) * greatest(col("nx"), col("ny")))
      .select(least(col("doc_x"), col("doc_y")).as("doc_a"),
        greatest(col("doc_x"), col("doc_y")).as("doc_b"))
      .distinct()
    val all = corpusSh.union(batchSh)
    jaccFiltered(
      cand
        .join(all.select(col("doc_id").as("doc_a"), col("hsh").as("sh_a"),
          col("shn").as("na")), "doc_a")
        .join(all.select(col("doc_id").as("doc_b"), col("hsh").as("sh_b"),
          col("shn").as("nb")), "doc_b"),
      threshold)
  }

  /** The corpus-side document-frequency artifact for
    * [[prefixIncremental]] — persisted next to the shingle table. */
  def prefixDfTable(corpusSh: DataFrame): DataFrame =
    corpusSh.select(explode(col("hsh")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))

  // --- MinHash + LSH ---------------------------------------------------

  /** 64 seeded affine permutations over xxhash64(shingle). */
  private val P = graft.functions.Signatures.P
  private val perms: Seq[(Long, Long)] = {
    val (a, b) = graft.functions.Signatures.perms()
    a.zip(b).toSeq
  }
  private val numBands = 16
  private val rowsPerBand = 4

  /** Composable reference MinHash (64 interpreted array passes) over a
    * MATERIALIZED pre-hashed shingle array; the hot path is the native
    * one-pass graft_minhash64 expression — bit-identical output. */
  def minhashSignature(hashed: Column): Column =
    array(perms.map { case (a, b) =>
      array_min(transform(hashed, h => pmod(h * a + b, lit(P))))
    }: _*)

  /** Pre-hash a shingle array for [[minhashSignature]]. */
  def hashShingles(sh: Column): Column =
    transform(sh, s => pmod(xxhash64(s), lit(P)))

  /** MinHash LSH near-dup pairs: sign → band → bucket-join candidates →
    * exact-Jaccard verify. Shuffle is on (band, bucket-hash); oversized
    * buckets (degenerate content, e.g. empty docs) are capped to keep the
    * candidate join skew-free at scale. */
  def minhashPairs(documents: DataFrame, threshold: Double = 0.5,
                   maxBucket: Int = 1000): DataFrame =
    // staged once: the signature table feeds the banding + both verify
    // join-backs (see ngramJaccardPairs for the measurement)
    minhashPairsFromSigs(minhashSignatures(documents).localCheckpoint(),
      threshold, maxBucket)

  /** [[minhashPairs]] over an ALREADY-MATERIALIZED signature table (the
    * [[minhashSignatures]] artifact) — callers that also persist/stage
    * the table reuse one computation instead of re-shingling the corpus
    * per consumer. Banding stays the single [[bandedSigs]] code path the
    * incremental==full-recompute equality depends on. */
  /** Shared two-phase bucket skew guard: rows of `df` whose bucket
    * (the `keys` tuple) holds ≤ maxBucket members. GroupBy + semi-join,
    * never a bucket-partitioned window — the over-full buckets being
    * dropped are exactly the hottest keys (thousands of copies of one
    * page sharing every band hash), and a window would funnel each onto
    * one reducer just to count it; the combinable count partial-
    * aggregates map-side and AQE skew-split covers the join back. One
    * definition for every LSH pair path, so the d2/d27 byte-identical-
    * admitted-set contract cannot drift. */
  private[operators] def capBuckets(df: DataFrame, keys: Seq[String],
                                    maxBucket: Int): DataFrame = {
    val admitted = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucket)
      .select(keys.map(col): _*)
    df.join(admitted, keys, "left_semi")
  }

  def minhashPairsFromSigs(sigs: DataFrame, threshold: Double = 0.5,
                           maxBucket: Int = 1000): DataFrame = {
    val sized = capBuckets(bandedSigs(sigs), Seq("band", "bh"), maxBucket)
    val cand = sized.select(col("band"), col("bh"), col("doc_id").as("doc_a"))
      .join(sized.select(col("band").as("band2"), col("bh").as("bh2"), col("doc_id").as("doc_b")),
        col("band") === col("band2") && col("bh") === col("bh2") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // verify candidates with exact Jaccard on the shingle sets
    jaccFiltered(
      cand
        .join(sigs.select(col("doc_id").as("doc_a"), col("hsh").as("sh_a"), col("shn").as("na")), "doc_a")
        .join(sigs.select(col("doc_id").as("doc_b"), col("hsh").as("sh_b"), col("shn").as("nb")), "doc_b"),
      threshold)
  }

  /** Persistable MinHash signature table: one row per document carrying
    * the banding input (the 64-hash signature) and the verify inputs
    * (hashed shingle set + size). This is the artifact a production
    * pipeline writes once per corpus (e.g. via `Sources.writeBucketed`
    * on doc_id) so each new batch dedups against it incrementally
    * ([[minhashIncremental]]) instead of recomputing the corpus. */
  def minhashSignatures(documents: DataFrame): DataFrame =
    shingled(documents)
      .select(col("doc_id"), col("hsh"), col("shn"))
      .withColumn("sig", call_function("graft_minhash64", col("hsh")))

  /** Band + bucket-hash rows for a signature table (the LSH join key).
    * private[graft]: the d2 gate stages these rows for the DuckDB
    * oracle, which replays the cap/candidate/verify algebra over them. */
  private[graft] def bandedSigs(sigs: DataFrame): DataFrame =
    sigs
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(numBands - 1))).as("band"), col("sig"))
      .withColumn("bh", xxhash64(col("band"),
        slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand))))
      .select(col("doc_id"), col("band"), col("bh"))

  /** Incremental near-dup detection of a NEW BATCH against a persisted
    * corpus: returns exactly the [[minhashPairs]] result of
    * `corpus ∪ batch` RESTRICTED to pairs touching the batch
    * (batch-vs-corpus and batch-vs-batch; corpus-internal pairs were
    * found when the corpus was built). Doc ids must be globally unique
    * across corpus and batch — the standard append-only id contract.
    *
    * Scale shape — the reason this API exists: the corpus side is never
    * re-shingled, never re-signed and NEVER self-joined. Its stored
    * signatures are banded (a projection), bucket-counted (one skinny
    * aggregation, linear in corpus bands — persist these counts next to
    * the signature table to skip even that scan), and probed by the
    * batch's banded rows only, so the candidate join is
    * |batch bands| × collisions, independent of corpus². The bucket cap
    * is evaluated on UNION bucket sizes, matching the full recompute
    * bit-for-bit (DedupSimilaritySpec asserts the equality). */
  def minhashIncremental(batch: DataFrame, corpusSigs: DataFrame,
                         threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame =
    // batch staging mirrors minhashPairs: the signature table feeds the
    // banding AND both verify join-backs
    minhashIncrementalFromSigs(minhashSignatures(batch).localCheckpoint(), corpusSigs,
      threshold, maxBucket)

  /** [[minhashIncremental]] over the batch's staged signature table `bs`,
    * for a caller that keeps those signatures: the streaming ingest
    * appends them to its corpus state and releases them after the round. */
  private[graft] def minhashIncrementalFromSigs(bs: DataFrame, corpusSigs: DataFrame,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val batchBanded = bandedSigs(bs)
    val corpusBanded = bandedSigs(corpusSigs)
    val unionBanded = corpusBanded.union(batchBanded)
    // skew guard on UNION bucket sizes — identical accept set to the
    // full-recompute window; an aggregation (not a window) because the
    // per-bucket count table is tiny and joins back by bucket key
    val bucketSizes = unionBanded.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bsz"))
    val admitted = unionBanded.join(bucketSizes.filter(col("bsz") <= maxBucket),
      Seq("band", "bh"))
    // probe = batch only; build = union (so batch-batch pairs are found
    // too). Normalizing to (min, max) + distinct collapses the double
    // emission of batch-batch pairs (each side probes once) and the
    // multi-band collisions in one pass.
    val cand = batchBanded.select(col("band"), col("bh"), col("doc_id").as("probe_id"))
      .join(admitted.select(col("band").as("band2"), col("bh").as("bh2"),
          col("doc_id").as("build_id")),
        col("band") === col("band2") && col("bh") === col("bh2") &&
        col("probe_id") =!= col("build_id"))
      .select(least(col("probe_id"), col("build_id")).as("doc_a"),
        greatest(col("probe_id"), col("build_id")).as("doc_b"))
      .distinct()
    // verify with exact Jaccard on the stored shingle hashes (either side
    // may be a corpus or a batch doc — join the union signature table)
    val allSigs = corpusSigs.select(col("doc_id"), col("hsh"), col("shn"))
      .union(bs.select(col("doc_id"), col("hsh"), col("shn")))
    jaccFiltered(
      cand
        .join(allSigs.select(col("doc_id").as("doc_a"), col("hsh").as("sh_a"),
          col("shn").as("na")), "doc_a")
        .join(allSigs.select(col("doc_id").as("doc_b"), col("hsh").as("sh_b"),
          col("shn").as("nb")), "doc_b"),
      threshold)
  }

  // --- SimHash ---------------------------------------------------------

  /** 64-bit SimHash over distinct tokens. Unrolled per-bit aggregates —
    * works, but is 64 passes over the token array; a custom codegen
    * Expression computing all bits in one pass is the planned R2
    * optimization for the 100 TB path. */
  def simhash(text: Column): Column =
    simhashFromHashes(transform(array_distinct(tokens(text)), t => xxhash64(t)))

  /** SimHash over a MATERIALIZED token-hash array column — the 64 per-bit
    * aggregates each reference the array, so an inline expression would
    * tokenize + hash every row 64×. */
  def simhashFromHashes(hs: Column): Column = {
    val bits = (0 until 64).map { j =>
      val bitSum = aggregate(hs, lit(0L),
        (acc, h) => acc + shiftrightunsigned(h, j).bitwiseAND(lit(1L)) * 2 - 1)
      when(bitSum > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** SimHash near-dup pairs within hamming distance `maxDist`, via 4×16-bit
    * band blocking — exact for maxDist ≤ 3 by pigeonhole WHEN no bucket
    * exceeds `maxBucket`. The cap bounds the candidate join on
    * boilerplate-heavy corpora (many docs collapsing onto one chunk
    * value) at the cost of recall for pairs whose only matching chunk
    * is capped; raise `maxBucket` (or pre-dedup exact duplicates) when
    * exactness matters more than worst-case reducer size.
    *
    * Default cap = 1000, matching the minhash twin: a capped bucket
    * self-join is O(cap²) comparisons on ONE reducer, so 1000 bounds the
    * degenerate-bucket cost at 1e6 pairs where 10000 admitted 1e8. On the
    * test corpora the tighter cap drops no pairs (no bucket comes near
    * it — DedupSimilaritySpec asserts cap-insensitivity); a real corpus
    * hitting the cap has near-identical docs better removed by exact
    * dedup BEFORE simhash. */
  def simhashPairs(documents: DataFrame, maxDist: Int = 3,
                   maxBucket: Int = 1000): DataFrame =
    simhashPairsFromSigs(simhashSignatures(documents), maxDist, maxBucket)

  /** [[simhashPairs]] over an already-materialized [[simhashSignatures]]
    * table — same reuse rationale as [[minhashPairsFromSigs]]. */
  def simhashPairsFromSigs(sg: DataFrame, maxDist: Int = 3,
                           maxBucket: Int = 1000): DataFrame = {
    val banded = capBuckets(
      sg.select(col("doc_id"), col("sig"),
          explode(sequence(lit(0), lit(3))).as("c"))
        .withColumn("chunk", expr("(sig >> (c * 16)) & 65535")),
      Seq("c", "chunk"), maxBucket)
    val cand = banded.select(col("c"), col("chunk"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      .join(banded.select(col("c").as("c2"), col("chunk").as("chunk2"),
          col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        col("c") === col("c2") && col("chunk") === col("chunk2") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b")).distinct()
    cand
      .withColumn("dist", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** SimHash signature table — the persistable artifact
    * [[simhashIncremental]] probes (the simhash member of the signature-
    * store family: minhash `minhashSignatures`, embedding
    * `embeddingSignCodes`). */
  def simhashSignatures(documents: DataFrame): DataFrame =
    documents
      .withColumn("_hs", transform(array_distinct(tokens(col("text"))), t => xxhash64(t)))
      .select(col("doc_id"), call_function("graft_simhash64", col("_hs")).as("sig"))

  /** Incremental new-batch-vs-corpus SimHash near-dup — completes the
    * incremental family (d11 minhash / d12 exact / d13 embedding): the
    * corpus side is a persisted (doc_id, sig) table that is only ever
    * BANDED BY PROJECTION (4×16-bit chunks) and probed by the batch's
    * bands; the corpus is never re-tokenized, never re-signed, never
    * self-joined. Bucket caps evaluate on UNION bucket sizes, so the
    * result equals the full [[simhashPairs]] recompute over
    * corpus ∪ batch restricted to batch-touching pairs (spec-asserted).
    * Batch-batch pairs meet twice through the probe (each side probes
    * the other) — normalized to (min, max) before the distinct. */
  def simhashIncremental(batch: DataFrame, corpusSigs: DataFrame,
                         maxDist: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val bs = simhashSignatures(batch)
    def band(df: DataFrame) = df
      .select(col("doc_id"), col("sig"), explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("chunk", expr("(sig >> (c * 16)) & 65535"))
    // cap on UNION bucket sizes — the same population the full recompute
    // windows over, so capping decisions match it bucket for bucket
    val sizes = band(bs.union(corpusSigs.select(col("doc_id"), col("sig"))))
      .groupBy(col("c"), col("chunk")).agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucket)
    val target = band(bs.union(corpusSigs.select(col("doc_id"), col("sig"))))
      .join(sizes, Seq("c", "chunk"))
    val probe = band(bs).join(sizes, Seq("c", "chunk"))
    probe.select(col("c"), col("chunk"), col("doc_id").as("pa"), col("sig").as("sig_a"))
      .join(target.select(col("c").as("c2"), col("chunk").as("chunk2"),
          col("doc_id").as("pb"), col("sig").as("sig_b")),
        col("c") === col("c2") && col("chunk") === col("chunk2") && col("pa") =!= col("pb"))
      // distance first (symmetric), THEN the (min, max) normalization —
      // normalizing ids while keeping probe-order sigs would leave a
      // batch-batch pair as two distinct rows with swapped sig columns
      .withColumn("dist", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("dist") <= maxDist)
      .select(least(col("pa"), col("pb")).as("doc_a"),
        greatest(col("pa"), col("pb")).as("doc_b"), col("dist"))
      .distinct()
  }

  /** Canonical-document selection: one survivor per exact-duplicate text
    * group, preferring the highest quality score and then the smallest
    * id — the keep-best completion of the dedup pipeline (real pipelines
    * keep the best copy, not an arbitrary one). TWO-PHASE, never a
    * window: `groupBy(text).agg(max_by(…), count)` partial-aggregates
    * map-side, so a hyper-duplicated document (the exact regime this
    * operator exists for — millions of copies of one boilerplate page)
    * combines down to one row per map task BEFORE the shuffle instead
    * of landing every copy on one reducer, the same hot-key shape the
    * d16/c38 two-phase rewrite removed. The argmax key is the
    * (quality, −doc_id) struct, reproducing the old quality-desc /
    * id-asc window order bit-for-bit (doc_id is unique, so the order is
    * total). The group key is md5(text) — the output carries no text,
    * so only digests cross the shuffle (the [[exact]]/d26 posture). */
  def canonical(documents: DataFrame): DataFrame =
    documents
      .withColumn("_toks", tokens(col("text")))
      .select(col("doc_id"), md5(col("text").cast("binary")).as("_h"),
        TextOps.qualityScoreCol(col("text"), col("_toks")).as("quality_score"))
      .groupBy(col("_h"))
      .agg(
        max_by(struct(col("doc_id"), col("quality_score")),
          struct(col("quality_score"), negate(col("doc_id")))).as("_w"),
        count(lit(1)).as("dup_count"))
      .select(col("_w.doc_id").as("doc_id"),
        col("_w.quality_score").as("quality_score"), col("dup_count"))

  /** Distributed connected components over an (a, b) edge list — the
    * clustering stage that turns near-dup PAIRS into dedup GROUPS (keep
    * one doc per component). Min-label propagation with pointer jumping
    * (label-of-label), so convergence is O(log diameter) rounds instead
    * of O(diameter) — a 60-deep chain resolves in ~6 rounds. Each round
    * is two shuffled joins + one aggregation, all on the (small relative
    * to the corpus) edge/label sets; lineage is truncated per round with
    * localCheckpoint so plans don't grow exponentially.
    *
    * Returns (n, cluster_id) for every node appearing in an edge, where
    * cluster_id = the smallest node id in the component (deterministic,
    * engine-independent — a recursive SQL query computes the same ids).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
                          maxDriverEdges: Long = -1L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // Fast-path bound derived from the ACTUAL driver heap, not a fixed
    // constant. A collected edge's PEAK footprint is several hundred
    // bytes, not sizeof(2 longs): the collect's Array[Row] (boxed values)
    // is still reachable while the tuple array builds, and union-find
    // adds boxed-Long map entries per node — budget ~400 B/edge against
    // ~5% of maxMemory (heap/8000 ≈ 1M edges on 8 GiB), with an absolute
    // 8M cap so a huge-heap driver never volunteers for a graph the
    // distributed loop should own. Callers can still pin the bound
    // (tests pass 0 to force the distributed loop).
    val driverBound =
      if (maxDriverEdges >= 0L) maxDriverEdges
      else math.min(Runtime.getRuntime.maxMemory() / 8000L, 8000000L)
    // persist the EDGE LIST itself (often the output of an expensive pair
    // generation) so the size probe, the driver fast path and the
    // distributed loop all read the one materialization
    val e = edges.select(col("a"), col("b")).persist()
    // The near-dup pair graph is a tiny DERIVED artifact (pairs, not the
    // corpus). Below the bound, component resolution runs driver-side:
    // one collect of the edge list + linear union-find beats rounds of
    // distributed iteration whose cost is pure stage-scheduling overhead
    // (the same small-graph fast path GraphFrames takes). The pointer-
    // jumping loop below remains the path for genuinely large graphs.
    val nEdges = e.count()
    val log = org.slf4j.LoggerFactory.getLogger("graft.Dedup")
    log.info(s"connectedComponents: $nEdges edges, driver fast-path bound " +
      s"$driverBound -> ${if (nEdges <= driverBound) "driver union-find"
        else "distributed pointer-jumping"} path")
    if (nEdges <= driverBound) {
      val es = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      e.unpersist()
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = { // iterative: stack-safe on long chains
        var r = x
        while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (x, y) =>
        val (rx, ry) = (find(x), find(y))
        if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
      }
      val roots = parent.keys.map(k => k -> find(k)).toMap
      val minOfRoot = roots.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
      val sess = edges.sparkSession
      import sess.implicits._
      return roots.toSeq.map { case (k, r) => (k, minOfRoot(r)) }
        .toDF("n", "cluster_id")
    }
    val bidir = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val lab0 = bidir.groupBy(col("a").as("n"))
      .agg(min(col("b")).as("nb"))
      .select(col("n"), least(col("n"), col("nb")).as("lab"))
      .localCheckpoint()
    // labels only ever DECREASE, so the (exact decimal) label sum is a
    // strictly monotone progress measure: unchanged sum ⇔ fixpoint. One
    // scalar action per round on the checkpointed labels, instead of an
    // old-vs-new comparison join.
    def labSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("lab").cast(DecimalType(38, 0)))).head.getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO) // empty edge set
    var prevSum = labSum(lab0)
    def converged(next: DataFrame): Boolean = {
      val s = labSum(next)
      val same = s.compareTo(prevSum) == 0
      prevSum = s
      same
    }
    val lab = Similarity.iterate(lab0, maxIter, converged) { (lab, _) =>
      // candidate labels: my own, the best through one edge hop, and the
      // label of my label (pointer jump — doubles propagation distance);
      // one union + one shuffled min-aggregate per round
      val viaEdge = bidir
        .join(lab.select(col("n").as("bn"), col("lab").as("blab")), col("b") === col("bn"))
        .select(col("a").as("n"), col("blab").as("lab"))
      val viaJump = lab.select(col("n").as("jn"), col("lab").as("jkey"))
        .join(lab.select(col("n").as("jkey2"), col("lab").as("jlab")),
          col("jkey") === col("jkey2"))
        .select(col("jn").as("n"), col("jlab").as("lab"))
      lab.union(viaEdge).union(viaJump)
        .groupBy(col("n")).agg(min(col("lab")).as("lab"))
    }
    e.unpersist()
    // fixpoint ⇒ labels are constant across every edge ⇒ per-component
    // constant, and the component's min node keeps its own id
    lab.select(col("n"), col("lab").as("cluster_id"))
  }

  /** Near-dup clusters from an EXPLICIT edge list — the pair-source-
    * agnostic core of the semantic-dedup pipeline: every vector gets a
    * cluster id (min vec_id of its component; singletons label
    * themselves). Feed it [[embeddingPairs]] (exact baseline),
    * [[embeddingLshPairs]] (banded-LSH scale path) or any domain edge
    * list (minhash/simhash pairs on doc ids work identically). */
  def duplicateClustersFrom(embeddings: DataFrame, edges: DataFrame,
                            maxIter: Int = 25): DataFrame = {
    val labels = connectedComponents(edges.select(col("a"), col("b")), maxIter)
    embeddings.select(col("vec_id"))
      .join(labels, col("vec_id") === col("n"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
  }

  /** Near-dup clusters over the embedding corpus: cosine pairs (≥
    * threshold) become edges, connected components become clusters. This
    * form wires the EXACT all-pairs generator — the small-scale verify
    * baseline; [[duplicateClustersLsh]] is the same pipeline on the
    * banded-LSH candidate stage (the 100 TB path). */
  def duplicateClusters(embeddings: DataFrame, threshold: Double = 0.35,
                        maxIter: Int = 25): DataFrame =
    duplicateClustersFrom(embeddings,
      embeddingPairs(embeddings, threshold)
        .select(col("id_a").as("a"), col("id_b").as("b")), maxIter)

  /** [[duplicateClusters]] with the banded sign-LSH pair source — the
    * full scale-path pipeline (LSH candidates → exact verify → connected
    * components). Identical output whenever the LSH stage achieves full
    * recall (spec-checked against the exact pipeline; the d9 gate checks
    * it against the recursive-SQL oracle). Banding parameters pass
    * through so a clustered-corpus caller can reach the b = 8..16
    * pruning regime (see [[embeddingLshPairs]]). */
  def duplicateClustersLsh(embeddings: DataFrame, threshold: Double = 0.35,
                           maxIter: Int = 25, numPlanes: Int = 16,
                           bitsPerBand: Int = 1, maxBucket: Int = 0): DataFrame =
    duplicateClustersFrom(embeddings,
      embeddingLshPairs(embeddings, threshold, numPlanes, bitsPerBand, maxBucket)
        .select(col("id_a").as("a"), col("id_b").as("b")), maxIter)

  /** Soft deduplication (the public SoftDeDup idea — reweight instead of
    * remove): every document keeps its tokens, but its SAMPLING weight
    * becomes `1 / |near-dup cluster|`, so each unique content unit
    * contributes one unit of mass to the training mix regardless of how
    * many near-copies exist. This is the expectation of uniform sampling
    * over hard-deduped data without discarding any document — the weight
    * column feeds the existing sampling layer (c20/c22) directly.
    *
    * Pair source: the exact n-gram Jaccard generator (the d4/d10 source,
    * so the c28 oracle replays it verbatim); production corpora swap in
    * [[minhashPairs]]/[[minhashPairsFromSigs]] — the clustering and
    * weighting are pair-source-agnostic. Weight is a raw IEEE double
    * `1.0 / n` (identical division both engines, no rounding boundary).
    * One clustering pass + one TWO-PHASE cluster-size count (map-side
    * combinable `groupBy.count` joined back, the d7/c6 posture — never a
    * cluster-keyed window: the hottest cluster is by definition the
    * hyper-duplicated page, exactly the key a window would funnel
    * through one task; the count join is AQE-splittable). The corpus
    * never self-joins here beyond the pair generator itself. */
  def softDedupWeights(documents: DataFrame, threshold: Double = 0.5): DataFrame = {
    val clusters = duplicateClustersFrom(
      documents.select(col("doc_id").as("vec_id")),
      ngramJaccardPairs(documents, threshold)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    clusters.join(sizes, Seq("cluster_id"))
      .select(col("vec_id").as("doc_id"), col("cluster_id"), col("n_members"),
        (lit(1.0) / col("n_members")).as("weight"))
  }

  /** Incremental maintenance of a persisted near-dup clustering: fold a
    * new batch into an existing `(doc_id, cluster_id)` assignment given
    * only the pairs that TOUCH the batch (any incremental pair source —
    * [[minhashIncremental]], [[simhashIncremental]],
    * [[embeddingLshIncremental]] — produces exactly that set). Old-old
    * pairs cannot appear or change (the corpus did not), so two existing
    * clusters can only merge through a batch-doc bridge — restricting the
    * component recomputation to AFFECTED clusters is lossless:
    *
    *  1. touched docs  = endpoints of `newPairs`
    *  2. affected clusters = clusters owning a touched doc
    *  3. re-cluster the affected subgraph: star edges `(member →
    *     cluster_id)` preserve each old component's connectivity, new
    *     pairs add the bridges; min-label CC relabels the merge
    *  4. untouched clusters pass through WITHOUT being read into the
    *     component loop at all
    *
    * Output: `(doc_id, cluster_id)` over corpus ∪ batch, identical to the
    * full recompute over the union pair graph (spec-asserted). At 100 TB
    * the work is proportional to |new pairs| + |affected members| — the
    * corpus-sized assignment table is touched only by two hash joins
    * (affected-cluster semi-join + anti-join), never by the iterative
    * loop. */
  def clusterMaintenance(assignments: DataFrame, batch: DataFrame,
                         newPairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // r19 (guide §5): materialize the incremental pair set ONCE. It is
    // consumed by THREE independent subtrees (touched → affected-cluster
    // set, the CC edge union, and — through `nodes` — the final output),
    // and each sink action re-derived the whole batch-probe pair
    // generation (banding + bucket-cap + candidate join + Jaccard
    // verify) from scratch: measured 18.8 → ~6 s on the d19 gate. The
    // set is bounded by |batch-touching pairs| — the quantity this
    // incremental API exists to keep small — never the corpus.
    val pairs = newPairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint()
    val touched = pairs.select(col("a").as("doc_id"))
      .union(pairs.select(col("b").as("doc_id"))).distinct()
    // tiny (affected cluster ids); checkpointing it stops the touched
    // semi-join from re-running under BOTH the affected and untouched
    // branches and again at the final union's evaluation
    val affCl = assignments.join(touched, Seq("doc_id"))
      .select(col("cluster_id")).distinct().localCheckpoint()
    val affected = assignments.join(affCl, Seq("cluster_id"))
    val untouched = assignments.join(affCl, Seq("cluster_id"), "left_anti")
    val nodes = affected.select(col("doc_id").as("vec_id"))
      .union(batch.select(col("doc_id").as("vec_id"))).distinct()
    val edges = affected.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("a"), col("cluster_id").as("b"))
      .union(pairs)
    duplicateClustersFrom(nodes, edges, maxIter)
      .select(col("vec_id").as("doc_id"), col("cluster_id"))
      .union(untouched.select(col("doc_id"), col("cluster_id")))
  }

  /** Decimal-guarded cosine threshold filter shared by the exact and LSH
    * pair generators. The raw-double guard short-circuits first —
    * decRound(c,6) >= θ implies c >= θ-5e-7 — so the per-value decimal
    * allocation runs only on the near-threshold sliver, not on every
    * candidate pair (measured 4×); the decimal compare then makes the
    * accept set identical across engines (a raw-double compare flips for
    * pairs within an ulp of θ when engines associate the norm product
    * differently). */
  private def cosAtLeast(va: Column, na: Column, vb: Column, nb: Column,
                         threshold: Double): Column =
    dot(va, vb) / (na * nb) >= threshold - 6e-7 &&
      decRound(dot(va, vb) / (na * nb), 6) >= threshold

  /** Persistable sign-code table for the embedding-LSH family: one row
    * per vector carrying the banding input (the packed `numPlanes`-bit
    * hyperplane sign code) and the verify inputs (double vector + norm).
    * This is the artifact a production pipeline writes once per corpus
    * (e.g. via `Sources.writeBucketed` on vec_id) so each new batch
    * dedups against it incrementally ([[embeddingLshIncremental]])
    * instead of re-scoring the corpus. [[embeddingLshPairs]] derives its
    * banding from the same code column via [[codeBandRows]], so the full
    * recompute and the incremental path share one definition of the
    * bucket key. */
  def embeddingSignCodes(embeddings: DataFrame, numPlanes: Int = 16): DataFrame = {
    require(numPlanes <= 62, "packed sign code must fit a long")
    val planes = Similarity.planesFor(numPlanes)
    val v = embeddings
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val bits = planes.map(p =>
      when(dot(col("v"), Similarity.planeLit(p)) > 0, 1L).otherwise(0L))
    v.withColumn("code",
      bits.zipWithIndex.map { case (b, i) => b * (1L << i) }.reduce(_ + _))
  }

  /** Band + chunk rows for a sign-code table (the LSH bucket key):
    * chunk_j = bits [j·b, (j+1)·b) of the packed code — pure bit ops on
    * the stored code, no dot products. */
  private def codeBandRows(codes: DataFrame, numPlanes: Int,
                           bitsPerBand: Int): DataFrame = {
    val k = numPlanes / bitsPerBand
    val mask = (1L << bitsPerBand) - 1
    codes
      .select(col("vec_id"), col("code"),
        explode(sequence(lit(0), lit(k - 1))).as("band"))
      .withColumn("chunk",
        expr(s"shiftright(code, band * $bitsPerBand)").bitwiseAND(lit(mask)))
  }

  /** Incremental embedding near-dup of a NEW BATCH against a persisted
    * corpus sign-code table ([[embeddingSignCodes]]): returns exactly the
    * [[embeddingLshPairs]] result of `corpus ∪ batch` RESTRICTED to pairs
    * touching the batch (batch-vs-corpus and batch-vs-batch;
    * corpus-internal pairs were found when the corpus was built). Vec ids
    * must be globally unique across corpus and batch.
    *
    * Scale shape — the reason this API exists: the corpus is never
    * re-scored and NEVER self-joined. Its stored codes are band-expanded
    * (a pure bit-op projection) and probed by the batch's banded rows
    * only, so the candidate join is |batch bands| × collisions,
    * independent of corpus²; with a small batch the probe side
    * broadcasts and the corpus code scan is never shuffled at all. Pair
    * uniqueness reuses the first-shared-band mask (b = 1, uncapped —
    * see [[embeddingLshPairs]]), with batch-batch double emission
    * suppressed by an id-order gate instead of a distinct. The optional
    * bucket cap is evaluated on UNION bucket sizes, matching the full
    * recompute bit-for-bit (DedupSimilaritySpec asserts the equality). */
  def embeddingLshIncremental(batch: DataFrame, corpusCodes: DataFrame,
                              threshold: Double = 0.45, numPlanes: Int = 16,
                              bitsPerBand: Int = 1, maxBucket: Int = 0): DataFrame = {
    require(numPlanes % bitsPerBand == 0, "numPlanes must divide into bands")
    val capped = maxBucket > 0
    val bc = embeddingSignCodes(batch, numPlanes)
    val batchBanded = codeBandRows(bc, numPlanes, bitsPerBand)
    val corpusBanded = codeBandRows(corpusCodes, numPlanes, bitsPerBand)
    // build = union (so batch-batch pairs are found too), probe = batch
    val unionBanded = corpusBanded.withColumn("corp", lit(true))
      .union(batchBanded.withColumn("corp", lit(false)))
    val admitted = if (!capped) unionBanded else {
      // skew guard on UNION bucket sizes — identical accept set to the
      // full-recompute window; aggregation + join back because the
      // per-bucket count table is tiny (see minhashIncremental)
      val sizes = unionBanded.groupBy(col("band"), col("chunk"))
        .agg(count(lit(1)).as("bsz"))
      unionBanded.join(sizes.filter(col("bsz") <= maxBucket), Seq("band", "chunk"))
        .drop("bsz")
    }
    val a = batchBanded.select(col("band"), col("chunk"),
      col("vec_id").as("probe_id"), col("code").as("code_a"))
    val b = admitted.select(col("band").as("band2"), col("chunk").as("chunk2"),
      col("vec_id").as("build_id"), col("code").as("code_b"), col("corp"))
    val bucketEq = col("band") === col("band2") && col("chunk") === col("chunk2") &&
      col("probe_id") =!= col("build_id")
    // batch-batch pairs exit both probes — keep only the smaller id's
    val orderGate = col("corp") || col("probe_id") < col("build_id")
    val pairCols = Seq(least(col("probe_id"), col("build_id")).as("id_a"),
      greatest(col("probe_id"), col("build_id")).as("id_b"))
    val cand = if (bitsPerBand == 1 && !capped) {
      // first-shared-band emission (see embeddingLshPairs): each ordered
      // (probe, build) pair exits the join exactly once, no distinct
      val xor = col("code_a").bitwiseXOR(col("code_b"))
      val lowMask = expr("shiftleft(CAST(1 AS BIGINT), band) - CAST(1 AS BIGINT)")
      a.join(b, bucketEq && orderGate && (xor.bitwiseAND(lowMask) === lowMask))
        .select(pairCols: _*)
    } else {
      a.join(b, bucketEq && orderGate).select(pairCols: _*).distinct()
    }
    // verify with the stored vectors (either side may be corpus or batch)
    val allCodes = corpusCodes.select(col("vec_id"), col("v"), col("nrm"))
      .union(bc.select(col("vec_id"), col("v"), col("nrm")))
    cand
      .join(allCodes.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), "id_a")
      .join(allCodes.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), "id_b")
      .filter(cosAtLeast(col("va"), col("na"), col("vb"), col("nb"), threshold))
      .select(col("id_a"), col("id_b"))
  }

  /** Embedding-cosine near-dup pairs (exact all-pairs baseline — the
    * recall oracle for [[embeddingLshPairs]], which is the scale path). */
  def embeddingPairs(embeddings: DataFrame, threshold: Double = 0.45): DataFrame = {
    // norms are per-vector: compute once before the pair join, so each of
    // the O(n²) candidate pairs only evaluates one dot product
    val v = embeddings
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    v.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
      .join(v.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")),
        col("id_a") < col("id_b"))
      .filter(cosAtLeast(col("va"), col("na"), col("vb"), col("nb"), threshold))
      .select(col("id_a"), col("id_b"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication" — the public method):
    * semantic near-dup pruning whose pair search runs WITHIN k-means
    * clusters only. That cluster restriction is the entire scale story —
    * the quadratic cosine check touches Σ|cluster|² pairs instead of
    * n², and each cluster's pair join is an independent shuffle key, so
    * at 100 TB the work parallelizes per cluster and a cluster cap (k
    * sized so n/k stays bounded) keeps every bucket's quadratic local.
    * Cross-cluster near-dups are deliberately invisible — the documented
    * SemDeDup approximation (the paper's recall knob is k itself).
    *
    * Within a cluster, pairs at decimal-6 cosine ≥ `tau` (the
    * [[embeddingPairs]] accept discipline) connect into components
    * (shared [[connectedComponents]] machinery); each component KEEPS
    * exactly one member — the most central (smallest decimal-6 squared
    * distance to its centroid, vec_id ties), the paper's
    * keep-low-centroid-distance variant made deterministic. Singletons
    * keep themselves. Output (vec_id, cluster, comp_id, keep) — `keep =
    * false` rows are the semantic-dup prune set.
    *
    * Full oracle: the staged k-means seed table replays the clustering
    * (the s6 kmeansCtes), the pair/CC/keep algebra replays relationally
    * (the d6 recursive-reachability shape + a centrality window). */
  def semDedup(embeddings: DataFrame, k: Int = 8, iters: Int = 5,
               tau: Double = 0.45): DataFrame = {
    val asg = Similarity.kmeansAssignment(embeddings, k, iters)
      .localCheckpoint() // feeds the pair join twice + the final labeling
    val a = asg.select(col("cluster").as("cl_a"), col("vec_id").as("a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = asg.select(col("cluster").as("cl_b"), col("vec_id").as("b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pairs = a.join(b, col("cl_a") === col("cl_b") && col("a") < col("b"))
      .filter(cosAtLeast(col("va"), col("na"), col("vb"), col("nb"), tau))
      .select(col("a"), col("b"))
    val labels = connectedComponents(pairs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("comp_id")).orderBy(col("d6"), col("vec_id"))
    asg.select(col("vec_id"), col("cluster"), col("d6"))
      .join(labels, col("vec_id") === col("n"), "left")
      .withColumn("comp_id", coalesce(col("cluster_id"), col("vec_id")))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("vec_id"), col("cluster"), col("comp_id"), col("keep"))
  }

  /** Banded sign-LSH near-dup pairs over the embedding corpus — the
    * sub-quadratic candidate stage for [[embeddingPairs]]: `numPlanes`
    * seeded hyperplane sign bits per vector, grouped into bands of
    * `bitsPerBand`; vectors sharing any (band, chunk) bucket become
    * candidates; candidates are verified with the same decimal-guarded
    * exact cosine as the baseline, so output ⊆ exact and equality holds
    * exactly when every true pair shares a bucket.
    *
    * Recall/cost: a pair at cosine c agrees per plane with
    * p = 1 − acos(c)/π, so P(missed) = (1 − p^b)^k over k = planes/b
    * bands. Defaults (b=1, k=16) give miss ≈ 5e-8 at c = 0.45 — chosen
    * because the synthetic corpus is ISOTROPIC and its true pairs sit just
    * above the 0.45 threshold (p ≈ 0.65), where 1-bit bands are the only
    * banding with full recall; the filter then prunes little, and the
    * exact baseline is equally good at this θ. On a real near-dup corpus
    * (clustered embeddings, c ≥ 0.8 ⇒ p ≥ 0.8) set b = 8..16: each band
    * then keeps ~2^-b of random pairs per band and the candidate join
    * touches a vanishing corpus fraction — that regime, not θ=0.45
    * isotropic, is what the banding exists for.
    *
    * Bucket cap semantics: `maxBucket` ≤ 0 (the default) disables the
    * cap. A cap is a SKEW guard for the b ≥ 8 regime, where buckets are
    * ~corpus/2^b and only a degenerate direction (all-identical vectors)
    * overflows; at b = 1 every bucket holds ~half the corpus by
    * construction, so any finite cap would silently drop EVERY banded
    * row past ~2·cap vectors and the operator would return an empty
    * result instead of an error — the cap is therefore opt-in, not a
    * default. Capping also forfeits the first-shared-band fast path
    * (below): a capped bucket removes a shared band from the join but
    * not from the xor codes, so the mask test would skip pairs whose
    * first shared band was capped — with a cap, uniqueness falls back
    * to the distinct, which emits on ANY surviving shared band.
    *
    * Plan shape (the part that must survive 100×): the banding table is
    * SKINNY (id, band, chunk, code), staged once (it feeds both join
    * sides) — vectors are not replicated; one shuffle on (band, chunk)
    * for the bucket self-join; pair uniqueness by first-shared-band
    * emission (1-bit bands, uncapped) or an explicit distinct; then two
    * id-keyed join-backs to fetch vectors for the verify. */
  def embeddingLshPairs(embeddings: DataFrame, threshold: Double = 0.45,
                        numPlanes: Int = 16, bitsPerBand: Int = 1,
                        maxBucket: Int = 0): DataFrame = {
    require(numPlanes % bitsPerBand == 0, "numPlanes must divide into bands")
    require(numPlanes <= 62, "packed sign code must fit a long")
    val capped = maxBucket > 0
    // Deliberately NOT staged (unlike the shingle table in
    // ngramJaccardPairs): the banding is k fused codegen dot products
    // per row — far cheaper than the tokenize→shingle→hash pipeline —
    // and a localCheckpoint here pins the probe join to the scan's few
    // input partitions while blocking exchange reuse (measured 2× SLOWER
    // at sf0.1). Recomputing the cheap projection per join side is the
    // right trade.
    val v = embeddingSignCodes(embeddings, numPlanes)
    val banded = codeBandRows(v, numPlanes, bitsPerBand)
    // optional skew guard (see Scaladoc: opt-in, b ≥ 8 regime only) —
    // the shared two-phase capBuckets, same as every other LSH path:
    // the buckets being dropped are exactly the hottest keys, so a
    // bucket-keyed count window would funnel each onto one reducer
    // just to count what it's about to discard
    val guarded = if (!capped) banded
                  else capBuckets(banded, Seq("band", "chunk"), maxBucket)
    // Explicit bucket-key repartition: exactly the exchange the shuffled
    // self-join needs (so free at scale), and it pins the probe's
    // parallelism to shuffle.partitions regardless of input file layout —
    // without it, AQE broadcasts the small banded side and the 16M-pair
    // probe runs at the parquet scan's partition count (1 for a small
    // file: measured 2.4× on d8 at sf0.1). Both branches repartition:
    // capBuckets' count shuffle feeds an aggregate, not the self-join's
    // exchange, so the capped branch needs the explicit exchange too.
    val sized = guarded.repartition(col("band"), col("chunk"))
    val a = sized.select(col("band"), col("chunk"), col("vec_id").as("id_a"),
      col("code").as("code_a"))
    val b = sized.select(col("band").as("band2"), col("chunk").as("chunk2"),
      col("vec_id").as("id_b"), col("code").as("code_b"))
    val bucketEq = col("band") === col("band2") && col("chunk") === col("chunk2") &&
      col("id_a") < col("id_b")
    // Pair uniqueness: a qualifying pair shares ≥1 band, often many. For
    // UNCAPPED 1-bit bands the pair is emitted ONLY at its FIRST shared
    // band — band j qualifies iff all xor bits below j are 1 (bit j
    // itself is 0 by the bucket equality) — a pure bit-mask residual on
    // the packed codes, so every pair exits the join exactly once and
    // the distinct disappears (that distinct re-shuffled every probed
    // candidate row — the dominant cost of the whole query, measured
    // ~2.5×). Wider bands can't compose the mask test per-band, and a
    // cap invalidates it (Scaladoc above) — both keep the distinct.
    val cand = (if (bitsPerBand == 1 && !capped) {
      val xor = col("code_a").bitwiseXOR(col("code_b"))
      // SQL-level shiftleft: the Scala builder only takes a literal shift
      val lowMask = expr("shiftleft(CAST(1 AS BIGINT), band) - CAST(1 AS BIGINT)")
      a.join(b, bucketEq && (xor.bitwiseAND(lowMask) === lowMask))
        .select(col("id_a"), col("id_b"))
    } else {
      a.join(b, bucketEq).select(col("id_a"), col("id_b")).distinct()
    })
    cand
      .join(v.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(v.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .filter(cosAtLeast(col("va"), col("na"), col("vb"), col("nb"), threshold))
      .select(col("id_a"), col("id_b"))
  }

  /** Repeated n-gram SPAN detection — substring-level dedup, the layer a
    * training pipeline runs besides whole/near-document dedup (public
    * result: Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", 2022 — repeated spans are memorized
    * disproportionately). Every `w`-token window of every document is
    * shingled; windows whose shingle occurs more than once in the corpus
    * (cross- OR within-doc — boilerplate repeats count) mark duplicate
    * positions, and overlapping-or-adjacent duplicate windows merge into
    * maximal spans (the q42 interval-island algebra on token positions).
    * Output: one row per maximal duplicated span, 1-based token
    * positions, `end_pos` inclusive of the last window's tail.
    *
    * Scale shape: a map-side-combined `groupBy(shingle).count` (each
    * task emits one row per distinct shingle it saw — hot boilerplate
    * shingles cost one partial row per task, not one reducer holding
    * every occurrence), a semi-join back on the shingle (AQE skew-split
    * applies), and one doc-keyed sort for the island merge — all linear
    * in total token count with bounded reducers. At 100 TB shuffle
    * xxhash64(shingle) instead of the string (8 bytes vs ~10·w, same
    * plan, collision odds 2^-64 per pair — the standard trade):
    * `hashKeys = true` (the DEFAULT — production posture) rewrites the
    * key column to the 64-bit hash before the count + semi-join, so
    * only 8-byte keys ever cross the shuffle; the OUTPUT (doc-keyed
    * span positions) is identical modulo astronomically-unlikely hash
    * collisions, which is why the string-replaying oracle still gates
    * the hashed path (HashedSpanSpec pins the on/off equality). */
  /** (doc_id, p, sh): every w-token window of every document, 1-based
    * start position, shingle = space-joined window tokens. */
  private[operators] def windowOccurrences(documents: DataFrame, w: Int): DataFrame =
    documents
      .withColumn("toks", tokens(col("text")))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= w)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), col("n") - (w - 1)),
        i => concat_ws(" ", slice(col("toks"), i, lit(w))))))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("sh"))

  /** Swap the string shingle key for its xxhash64 when `hashKeys` —
    * the 100 TB shuffle-byte posture shared by the span tiers. */
  private def keyedOcc(occ: DataFrame, hashKeys: Boolean): DataFrame =
    if (hashKeys) occ.withColumn("sh", xxhash64(col("sh"))) else occ

  /** The span tiers' window source: hashed tier fuses tokenize →
    * window → hash into ONE native pass per document
    * (`graft_token_window_hashes` — r19 optimization round, the d20
    * char-tier fusion lifted to the token tier): the algebra form
    * allocated a sliced array + a joined w-token UTF8String PER TOKEN
    * of the corpus, then hashed each post-explode; the native
    * expression writes the document's tokens into one reusable buffer
    * and hashes each window's byte range in place, emitting the
    * IDENTICAL xxhash64 longs (HashedSpanSpec pins native == algebra).
    * The string tier ([[windowOccurrences]] + [[keyedOcc]]) stays the
    * executable spec and the hashKeys=false path. */
  private def hashedOrStringOcc(documents: DataFrame, w: Int,
                                hashKeys: Boolean): DataFrame =
    if (hashKeys) documents
      .withColumn("toks", tokens(col("text")))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= w)
      .select(col("doc_id"), posexplode(call_function(
        "graft_token_window_hashes", col("toks"), lit(w))))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("sh"))
    else windowOccurrences(documents, w)

  /** Merge duplicate window positions (doc_id, p) into maximal spans —
    * windows at p and p' overlap-or-touch iff p' ≤ p + w. */
  private def mergeIslands(dup: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    dup
      .withColumn("brk",
        when(col("p") > lag(col("p"), 1).over(byDoc) + w, 1).otherwise(0))
      .withColumn("g", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("p")).as("start_pos"),
        (max(col("p")) + (w - 1)).as("end_pos"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), (col("g") + 1).cast("int").as("span_id"),
        col("start_pos").cast("int").as("start_pos"),
        col("end_pos").cast("int").as("end_pos"),
        col("n_windows"),
        (col("end_pos") - col("start_pos") + 1).cast("int").as("n_span_tokens"))
  }

  /** Mark window positions whose shingle occurs more than once in the
    * corpus. Deliberately TWO-PHASE — `groupBy(sh).count` then a
    * left-semi join back on the shingle — rather than the superficially
    * cheaper `count(1) OVER (PARTITION BY sh)`: window functions never
    * partial-aggregate, so on boilerplate-heavy corpora (a cookie-banner
    * shingle repeated billions of times) the window form lands EVERY
    * occurrence of a hot shingle on one task — a straggler/OOM key at
    * scale. The two-phase form map-side-combines the count (each task
    * emits one row per distinct shingle it saw), and the join back is a
    * real join so AQE's skew handling can split hot probe partitions.
    * Same result, bounded reducers. */
  private def dupWindowPositions(occ: DataFrame): DataFrame = {
    val repeated = occ.groupBy(col("sh")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("sh"))
    occ.join(repeated, Seq("sh"), "left_semi")
      .select(col("doc_id"), col("p"))
  }

  def dupSpans(documents: DataFrame, w: Int = 8,
               hashKeys: Boolean = true): DataFrame =
    mergeIslands(dupWindowPositions(
      hashedOrStringOcc(documents, w, hashKeys)), w)

  /** Character-window variant of [[dupSpans]] — catches repeats SHORTER
    * than the token tier's w=8 windows and repeats that cross token
    * boundaries (sub-token suffixes, unsegmented scripts), the coverage
    * Lee et al.'s suffix-array formulation gets from its ≥50-char
    * threshold. Same algebra over 1-based CODEPOINT positions: every
    * w-char substring is a shingle, windows whose exact substring occurs
    * more than once in the corpus mark duplicate positions, and the q42
    * island merge produces maximal spans. Matching is over RAW text (no
    * lowercase/normalize — byte-exact repeats are the memorization
    * signal). The token tier stays the default scale path: char windows
    * emit one ~w-char shingle per CHARACTER (≈5× the token tier's
    * per-token emission at w=8), so run this tier with the same
    * xxhash64-the-shingle swap at 100 TB (the default `hashKeys`) and
    * expect ~w× the token tier's shuffle bytes; the plan is the same
    * two-phase count + semi-join + doc-keyed island sort, linear in
    * corpus size. */
  def dupSpansChars(documents: DataFrame, w: Int = 20,
                    hashKeys: Boolean = true): DataFrame = {
    // hashed tier (the default): the window emission fuses into ONE
    // native pass per document (graft_char_window_hashes — r18
    // optimization round): the algebra form allocated a w-char
    // UTF8String per CHARACTER of the corpus and re-walked the string
    // per substr (O(i) codepoint seek), then hashed each piece
    // separately; the native expression hashes each window's byte
    // range in place and emits the IDENTICAL xxhash64 longs
    // (HashedSpanSpec pins native == algebra). The string tier below
    // stays the executable spec and the hashKeys=false path.
    val occ =
      if (hashKeys) documents
        .withColumn("n", length(col("text")))
        .filter(col("n") >= w)
        .select(col("doc_id"),
          posexplode(call_function("graft_char_window_hashes",
            col("text"), lit(w))))
        .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("sh"))
      else documents
        .withColumn("n", length(col("text")))
        .filter(col("n") >= w)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(1), col("n") - (w - 1)),
          i => col("text").substr(i, lit(w)))))
        .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("sh"))
    mergeIslands(dupWindowPositions(occ), w)
      .withColumnRenamed("n_span_tokens", "n_span_chars")
  }

  /** Persistable shingle-count artifact for incremental span dedup:
    * (sh, cnt, w) over the corpus's windows — the substring-layer
    * analogue of [[minhashSignatures]]/[[simhashSignatures]]. Write it
    * once (bucketed on sh at scale); each ingest batch probes it. The
    * window width rides along so [[dupSpansIncremental]] can refuse an
    * artifact built at a different w (mismatched shingles would never
    * collide and corpus membership would silently stop firing).
    * `hashKeys` (default on, the production posture) keys the artifact
    * by xxhash64(shingle) — 8-byte keys in the persisted table AND in
    * every ingest probe's shuffle; the probe side detects the keying
    * from the artifact's `sh` column TYPE, so a string artifact and a
    * hashed probe can never silently join to empty. */
  def dupSpanShingles(documents: DataFrame, w: Int = 8,
                      hashKeys: Boolean = true): DataFrame =
    hashedOrStringOcc(documents, w, hashKeys)
      .groupBy(col("sh")).agg(count(lit(1)).as("cnt"))
      .withColumn("w", lit(w))

  /** Content-defined chunking over the token stream — the storage-dedup
    * boundary idiom (Muthitacharoen et al., "A Low-Bandwidth Network
    * File System", SOSP 2001: a boundary falls wherever a fingerprint of
    * the last few units ≡ 0 mod a divisor) lifted to corpus dedup: chunk
    * boundaries are a pure function of LOCAL content, so an insertion or
    * edit re-chunks only its own neighborhood while every downstream
    * chunk survives byte-identical — the shift-resistance fixed-size
    * chunking lacks, and the reason CDC is the dataset-versioning /
    * delta-storage dedup default. (LBFS's min/max chunk-length guards
    * are sequential-scan logic, deliberately omitted: the basic
    * divisor-only scheme is the published core and stays fully
    * relational.)
    *
    * Boundary rule: after token position p (p ≥ 4) iff the base-31
    * polynomial of the 4-token window ending at p — each token reduced
    * to `len·961 + ord(first)·31 + ord(last)` — is ≡ 0 (mod `divisor`);
    * a forced boundary ends the document. Expected chunk length ≈
    * `divisor` tokens. Output: one row per chunk with its token span,
    * text, and corpus-wide duplication count (`n_dup` > 1 = the chunk
    * is shared content — the sub-document dedup signal d16 finds via
    * repeated windows, here with storage-shaped chunk identities).
    *
    * Scale shape: per-doc-keyed windows only (positions — the bounded
    * class), one map-side-combinable count over chunk keys, one join
    * back; `hashKeys` (default, the d16 posture) keys that count by
    * xxhash64(chunk) so corpus-wide shuffles move 8-byte keys, never
    * chunk text. */
  /** The per-document chunk table behind the CDC family: (doc_id,
    * chunk_idx, start_p, end_p, n_tokens, chunk_text, ck) — `ck` is the
    * duplication key (xxhash64 of the chunk under `hashKeys`, the 8-byte
    * shuffle posture; the string itself otherwise). */
  private[graft] def chunkTable(documents: DataFrame, divisor: Int,
                                hashKeys: Boolean): DataFrame =
    // r19 (optimization round, guide §2.3/§4): the chunk table is ONE
    // native pass per document (graft_cdc_chunks) — a pure map. The
    // relational form below (chunkTableAlgebra, the executable parity
    // spec: CdcChunkSpec pins fused == algebra) exploded every token,
    // ran three doc-partitioned window passes over the corpus's tokens
    // (two lag fingerprints + a prefix sum — a full sort shuffle of
    // every token) and re-assembled chunk text via groupBy collect_list
    // + array_sort + concat_ws.
    documents
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), posexplode(call_function(
        "graft_cdc_chunks", col("toks"), lit(divisor))))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
        col("col.start_p").as("start_p"), col("col.end_p").as("end_p"),
        col("col.n_tokens").as("n_tokens"),
        col("col.chunk_text").as("chunk_text"))
      .withColumn("ck",
        if (hashKeys) xxhash64(col("chunk_text")) else col("chunk_text"))

  private[graft] def chunkTableAlgebra(documents: DataFrame, divisor: Int,
                                           hashKeys: Boolean): DataFrame = {
    val tok = documents
      .withColumn("toks", tokens(col("text")))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= 1)
      .select(col("doc_id"), col("n"), posexplode(col("toks")))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("p"),
        col("col").as("tok"))
    // token value and window hash in LONG: the ×29791 term overflows
    // int32 on astral-plane codepoints and ANSI mode throws
    val v = length(col("tok")).cast("long") * 961 +
      ascii(col("tok")).cast("long") * 31 +
      ascii(substring(col("tok"), -1, 1)).cast("long")
    val byP = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val withB = tok.withColumn("v", v)
      .withColumn("h", lag(col("v"), 3).over(byP) * 29791 +
        lag(col("v"), 2).over(byP) * 961 +
        lag(col("v"), 1).over(byP) * 31 + col("v"))
      .withColumn("isb", when((col("p") >= 4 &&
        pmod(col("h"), lit(divisor)) === 0) || col("p") === col("n"), 1)
        .otherwise(0))
    val withIdx = withB.withColumn("chunk_idx",
      coalesce(sum(col("isb"))
        .over(byP.rowsBetween(Window.unboundedPreceding, -1)), lit(0))
        .cast("int"))
    withIdx.groupBy(col("doc_id"), col("chunk_idx"))
      .agg(min(col("p")).as("start_p"), max(col("p")).as("end_p"),
        count(lit(1)).cast("int").as("n_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          s => s.getField("tok"))).as("chunk_text"))
      .withColumn("ck",
        if (hashKeys) xxhash64(col("chunk_text")) else col("chunk_text"))
  }

  def cdcChunks(documents: DataFrame, divisor: Int = 16,
                hashKeys: Boolean = true): DataFrame = {
    val chunks = chunkTable(documents, divisor, hashKeys)
    val dup = chunks.groupBy(col("ck")).agg(count(lit(1)).as("n_dup"))
    chunks.join(dup, Seq("ck"))
      .select(col("doc_id"), col("chunk_idx"), col("start_p"), col("end_p"),
        col("n_tokens"), col("chunk_text"), col("n_dup"))
  }

  /** Persistable chunk-count artifact for incremental CDC dedup:
    * (ck, cnt, divisor) over the corpus — the chunk-layer analogue of
    * [[dupSpanShingles]]. The divisor rides along so
    * [[cdcChunksIncremental]] can refuse an artifact built under a
    * different boundary rule (mismatched chunks would never collide and
    * corpus membership would silently stop firing). */
  def cdcChunkCounts(documents: DataFrame, divisor: Int = 16,
                     hashKeys: Boolean = true): DataFrame =
    chunkTable(documents, divisor, hashKeys)
      .groupBy(col("ck")).agg(count(lit(1)).as("cnt"))
      .withColumn("divisor", lit(divisor))

  /** Incremental CDC-chunk dedup of a new batch against a persisted
    * corpus chunk artifact — the d12/d17 ingest posture at the chunk
    * layer: every batch chunk carries its within-batch duplication
    * count and a corpus-membership flag; the corpus side is a key
    * probe, never re-chunked. Probe keying FOLLOWS the artifact (a
    * hashed artifact hashes the batch chunks identically), so the two
    * can never silently join to empty on mismatched key forms. */
  def cdcChunksIncremental(batch: DataFrame, corpusChunks: DataFrame,
                           divisor: Int = 16): DataFrame = {
    if (corpusChunks.columns.contains("divisor"))
      corpusChunks.select(col("divisor")).head(1).foreach { r =>
        require(r.getInt(0) == divisor,
          s"corpus chunk artifact was built with divisor=${r.getInt(0)}, probe uses $divisor")
      }
    val hashed = corpusChunks.schema("ck").dataType ==
      org.apache.spark.sql.types.LongType
    val chunks = chunkTable(batch, divisor, hashed)
    val batchCnt = chunks.groupBy(col("ck"))
      .agg(count(lit(1)).cast("int").as("n_dup_batch"))
    chunks.join(batchCnt, Seq("ck"))
      .join(corpusChunks.select(col("ck")).distinct()
        .withColumn("in_corpus", lit(1)), Seq("ck"), "left")
      .select(col("doc_id"), col("chunk_idx"), col("start_p"), col("end_p"),
        col("n_tokens"), col("chunk_text"), col("n_dup_batch"),
        coalesce(col("in_corpus"), lit(0)).as("in_corpus"))
  }

  /** Incremental repeated-span detection of a new batch against a
    * persisted corpus shingle table: a batch window is duplicated if its
    * shingle repeats WITHIN the batch or exists ANYWHERE in the corpus —
    * exactly [[dupSpans]] over corpus ∪ batch restricted to batch
    * documents (spec-asserted), without ever re-windowing the corpus.
    * Plan: batch windows left-join the (sh, cnt) key table on the
    * shingle + the same count-over-shingle within the batch; the corpus
    * side is a key scan, never re-derived — the d12 ingest posture. */
  def dupSpansIncremental(batch: DataFrame, corpusShingles: DataFrame,
                          w: Int = 8): DataFrame = {
    // artifact-compatibility gate: a limit-1 probe (cheap, and the w
    // column is constant by construction) — NOT a silent empty join
    if (corpusShingles.columns.contains("w"))
      corpusShingles.select(col("w")).head(1).foreach { r =>
        require(r.getInt(0) == w,
          s"corpus shingle artifact was built with w=${r.getInt(0)}, probe uses w=$w")
      }
    // probe keying FOLLOWS the artifact: a hashed artifact (LongType sh,
    // the production default) hashes the batch windows identically; a
    // string artifact keeps strings — the two can never silently join
    // to empty on mismatched key forms
    val hashed = corpusShingles.schema("sh").dataType ==
      org.apache.spark.sql.types.LongType
    // a batch window is duplicated iff its shingle repeats WITHIN the
    // batch or exists in the corpus artifact — the dup-shingle set is
    // the union of the two key tables, and the semi-join back keeps the
    // marking two-phase (see dupWindowPositions' skew rationale; the
    // within-batch count is map-side combined, never a window)
    val occ = hashedOrStringOcc(batch, w, hashed)
    val dupSh = occ.groupBy(col("sh")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("sh"))
      .union(corpusShingles.select(col("sh")))
    val dup = occ.join(dupSh, Seq("sh"), "left_semi")
      .select(col("doc_id"), col("p"))
    mergeIslands(dup, w)
  }

  /** The remediation half of substring dedup: rewrite each document with
    * every [[dupSpans]] token dropped (the aggressive variant of Lee et
    * al.'s removal — deterministic, no occurrence election needed; pair
    * with [[dupSpansIncremental]] at ingest so only NEW repeats of
    * already-stored content get cut). Every document survives — span-free
    * docs pass through verbatim (token-normalized: single-space joined).
    * Plan: the span table is doc-keyed and tiny relative to the corpus;
    * tokens anti-join it on (doc_id, containment) and re-assemble in one
    * doc-keyed aggregate — one exchange for the join side beyond the
    * span derivation itself. */
  def scrubDupSpans(documents: DataFrame, w: Int = 8): DataFrame = {
    val spans = dupSpans(documents, w)
      .select(col("doc_id").as("s_doc"), col("start_pos"), col("end_pos"))
    val toks = documents
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("tok"))
    val kept = toks.join(spans,
        toks("doc_id") === spans("s_doc") &&
          col("p").between(col("start_pos"), col("end_pos")), "left_anti")
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

  /** MinHash-estimator calibration — the dedup-quality monitor (s16's
    * posture at the dedup layer): for every LSH candidate pair, the
    * textbook signature estimate `matches/k` (the fraction of the 64
    * MinHash components that agree — an unbiased Jaccard estimator with
    * σ = √(J(1−J)/64) ≈ 0.06) against the EXACT shingle-set Jaccard the
    * d2 verify step computes anyway, plus the absolute error. Run this
    * on a sample before trusting a threshold moved closer to the LSH
    * banding's S-curve edge. Every number is a single IEEE division or
    * subtraction of exact integers (matches/64 is even dyadic) — no
    * rounding discipline needed. Candidate generation is byte-identical
    * to [[minhashPairsFromSigs]] (same banding, same bucket cap), so
    * the evaluated population IS the population dedup actually sees. */
  def minhashEvalFromSigs(sigs: DataFrame, maxBucket: Int = 1000): DataFrame = {
    // the SAME capBuckets call as minhashPairsFromSigs — the admitted
    // set (and so the evaluated population) is identical by definition
    val sized = capBuckets(bandedSigs(sigs), Seq("band", "bh"), maxBucket)
    val cand = sized.select(col("band"), col("bh"), col("doc_id").as("doc_a"))
      .join(sized.select(col("band").as("band2"), col("bh").as("bh2"),
          col("doc_id").as("doc_b")),
        col("band") === col("band2") && col("bh") === col("bh2") &&
          col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("hsh").as("sh_a"),
        col("shn").as("na"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("hsh").as("sh_b"),
        col("shn").as("nb"), col("sig").as("sig_b")), "doc_b")
      .withColumn("inter",
        explode(array(call_function("graft_intersect_n", col("sh_a"), col("sh_b")))))
      .withColumn("exact_jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .withColumn("matches", size(filter(
        zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b)))
      .withColumn("est_jaccard", col("matches").cast("double") / lit(64.0))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        col("exact_jaccard"),
        abs(col("est_jaccard") - col("exact_jaccard")).as("abs_err"))
  }

  /** [[minhashEvalFromSigs]] from raw documents (one shingle+sign pass,
    * shared via the signature table). */
  def minhashEval(documents: DataFrame, maxBucket: Int = 1000): DataFrame =
    minhashEvalFromSigs(minhashSignatures(documents).localCheckpoint(), maxBucket)

  /** b-BIT minhash (Li & König, WWW 2010) at b = 1 — the STORAGE tier
    * of the minhash family: keep only the lowest bit of each of the 64
    * minhash components, packed into two 32-bit words (8 bytes per doc
    * vs 512 for the full signature — the 64× state shrink that makes a
    * corpus-wide signature table cache-resident at 100 TB). The
    * estimator is the paper's b=1 identity: a bit COLLIDES with
    * probability ½(1+J) (components agree with probability J; disagree
    * and still share the low bit with probability ½), so
    * Ĵ = 2·C − 1 with C = matched/64 — negative raw estimates for
    * dissimilar pairs are the estimator being honest about its noise
    * floor, reported, not clamped. Matching is two XOR+popcounts on
    * the packed words — no array walk at compare time; the packing
    * itself is a one-time Horner fold per half (32 bits per word: an
    * ANSI-safe domain, a 64-bit Horner would overflow the sign bit).
    * Candidates come from the SAME capped LSH banding as d2/d27, so
    * the evaluated population is identical by construction; exact
    * Jaccard rides along as the audit. Packing order is irrelevant to
    * the XOR count as long as both sides share it — and the oracle
    * verifies the RESULT from the staged unpacked signatures, so a
    * packing bug cannot hide. */
  def bbitEvalFromSigs(sigs: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val sized = capBuckets(bandedSigs(sigs), Seq("band", "bh"), maxBucket)
    val cand = sized.select(col("band"), col("bh"), col("doc_id").as("doc_a"))
      .join(sized.select(col("band").as("band2"), col("bh").as("bh2"),
          col("doc_id").as("doc_b")),
        col("band") === col("band2") && col("bh") === col("bh2") &&
          col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    def packHalf(off: Int): Column =
      aggregate(sequence(lit(off + 31), lit(off), lit(-1)), lit(0L),
        (acc, i) => acc * 2 + element_at(col("sig"), i + lit(1)).bitwiseAND(lit(1L)))
    val packed = sigs.select(col("doc_id"), col("hsh"), col("shn"),
      packHalf(0).as("w0"), packHalf(32).as("w1")).localCheckpoint()
    cand
      .join(packed.select(col("doc_id").as("doc_a"), col("hsh").as("sh_a"),
        col("shn").as("na"), col("w0").as("w0a"), col("w1").as("w1a")), "doc_a")
      .join(packed.select(col("doc_id").as("doc_b"), col("hsh").as("sh_b"),
        col("shn").as("nb"), col("w0").as("w0b"), col("w1").as("w1b")), "doc_b")
      .withColumn("inter",
        explode(array(call_function("graft_intersect_n", col("sh_a"), col("sh_b")))))
      .withColumn("matched", lit(64)
        - bit_count(col("w0a").bitwiseXOR(col("w0b")))
        - bit_count(col("w1a").bitwiseXOR(col("w1b"))))
      .withColumn("est_1bit", (col("matched") * 2 - 64).cast("double") / 64)
      .withColumn("exact_jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .select(col("doc_a"), col("doc_b"), col("est_1bit"), col("exact_jaccard"))
  }

  /** [[bbitEvalFromSigs]] from raw documents. */
  def bbitMinhashEval(documents: DataFrame, maxBucket: Int = 1000): DataFrame =
    bbitEvalFromSigs(minhashSignatures(documents).localCheckpoint(), maxBucket)

  /** Dedup-threshold ROI SWEEP — the tuning table a pipeline reads
    * BEFORE committing to a near-dup threshold (d30 tells you how the
    * LSH bands behave; this tells you what each THRESHOLD would do to
    * the corpus): for each candidate threshold, the pair count and the
    * number of documents touched by at least one passing pair — the
    * aggressive-vs-conservative curve whose knee picks the production
    * setting. One candidate+estimate pass (the same capped LSH
    * machinery as d2/d27), then a broadcast 5-row threshold join with
    * INTEGER cutoffs (matches ≥ ⌈64·t⌉ — the float threshold never
    * meets a float estimate, so the compare is engine-exact). Work is
    * |candidates|×|thresholds| skinny rows; nothing re-shingles. */
  def thresholdSweep(sigs: DataFrame, maxBucket: Int = 1000,
                     thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)): DataFrame = {
    val sized = capBuckets(bandedSigs(sigs), Seq("band", "bh"), maxBucket)
    val cand = sized.select(col("band"), col("bh"), col("doc_id").as("doc_a"))
      .join(sized.select(col("band").as("band2"), col("bh").as("bh2"),
          col("doc_id").as("doc_b")),
        col("band") === col("band2") && col("bh") === col("bh2") &&
          col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val matched = cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("matches", size(filter(
        zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b)))
      .select(col("doc_a"), col("doc_b"), col("matches"))
      .localCheckpoint()
    val th = thresholds.map(t => (t, math.ceil(64 * t).toInt))
    val thDf = matched.sparkSession.createDataFrame(th)
      .toDF("threshold", "min_matches")
    val passing = matched.join(broadcast(thDf),
      col("matches") >= col("min_matches"))
    val pairCounts = passing.groupBy(col("threshold"), col("min_matches"))
      .agg(count(lit(1)).as("n_pairs"))
    val docCounts = passing
      .select(col("threshold"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy(col("threshold"))
      .agg(countDistinct(col("d")).as("n_docs"))
    // LEFT from the threshold table: a threshold nothing passes is a 0
    // row in the report, not a missing one
    thDf.join(pairCounts, Seq("threshold", "min_matches"), "left")
      .join(docCounts, Seq("threshold"), "left")
      .select(col("threshold"), col("min_matches"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Blocked fuzzy string join — entity resolution's workhorse: match a
    * DIRTY feed (typo'd names) back to a clean catalog by edit
    * distance, never O(n·m). Candidates come from TWO REDUNDANT
    * BLOCKINGS — an equi-join on the last whitespace token and one on
    * the first — unioned and deduplicated BEFORE any DP runs (the
    * production multi-blocking idiom, the d14 multi-signal shape at
    * the entity layer); `levenshtein` verifies within the union, and
    * one block-bounded window picks the best match per dirty row (min
    * distance, then min catalog id). Each blocking is tagged so first
    * tokens can never equi-match last tokens. RECALL CONTRACT, stated
    * not hidden: a pair is invisible only when edits touch BOTH the
    * first and last tokens (single-token names: that one token) — one
    * redundant blocking shrank the miss surface from any-one-token to
    * all-of-them; add a phonetic or q-gram pass for more.
    *
    * Cost control — measured, in order of what actually mattered. The
    * first cut paid 41 s at sf0.1: the catalog holds 20 000 rows over
    * only 64 DISTINCT names, so the token-blocked row-level join
    * multiplied every duplicate against every duplicate (40M
    * levenshtein calls on ~20 join keys — a few-hot-keys join no
    * banding can save). The fix that matters is structural: ALL fuzzy
    * work runs over DISTINCT NAMES (fuzzy cost scales with the
    * VOCABULARY, not the catalog — real feeds repeat entities
    * endlessly), with each catalog name carrying its minimum id so the
    * roll-up preserves the (lev, cat_id) argmin bit-for-bit; rows
    * rejoin by exact name afterwards. On top of that, three LOSSLESS
    * prunes (each only removes candidates the `lev ≤ maxDist` filter
    * would reject — the d4 banding argument): a width-4 length band
    * with ±1 multi-probe (lev ≤ maxDist < 4 ⇒ same-or-adjacent band),
    * the |length diff| ≤ maxDist lower bound before any DP, and the
    * THRESHOLDED levenshtein (O(len·maxDist) early-exit DP). 41 s →
    * 0.77 s at sf0.1, result identical (the oracle did not change). */
  def fuzzyNameJoin(dirty: DataFrame, catalog: DataFrame,
                    maxDist: Int = 2): DataFrame = {
    require(maxDist < 4, "the width-4 length band assumes maxDist <= 3")
    // the two redundant blockings, tagged so they cannot cross-match
    def blockKeys(c: Column): Column = array(
      struct(lit(0).as("tag"), element_at(split(c, " "), -1).as("blk")),
      struct(lit(1).as("tag"), element_at(split(c, " "), 1).as("blk")))
    def band(c: Column): Column = (length(c).cast("int") / 4).cast("int")
    val dNames = dirty.select(col("name").as("dname")).distinct()
      .withColumn("kb", explode(blockKeys(col("dname"))))
      .select(col("dname"), col("kb.tag").as("tag"), col("kb.blk").as("blk"))
      .withColumn("band", explode(array(
        band(col("dname")) - 1, band(col("dname")), band(col("dname")) + 1)))
    val cNames = catalog.groupBy(col("name").as("cname"))
      .agg(min(col("cat_id")).as("rep_id"))
      .withColumn("kb", explode(blockKeys(col("cname"))))
      .select(col("cname"), col("rep_id"),
        col("kb.tag").as("tag"), col("kb.blk").as("blk"))
      .withColumn("band", band(col("cname")))
    // candidate UNION: a pair found by both blockings must run the DP
    // once, not twice — dedup on the name pair before any levenshtein
    val best = dNames.join(cNames, Seq("tag", "blk", "band"))
      .filter(abs(length(col("dname")) - length(col("cname"))) <= maxDist)
      .select(col("dname"), col("cname"), col("rep_id")).distinct()
      .withColumn("lev", levenshtein(col("dname"), col("cname"), maxDist))
      .filter(col("lev") >= 0 && col("lev") <= maxDist)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("dname")).orderBy(col("lev"), col("rep_id"))))
      .filter(col("rk") === 1)
      .select(col("dname"), col("cname"), col("rep_id"), col("lev"))
    dirty.select(col("dirty_id"), col("name").as("dname"))
      .join(best, "dname")
      .select(col("dirty_id"), col("dname").as("dirty_name"),
        col("rep_id").as("matched_id"), col("cname").as("matched_name"),
        col("lev").cast("int").as("lev"))
  }

  /** Snapshot diff — recrawl accounting, the first question every
    * periodic-crawl pipeline asks before any dedup runs: which pages
    * are `added` / `deleted` / `changed` / `unchanged` between two
    * corpus snapshots. Each side collapses to (doc_id, content hash)
    * in one map pass, and the full-outer join ships 32-char digests
    * keyed on doc_id — document text NEVER crosses the shuffle, so the
    * exchange is O(corpus keys), not O(corpus bytes); at 100 TB both
    * snapshot scans prune to the two columns and the join key is the
    * natural bucketing key of any doc store (bucket both snapshots on
    * doc_id and the join is co-located, zero shuffle). md5 is the
    * hash because both engines compute identical lowercase-hex UTF-8
    * digests — swap xxhash64 for cheaper hashing where cross-engine
    * replay is not needed (collision odds are irrelevant here either
    * way: a false "unchanged" needs a same-id collision). */
  def snapshotDiff(prev: DataFrame, next: DataFrame): DataFrame = {
    val a = prev.select(col("doc_id"), md5(col("text").cast("binary")).as("h_a"))
    val b = next.select(col("doc_id").as("id_b"),
      md5(col("text").cast("binary")).as("h_b"))
    a.join(b, col("doc_id") === col("id_b"), "full_outer")
      .select(coalesce(col("doc_id"), col("id_b")).as("doc_id"),
        when(col("h_a").isNull, "added")
          .when(col("h_b").isNull, "deleted")
          .when(col("h_a") === col("h_b"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** LSH banding TELEMETRY — the tuning report read before choosing
    * band counts and bucket caps (q60's skew profile at the LSH
    * layer): per band, bucket count, row count, the hottest bucket,
    * singleton buckets (rows that can never pair — the recall you are
    * not getting), the CANDIDATE-PAIR mass Σ b·(b−1)/2 (quadratic in
    * the hottest bucket — the number the cap exists to bound, and the
    * direct predictor of the candidate join's cost), and how many
    * buckets the given cap would trip. The pair mass accumulates in
    * DECIMAL(38,0) (b² overflows a Long on a corpus-scale hot bucket)
    * and lands as BIGINT — a corpus whose true pair mass exceeds 2^63
    * has long since tripped every cap. Input is the persisted banded
    * table ([[bandedSigs]]) — the report costs one skinny aggregate
    * over rows the incremental probe already maintains. */
  def lshBandStats(banded: DataFrame, maxBucket: Int = 32): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    banded.groupBy(col("band"), col("bh")).agg(count(lit(1)).as("b"))
      .groupBy(col("band")).agg(
        count(lit(1)).as("n_buckets"),
        sum(col("b")).as("n_rows"),
        max(col("b")).as("max_bucket"),
        sum(when(col("b") === 1, 1L).otherwise(0L)).as("n_singletons"),
        sum((col("b").cast(DecimalType(38, 0)) * (col("b") - 1)))
          .as("_pm2"),
        sum(when(col("b") > maxBucket, 1L).otherwise(0L)).as("n_capped"))
      .select(col("band"), col("n_buckets"), col("n_rows"),
        col("max_bucket"), col("n_singletons"),
        expr("CAST(_pm2 div 2 AS BIGINT)").as("n_cand_pairs"),
        col("n_capped"))
  }
}
