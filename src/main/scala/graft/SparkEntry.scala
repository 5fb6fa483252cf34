package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every `queries` entry has a matching `oracleSql` (DuckDB ANSI SQL over
  * the same parquet tables) unless the operator is inherently
  * engine-specific (HLL sketches, seeded LSH) — those get rows-only checks.
  *
  * Determinism contract with the oracle: double aggregates go through
  * exact decimal sums (ColumnFns.decSum), timestamps are emitted as
  * formatted strings or epoch seconds, and integer-typed columns are cast
  * on the DuckDB side to Spark's natural width (row_number/len → INT).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(Tables.tune(s), dir, name)

  /** One JVM-scoped scratch root for q39's z-ordered writes, deleted on
    * exit — per-invocation createTempDirectory leaked 16 parquet files
    * every bench/verify run. Each invocation still gets its OWN subdir
    * (zorderDir()) so a later run's overwrite can never invalidate a
    * DataFrame an earlier invocation returned and has not collected yet. */
  private lazy val zorderScratch: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-zorder")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      val files = try walk.iterator().asScala.toSeq.reverse finally walk.close()
      files.foreach(f => java.nio.file.Files.deleteIfExists(f))
    }))
    p.toString
  }
  private val zorderRuns = new java.util.concurrent.atomic.AtomicLong(0)
  private def zorderDir(): String =
    s"$zorderScratch/run-${zorderRuns.incrementAndGet()}"

  /** Deterministic per-sfDir stage root for oracle-readable side tables
    * (c23's BPE count table). Deliberately NOT a random temp dir and NOT
    * deleted on JVM exit: the DuckDB oracle reads these files AFTER the
    * Verify JVM has exited (Verify substitutes this path for the
    * __GRAFT_STAGE__ placeholder when dumping oracle_sql.json), and the
    * fixed per-dataset path means a later run overwrites instead of
    * accumulating — bounded, unlike the per-run temp dirs q39 once
    * leaked. The raw-path hash suffix keeps DISTINCT dataset dirs that
    * sanitize identically (e.g. `/data/sf0.1` vs `/data_sf0.1`) from
    * sharing a stage root. Known single-host assumption: two concurrent
    * Verify runs against the SAME dataset share the root (the driver's
    * gate is sequential; a parallel-CI setup should point TMPDIR-style
    * isolation at separate containers). */
  private[graft] def stageDir(sfDir: String): String =
    "/tmp/graft-stage/" + sfDir.replaceAll("[^A-Za-z0-9.]", "_") +
      "-" + (sfDir.hashCode & 0x7fffffff).toString

  /** Deterministic planted quality-rule violations for the c24/st13
    * gates: the synthetic corpus is uniform clean prose, so each Gopher
    * rule is tripped on a doc_id-keyed slice (symbols, digit runs,
    * ellipsis lines, bullet lists — %21 docs cross the 90% bullet-line
    * bar) to make every rule's firing observable in the oracle. */
  /** Deterministic planted sentence terminators for the t15 gate — the
    * synthetic corpus carries none, so without planting the gate would
    * be a degenerate one-sentence-per-doc identity (the c24/st13 plant
    * idiom; the oracle replays the same CASE concatenation). */
  private[graft] def plantSentenceBreaks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit("Planted lead. ")).otherwise(lit("")),
      col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("! Planted tail? done.")).otherwise(lit(""))
    ).as("text"))

  /** Deterministic planted paragraphs for the c32 gate — the corpus has
    * no newlines, so paragraph curation would be a one-paragraph
    * identity without planting (the c24/t15 plant idiom; the oracle
    * replays the same CASE concatenation). Three planted tiers: a
    * Spanish-stopword paragraph (%3 — dropped by the language gate), an
    * English-led but OOV-heavy paragraph (%4 — dropped by the
    * perplexity gate), and a common-vocabulary paragraph (%5 — kept, so
    * multi-paragraph re-assembly is exercised). */
  private[graft] def plantParagraphs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("\nel que de la en los y el que de la en")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) === 0,
        lit("\nthe a of zyzzyva qwerzix veldspar oolite brontide petrichor"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        lit("\nthe table scan row filter a query value data part"))
        .otherwise(lit(""))
    ).as("text"))

  /** Deterministic planted HTML wrapper for the t16 gate — the corpus is
    * plain text, so markup extraction needs planted markup (same idiom).
    * Covers every extractor rule: head/title + style block (style content
    * must vanish, title text must survive), a %3 script block whose CODE
    * carries entities (must vanish before decode), a %4 div with the five
    * entities (tag drops, decoded text survives), attribute-bearing and
    * self-closing tags. */
  private[graft] def plantHtml(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>p { color: red; }</style></head><body><p>"),
      col("text"), lit("</p><br/>"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("<script type=\"text/javascript\">var x = 1 &amp;&amp; 2; if (x &lt; 3) { x = 4; }</script>"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) === 0,
        lit("<div class=\"note\">extra &amp; more &lt;tags&gt; &quot;quoted&quot; &#39;tick&#39; a&nbsp;b</div>"))
        .otherwise(lit("")),
      lit("</body></html>")
    ).as("text"))

  /** Deterministic planted XML envelopes for the t36 gate — the corpus
    * is plain text, so parsing real XML needs planted markup (the t16
    * plant idiom). Exercises every from_xml surface the operator
    * extracts: a root attribute (id), a self-closing child with two
    * attributes (lang enum, a decimal score), entity-escaped text in
    * the body (%3 docs — `&amp;`/`&lt;`/`&gt;` must decode), a
    * repeated element collected into an array (0/1/2 tags by %3), and
    * an optional element absent on most docs (%5 note, also
    * entity-bearing). The oracle recomputes every expected value
    * relationally from the raw columns the plant was built from, so a
    * parser that mangled attributes, arrays, entities or nulls
    * hash-fails. */
  private[graft] def plantXml(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      lit("<doc id=\""), col("doc_id").cast("string"), lit("\"><meta lang=\""),
      when(pmod(col("doc_id"), lit(3)) === 0, lit("en"))
        .when(pmod(col("doc_id"), lit(3)) === 1, lit("es"))
        .otherwise(lit("de")),
      lit("\" score=\""), pmod(col("doc_id"), lit(97)).cast("string"),
      lit(".5\"/><body>"), col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit(" x &amp; y &lt;z&gt;")).otherwise(lit("")),
      lit("</body>"),
      when(pmod(col("doc_id"), lit(3)) >= 1, lit("<tag>alpha</tag>"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3)) === 2, lit("<tag>beta</tag>"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0, lit("<note>n&amp;m</note>"))
        .otherwise(lit("")),
      lit("</doc>")
    ).as("xml"))

  /** Deterministic planted code documents for the t18 gate: the corpus
    * is prose, so code detection needs planted code (the plant idiom) —
    * every %9==0 doc becomes a small deterministic pseudo-C block
    * (declarations, a guarded return, a for loop) whose id-derived
    * variable names keep payloads distinct. The oracle replays the
    * same CASE concat. */
  private[graft] def plantCode(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(9)) === 0,
        concat(lit("int v"), pmod(col("doc_id"), lit(97)).cast("string"),
          lit(" = "), pmod(col("doc_id"), lit(43)).cast("string"),
          lit("; if (v"), pmod(col("doc_id"), lit(97)).cast("string"),
          lit(" < 7) { return v"), pmod(col("doc_id"), lit(97)).cast("string"),
          lit("; } for (int i = 0; i < 10; i++) { theSum += i; }")))
      .otherwise(col("text")).as("text"))

  /** Deterministic planted contamination for the c35 gate: at w=8 the
    * corpus shares NO genuine 8-token window across the %97 benchmark
    * split (measured at sf0.01), so the gate plants an 8-token canary
    * suffix into every benchmark doc AND every %13==5 doc — the
    * leaked-benchmark-sentence shape span decontamination exists for.
    * Junction windows (original tail + canary head) differ per doc and
    * never match the benchmark set, so exactly the canary's 8 positions
    * are covered and cut. The oracle replays the same CASE concat. */
  private[graft] def plantContam(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(97)) === 0 ||
           pmod(col("doc_id"), lit(13)) === 5,
        concat(col("text"),
          lit(" qa canary alpha beta gamma delta epsilon zeta")))
      .otherwise(col("text")).as("text"))

  /** Deterministic planted URL VARIANTS for the d24 gate: four
    * spellings of the same canonical page (site = doc_id % 50,
    * page = doc_id % 7 ⇒ one canonical group per doc_id % 350), chosen
    * so every canonicalization rule fires — scheme/host case, www.,
    * the :443 default port, a trailing slash, parameter order, utm_*
    * tracking params, a fragment. Path case ('/Page/') is identical in
    * all four: paths are case-SENSITIVE and must survive untouched. */
  private[graft] def plantUrlVariants(docs: DataFrame): DataFrame = {
    val site = pmod(col("doc_id"), lit(50)).cast("string")
    val page = pmod(col("doc_id"), lit(7)).cast("string")
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(4)) === 0,
        concat(lit("https://site"), site, lit(".example/Page/"), page,
          lit("?a=1&b=2")))
      .when(pmod(col("doc_id"), lit(4)) === 1,
        concat(lit("HTTPS://WWW.Site"), site, lit(".Example:443/Page/"), page,
          lit("?b=2&a=1&utm_source=x")))
      .when(pmod(col("doc_id"), lit(4)) === 2,
        concat(lit("https://site"), site, lit(".example/Page/"), page,
          lit("/?a=1&b=2")))
      .otherwise(
        concat(lit("https://site"), site, lit(".example/Page/"), page,
          lit("?a=1&utm_campaign=z&b=2#frag")))
      .as("url"))
  }

  /** One classifier fit per dataset dir, shared by the four gates that
    * deploy the model (c30/st17/c44/c45). Safe to memoize: the fit is
    * partitioning-independent and deterministic (spec-asserted), so
    * every caller would compute the bit-identical vector — each gate
    * still STAGES ITS OWN COPY, so gate order and the per-gate oracle
    * contract are unchanged; only the redundant 10-job GD reruns go. */
  private val fitCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()
  private def fittedWeights(s: SparkSession, d: String): Array[Double] =
    fitCache.computeIfAbsent(d, _ => QualityModel.fit(t(s, d, "documents")))

  /** Stage a weight vector as the (pos, wv) table the classifier
    * oracles read — one shared writer for the four deploying gates. */
  private def stageWeights(s: SparkSession, d: String, name: String,
                           w: Array[Double]): Unit = {
    import s.implicits._
    w.zipWithIndex.map { case (wv, pos) => (pos, wv) }.toSeq
      .toDF("pos", "wv").coalesce(1)
      .write.mode("overwrite").parquet(stageDir(d) + s"/$name")
  }

  /** Stage the two k-means model inputs the kmeansCtes oracle replays:
    * the seed table (`<key>_seeds`, the smallest-hash id→cid map) and
    * the Lloyd fit-sample membership (`<key>_fit` — identity at gate
    * scale, the hash-threshold sample past FitCap) so the oracle's
    * iteration sums run over the exact subset the Spark fit used at
    * ANY scale factor. One shared writer for the seven k-means gates. */
  private def stageKmeans(emb: DataFrame, d: String, key: String): Unit = {
    Similarity.kmeansSeedIds(emb).coalesce(1).write.mode("overwrite")
      .parquet(stageDir(d) + s"/${key}_seeds")
    Similarity.kmeansFitIds(emb).coalesce(1).write.mode("overwrite")
      .parquet(stageDir(d) + s"/${key}_fit")
  }

  /** Deterministic planted keyphrases for the c42 RAKE gate: the
    * synthetic corpus is a ~30-word uniform vocabulary that the
    * corpus-adaptive top-30 stoplist swallows whole, leaving no
    * multi-word candidates — so repeated keyword phrases are planted,
    * each WRAPPED in base-vocabulary words ("the…fast" / "a…slow") that
    * are guaranteed stoplist members on this corpus, so the candidate
    * run is exactly the planted phrase regardless of what the carrier
    * doc ends with. Planted words occur ~100× each — far below the
    * ~850+ base-word counts, so they can never crack the stoplist. */
  private[graft] def plantKeyphrases(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      col("text"),
      when(pmod(col("doc_id"), lit(5)) === 0,
        lit(" the neural retrieval index improves ranking quality fast"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0,
        lit(" a semantic search cache accelerates lookup speed slow"))
        .otherwise(lit(""))).as("text"))

  /** Deterministic planted mojibake for the t21 gate: %6==0 docs get a
    * damaged suffix (the UTF-8-as-Latin-1 digraph forms), %6==3 docs
    * the CORRECTLY-encoded same words — the control the repair must
    * pass through untouched. */
  private[graft] def plantMojibake(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      col("text"),
      when(pmod(col("doc_id"), lit(6)) === 0,
        lit(" cafÃ© rÃ©sumÃ© naÃ¯ve jalapeÃ±o"))
      .when(pmod(col("doc_id"), lit(6)) === 3,
        lit(" café résumé naïve jalapeño"))
      .otherwise(lit(""))).as("text"))

  /** Deterministic planted invisible characters for the t24 gate: the
    * corpus is clean ASCII, so %5==1 docs get a zero-width-wedged
    * blockword + a bidi mark (removal must rejoin "spam"), %5==3 docs
    * get an NBSP-separated pair + a soft-hyphenated word (NBSP becomes
    * a real space, the soft hyphen vanishes), everything else passes
    * through untouched (the control). The oracle replays the plant via
    * chr() codepoints so no literal invisible bytes live in SQL text. */
  private[graft] def plantInvisible(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      col("text"),
      when(pmod(col("doc_id"), lit(5)) === 1,
        lit(" sp\u200bam wedge\u200f here")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 3,
        lit(" non\u00a0breaking co\u00adoperate")).otherwise(lit(""))
    ).as("text"))

  /** Deterministic planted multi-script text for the t25 gate: the
    * corpus is ASCII English (every script count but Latin would be
    * zero), so both tails are planted — REPLACE slices where a
    * non-Latin script dominates (%31==4 docs become pure Cyrillic,
    * %37==6 pure CJK with a kana tail — exercising the argmax away
    * from Latin and the zero-Latin share) and APPEND slices (mixed
    * documents, Latin still dominant): Cyrillic %6==1, CJK %6==2
    * (disjoint), Greek %10==3, Arabic %14==5, Hangul %22==7, Hebrew
    * %26==9 — the moduli overlap so some docs carry several scripts.
    * Replacement wins over appends (CASE order); the oracle replays
    * the CASE verbatim (visible UTF-8 literals — the t21 precedent). */
  /** Inflection families appended so t26's stemming has real conflation
    * work (the 31-word synthetic vocabulary is mostly uninflected):
    * %4==1 the "process" family, %4==2 "merge" + "relation(al)", %4==3
    * "query" + "connect" families — ASCII literals the oracle replays
    * verbatim (the t24/t25 plant idiom). */
  private[graft] def plantInflections(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(col("text"),
      when(pmod(col("doc_id"), lit(4)) === 1,
        lit(" processing processed processes process")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) === 2,
        lit(" merges merged merging relational relations")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) === 3,
        lit(" querying queried queries connection connected")).otherwise(lit("")))
      .as("text"))

  /** Page chrome wrapped around every %3==0 document for c53: nav and
    * aside blocks that are nearly all anchor text (link-density drops),
    * a footer whose prose is too short (min-words drop), and the real
    * text in a div (the survivor). ASCII literals replayed verbatim by
    * the oracle. */
  private[graft] def plantHtmlBlocks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(3)) === 0, concat(
        lit("<html><body><nav><a href=\"/\">Home</a> " +
          "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></nav><div>"),
        col("text"),
        lit("</div><aside><a href=\"/x\">Ad one</a> promo</aside>" +
          "<footer>Copyright 2026 <a href=\"/t\">Terms</a></footer>" +
          "</body></html>")))
      .otherwise(col("text")).as("text"))

  /** Entity mentions appended for the t29 gazetteer gate (the synthetic
    * vocabulary contains no gazetteer term): %5==1 a person + place,
    * %7==2 a person + two-word org + two-word place (the bigram tier),
    * %9==4 a one-word org + two places, %11==3 the same place twice
    * (n_mentions > 1). Slices overlap; concatenation order is fixed and
    * never forms an accidental cross-boundary gazetteer bigram, and
    * mixed case proves the tokenizer's case fold. */
  private[graft] def plantEntities(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(col("text"),
      when(pmod(col("doc_id"), lit(5)) === 1,
        lit(" Alan Turing visited London")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 2,
        lit(" Grace Hopper joined Acme Corp in New York")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(9)) === 4,
        lit(" the UN met in Paris and London")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 3,
        lit(" london calling london again")).otherwise(lit("")))
      .as("text"))

  /** Confusable text planted for the t30 gate: %6==1 and %8==3 docs
    * carry SPOOFED tokens (Latin words with Cyrillic а/е/о/с/і/р
    * letters swapped in — the filter-evasion shape), %10==7 docs a
    * genuinely-Cyrillic tail whose words are PURE Cyrillic: its
    * confusable chars count but its spoof-token count stays zero —
    * the false positive the mixed-script signal exists to avoid.
    * Visible UTF-8 literals, replayed verbatim (the t21/t25 idiom). */
  private[graft] def plantConfusables(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(col("text"),
      when(pmod(col("doc_id"), lit(6)) === 1,
        lit(" frее dаtа dоwnlоаd")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(8)) === 3,
        lit(" сlісk hеrе nоw")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(10)) === 7,
        lit(" привет мир")).otherwise(lit("")))
      .as("text"))

  /** SRT cue blocks planted for the t34 gate: %5==2 docs gain two
    * timed cues whose h/m/s/ms fields are doc_id formulas chosen so no
    * field ever carries (s+2 ≤ 41, m+1 ≤ 50) — the concatenation and
    * all timestamp arithmetic replay as pure lpad/printf algebra. */
  private[graft] def plantSubtitles(docs: DataFrame): DataFrame = {
    def two(c: org.apache.spark.sql.Column) = lpad(c.cast("string"), 2, "0")
    def three(c: org.apache.spark.sql.Column) = lpad(c.cast("string"), 3, "0")
    val m1 = pmod(col("doc_id"), lit(50)); val s1 = pmod(col("doc_id"), lit(40))
    val ms1 = pmod(col("doc_id"), lit(900))
    val m2 = m1 + 1; val s2 = pmod(col("doc_id"), lit(30))
    val ms2 = pmod(col("doc_id") * 7, lit(1000))
    docs.select(col("doc_id"), concat(col("text"),
      when(pmod(col("doc_id"), lit(5)) === 2, concat(
        lit("\n1\n00:"), two(m1), lit(":"), two(s1), lit(","), three(ms1),
        lit(" --> 00:"), two(m1), lit(":"), two(s1 + 2), lit(","), three(ms1),
        lit("\nhello caption line\n\n2\n00:"), two(m2), lit(":"), two(s2),
        lit(","), three(ms2), lit(" --> 00:"), two(m2), lit(":"),
        two(s2 + 3), lit(","), three(ms2),
        lit("\nsecond caption text\n"))).otherwise(lit("")))
      .as("text"))
  }

  /** Cyrillic tails planted for the t33 gate (the corpus is ASCII):
    * %6==1 a plain 1:1-letter phrase, %9==2 digraph-bearing words
    * (ш/ч), %12==7 the ё/ж/ы/х cluster plus a silent-sign word —
    * visible UTF-8 literals replayed verbatim (the t21/t25 idiom). */
  private[graft] def plantCyrillic(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(col("text"),
      when(pmod(col("doc_id"), lit(6)) === 1,
        lit(" привет мир")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(9)) === 2,
        lit(" машинное обучение")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(12)) === 7,
        lit(" жёлтый хлеб объём")).otherwise(lit("")))
      .as("text"))

  /** Script twins planted for the d29 gate: every %17==4 doc gains a
    * twin (id + 1,000,000 — far past any corpus id) whose text is the
    * original passed through an ASCII→Cyrillic letter map chosen so
    * romanization inverts it EXACTLY (each pair round-trips: s↔с,
    * k↔к, …; unmapped ASCII letters stay ASCII — a mixed-script twin,
    * the realistic shape of transliterated content). Raw-text md5
    * dedup can never pair twin and original; romanized md5 must. */
  private[graft] def plantCyrTwins(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text")).unionByName(
      docs.filter(pmod(col("doc_id"), lit(17)) === 4)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          translate(col("text"),
            "aeoskmtvdnilpgbzuf", "аеоскмтвднилпгбзуф").as("text")))

  /** Exact-duplicate copies planted for the c61 gate (the corpus has
    * none): %23==5 docs gain one copy (dup_count 2), %46==28 a second
    * copy (dup_count 3); copy ids sit at +2,000,000/+3,000,000. */
  private[graft] def plantExactDups(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    base
      .unionByName(base.filter(pmod(col("doc_id"), lit(23)) === 5)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      .unionByName(base.filter(pmod(col("doc_id"), lit(46)) === 28)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
  }

  /** Blocklist hits planted for the c59 gate (the synthetic vocabulary
    * contains no listed word): %7==3 one hit (any-hit drop), %13==6
    * three hits incl. a repeat (count multiplicity). */
  private[graft] def plantBadwords(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(col("text"),
      when(pmod(col("doc_id"), lit(7)) === 3,
        lit(" blockedalpha")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(13)) === 6,
        lit(" blockedbeta blockedgamma blockedbeta")).otherwise(lit("")))
      .as("text"))

  /** OCR artifacts planted for the t32 gate: %5==3 docs carry
    * line-break hyphenation breaks (two joins → the repair fires and
    * the ≥2-join flag trips), %8==5 a single-letter spray, %11==7
    * digit-confused words (≥3 mixed tokens trips the flag). ASCII
    * literals replayed verbatim. */
  private[graft] def plantOcr(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(col("text"),
      when(pmod(col("doc_id"), lit(5)) === 3,
        lit(" exam- ple qual- ity data")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(8)) === 5,
        lit(" a b c d e f g h")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 7,
        lit(" w0rd m1xed t3xt perf0rm")).otherwise(lit("")))
      .as("text"))

  /** Date mentions planted for the t31 gate (the synthetic prose
    * carries none): %6==1 an ISO date, %7==2 a US slash date, %9==5 an
    * English month-name date — every field a doc_id formula so the
    * oracle replays the concatenation, and overlapping slices give
    * multi-date docs whose min/max span is non-trivial. */
  private[graft] def plantDates(docs: DataFrame): DataFrame = {
    val monthArr = array(Seq("January", "February", "March", "April",
      "May", "June", "July", "August", "September", "October",
      "November", "December").map(lit): _*)
    docs.select(col("doc_id"), concat(col("text"),
      when(pmod(col("doc_id"), lit(6)) === 1,
        concat(lit(" published "), format_string("%04d-%02d-%02d",
          lit(2000) + pmod(col("doc_id"), lit(20)),
          lit(1) + pmod(col("doc_id"), lit(12)),
          lit(1) + pmod(col("doc_id"), lit(28))))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 2,
        concat(lit(" updated on "),
          (lit(1) + pmod(col("doc_id"), lit(12))).cast("string"), lit("/"),
          (lit(1) + pmod(col("doc_id"), lit(28))).cast("string"), lit("/"),
          (lit(1980) + pmod(col("doc_id"), lit(40))).cast("string")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(9)) === 5,
        concat(lit(" Posted "),
          element_at(monthArr,
            (lit(1) + pmod(col("doc_id"), lit(12))).cast("int")),
          lit(" "), (lit(1) + pmod(col("doc_id"), lit(28))).cast("string"),
          lit(", "),
          (lit(1990) + pmod(col("doc_id"), lit(30))).cast("string")))
        .otherwise(lit("")))
      .as("text"))
  }

  private[graft] def plantScripts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(31)) === 4,
        lit("данные поток движок обработка данных"))
      .when(pmod(col("doc_id"), lit(37)) === 6,
        lit("数据处理引擎 データ処理"))
      .otherwise(concat(col("text"),
        when(pmod(col("doc_id"), lit(6)) === 1,
          lit(" привет мир данные")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(6)) === 2,
          lit(" 数据处理引擎テスト")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(10)) === 3,
          lit(" δεδομένα ροή")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(14)) === 5,
          lit(" بيانات ضخمة")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(22)) === 7,
          lit(" 한국어 데이터")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(26)) === 9,
          lit(" נתונים גדולים")).otherwise(lit(""))))
        .as("text"))

  /** Deterministic planted within-doc repetition for the t23 gate: the
    * corpus is newline-free non-stuttering prose, so each signal gets
    * its own slice — %4==1 docs repeat a planted line twice (duplicate
    * LINE fractions), %5==2 docs get a token stutter (top-2-gram
    * spike), %7==3 docs repeat a 5-token phrase twice (duplicate
    * 5-gram coverage). Slices overlap freely — concatenation order is
    * fixed and the oracle replays it. */
  private[graft] def plantRepetition(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      col("text"),
      when(pmod(col("doc_id"), lit(4)) === 1,
        lit("\nrepeat me exactly once more\nrepeat me exactly once more"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 2,
        lit(" spark spark spark spark spark spark")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 3,
        lit(" alpha beta gamma delta epsilon alpha beta gamma delta epsilon"))
        .otherwise(lit(""))
    ).as("text"))

  /** Deterministic planted compressibility tails for the c47 gate: the
    * synthetic corpus spans ratio 0.39–0.91 (natural prose), so both
    * cut tails are planted — %23==1 docs REPLACED by a 32-char md5 hex
    * string (short high-entropy junk: DEFLATE overhead pushes the
    * ratio ≥ 1.0, the noise tail), %9==0 docs get a 40× repeated
    * template block appended (ratio falls ≤ 0.16, the boilerplate
    * tail). Replacement wins over append (CASE order); md5 hex and
    * repeat() are engine-identical so the oracle replays the plant. */
  private[graft] def plantCompressibility(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(23)) === 1,
        md5(col("doc_id").cast("string")))
      .when(pmod(col("doc_id"), lit(9)) === 0,
        concat(col("text"), lit(" "),
          repeat(lit("lorem template spam block "), 40)))
      .otherwise(col("text")).as("text"))

  /** Deterministic planted governance metadata for the c48 gate (the
    * corpus carries none): license class cycles over (doc_id div 7)%5
    * — div-then-mod DECORRELATES license from source (source is
    * doc_id%20-keyed, so a plain doc_id%5 would give every source one
    * license and an audit with no mixture) — (two
    * permissive, one share-alike, one reserved, one unknown — unknown
    * must NOT pass: governance defaults closed), opt-out on %17==2
    * (crossing every license class, so the audit shows opt-outs inside
    * allowed classes being dropped — the case that matters legally).
    * The oracle replays both CASEs. */
  private[graft] def plantGovernance(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("text"),
      when(expr("(doc_id div 7) % 5") === 0, lit("cc0"))
        .when(expr("(doc_id div 7) % 5") === 1, lit("cc-by"))
        .when(expr("(doc_id div 7) % 5") === 2, lit("cc-by-sa"))
        .when(expr("(doc_id div 7) % 5") === 3, lit("all-rights-reserved"))
        .otherwise(lit("unknown")).as("license"),
      (pmod(col("doc_id"), lit(17)) === 2).as("opt_out"))

  /** Deterministic recrawl snapshot for the d26 gate: %11==3 pages
    * vanish (deleted), %7==2 pages get a re-crawl marker appended
    * (changed), %13==4 pages reappear under a fresh id (added).
    * Deletion wins over change — a deleted page cannot also be
    * re-crawled; the oracle mirrors the same filter-then-modify order.
    * Fresh ids live in the NEGATIVE id space (−doc_id − 1): disjoint
    * from any kept id at ANY corpus size — a fixed +offset collides
    * once the corpus outgrows it, silently multiplying rows out of the
    * d26 full outer join on both engines at once. */
  private[graft] def plantRecrawl(docs: DataFrame): DataFrame = {
    val kept = docs.filter(pmod(col("doc_id"), lit(11)) =!= 3)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 2,
          concat(col("text"), lit(" [recrawled]")))
          .otherwise(col("text")).as("text"))
    val fresh = docs.filter(pmod(col("doc_id"), lit(13)) === 4)
      .select((negate(col("doc_id")) - 1L).as("doc_id"),
        concat(lit("fresh page "), col("doc_id").cast("string")).as("text"))
    kept.unionByName(fresh)
  }

  /** Deterministic planted URLs for the c33 gate (the corpus has none):
    * a mixed-case blocked domain (%11 — normalization must fire before
    * the blocklist), a www-prefixed mixed-case .com (%2 — strip + 3-label
    * host), a two-label-TLD host (%3 — registered domain is three
    * labels), and a small sharded .org family (else) big enough to trip
    * the per-domain cap. CASE order resolves overlaps; the oracle
    * mirrors it. */
  private[graft] def plantUrls(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(11)) === 0,
        concat(lit("HTTPS://Spam.Example/track?id="), col("doc_id").cast("string")))
      .when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit("https://WWW.News.Example.COM/articles/"), col("doc_id").cast("string")))
      .when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("http://blog.example.co.uk/post/"), col("doc_id").cast("string")))
      .otherwise(
        concat(lit("https://data"), pmod(col("doc_id"), lit(5)).cast("string"),
          lit(".example.org/item/"), col("doc_id").cast("string")))
      .as("url"))

  /** Markdown chrome around every %3==0 document for t28: ATX header,
    * bold + inline code, a fenced code block, a link + an image, and a
    * blockquote — each construct the extractor must unwrap or drop. */
  private[graft] def plantMarkdown(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(3)) === 0, concat(
        lit("# Doc "), col("doc_id").cast("string"),
        lit("\n\n**Summary** with `inline code` here\n\n```\nval x = "),
        col("doc_id").cast("string"), lit("\n```\n\n"), col("text"),
        lit("\n\n[read more](https://more.example/"),
        col("doc_id").cast("string"),
        lit(") ![fig](https://img.example/"),
        col("doc_id").cast("string"),
        lit(".png)\n\n> quoted line")))
      .otherwise(col("text")).as("text"))

  /** Anchors for t27: absolute + relative links with attribute noise
    * before href (%3==1) and a class-attributed absolute link (%7==2);
    * double-spaced anchor text exercises the whitespace normalize. */
  private[graft] def plantAnchors(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(lit("<p>"), col("text"), lit("</p>"),
        when(pmod(col("doc_id"), lit(3)) === 1, concat(
          lit("<a href=\"https://ref"),
          pmod(col("doc_id"), lit(9)).cast("string"),
          lit(".example.com/a\">data  pipeline docs</a><a href=\"/rel/"),
          col("doc_id").cast("string"),
          lit("\">local link</a>"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 2, concat(
          lit("<a class=\"x\" href=\"https://w"),
          pmod(col("doc_id"), lit(5)).cast("string"),
          lit(".example.org/b?q=1\">engine internals</a>")))
          .otherwise(lit(""))).as("html"))

  /** In-band opt-out signals for c54: meta-robots tags inside the HTML
    * (mixed case on %5==2 — the gate is case-insensitive per spec) and
    * X-Robots-Tag response headers, with `noai` planted on both
    * channels and `none` exercising its noindex+nofollow expansion. */
  private[graft] def plantRobots(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(lit("<html><head>"),
        when(pmod(col("doc_id"), lit(5)) === 1,
          lit("<meta name=\"robots\" content=\"noindex, follow\">"))
        .when(pmod(col("doc_id"), lit(5)) === 2,
          lit("<META NAME=\"ROBOTS\" CONTENT=\"index, NOFOLLOW\">"))
        .when(pmod(col("doc_id"), lit(7)) === 3,
          lit("<meta name=\"robots\" content=\"noai, noimageai\">"))
        .when(pmod(col("doc_id"), lit(17)) === 4,
          lit("<meta name=\"robots\" content=\"none\">"))
        // r13: MULTIPLE robots meta tags on one page — the multi-match
        // channel the r12 advice flagged (first-match-only under-blocks)
        .when(pmod(col("doc_id"), lit(19)) === 5,
          lit("<meta name=\"robots\" content=\"noindex\">" +
            "<meta name=\"robots\" content=\"noai\">"))
        .otherwise(lit("")),
        lit("</head><body>"), col("text"), lit("</body></html>"))
        .as("html"),
      when(pmod(col("doc_id"), lit(11)) === 4,
        lit("Content-Type: text/html\r\nX-Robots-Tag: noindex"))
      .when(pmod(col("doc_id"), lit(13)) === 6,
        lit("X-Robots-Tag: noai\r\nCache-Control: no-store"))
      // r13: REPEATED X-Robots-Tag response headers (legal per RFC 9110)
      .when(pmod(col("doc_id"), lit(23)) === 7,
        lit("X-Robots-Tag: noindex\r\nX-Robots-Tag: noai\r\n" +
          "Content-Type: text/html"))
      .otherwise(lit("Content-Type: text/html"))
        .as("http_headers"))

  private[graft] def plantQualityViolations(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      col("text"),
      when(pmod(col("doc_id"), lit(4)) === 0,
        lit(" # text ## mark ...")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(6)) === 0,
        lit(" 404 500 1234 9000")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        lit("\nline trails off...\nthis one too...")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0,
        lit("\n- first bullet\n- second bullet\n- third bullet")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(21)) === 0,
        lit("\n- b4\n- b5\n- b6\n- b7\n- b8\n- b9\n- b10\n- b11\n- b12"))
        .otherwise(lit(""))
    ).as("text"))

  private val bpeFits =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
  private def bpeFit(s: SparkSession, d: String): Seq[(String, String)] =
    bpeFits.computeIfAbsent(d,
      dir => graft.operators.TextOps.bpeLearn(t(s, dir, "documents")))

  // t37's WordPiece vocabulary, cached per dataset like the BPE merges
  private val wordpieceFits =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  private def wordpieceFit(s: SparkSession, d: String): Seq[String] =
    wordpieceFits.computeIfAbsent(d,
      dir => graft.operators.TextOps.wordpieceLearn(t(s, dir, "documents")))

  // t35's unigram-LM piece table, cached per dataset like the BPE merges
  private val unigramFits =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Double)]]()
  private def unigramFit(s: SparkSession, d: String): Seq[(String, Double)] =
    unigramFits.computeIfAbsent(d,
      dir => graft.operators.TextOps.unigramLearn(t(s, dir, "documents")))

  // t14's learned trigram profiles, cached per dataset like the BPE
  // merge table — fit once, model state reused across gate invocations
  private val ngramFits =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Seq[String]]]()
  private def ngramFit(s: SparkSession, d: String): Map[String, Seq[String]] =
    ngramFits.computeIfAbsent(d,
      dir => graft.operators.TextOps.charNgramProfiles(t(s, dir, "documents")))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Relational.revenueCube(t(spark, d, "region"), t(spark, d, "nation"),
      t(spark, d, "customer"), t(spark, d, "orders"), t(spark, d, "lineitem"))
  }

  /** Each key's presentation order. It is for presentation only: the
    * oracle compare (`tools/check_oracle.py`, perfbench) sorts both
    * sides' rows before comparing, so no result depends on it. Library
    * operators return unsorted results — a terminal sort is work a
    * composing caller never wants — and the gate applies this order
    * once, in [[queries]]. It sorts in ONE task (`coalesce(1)` then
    * `sortWithinPartitions`): the same total order as a global
    * `orderBy`, without the range sort's sampling job (which runs the
    * key's last stage a second time) or its shuffle. Every consumer of
    * the gate writes its output as one partition anyway, and every gated
    * table is small. Keys absent from this map either sort semantically
    * inside the operator (top-N limits), return a single row, or are
    * harness drivers that already order their collected output. */
  private[graft] val gateSort: Map[String, Seq[String]] = Map(
    "q1_pricing_summary" -> Seq("l_returnflag", "l_linestatus"),
    "q2_filter_project" -> Seq("l_orderkey", "l_linenumber"),
    "q4_exists_semi" -> Seq("o_orderpriority"),
    "q5_nation_revenue" -> Seq("n_name"),
    "q7_rollup" -> Seq("l_returnflag", "l_linestatus"),
    "q8_grouping_sets" -> Seq("o_orderstatus", "o_orderpriority"),
    "q9_pivot" -> Seq("user_id"),
    "q10_topn_group" -> Seq("p_brand", "rn"),
    "q11_window_running" -> Seq("user_id", "event_id"),
    "q12_distinct" -> Seq("event_type"),
    "q13_approx_distinct" -> Seq("event_type"),
    "c64_overlap_sketch" -> Seq("type_a", "type_b"),
    "c67_kmv_overlap" -> Seq("seg_a", "seg_b"),
    "st40_kmv_stream" -> Seq("seg_a", "seg_b"),
    "q14_percentiles" -> Seq("event_type"),
    "q38_percentiles_approx" -> Seq("event_type"),
    "q15_sessionize" -> Seq("user_id", "session_id"),
    "q78_session_native" -> Seq("user_id", "session_start"),
    "st39_session_native_stream" -> Seq("user_id", "session_start"),
    "q16_asof_join" -> Seq("event_id"),
    "q59_asof_forward" -> Seq("event_id"),
    "q62_asof_tolerance" -> Seq("event_id"),
    "q17_range_join" -> Seq("o_orderkey"),
    "q18_set_ops" -> Seq("nationkey"),
    "q19_json_extract" -> Seq("event_id"),
    "q72_nested" -> Seq("o_orderkey"),
    "q20_string_funcs" -> Seq("p_partkey"),
    "q21_date_series" -> Seq("month"),
    "q22_anti_join" -> Seq("c_custkey"),
    "q23_funnel" -> Seq("user_id"),
    "q43_conversion_window" -> Seq("user_id"),
    "q24_upsert" -> Seq("o_orderkey"),
    "q67_tx_merge" -> Seq("o_orderkey"),
    "q71_stats_scan" -> Seq("version"),
    "q81_tx_changes" -> Seq("_commit_version", "o_orderkey", "_change_type"),
    "q82_tx_history" -> Seq("version"),
    "d37_url_state_tx" -> Seq("canon_url"),
    "q73_clustered_compact" -> Seq("o_orderkey"),
    "q83_tx_zorder" -> Seq("o_orderkey"),
    "q87_tx_read_where" -> Seq("o_orderkey"),
    "q88_tx_cdc_merge" -> Seq("o_orderkey"),
    "q89_tx_dv_delete" -> Seq("o_orderkey"),
    "q90_tx_vacuum" -> Seq("o_orderkey"),
    "q91_tx_clone" -> Seq("o_orderkey"),
    "q92_tx_optimize" -> Seq("o_orderkey"),
    "q93_tx_log_retention" -> Seq("o_orderkey"),
    "q94_tx_cdc_files" -> Seq("_commit_version", "o_orderkey", "_change_type"),
    "q95_tx_append" -> Seq("o_orderkey"),
    "q96_tx_delete_where" -> Seq("o_orderkey"),
    "q97_tx_column_map" -> Seq("o_orderkey"),
    "st43_change_feed" -> Seq("o_custkey"),
    "st44_erasure_dv_stream" -> Seq("source"),
    "q44_cdc_apply" -> Seq("o_orderkey"),
    "st11_cdc_stream" -> Seq("o_orderkey"),
    "st32_cdc_tx_sink" -> Seq("o_orderkey"),
    "q68_time_travel" -> Seq("o_orderkey"),
    "q79_tx_restore" -> Seq("o_orderkey"),
    "q69_tx_schema_evolve" -> Seq("o_orderkey"),
    "q70_incr_matview" -> Seq("ym"),
    "st34_matview_stream" -> Seq("ym"),
    "st37_idempotent_sink" -> Seq("ym"),
    "c62_fuzzy_contamination" -> Seq("doc_id", "bench_id"),
    "q75_fk_audit" -> Seq("relation"),
    "c66_erasure_audit" -> Seq("source"),
    "c71_erasure_cascade" -> Seq("artifact", "k"),
    "st41_ivf_stream" -> Seq("cell"),
    "st42_multi_sink" -> Seq("o_orderkey"),
    "st38_erasure_stream" -> Seq("source"),
    "q76_benford" -> Seq("digit"),
    "q77_moments" -> Seq("event_type"),
    "q80_bitmap_overlap" -> Seq("type_a", "type_b"),
    "c65_domain_cap" -> Seq("doc_id"),
    "q25_brand_revenue" -> Seq("p_brand"),
    "q27_salted_join" -> Seq("c_mktsegment"),
    "q28_latest_event" -> Seq("user_id"),
    "q29_deciles" -> Seq("o_orderpriority", "decile"),
    "q40_scd2" -> Seq("user_id", "version"),
    "q42_interval_islands" -> Seq("user_id", "island"),
    "q45_unpivot" -> Seq("user_id", "event_type"),
    "d15_simhash_incremental" -> Seq("doc_a", "doc_b"),
    "c19_quantile_rollup" -> Seq("event_type"),
    "q41_outliers" -> Seq("event_type"),
    "q30_cume_users" -> Seq("day"),
    "q31_histogram" -> Seq("bucket"),
    "q32_transitions" -> Seq("event_type", "next_type"),
    "q33_wau" -> Seq("window_start"),
    "q34_retention" -> Seq("cohort_week", "week_offset"),
    "g1_entry" -> Seq("r_name", "o_year"),
    "st1_tumbling_window" -> Seq("window_start", "event_type"),
    "st2_sliding_window" -> Seq("window_start", "event_type"),
    "st6_dedup_stream" -> Seq("event_id"),
    "s4_knn_graph" -> Seq("q_id", "rank"),
    "s5_knn_lsh_graph" -> Seq("q_id", "rank"),
    "s6_kmeans" -> Seq("vec_id"),
    "s9_diversity_sample" -> Seq("cluster", "rank"),
    "s7_pagerank" -> Seq("vec_id"),
    "s8_label_prop" -> Seq("vec_id"),
    "s17_triangles" -> Seq("vec_id"),
    "s21_kcore" -> Seq("vec_id"),
    "s24_bfs_hops" -> Seq("vec_id"),
    "s27_sssp" -> Seq("vec_id"),
    "s18_silhouette" -> Seq("cluster"),
    "s19_mmr_rerank" -> Seq("q_id", "rank"),
    "d26_snapshot_diff" -> Seq("doc_id"),
    "d10_text_clusters" -> Seq("doc_id"),
    "c28_softdedup_weights" -> Seq("doc_id"),
    "c31_dedup_aware_mix" -> Seq("source"),
    "c30_quality_classifier" -> Seq("doc_id"),
    "st7_tumbling_stream" -> Seq("window_start", "event_type"),
    "st9_ingest_dedup_stream" -> Seq("doc_id"),
    "st14_neardup_stream" -> Seq("doc_a", "doc_b"),
    "q35_type_concat" -> Seq("user_id"),
    "q36_modal_type" -> Seq("user_id"),
    "q37_asof_exec" -> Seq("event_id"),
    "d1_dedup_exact" -> Seq("doc_id"),
    "d2_dedup_minhash" -> Seq("doc_a", "doc_b"),
    "d32_state_table_tx" -> Seq("doc_a", "doc_b"),
    "d27_minhash_eval" -> Seq("doc_a", "doc_b"),
    "d38_bbit_minhash" -> Seq("doc_a", "doc_b"),
    "c69_threshold_sweep" -> Seq("threshold"),
    "c70_source_matrix" -> Seq("source_a", "source_b"),
    "d28_fuzzy_join" -> Seq("dirty_id"),
    "c43_hashed_embeddings" -> Seq("doc_id", "dim"),
    "d11_incremental" -> Seq("doc_a", "doc_b"),
    "d19_cluster_maintenance" -> Seq("doc_id"),
    "d12_incremental_exact" -> Seq("doc_id"),
    "d13_embed_incremental" -> Seq("id_a", "id_b"),
    "d3_dedup_simhash" -> Seq("doc_a", "doc_b"),
    "d4_ngram_jaccard" -> Seq("doc_a", "doc_b"),
    "d35_prefix_allpairs" -> Seq("doc_a", "doc_b"),
    "d36_prefix_incremental" -> Seq("doc_a", "doc_b"),
    "st36_prefix_stream" -> Seq("doc_a", "doc_b"),
    "d16_dup_spans" -> Seq("doc_id", "start_pos"),
    "d17_dupspan_incremental" -> Seq("doc_id", "start_pos"),
    "d18_span_scrub" -> Seq("doc_id"),
    "d20_char_spans" -> Seq("doc_id", "start_pos"),
    "d33_cdc_chunks" -> Seq("doc_id", "chunk_idx"),
    "d34_chunk_incremental" -> Seq("doc_id", "chunk_idx"),
    "st33_chunk_stream" -> Seq("doc_id", "chunk_idx"),
    "st35_late_audit" -> Seq("window_start"),
    "d5_embed_neardup" -> Seq("id_a", "id_b"),
    "d6_dup_clusters" -> Seq("vec_id"),
    "d7_canonical" -> Seq("doc_id"),
    "d8_embed_lsh_pairs" -> Seq("id_a", "id_b"),
    "d9_lsh_clusters" -> Seq("vec_id"),
    "s1_ann_brute" -> Seq("q_id", "rank"),
    "s14_mips" -> Seq("q_id", "rank"),
    "s10_quantized_ann" -> Seq("q_id", "rank"),
    "s11_pq_ann" -> Seq("q_id", "rank"),
    "s12_ivf_pq" -> Seq("q_id", "rank"),
    "s22_graph_ann" -> Seq("q_id", "rank"),
    "s25_routed_ann" -> Seq("q_id", "rank"),
    "s15_ivfadc" -> Seq("q_id", "rank"),
    "d21_semdedup" -> Seq("vec_id"),
    "s13_rand_proj" -> Seq("vec_id", "pos"),
    "s26_pca" -> Seq("vec_id"),
    "s2_ann_lsh" -> Seq("q_id", "rank"),
    "s3_ann_ivf" -> Seq("q_id", "rank"),
    "t1_lang_id" -> Seq("doc_id"),
    "t2_quality" -> Seq("doc_id"),
    "t3_tokens" -> Seq("doc_id"),
    "t4_fingerprint" -> Seq("doc_id"),
    "t5_scrub" -> Seq("event_id"),
    "t11_bpe_tokens" -> Seq("doc_id"),
    "t35_unigram_tokens" -> Seq("doc_id"),
    "t37_wordpiece_tokens" -> Seq("doc_id"),
    "c63_tokenizer_eval" -> Seq("family"),
    "t12_pii_scrub" -> Seq("doc_id"),
    "c24_quality_rules" -> Seq("doc_id"),
    "t14_lang_ngram" -> Seq("doc_id"),
    "st12_token_budget_stream" -> Seq("source"),
    "st13_quality_stream" -> Seq("doc_id"),
    "st15_contamination_stream" -> Seq("doc_id"),
    "st16_perplexity_stream" -> Seq("doc_id"),
    "st17_classifier_stream" -> Seq("doc_id"),
    "t13_chunking" -> Seq("doc_id", "chunk_id"),
    "t15_sentences" -> Seq("doc_id", "sent_id"),
    "t6_normalize" -> Seq("doc_id"),
    "t7_unigram_ll" -> Seq("doc_id"),
    "t38_heaps_fit" -> Seq("n_points"),
    "t39_flesch" -> Seq("doc_id"),
    "c68_novelty" -> Seq("doc_id"),
    "c27_perplexity_gate" -> Seq("doc_id"),
    "c32_paragraph_gate" -> Seq("doc_id"),
    "c35_decontam_scrub" -> Seq("doc_id"),
    "c36b_token_budget_mix" -> Seq("source"),
    "c47_compression_gate" -> Seq("doc_id"),
    "c48_license_gate" -> Seq("source", "license"),
    "c49_datasheet" -> Seq("source"),
    "c50_curriculum_shards" -> Seq("shard"),
    "c52_shard_write" -> Seq("shard"),
    "st23_compression_stream" -> Seq("doc_id"),
    "st24_license_stream" -> Seq("doc_id"),
    "c37_source_relative_gate" -> Seq("source"),
    "t17b_lexical_diversity" -> Seq("doc_id"),
    "t20_card_scrub" -> Seq("doc_id"),
    "t23_rep_signals" -> Seq("doc_id"),
    "t24_invisible_scrub" -> Seq("doc_id"),
    "t25_script_mix" -> Seq("doc_id"),
    "t29_entities" -> Seq("doc_id", "entity"),
    "t30_confusables" -> Seq("doc_id"),
    "t31_dates" -> Seq("doc_id"),
    "t32_ocr_repair" -> Seq("doc_id"),
    "t33_romanize" -> Seq("doc_id"),
    "t34_subtitles" -> Seq("doc_id"),
    "d29_translit_dedup" -> Seq("doc_id"),
    "d30_lsh_stats" -> Seq("band"),
    "d31_phash_clusters" -> Seq("doc_id"),
    "d24_url_dedup" -> Seq("canon_url"),
    "q46_pit_join" -> Seq("event_id"),
    "s16_ann_eval" -> Seq("q_id"),
    "st19_url_stream" -> Seq("doc_id"),
    "st20_paragraph_stream" -> Seq("doc_id"),
    "st21_line_stream" -> Seq("doc_id"),
    "c38_line_dedup" -> Seq("doc_id"),
    "q47_growth_accounting" -> Seq("day"),
    "d25_containment" -> Seq("doc_a", "doc_b"),
    "c39_line_incremental" -> Seq("doc_id"),
    "q48_basket_lift" -> Seq("brand_a", "brand_b"),
    "q49_rfm" -> Seq("o_custkey"),
    "q50_path_trigrams" -> Seq("e1", "e2", "e3"),
    "q51_daily_anomaly" -> Seq("day"),
    "q52_gap_fill" -> Seq("day", "event_type"),
    "q74_interpolate" -> Seq("day", "event_type"),
    "q57_hierarchy" -> Seq("s_suppkey"),
    "q58_range_frame" -> Seq("day", "priority"),
    "q60_skew_profile" -> Seq("rank"),
    "q61_cohort_ltv" -> Seq("cohort", "offset"),
    "q66_growth_rate" -> Seq("month"),
    "q84_calendarize" -> Seq("month"),
    "q85_bootstrap_ci" -> Seq("seg"),
    "q86_sequence_gaps" -> Seq("gap_start"),
    "q53_abc_pareto" -> Seq("l_partkey"),
    "q54_schema_merge" -> Seq("o_orderkey"),
    "q55_corrupt_json" -> Seq("doc_id", "raw"),
    "c44_model_lift" -> Seq("decile"),
    "c45_model_metrics" -> Seq("tp"),
    "t18_code_detect" -> Seq("doc_id"),
    "t19_readability" -> Seq("doc_id"),
    "t21_mojibake" -> Seq("doc_id"),
    "t22_truncate_middle" -> Seq("doc_id"),
    "c40_pmi_phrases" -> Seq("term_a", "term_b"),
    "c41_phrase_search" -> Seq("phrase", "doc_id"),
    "c42_rake_keywords" -> Seq("phrase"),
    "c46_fertility" -> Seq("lang"),
    "t16_html_extract" -> Seq("doc_id"),
    "t36_xml_extract" -> Seq("doc_id"),
    "c33_url_gate" -> Seq("doc_id"),
    "c34_hybrid_rrf" -> Seq("q_id", "rank"),
    "st18_phash_stream" -> Seq("doc_a", "doc_b"),
    "st22_embed_stream" -> Seq("id_a", "id_b"),
    "c21_bigram_ll" -> Seq("doc_id"),
    "t10_vocab_coverage" -> Seq("pct"),
    "c22_temperature_mix" -> Seq("source"),
    "d14_multi_clusters" -> Seq("doc_id"),
    "c2_tfidf" -> Seq("doc_id", "term"),
    "c25_bm25" -> Seq("term", "rank"),
    "c3_hash_split" -> Seq("doc_id"),
    "c26_leakage_split" -> Seq("doc_id"),
    "c4_stratified_sample" -> Seq("lang"),
    "c5_length_buckets" -> Seq("bucket"),
    "c6_boilerplate" -> Seq("doc_id"),
    "c7_repetition" -> Seq("doc_id"),
    "c8_domain_stats" -> Seq("source"),
    "c57_source_diversity" -> Seq("source"),
    "c58_token_drift" -> Seq("rank"),
    "c59_badwords_gate" -> Seq("doc_id"),
    "c60_anchor_corpus" -> Seq("target"),
    "c61_dup_profile" -> Seq("dup_count"),
    "st29_badwords_stream" -> Seq("doc_id"),
    "q63_event_dedup" -> Seq("event_id"),
    "q64_attribution" -> Seq("event_id"),
    "q65_interval_overlap" -> Seq("user_id", "session_id", "day"),
    "s20_drift" -> Seq("cluster"),
    "s23_centroid_update" -> Seq("cluster", "pos"),
    "st28_drift_stream" -> Seq("cluster"),
    "c9_source_mix" -> Seq("source"),
    "c10_funnel" -> Seq("stage"),
    "c11_shards" -> Seq("shard"),
    "c12_contamination" -> Seq("doc_id"),
    "t8_importance" -> Seq("doc_id"),
    "c14_percentile_gate" -> Seq("source"),
    "c15_token_packing" -> Seq("shard", "pack_id"),
    "c23_bpe_packing" -> Seq("shard", "pack_id"),
    "c16_sketch_rollup" -> Seq("event_type"),
    "c17_freq_rollup" -> Seq("token"),
    "c20_weighted_sample" -> Seq("lang", "rn"),
    "c18_bloom_gate" -> Seq("doc_id"),
    "q39_zorder_read" -> Seq("event_id"),
    "t9_stop_strip" -> Seq("doc_id"),
    "m1_media_meta" -> Seq("doc_id"),
    "m4_media_text_gate" -> Seq("doc_id"),
    "m2_media_features" -> Seq("doc_id", "frame_id"),
    "m3_frame_dedup" -> Seq("bucket"),
    "m9_image_phash" -> Seq("doc_id"),
    "d22_phash_pairs" -> Seq("doc_a", "doc_b"),
    "d23_phash_incremental" -> Seq("doc_a", "doc_b"),
    "m5_wav_meta" -> Seq("doc_id"),
    "m25_avi_meta" -> Seq("doc_id"),
    "m26_ico_meta" -> Seq("doc_id"),
    "m27_gzip_meta" -> Seq("doc_id"),
    "m28_elf_meta" -> Seq("doc_id"),
    "m29_zstd_meta" -> Seq("doc_id"),
    "m6_wav_frames" -> Seq("doc_id", "frame_id"),
    "m10_audio_dup" -> Seq("doc_a", "doc_b"),
    "m30_audio_landmarks" -> Seq("doc_a", "doc_b"),
    "m31_ogg_meta" -> Seq("doc_id"),
    "m32_ebml_meta" -> Seq("doc_id"),
    "m33_sqlite_meta" -> Seq("doc_id"),
    "m7_video_meta" -> Seq("doc_id"),
    "m8_gif_meta" -> Seq("doc_id"),
    "m11_bmp_meta" -> Seq("doc_id"),
    "m12_tiff_meta" -> Seq("doc_id"),
    "m13_id3_meta" -> Seq("doc_id"),
    "m24_pdf_meta" -> Seq("doc_id"),
    "m17_jpeg_dqt" -> Seq("doc_id"),
    "m18_webp_meta" -> Seq("doc_id"),
    "m19_zip_meta" -> Seq("doc_id", "entry_idx"),
    "m20_charset_sniff" -> Seq("doc_id"),
    "st30_charset_stream" -> Seq("doc_id"),
    "m21_tar_meta" -> Seq("doc_id", "entry_idx"),
    "m22_mp3_frame" -> Seq("doc_id"),
    "m23_flac_meta" -> Seq("doc_id"),
    "m14_warc_records" -> Seq("doc_id", "rec_idx"),
    "c53_main_content" -> Seq("doc_id"),
    "st27_content_stream" -> Seq("doc_id"),
    "c54_robots_gate" -> Seq("doc_id"),
    "m15_exif_gps" -> Seq("doc_id"),
    "c55_warc_ingest" -> Seq("doc_id", "rec_idx"),
    "st25_robots_stream" -> Seq("doc_id"),
    "t27_links" -> Seq("doc_id", "link_idx"),
    "c56_epoch_order" -> Seq("epoch", "shard", "pos"),
    "t28_markdown" -> Seq("doc_id"),
    "q56_profile" -> Seq("col_name"),
    "st26_warc_stream" -> Seq("doc_id", "rec_idx"),
    "m16_png_gps" -> Seq("doc_id"))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (k, f) =>
      k -> { (s: SparkSession, d: String) =>
        val df = f(s, d)
        gateSort.get(k)
          .map(cs => df.coalesce(1).sortWithinPartitions(cs.map(col): _*))
          .getOrElse(df)
      }
    }

  private def rawQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> ((s, d) => Relational.pricingSummary(t(s, d, "lineitem"))),
    "q2_filter_project" -> ((s, d) => Relational.filterProject(t(s, d, "lineitem"))),
    "q3_top_revenue" -> ((s, d) =>
      Relational.topRevenue(t(s, d, "customer"), t(s, d, "orders"), t(s, d, "lineitem"))),
    "q4_exists_semi" -> ((s, d) => Relational.existsSemi(t(s, d, "orders"), t(s, d, "lineitem"))),
    "q5_nation_revenue" -> ((s, d) => Relational.nationRevenue(t(s, d, "region"),
      t(s, d, "nation"), t(s, d, "customer"), t(s, d, "orders"), t(s, d, "lineitem"))),
    "q6_selective_agg" -> ((s, d) => Relational.selectiveAgg(t(s, d, "lineitem"))),
    "q7_rollup" -> ((s, d) => Relational.rollupAgg(t(s, d, "lineitem"))),
    "q8_grouping_sets" -> ((s, d) => Relational.cubeAgg(t(s, d, "orders"))),
    "q9_pivot" -> ((s, d) => Relational.pivotEvents(t(s, d, "events"))),
    "q10_topn_group" -> ((s, d) => Relational.topNPerGroup(t(s, d, "part"))),
    "q11_window_running" -> ((s, d) => Relational.windowRunning(t(s, d, "events"))),
    "q12_distinct" -> ((s, d) => Relational.distinctUsers(t(s, d, "events"))),
    // r13 staged-artifact conversion (the c23/c47 idiom): the HLL++
    // estimates — the only engine-specific values — stage as parquet
    // the DuckDB oracle reads verbatim; the returned frame is the
    // est-vs-exact error report, pure relational algebra both engines
    // replay. Flipped from rows-only to FULL oracle.
    // c64 (r14): cross-segment audience overlap via HLL inclusion–
    // exclusion — answered from the sketch table alone (the corpus-
    // join-free trick); estimates staged, audit algebra (exact
    // overlap/union via the join the sketch path avoids, relative
    // error vs the union) oracle-replayed — the q13 idiom
    "c64_overlap_sketch" -> ((s, d) => {
      val ev = t(s, d, "events")
      Curation.overlapSketch(ev).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/c64_est")
      Curation.overlapSketchEval(s.read.parquet(stageDir(d) + "/c64_est"), ev)
    }),
    // c67 (r15): KMV/theta-sketch audience overlap — the DIRECT
    // intersection estimator HLL structurally lacks (c64 must go
    // through inclusion-exclusion). Hash-deterministic ⇒ the WHOLE
    // pipeline, sketch included, replays in the oracle (no staged
    // estimates); the sketch table is persisted and estimates are
    // computed from the read-back artifact alone (the c16 posture)
    // Segments = order priority over the CUSTOMER key — audiences that
    // genuinely partially overlap (~1100 shared of ~1480 union at
    // sf0.01), so the intersection estimator is tested away from the
    // overlap==union degenerate case
    "c67_kmv_overlap" -> ((s, d) => {
      val o = t(s, d, "orders")
      Curation.kmvSketch(o, "o_orderpriority", "o_custkey")
        .coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/c67_sk")
      Curation.kmvOverlapEval(s.read.parquet(stageDir(d) + "/c67_sk"),
        o, "o_orderpriority", "o_custkey")
    }),
    "q13_approx_distinct" -> ((s, d) => {
      val ev = t(s, d, "events")
      Relational.approxDistinct(ev).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/q13_est")
      Relational.approxDistinctEval(s.read.parquet(stageDir(d) + "/q13_est"), ev)
    }),
    "q14_percentiles" -> ((s, d) => Relational.percentiles(t(s, d, "events"))),
    // r13 staged conversion: GK sketch estimates staged; the returned
    // frame is the empirical rank-error report (the metric GK bounds),
    // exact integer counting both engines replay. FULL oracle.
    "q38_percentiles_approx" -> ((s, d) => {
      val ev = t(s, d, "events")
      Relational.percentilesApprox(ev).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/q38_est")
      Relational.percentilesApproxEval(s.read.parquet(stageDir(d) + "/q38_est"), ev)
    }),
    "q15_sessionize" -> ((s, d) => TimeJoins.sessionize(t(s, d, "events"))),
    // q78 (r14): the NATIVE session_window form of q15 — Spark's
    // built-in gap-merge aggregation (the one that transfers unchanged
    // to a watermarked stream), gated against the same lag-form algebra
    "q78_session_native" -> ((s, d) =>
      TimeJoins.sessionizeNative(t(s, d, "events"))),
    "q16_asof_join" -> ((s, d) => TimeJoins.asofJoin(t(s, d, "events"))),
    // the labeling join: first outcome at-or-after each feature row,
    // with the time-to-outcome column; reverse-order single carry
    "q59_asof_forward" -> ((s, d) => TimeJoins.asofForward(t(s, d, "events"))),
    // the feature-store as-of: matches older than the staleness bound
    // are WORSE than no match and null out
    "q62_asof_tolerance" -> ((s, d) => TimeJoins.asofTolerance(t(s, d, "events"))),
    "q17_range_join" -> ((s, d) => TimeJoins.rangeJoin(t(s, d, "orders"), t(s, d, "lineitem"))),
    "q18_set_ops" -> ((s, d) =>
      Relational.setOps(t(s, d, "customer"), t(s, d, "supplier"), t(s, d, "nation"))),
    "q19_json_extract" -> ((s, d) => Relational.jsonExtract(t(s, d, "events"))),
    // q72 (r14): nested array-of-struct analytics — fold lineitems into
    // sorted per-order documents, then HOF-only stats (aggregate folds
    // on exact cents, filter counts, positional access), never
    // re-flattening; oracle replays the same stats relationally
    "q72_nested" -> ((s, d) => Relational.nestedOrderStats(t(s, d, "lineitem"))),
    "q20_string_funcs" -> ((s, d) => Relational.stringFuncs(t(s, d, "part"))),
    "q21_date_series" -> ((s, d) => Relational.dateSeries(t(s, d, "orders"))),
    "q22_anti_join" -> ((s, d) => Relational.antiJoin(t(s, d, "customer"), t(s, d, "orders"))),
    "d1_dedup_exact" -> ((s, d) => Dedup.exact(t(s, d, "documents"))),
    // d2/d3 FULL oracle via staged signatures: the signature values are
    // JVM expressions (xxhash64 / graft_minhash64 / graft_simhash64)
    // DuckDB cannot recompute, but everything AFTER them — banding,
    // bucket caps, candidate joins, exact verify — is pure relational
    // algebra the oracle replays over the staged tables
    "d2_dedup_minhash" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // ONE shingle+sign pass: the checkpoint feeds both staging writes
      // AND the pair derivation (was three full recomputes)
      val sigs = Dedup.minhashSignatures(docs).localCheckpoint()
      sigs.select(col("doc_id"), col("hsh"), col("shn"))
        .coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/d2_sigs")
      Dedup.bandedSigs(sigs).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/d2_banded")
      Dedup.minhashPairsFromSigs(sigs)
    }),
    // d32: the signature STATE TABLE maintained through the TxTable
    // ACID layer — the composition the r12 verdict prescribed (dedup
    // state tables need a transactional format at 100 TB): CREATE the
    // corpus (odd-id) signature table, MERGE the batch (even-id)
    // signatures as one atomic file-pruned commit (pure inserts — ids
    // are globally unique, the append-only contract), derive pairs
    // from the READ-BACK maintained table. Result == d2's full
    // recompute over all docs; oracle = the d2 replay over a FRESH
    // direct-recompute staging (r14 — so ACID corruption cannot replay
    // into both sides).
    "d32_state_table_tx" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val root = stageDir(d) + "/d32_tx"
      graft.sources.TxTable.create(s,
        Dedup.minhashSignatures(docs.filter(pmod(col("doc_id"), lit(2)) === 1)),
        root, "doc_id")
      graft.sources.TxTable.merge(s, root,
        Dedup.minhashSignatures(docs.filter(pmod(col("doc_id"), lit(2)) === 0)),
        "doc_id")
      val sigs = graft.sources.TxTable.read(s, root).localCheckpoint()
      // r14: the ORACLE's inputs are staged from a FRESH direct
      // recompute over the union — NOT the read-back — while the gate
      // keeps reading the maintained table. A MERGE that dropped or
      // duplicated signature rows now diverges the two sides, so the
      // hash asserts ACID value-invisibility itself (the r13 staging
      // fed both sides the read-back, which replayed any corruption
      // into the oracle too)
      val fresh = Dedup.minhashSignatures(docs).localCheckpoint()
      fresh.select(col("doc_id"), col("hsh"), col("shn"))
        .coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/d32_sigs")
      Dedup.bandedSigs(fresh).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/d32_banded")
      Dedup.minhashPairsFromSigs(sigs)
    }),
    // q79 (r14): RESTORE as a commit — the table is mutated twice (a
    // value-overwriting merge, then a delete), restored to v1, and the
    // read-back must equal the RAW create input exactly; a restore that
    // leaves any merged value or misses a deleted row hash-fails.
    // History stays intact (spec: the bad versions remain travelable).
    "q79_tx_restore" -> ((s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val root = stageDir(d) + "/q79_tx"
      graft.sources.TxTable.create(s, o, root, "o_orderkey")
      graft.sources.TxTable.merge(s, root,
        o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
          .withColumn("o_orderstatus", lit("X"))
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        "o_orderkey")
      graft.sources.TxTable.deleteKeys(s, root,
        o.filter(pmod(col("o_orderkey"), lit(11)) === 3)
          .select(col("o_orderkey")), "o_orderkey")
      graft.sources.TxTable.restore(root, "o_orderkey", 1L)
      graft.sources.TxTable.read(s, root)
    }),
    // c66 (r14): right-to-be-forgotten ERASURE through the ACID layer —
    // the GDPR/opt-out governance action a training-data corpus must
    // support: the corpus lives in a TxTable, a deterministic revoked
    // set (%13 = 5, the consent-withdrawal stand-in) is deleted as ONE
    // file-pruned transactional commit, and the audit reports
    // before/after per source (before via TIME TRAVEL to v1 — the
    // erasure receipt a regulator reads). Oracle recomputes both sides
    // from the RAW table, so the hash asserts deleteKeys' VALUE
    // correctness: one surviving revoked row or one over-deleted row
    // diverges a per-source count.
    "c66_erasure_audit" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val root = stageDir(d) + "/c66_tx"
      graft.sources.TxTable.create(s, docs, root, "doc_id")
      graft.sources.TxTable.deleteKeys(s, root,
        docs.filter(pmod(col("doc_id"), lit(13)) === 5).select(col("doc_id")),
        "doc_id")
      val before = graft.sources.TxTable.read(s, root, asOf = Some(1L))
        .groupBy(col("source")).agg(count(lit(1)).as("n_before"))
      val after = graft.sources.TxTable.read(s, root)
        .groupBy(col("source")).agg(count(lit(1)).as("n_after"),
          sum(col("n_chars")).as("chars_after"))
      before.join(after, Seq("source"), "left")
        .select(col("source"), col("n_before"),
          (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_revoked"),
          coalesce(col("n_after"), lit(0L)).as("n_after"),
          coalesce(col("chars_after"), lit(0L)).as("chars_after"))
    }),
    // c71 (r16): ERASURE CASCADE to derived state — the r15 verdict's
    // item 3: c66/st38 delete revoked docs from the CORPUS table, but
    // GDPR erasure is only done when it propagates to the persisted
    // DERIVED artifacts that still carry the revoked content. The
    // cascade is driven from the CHANGE FEED (q81's pre-image delete
    // rows — what a downstream consumer actually has), never from the
    // revocation list, so repair work is ∝ the delta:
    //  (1) the d32 signature STATE TABLE: a file-pruned transactional
    //      deleteKeys of the feed's keys;
    //  (2) the d17 SHINGLE artifact (corpus-wide (sh, cnt) counts):
    //      the deleted docs' own window counts DECREMENT the corpus
    //      counts (cnt is additive over docs; zero rows drop out) —
    //      no corpus recompute;
    //  (3) the st40 KMV sketch table: k-smallest CANNOT un-merge (the
    //      honest asymmetry) — affected segments REBUILD from the
    //      post-erasure corpus, untouched segments carry verbatim
    //      (revocation is source-skewed to srcs 0-4 so 15 of 20
    //      segments genuinely take the carry path).
    // Oracle = the from-scratch recompute over the post-erasure corpus
    // for ALL THREE artifacts (doc/char counts per source, signature
    // row/shingle-count totals, the 8-token-window count histogram,
    // and the per-segment KMV sketch sizes + hash sums — every value
    // relationally replayable).
    "c71_erasure_cascade" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      val root = stageDir(d) + "/c71_tx"
      val sigRoot = stageDir(d) + "/c71_sigs_tx"
      graft.sources.TxTable.create(s, docs, root, "doc_id")
      graft.sources.TxTable.create(s, Dedup.minhashSignatures(docs),
        sigRoot, "doc_id")
      val shingleArt = Dedup.dupSpanShingles(docs).localCheckpoint()
      val kmvArt = Curation.kmvSketch(docs, "source", "doc_id").localCheckpoint()
      val revoked = docs.filter(pmod(col("doc_id"), lit(13)) === 5 &&
          col("source").isin("src0", "src1", "src2", "src3", "src4"))
        .select(col("doc_id"))
      val v2 = graft.sources.TxTable.deleteKeys(s, root, revoked, "doc_id")
      val feed = graft.sources.TxTable.changes(s, root, 1L, v2)
        .filter(col("_change_type") === "delete")
        .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
        .localCheckpoint()
      graft.sources.TxTable.deleteKeys(s, sigRoot,
        feed.select(col("doc_id")), "doc_id")
      val delOcc = Dedup.dupSpanShingles(feed)
      val shingleRepaired = shingleArt
        .join(delOcc.select(col("sh"), col("cnt").as("dc")), Seq("sh"), "left")
        .select(col("sh"),
          (col("cnt") - coalesce(col("dc"), lit(0L))).as("cnt"), col("w"))
        .filter(col("cnt") > 0)
      val affected = feed.select(col("source").as("seg")).distinct()
        .localCheckpoint()
      val rebuilt = Curation.kmvSketch(
        graft.sources.TxTable.read(s, root).join(
          broadcast(affected.select(col("seg").as("source"))),
          Seq("source"), "left_semi"),
        "source", "doc_id")
      val kmvRepaired = kmvArt
        .join(broadcast(affected), Seq("seg"), "left_anti")
        .unionByName(rebuilt)
      val corpusPart = graft.sources.TxTable.read(s, root)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("v"))
        .select(lit("corpus").as("artifact"), col("source").as("k"),
          col("n"), col("v"))
      val sigsPart = graft.sources.TxTable.read(s, sigRoot)
        .agg(count(lit(1)).as("n"), sum(col("shn")).cast("long").as("v"))
        .select(lit("sigs").as("artifact"), lit("all").as("k"),
          col("n"), col("v"))
      val shinglePart = shingleRepaired.groupBy(col("cnt"))
        .agg(count(lit(1)).as("n"))
        .select(lit("shingles").as("artifact"),
          col("cnt").cast("string").as("k"), col("n"),
          (col("cnt") * col("n")).as("v"))
      val kmvPart = kmvRepaired.groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("h")).as("v"))
        .select(lit("kmv").as("artifact"), col("seg").as("k"),
          col("n"), col("v"))
      corpusPart.unionByName(sigsPart).unionByName(shinglePart)
        .unionByName(kmvPart)
    }),
    // LSH banding telemetry over its OWN staged banded table (gate
    // order-independence, the d27 posture)
    "d30_lsh_stats" -> ((s, d) => {
      val banded = Dedup.bandedSigs(
        Dedup.minhashSignatures(t(s, d, "documents"))).localCheckpoint()
      banded.coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/d30_banded")
      Dedup.lshBandStats(banded)
    }),
    // estimator-vs-exact calibration over the SAME candidate machinery;
    // its own staging so the d2 and d27 gates stay order-independent
    "d27_minhash_eval" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sigs = Dedup.minhashSignatures(docs).localCheckpoint()
      sigs.coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/d27_sigs")
      Dedup.bandedSigs(sigs).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/d27_banded")
      Dedup.minhashEvalFromSigs(sigs)
    }),
    // d38 (r15): b-bit minhash (Li-König 2010) at b=1 — the 64×
    // signature-storage shrink with the 2C−1 estimator; same capped
    // LSH candidates as d2/d27, packed-word XOR+popcount compare; own
    // staging for gate order-independence
    // c69 (r15): the dedup-threshold ROI sweep — pairs/docs touched at
    // each candidate threshold from ONE candidate+estimate pass;
    // integer cutoffs (matches >= ceil(64t)) keep compares engine-exact
    // c70 (r15): cross-source duplication matrix — WHICH sources
    // duplicate WHICH (c61 gives the single rate; this localizes it to
    // provenance cells); consumes the d2 pair table + two skinny
    // endpoint joins, symmetric (least, greatest) cells
    "c70_source_matrix" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sigs = Dedup.minhashSignatures(docs).localCheckpoint()
      sigs.select(col("doc_id"), col("hsh"), col("shn"))
        .coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/c70_sigs")
      Dedup.bandedSigs(sigs).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/c70_banded")
      Curation.sourceDupMatrix(Dedup.minhashPairsFromSigs(sigs), docs)
    }),
    "c69_threshold_sweep" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sigs = Dedup.minhashSignatures(docs).localCheckpoint()
      sigs.coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/c69_sigs")
      Dedup.bandedSigs(sigs).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/c69_banded")
      Dedup.thresholdSweep(sigs)
    }),
    "d38_bbit_minhash" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sigs = Dedup.minhashSignatures(docs).localCheckpoint()
      sigs.coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/d38_sigs")
      Dedup.bandedSigs(sigs).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/d38_banded")
      Dedup.bbitEvalFromSigs(sigs)
    }),
    // entity resolution: a planted dirty feed fuzzy-matched to the part
    // catalog under the UNION of last- and first-token blockings — the
    // %5 case edits the LAST token (the old single-blocking known-miss,
    // now carried by the first-token pass), the %3 cases edit the first
    "d28_fuzzy_join" -> ((s, d) => {
      val p = t(s, d, "part")
      val dirty = p.select(col("p_partkey").as("dirty_id"),
        when(pmod(col("p_partkey"), lit(5)) === 2,
          concat(col("p_name"), lit("q")))
        .when(pmod(col("p_partkey"), lit(3)) === 0,
          concat(lit("x"), substring(col("p_name"), 2, 1000)))
        .when(pmod(col("p_partkey"), lit(3)) === 1,
          concat(lit("z"), col("p_name")))
        .otherwise(col("p_name")).as("name"))
      Dedup.fuzzyNameJoin(dirty,
        p.select(col("p_partkey").as("cat_id"), col("p_name").as("name")))
    }),
    "c43_hashed_embeddings" -> ((s, d) =>
      Curation.hashedEmbeddings(t(s, d, "documents"))),
    "d3_dedup_simhash" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sigs = Dedup.simhashSignatures(docs).localCheckpoint()
      sigs.coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/d3_sigs")
      Dedup.simhashPairsFromSigs(sigs)
    }),
    "d4_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(t(s, d, "documents"))),
    // d35 (r14): EXACT all-pairs Jaccard via prefix filtering (the
    // AllPairs/PPJoin family) — zero false negatives over the WHOLE
    // corpus (d4 compares same-source pairs only; d2 is probabilistic),
    // sub-quadratic because candidates come from shared RARE-prefix
    // tokens only; the staged shingle table lets the oracle replay
    // df → global rank → prefix → candidates → exact verify
    "d35_prefix_allpairs" -> ((s, d) => {
      val sh = Dedup.shingleTable(t(s, d, "documents"))
      sh.coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/d35_sh")
      Dedup.prefixAllPairsFromShingles(sh, 0.5)
    }),
    // d36 (r14): d35's exact prefix-filter join in the d11/d12 ingest
    // posture — the even batch probes the odd corpus's persisted
    // shingle + df artifact; the corpus-df global order is stale for
    // batch-new shingles (rank df=0) and loses ZERO recall (the lemma
    // needs only a consistent order); == the full recompute restricted
    // to batch-touching pairs, spec-asserted
    "d36_prefix_incremental" -> ((s, d) => {
      val sh = Dedup.shingleTable(t(s, d, "documents"))
      sh.coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/d36_sh")
      val corpusSh = sh.filter(pmod(col("doc_id"), lit(2)) === 1).localCheckpoint()
      val corpusDf = Dedup.prefixDfTable(corpusSh).localCheckpoint()
      // the third persisted index artifact (r14): corpus prefix rows,
      // computed once at index build — probes never re-rank the corpus
      val corpusPrefix = Dedup.prefixIndex(corpusSh, corpusDf).localCheckpoint()
      Dedup.prefixIncremental(
        sh.filter(pmod(col("doc_id"), lit(2)) === 0), corpusSh, corpusDf,
        corpusPrefix)
    }),
    // substring-level dedup: maximal repeated 8-token spans (cross- or
    // within-doc), interval-island merged — fully relational, full oracle
    "d16_dup_spans" -> ((s, d) => Dedup.dupSpans(t(s, d, "documents"))),
    // d33 (r14): content-defined chunking (the LBFS divisor rule on a
    // 4-token polynomial window) + corpus-wide chunk duplication counts
    // — storage-shaped sub-document dedup identities; oracle replays
    // the token values, rolling window, boundary rule, running chunk
    // index, ordered re-assembly and the count join relationally
    "d33_cdc_chunks" -> ((s, d) => Dedup.cdcChunks(t(s, d, "documents"))),
    // d34: the d12/d17 ingest posture at the chunk layer — the even
    // half probes the odd half's persisted chunk-count artifact;
    // within-batch counts + corpus-membership flags, corpus never
    // re-chunked
    "d34_chunk_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val corpus = Dedup.cdcChunkCounts(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)).localCheckpoint()
      Dedup.cdcChunksIncremental(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), corpus)
    }),
    // st33: d34's probe deployed as a STREAMING ingest (two micro-
    // batches, state appended between them) — flags are as-of ingest
    // time, which the oracle replays via the deterministic batch split
    "st33_chunk_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.chunkIngestFileStream(Tables.tune(s), d)),
    // st36 (r14): d36's exact prefix-filter dedup as a STREAMING
    // ingest — probe the growing shingle state under the FROZEN
    // corpus-df order (stale order loses zero recall, so a frozen
    // prefix index is valid across the stream's lifetime); pairs are
    // symmetric so the drained set equals d36's batch answer and the
    // same relational replay gates it (own staged copy of the table)
    "st36_prefix_stream" -> ((s, d) => {
      val sh = Dedup.shingleTable(t(s, d, "documents"))
      sh.coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/st36_sh")
      graft.sources.TxTable.release(sh)
      graft.streaming.StreamDrivers.prefixIngestFileStream(Tables.tune(s), d)
    }),
    // st35 (r14): late-data ACCOUNTING — out-of-order arrival by
    // construction (parity micro-batches), watermark drops replayed
    // exactly by the oracle (kept iff even-batch OR window_end >
    // max(even ts) − 30 min), emitted counts reconciled against batch
    // totals into the per-window data-loss report
    "st35_late_audit" -> ((s, d) =>
      graft.streaming.StreamDrivers.lateAuditFileStream(Tables.tune(s), d)),
    // st34: q70's additive MV maintenance per micro-batch through the
    // transactional sink; cent-sum associativity makes the streamed MV
    // equal the one-shot recompute, so q70's oracle gates it verbatim
    "st34_matview_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.matviewFileStream(Tables.tune(s), d)),
    // st43 (r17): the TxTable change feed as a STREAMING SOURCE — a
    // subscriber tails the commit log by version (filename-only poll)
    // and maintains the per-customer revenue aggregate incrementally
    // from change rows alone, watermark durably in the sink's txn
    // action; multi-commit windows, a DV delete through the feed, an
    // empty poll, a replayed window (guard no-op), and sink-only
    // recovery are all proven in-driver; oracle = the from-scratch
    // aggregate over the upstream head
    "st43_change_feed" -> ((s, d) =>
      graft.streaming.StreamDrivers.changeFeedStream(Tables.tune(s), d)),
    // st44 (r17): st38's continuous-compliance erasure with
    // MERGE-ON-READ deletes — per-batch deleteKeysDV commits sidecars
    // only (data-file mtime map required unchanged across the whole
    // stream), the scheduled compaction materializes the vectors, and
    // vacuum completes PHYSICAL erasure (pre-compaction bytes and
    // sidecars required gone, time travel to them required loud);
    // same oracle as st38/c66 — vectors are invisible to the algebra
    "st44_erasure_dv_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.erasureDvFileStream(Tables.tune(s), d)),
    // st37 (r14): exactly-once table state from an at-least-once stream —
    // every micro-batch deliberately applied TWICE plus a post-stream
    // replay of the last batch; the TxTable txn watermark (the Delta txn
    // action) no-ops the re-deliveries, and q70's full-recompute oracle
    // hash-fails on any double-apply
    "st37_idempotent_sink" -> ((s, d) =>
      graft.streaming.StreamDrivers.matviewIdempotentFileStream(Tables.tune(s), d)),
    // st38 (r14): c66's transactional erasure driven by a streaming
    // consent-revocation feed — one file-pruned deleteKeys commit per
    // micro-batch; delete-set-partition invariance makes the streamed
    // result equal the one-shot delete, so c66's oracle gates it
    "st38_erasure_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.erasureFileStream(Tables.tune(s), d)),
    // char-window tier of d16: 20-char substring windows catch repeats
    // shorter than 8 tokens and across token boundaries
    "d20_char_spans" -> ((s, d) => Dedup.dupSpansChars(t(s, d, "documents"))),
    // incremental substring dedup: even-id batch probes the odd-id
    // corpus's persisted shingle-count table (localCheckpoint models the
    // persisted artifact); == dupSpans(corpus ∪ batch) restricted to the
    // batch, spec-asserted — and the oracle replays it relationally
    "d17_dupspan_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val corpusShingles = Dedup
        .dupSpanShingles(docs.filter(pmod(col("doc_id"), lit(2)) === 1))
        .localCheckpoint()
      Dedup.dupSpansIncremental(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), corpusShingles)
    }),
    // the remediation half of d16: documents rewritten with every
    // duplicated span's tokens dropped — detect → remove, full oracle
    "d18_span_scrub" -> ((s, d) => Dedup.scrubDupSpans(t(s, d, "documents"))),
    "d5_embed_neardup" -> ((s, d) => Dedup.embeddingPairs(t(s, d, "embeddings"))),
    "s1_ann_brute" -> ((s, d) => Similarity.bruteTopK(t(s, d, "embeddings"))),
    // exact MIPS: rank by raw inner product (decimal-6, id tie-break) —
    // the retrieval-model scoring shape; the augmented-LSH scale path
    // (norm augmentation → sign-LSH buckets) is spec-gated on recall
    "s14_mips" -> ((s, d) => Similarity.mipsTopK(t(s, d, "embeddings"))),
    // scalar-quantized ANN: per-dim [min,max] → 0..255 codes → s1's
    // ranking in the quantized domain; integer dots are exact in both
    // engines, so this is a FULL oracle end to end
    "s10_quantized_ann" -> ((s, d) => Similarity.quantizedTopK(t(s, d, "embeddings"))),
    // s11 product quantization, FULL oracle: the learned per-subspace
    // codebooks are the staged model artifact (the s6-seeds idiom);
    // DuckDB replays assignment (integer-quantized L2 argmin), reconstruction
    // and the ADC cosine ranking relationally
    "s11_pq_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cb = Similarity.pqCodebooks(emb)
      cb.coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/s11_codebooks")
      Similarity.pqTopK(emb, cb)
    }),
    // s2 FULL oracle: the seeded sign codes are JVM float math, but the
    // probe (hamming ≤ 1 on the staged codes) and the decimal-6 cosine
    // ranking replay relationally — s1's proven ranking shape
    "s2_ann_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshCodes(emb).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/s2_codes")
      Similarity.lshTopK(emb)
    }),
    // s16 recall monitoring as an operator: per-query overlap of the
    // staged-code LSH ranking against the exact s1 ranking
    "s16_ann_eval" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshCodes(emb).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/s16_codes")
      Similarity.annEval(emb)
    }),
    // s3 FULL oracle: the deterministic pivot set (smallest xxhash64 —
    // the one non-ANSI step) is staged; cell assignment (decimal-6
    // argmin over the pivots), the nProbe probe, and the final
    // decimal-6 cosine ranking all replay relationally
    "s3_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfPivotIds(emb).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/s3_pivots")
      Similarity.ivfTopK(emb)
    }),
    // s12 IVF-PQ, FULL oracle: both index artifacts stage — the s3
    // pivot set and the s11 codebook model — and cell choice, code
    // choice, reconstruction and the ADC ranking all replay relationally
    "s12_ivf_pq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfPivotIds(emb).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/s12_pivots")
      val cb = Similarity.pqCodebooks(emb)
      cb.coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/s12_codebooks")
      Similarity.ivfPqTopK(emb, cb)
    }),
    // s15 residual IVF-PQ (the paper's §IV IVFADC proper), FULL oracle:
    // codes quantize v − pivot(cell), codebooks are fit on the
    // residuals, candidates reconstruct as pivot + decoded residual.
    // Shipped ALONGSIDE s12's raw-code form because the better encoding
    // is a corpus property, not a universal: measured 0.18 vs 0.72
    // top-5 recall on these isotropic test embeddings, decisively
    // reversed on clustered corpora (see the ivfPqTopK scaladoc + spec)
    "s15_ivfadc" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfPivotIds(emb).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/s15_pivots")
      val cb = Similarity.pqCodebooks(Similarity.ivfResiduals(emb))
      cb.coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/s15_codebooks")
      Similarity.ivfPqTopK(emb, cb, residual = true)
    }),
    "t1_lang_id" -> ((s, d) => TextOps.langIdMetrics(t(s, d, "documents"))),
    "t2_quality" -> ((s, d) => TextOps.qualityMetrics(t(s, d, "documents"))),
    "t3_tokens" -> ((s, d) => TextOps.tokenCounts(t(s, d, "documents"))),
    // r14: the four-round hash-red root cause was an ORACLE TYPE bug,
    // not a stale driver capture (the r13 re-key falsified that theory:
    // fresh key, fresh SQL, still red). DuckDB sum() over integers is
    // HUGEINT; the oracle's final SELECT leaked n_tokens uncast where
    // Spark emits BIGINT — fixed with CAST(n_tokens AS BIGINT)
    "t17b_lexical_diversity" -> ((s, d) =>
      TextOps.lexicalDiversity(t(s, d, "documents"))),
    // code-vs-prose routing over planted code docs (%9==0)
    "t18_code_detect" -> ((s, d) =>
      TextOps.codeDetect(plantCode(t(s, d, "documents")))),
    "t19_readability" -> ((s, d) =>
      TextOps.readability(t(s, d, "documents"))),
    // t39 (r15): the SYLLABLE-based readability pair (Flesch RE +
    // Flesch-Kincaid grade) — vowel-group heuristic syllables as a HOF
    // fold, scores as exact integer rationals (the t19 discipline)
    "t39_flesch" -> ((s, d) => TextOps.flesch(t(s, d, "documents"))),
    // mojibake repair over planted damage + a correctly-encoded control
    "t21_mojibake" -> ((s, d) =>
      TextOps.fixMojibake(plantMojibake(t(s, d, "documents")))),
    "t22_truncate_middle" -> ((s, d) =>
      TextOps.truncateMiddle(t(s, d, "documents"))),
    "c40_pmi_phrases" -> ((s, d) =>
      Curation.pmiPhrases(t(s, d, "documents"))),
    // planted keyphrases (the corpus's uniform vocabulary IS the
    // adaptive stoplist — nothing multi-word survives unplanted)
    "c42_rake_keywords" -> ((s, d) =>
      Curation.rakeKeywords(plantKeyphrases(t(s, d, "documents")))),
    // phrase retrieval gated on c40's top collocations — the mine→search
    // composition stays fully relational (no driver round-trip)
    "c41_phrase_search" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Curation.phraseSearch(docs, Curation.pmiPhrases(docs, topK = 3))
    }),
    "t4_fingerprint" -> ((s, d) => TextOps.fingerprints(t(s, d, "documents"))),
    "m1_media_meta" -> ((s, d) => Multimodal.mediaMeta(t(s, d, "documents"))),
    "m4_media_text_gate" -> ((s, d) => Multimodal.mediaTextGate(t(s, d, "documents"))),
    // real ImageIO pixel decode on planted PNGs (every 16th doc_id),
    // stub fallback on the text payloads — both branches full-oracle
    "m2_media_features" -> ((s, d) => Multimodal.mediaFramesPlanted(s, t(s, d, "documents"))),
    "m3_frame_dedup" -> ((s, d) => Multimodal.frameDedup(s, t(s, d, "documents"))),
    // perceptual dHash signature table: REAL ImageIO decode of planted
    // PNGs (lossless gradient pixels → the oracle replays the hash from
    // the plant formula), stub tier for text payloads; two 32-bit halves
    "m9_image_phash" -> ((s, d) => Multimodal.imagePhash(s, t(s, d, "documents"))),
    // visual near-dup pairs over the m9 signature table: 4-chunk banding
    // (full recall to Hamming 3 by pigeonhole) + exact popcount verify
    "d22_phash_pairs" -> ((s, d) =>
      Multimodal.phashPairs(Multimodal.imagePhash(s, t(s, d, "documents")))),
    // pairs→clusters for the VISUAL modality: the shared CC core over
    // the Hamming-verified phash edge list
    "d31_phash_clusters" -> ((s, d) =>
      Multimodal.phashClusters(Multimodal.imagePhash(s, t(s, d, "documents")))),
    // incremental visual dedup: the odd half of the planted tier (by
    // doc_id/16 parity) is the persisted corpus, the even half the new
    // batch — the d11 ingest posture over phash signatures
    "d23_phash_incremental" -> ((s, d) => {
      val ph = Multimodal.imagePhash(s, t(s, d, "documents")).localCheckpoint()
      Multimodal.phashIncremental(
        ph.filter(pmod(col("doc_id"), lit(32)) === 16),
        ph.filter(pmod(col("doc_id"), lit(32)) === 0))
    }),
    // real RIFF/WAV header parsing over planted 8-bit PCM payloads
    // (every 8th doc_id); synthetic fallback rows mirror the image path
    "m5_wav_meta" -> ((s, d) => Multimodal.wavMetaPlanted(s, t(s, d, "documents"))),
    // m25 (r14): the RIFF container's VIDEO form — real avih main-header
    // parse behind a real top-level chunk walk (planted JUNK chunk
    // defeats fixed-offset readers); planted rows replay the plant
    // formula, text rows the synthetic fallback
    "m25_avi_meta" -> ((s, d) => Multimodal.aviMetaPlanted(s, t(s, d, "documents"))),
    // m26 (r14): REAL Windows-icon directory parse (the favicon asset):
    // zero-means-256 dimension rule, every declared entry's
    // offset+size span validated in-payload before `complete`
    "m26_ico_meta" -> ((s, d) => Multimodal.icoMetaPlanted(s, t(s, d, "documents"))),
    // m27 (r14): RFC 1952 gzip member framing — FLG optional-field walk
    // (variable FEXTRA + NUL-terminated FNAME) and the END-of-member
    // trailer (CRC32/ISIZE); the crawl compression wrapper
    "m27_gzip_meta" -> ((s, d) => Multimodal.gzipMetaPlanted(s, t(s, d, "documents"))),
    // m28 (r14): ELF header metadata — class picks the 32/64 layout,
    // EI_DATA picks the byte order of every later field (all four
    // class×endian variants planted); the code-corpus binary router
    "m28_elf_meta" -> ((s, d) => Multimodal.elfMetaPlanted(s, t(s, d, "documents"))),
    // m29 (r14): zstd frame-header metadata — one descriptor byte
    // drives the whole variable layout (window/dict-id/content-size
    // field widths); the dataset-distribution compression wrapper
    "m29_zstd_meta" -> ((s, d) => Multimodal.zstdMetaPlanted(s, t(s, d, "documents"))),
    // real PCM frame features (mean |amplitude deviation| per 32-sample
    // frame) — lossless by construction, so fully oracle-replayable
    "m6_wav_frames" -> ((s, d) => Multimodal.wavFramesPlanted(s, t(s, d, "documents"))),
    // audio exact-dup pairs: per-doc decoded feature-sequence signature,
    // signature-keyed equi-join (the d22 exact tier for the audio side)
    "m10_audio_dup" -> ((s, d) => Multimodal.audioDupPairs(s, t(s, d, "documents"))),
    // m30: audio NEAR-dup pairs via landmark fingerprinting (Wang 2003)
    // over the planted trimmed/gain-halved variant corpus — the copies
    // m10's exact tier structurally cannot see; peaks → triple-peak
    // delta/ratio hashes → same-offset match counting, all relational
    "m30_audio_landmarks" -> ((s, d) =>
      Multimodal.audioLandmarkPairs(s, t(s, d, "documents"))),
    // m31: real Ogg page-header parsing (RFC 3533) — the segment-table
    // walk is the parsing test: payload length is a SUM of lacing
    // bytes, there is no fixed offset to the payload
    "m31_ogg_meta" -> ((s, d) =>
      Multimodal.oggMetaPlanted(s, t(s, d, "documents"))),
    // m32: real EBML (Matroska/WebM, RFC 8794) header parsing — all
    // variable-length integers: size fields have no fixed WIDTH, so
    // nothing after the magic sits at a fixed offset; the plant forces
    // non-minimal VINT encodings
    "m32_ebml_meta" -> ((s, d) =>
      Multimodal.ebmlMetaPlanted(s, t(s, d, "documents"))),
    // m33: real SQLite database-header parsing — page_size is a BE u16
    // where 1 means 65536 (the documented quirk; one plant tier forces
    // it), versions/encoding validated, header fields surfaced
    "m33_sqlite_meta" -> ((s, d) =>
      Multimodal.sqliteMetaPlanted(s, t(s, d, "documents"))),
    // real ISO-BMFF (MP4) container parsing over planted payloads
    // (every 8th doc_id): ftyp brand + top-level box walk to moov/mvhd
    // timescale/duration; synthetic fallback mirrors the image path
    "m7_video_meta" -> ((s, d) => Multimodal.mp4MetaPlanted(s, t(s, d, "documents"))),
    // real GIF screen-descriptor parsing over planted GIF89a payloads —
    // LE dims, packed GCT flags, full-table length check, map-only
    "m8_gif_meta" -> ((s, d) => Multimodal.gifMetaPlanted(s, t(s, d, "documents"))),
    "m11_bmp_meta" -> ((s, d) => Multimodal.bmpMetaPlanted(s, t(s, d, "documents"))),
    "m12_tiff_meta" -> ((s, d) => Multimodal.tiffMetaPlanted(s, t(s, d, "documents"))),
    "m13_id3_meta" -> ((s, d) => Multimodal.id3MetaPlanted(s, t(s, d, "documents"))),
    // PDF structural metadata: header version, object census, pages
    // /Count, info /Title, %%EOF truncation check
    "m24_pdf_meta" -> ((s, d) => Multimodal.pdfMetaPlanted(s, t(s, d, "documents"))),
    // JPEG DQT quality estimation: length-driven segment walk to the
    // quant tables, integer quant-sum quality bands, exact-rational mean
    "m17_jpeg_dqt" -> ((s, d) => Multimodal.jpegDqtPlanted(s, t(s, d, "documents"))),
    // ZIP local-file-header walk: the archive front door (EPUB/DOCX/
    // dumps), streaming shape, per-entry rows with byte-exact data
    // offsets; non-ZIP payloads emit nothing
    "m19_zip_meta" -> ((s, d) => Multimodal.zipMetaPlanted(s, t(s, d, "documents"))),
    // FLAC STREAMINFO: bit-packed fields unpacked with integer
    // div/mod over byte-aligned reads (the 36-bit sample count splits
    // across a nibble and a u32)
    "m23_flac_meta" -> ((s, d) =>
      Multimodal.flacMetaPlanted(s, t(s, d, "documents"))),
    // MPEG frame header behind the ID3 tag: table-lookup bitrate and
    // samplerate, the 144·br/sr+pad frame-length hop
    "m22_mp3_frame" -> ((s, d) =>
      Multimodal.mp3FramePlanted(s, t(s, d, "documents"))),
    // TAR ustar walk: octal size fields via conv(_, 8, 10), 512-block
    // padding arithmetic, magic-checked entries; zero end-blocks stop
    // the walk naturally
    "m21_tar_meta" -> ((s, d) => Multimodal.tarMetaPlanted(s, t(s, d, "documents"))),
    // charset sniff at the byte layer: BOM dispatch + native UTF-8
    // validity; char fields NULL for invalid payloads
    "m20_charset_sniff" -> ((s, d) =>
      Multimodal.charsetSniffPlanted(s, t(s, d, "documents"))),
    // the same sniff routed at ingest: zero-state byte-layer pure map
    "st30_charset_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.charsetFileStream(Tables.tune(s), d)),
    // WebP container dispatch: RIFF/WEBP magic, VP8X extended header
    // (flag bits, 24-bit LE canvas) vs VP8 lossy header (sync-checked
    // 14-bit dims); VP8L degrades — never misparses
    "m18_webp_meta" -> ((s, d) => Multimodal.webpMetaPlanted(s, t(s, d, "documents"))),
    // WARC container framing: planted two-record crawl files, cursor
    // walk verified by exact byte arithmetic in the oracle replay
    "m14_warc_records" -> ((s, d) =>
      Multimodal.warcRecordsPlanted(s, t(s, d, "documents"))),
    // EXIF GPS audit + in-place redaction: the m12 IFD walk inside
    // JPEG APP1, GPS sub-IFD followed to the coordinate rationals,
    // scrub audited by re-reading the cleaned bytes
    "m15_exif_gps" -> ((s, d) =>
      Multimodal.exifGpsScrubPlanted(s, t(s, d, "documents"))),
    // the SAME GPS walk + scrub over the OTHER real image container:
    // PNG's eXIf chunk found by a length-driven chunk walk
    "m16_png_gps" -> ((s, d) =>
      Multimodal.pngGpsScrubPlanted(s, t(s, d, "documents"))),
    // the crawl front door END-TO-END: WARC framing + response payload
    // slice + the t16 extraction chain in one scan; requests and
    // non-WARC payloads emit nothing
    "c55_warc_ingest" -> ((s, d) =>
      Multimodal.warcIngestPlanted(s, t(s, d, "documents"))),
    "c1_top_ngrams" -> ((s, d) => Curation.topNgrams(t(s, d, "documents"))),
    "c2_tfidf" -> ((s, d) => Curation.tfidf(t(s, d, "documents"))),
    // BM25 top-k retrieval for the corpus's highest-df terms — the
    // classic IR ranking, fully relational, full oracle
    "c25_bm25" -> ((s, d) => Curation.bm25TopK(t(s, d, "documents"))),
    "c3_hash_split" -> ((s, d) => Curation.hashSplit(t(s, d, "documents"))),
    // c3's hash split keyed on the d10 near-dup cluster id: duplicate
    // groups move to ONE split, closing the near-dup train→test leak
    "c26_leakage_split" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val clusters = Dedup.duplicateClustersFrom(
        docs.select(col("doc_id").as("vec_id")),
        Dedup.ngramJaccardPairs(docs)
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
        .select(col("vec_id").as("doc_id"), col("cluster_id"))
      Curation.leakageSafeSplit(clusters)
    }),
    "c4_stratified_sample" -> ((s, d) => Curation.stratifiedSample(t(s, d, "documents"))),
    "c5_length_buckets" -> ((s, d) => Curation.lengthBuckets(t(s, d, "documents"))),
    "q23_funnel" -> ((s, d) => TimeJoins.funnel(t(s, d, "events"))),
    "q43_conversion_window" -> ((s, d) => TimeJoins.conversionWindow(t(s, d, "events"))),
    "q25_brand_revenue" -> ((s, d) => Relational.brandRevenue(t(s, d, "region"),
      t(s, d, "nation"), t(s, d, "supplier"), t(s, d, "part"), t(s, d, "lineitem"))),
    "q24_upsert" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cur = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val upd = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      graft.sources.Sources.upsert(cur, upd, "o_orderkey")
    }),
    // q67: q24's upsert driven through the STORAGE layer — the
    // log-structured TxTable (Delta-protocol pattern: versioned commit
    // log, atomic create-if-absent, per-file key stats): create the
    // snapshot table, MERGE the update set as one commit that rewrites
    // only key-range-intersecting files, compact, read the snapshot
    // back. Oracle = the identical relational upsert — the ACID layer
    // must be value-invisible. Isolation/time-travel/pruning semantics
    // are TxTableSpec's.
    "q67_tx_merge" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cur = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val upd = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      val root = stageDir(d) + "/q67_tx"
      graft.sources.TxTable.create(s, cur, root, "o_orderkey")
      graft.sources.TxTable.merge(s, root, upd, "o_orderkey")
      graft.sources.TxTable.compact(s, root, "o_orderkey")
      graft.sources.TxTable.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    }),
    // q71 (r14): METADATA-ONLY table statistics through the ACID log —
    // the Delta fast path for count(*)/min/max(key): every commit's
    // file entries carry exact row counts + key ranges, so the stats
    // of ANY version (create → merge-with-inserts → delete) are
    // answered without opening a data file (the spec proves it by
    // removing data/ and asking again). Oracle replays the key-set
    // algebra relationally: v1 = even keys, v2 = v1 ∪ %3 keys (merge
    // inserts the odd multiples of 3), v3 = v2 minus %7 keys.
    "q71_stats_scan" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cur = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val upd = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      val dels = orders.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .select(col("o_orderkey"))
      val root = stageDir(d) + "/q71_tx"
      val v1 = graft.sources.TxTable.create(s, cur, root, "o_orderkey")
      val v2 = graft.sources.TxTable.merge(s, root, upd, "o_orderkey")
      val v3 = graft.sources.TxTable.deleteKeys(s, root, dels, "o_orderkey")
      import s.implicits._
      Seq(v1, v2, v3).map(v => graft.sources.TxTable.stats(root, Some(v)))
        .map(st => (st.version.toInt, st.numRows, st.keyMin, st.keyMax))
        .toDF("version", "n_rows", "key_min", "key_max")
    }),
    // q73 (r14): clustered compaction — q67's flow with a RANGE-
    // clustered rewrite between create and merge: rows are value-
    // invisible (q24's upsert oracle verbatim, the q67 posture) while
    // the spec measures what the clustering buys — disjoint per-file
    // key ranges, so the merge prunes to one file where a plain
    // compaction's round-robin files would all be touched
    "q73_clustered_compact" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cur = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val upd = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      val root = stageDir(d) + "/q73_tx"
      graft.sources.TxTable.create(s, cur, root, "o_orderkey")
      graft.sources.TxTable.compactClustered(s, root, "o_orderkey", 8)
      graft.sources.TxTable.merge(s, root, upd, "o_orderkey")
      graft.sources.TxTable.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    }),
    // q83 (r15): TWO-dimension z-ordered compaction inside the ACID
    // table (Delta's OPTIMIZE ZORDER BY (a, b)) — the table shape
    // merged on o_orderkey and range-read on o_custkey. Rows stay
    // value-invisible (the q73 posture: merge oracle + rectangle
    // filter); the spec measures the physical win — the SECOND
    // dimension prunes files after z-compaction where the 1-D cluster
    // leaves every file spanning its full domain
    "q83_tx_zorder" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cur = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val upd = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      val root = stageDir(d) + "/q83_tx"
      graft.sources.TxTable.create(s, cur, root, "o_orderkey")
      graft.sources.TxTable.merge(s, root, upd, "o_orderkey")
      graft.sources.TxTable.compactZOrdered(s, root, "o_orderkey", "o_custkey", 8)
      graft.sources.TxTable.read(s, root)
        .filter(col("o_orderkey") <= 30000 && col("o_custkey") <= 750)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),
    // q87 (r16): READER-SIDE DATA SKIPPING through the TxTable log —
    // Delta's data skipping, the reader half of the stats the log has
    // carried since r14: the rectangle read over the z-ordered table
    // opens ONLY the files whose LOGGED ranges (key stats + declared
    // secondary o_custkey ColStats) can intersect, and the gate PROVES
    // it by physically deleting every pruned file BEFORE the read (the
    // q71 trick at the read layer — a read that listed them would
    // fail). Both bounds derive from the log's own stats (metadata-
    // only, so the gate is SF-independent): half the key range × half
    // the custkey range. Oracle = the unpruned read's algebra (the q83
    // merge CTE) under the same bounds.
    "q87_tx_read_where" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cur = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val upd = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      val root = stageDir(d) + "/q87_tx"
      graft.sources.TxTable.create(s, cur, root, "o_orderkey",
        statsCols = Seq("o_custkey"))
      graft.sources.TxTable.merge(s, root, upd, "o_orderkey")
      graft.sources.TxTable.compactZOrdered(s, root, "o_orderkey", "o_custkey", 8)
      val files = graft.sources.TxTable.snapshot(root)
      val khi = files.map(_.kmax).max / 2
      val chi = files.flatMap(_.cols.toSeq.flatMap(_.get("o_custkey"))
        .flatMap(_.nhi)).max / 2
      val preds: Seq[(String, Any, Any)] =
        Seq(("o_orderkey", 0L, khi), ("o_custkey", 0L, chi))
      val (kept, pruned) = graft.sources.TxTable.liveFilesWhereAll(root, preds)
      require(pruned.nonEmpty && kept.nonEmpty,
        s"data skipping inert: kept=${kept.size} pruned=${pruned.size}")
      pruned.foreach(f => java.nio.file.Files.delete(
        java.nio.file.Paths.get(root, "data", f.name)))
      graft.sources.TxTable.readWhereAll(s, root, preds)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),
    // q88 (r16): the q44 CDC apply driven THROUGH the transactional
    // layer with CONDITIONAL MERGE clauses (Delta's WHEN MATCHED AND
    // pred THEN UPDATE/DELETE) — delete ops as matched-deletes,
    // max-seq as update-if-newer, D-of-absent no-op'd by the
    // not-matched clause, all resolved IN-TABLE instead of in-stream
    // (the r15 verdict's item 6). The changelog's three seq tiers
    // apply as three txn-stamped conditional merges; a STALE tier
    // (seq 0 rows for keys already at seq 1) rides in the last batch
    // to force the update-if-newer clause to actually keep target
    // rows; then the first batch REPLAYS verbatim — the (appId,
    // version) guard must no-op it wholesale (resurrecting a deleted
    // key here is exactly the at-least-once corruption the guard
    // exists for). Oracle = the q44 latest-wins replay over the SAME
    // changelog including the stale tier.
    "q88_tx_cdc_merge" -> ((s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val snap = o.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
        .withColumn("seq", lit(0L))
      val u = o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), lit("U1").as("o_orderstatus"),
          (col("o_totalprice") * 1.1).as("o_totalprice"),
          lit(1L).as("seq"), lit("U").as("op"))
      val dl = o.filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .select(col("o_orderkey"), lit(null).cast("string").as("o_orderstatus"),
          lit(null).cast("double").as("o_totalprice"),
          lit(2L).as("seq"), lit("D").as("op"))
      val ins = o.filter(pmod(col("o_orderkey"), lit(3)) === 0 &&
          pmod(col("o_orderkey"), lit(7)) === 0)
        .select(col("o_orderkey"), lit("NEW").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          lit(3L).as("seq"), lit("I").as("op"))
      val stale = o.filter(pmod(col("o_orderkey"), lit(2)) === 0 &&
          pmod(col("o_orderkey"), lit(3)) =!= 0 &&
          pmod(col("o_orderkey"), lit(5)) =!= 0)
        .select(col("o_orderkey"), lit("STALE").as("o_orderstatus"),
          lit(0.0).as("o_totalprice"), lit(0L).as("seq"), lit("U").as("op"))
      val root = stageDir(d) + "/q88_tx"
      graft.sources.TxTable.create(s, snap, root, "o_orderkey")
      val del: graft.sources.TxTable.MergeCond = (sc, _) => sc("op") === "D"
      val newer: graft.sources.TxTable.MergeCond = (sc, tc) => sc("seq") > tc("seq")
      val notDel: graft.sources.TxTable.MergeCond = (sc, _) => sc("op") =!= "D"
      def applyBatch(b: org.apache.spark.sql.DataFrame, n: Long): Unit = {
        graft.sources.TxTable.mergeConditional(s, root, b, "o_orderkey",
          matchedDelete = Some(del), matchedUpdate = Some(newer),
          notMatchedInsert = Some(notDel), txn = Some(("q88", n))); ()
      }
      applyBatch(u, 1L)
      applyBatch(dl, 2L)
      applyBatch(ins.unionByName(stale), 3L)
      applyBatch(u, 1L)   // at-least-once replay: guard no-ops it
      graft.sources.TxTable.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    }),
    // q89 (r17): MERGE-ON-READ DELETES via DELETION VECTORS (Delta's
    // deletion vectors, key-list form — the r16 verdict's item 2). A
    // compliance-style delete that touches a few keys per file used to
    // force whole-file rewrites (at 100 TB, the dominant delete cost);
    // here TWO layered DV deletes commit only tiny per-file key-list
    // sidecars, and the gate PROVES zero data movement physically: the
    // data directory's (name → mtime) map is REQUIRED identical across
    // both deletes — no file rewritten, none added — while the second
    // delete exercises the sidecar-union path (an entry always
    // references exactly one vector). Readers apply vectors as a
    // broadcast anti-join on (file, key); the clustered layout keeps
    // the touched-file set ∝ the deleted key range, so at scale the
    // commit cost is ∝ deleted keys, never data. Oracle = the plain
    // relational algebra of the two deletes.
    "q89_tx_dv_delete" -> ((s, d) => {
      val cur = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val root = stageDir(d) + "/q89_tx"
      graft.sources.TxTable.create(s, cur, root, "o_orderkey")
      graft.sources.TxTable.compactClustered(s, root, "o_orderkey", 6)
      def dataState(): Map[String, java.nio.file.attribute.FileTime] = {
        import scala.jdk.CollectionConverters._
        val l = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
        try l.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            !p.getFileName.toString.startsWith("dv-"))
          .map(p => p.getFileName.toString ->
            java.nio.file.Files.getLastModifiedTime(p)).toMap
        finally l.close()
      }
      val before = dataState()
      val keys7 = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(7)) === 0).select(col("o_orderkey"))
      val keys11 = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(11)) === 0).select(col("o_orderkey"))
      graft.sources.TxTable.deleteKeysDV(s, root, keys7, "o_orderkey")
      graft.sources.TxTable.deleteKeysDV(s, root, keys11, "o_orderkey")
      require(dataState() == before,
        "DV delete must neither rewrite nor add any data file")
      require(graft.sources.TxTable.snapshot(root).exists(_.dv.isDefined),
        "no deletion vector was written")
      graft.sources.TxTable.read(s, root)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),
    // q90 (r17): the write→merge→delete→VACUUM→read cycle end-to-end
    // (the r16 verdict's item 5). Every OCC race mints orphaned data
    // files (the losing attempt's writes are garbage by design — the
    // crash-safety ordering); this gate FORCES one with the test race
    // seam (an overlapping racer → the loser re-derives, abandoning
    // its first attempt's files), then proves vacuum reclaims EXACTLY
    // the reclaimable set: everything in data/ that no retained
    // version references (old rewrites + the orphan + materialized DV
    // sidecars), computed independently by the gate BEFORE the call
    // and REQUIRED equal. Afterwards: the head reads unchanged (the
    // oracle compare), and time travel past the horizon fails LOUDLY
    // on the missing file rather than lying. minAge=0 is the
    // documented single-writer exception — the gate owns the table.
    "q90_tx_vacuum" -> ((s, d) => {
      val cur = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val root = stageDir(d) + "/q90_tx"
      graft.sources.TxTable.create(s, cur, root, "o_orderkey")       // v1
      val upd = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      // an OVERLAPPING racer injected mid-commit: the loser re-derives
      // and its first attempt's files become OCC orphans — the garbage
      // class st42's racing sinks mint in production
      graft.sources.TxTable.testRaceInjector.set(new Runnable {
        def run(): Unit = { graft.sources.TxTable.merge(s, root,
          upd.limit(1), "o_orderkey"); () }
      })
      graft.sources.TxTable.merge(s, root, upd, "o_orderkey")
      val dels = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(5)) === 0).select(col("o_orderkey"))
      graft.sources.TxTable.deleteKeysDV(s, root, dels, "o_orderkey")
      graft.sources.TxTable.compactClustered(s, root, "o_orderkey", 4)
      val preVacuum = graft.sources.TxTable.currentVersion(root) - 1
      // reclaimable = on-disk data files no retained version references
      val referenced = graft.sources.TxTable.snapshot(root)
        .flatMap(f => f.name +: f.dv.toSeq).toSet
      val onDisk = {
        import scala.jdk.CollectionConverters._
        val l = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
        try l.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(_.getFileName.toString).toSet
        finally l.close()
      }
      val expected = onDisk -- referenced
      require(expected.nonEmpty, "the cycle must have minted garbage")
      val reclaimed = graft.sources.TxTable
        .vacuum(root, keepVersions = 0, minAgeMillis = 0).toSet
      require(reclaimed == expected,
        s"vacuum must reclaim exactly the unreferenced set: " +
          s"missed=${(expected -- reclaimed).take(3)} " +
          s"extra=${(reclaimed -- expected).take(3)}")
      // time travel past the horizon degrades LOUDLY, the head answers
      val loud = scala.util.Try(
        graft.sources.TxTable.read(s, root, Some(preVacuum)).count())
      require(loud.isFailure, "a read past vacuumed files must fail, not lie")
      graft.sources.TxTable.read(s, root)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),
    // q92 (r17): INCREMENTAL bin-packing OPTIMIZE — Delta OPTIMIZE's
    // real form: whole-table compaction (q73/q83) is the cost a
    // 100 TB maintenance pass cannot pay, so the small-file debt a
    // streaming ingest accumulates is packed WITHOUT touching the big
    // well-formed files — the gate REQUIRES the base files'
    // (name → mtime) entries unchanged while the six single-slice
    // ingest files pack into range-adjacent bins (candidates sorted
    // by key range so per-file pruning survives), rows identical
    // (the oracle), dataChange=false (the change feed skips it).
    "q92_tx_optimize" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cur = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val root = stageDir(d) + "/q92_tx"
      graft.sources.TxTable.create(s, cur, root, "o_orderkey")
      graft.sources.TxTable.compactClustered(s, root, "o_orderkey", 4)
      val big = graft.sources.TxTable.snapshot(root)
      def dataState(): Map[String, java.nio.file.attribute.FileTime] = {
        import scala.jdk.CollectionConverters._
        val l = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
        try l.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => p.getFileName.toString ->
            java.nio.file.Files.getLastModifiedTime(p)).toMap
        finally l.close()
      }
      // six small ingest bursts in DISJOINT key bands ABOVE the base
      // range (band i = base keys + i·maxK): each burst's range
      // intersects nothing existing, so it lands as pure-insert small
      // files — the small-file debt a streaming ingest accumulates
      val maxK = orders.agg(max(col("o_orderkey"))).head.getLong(0) + 1
      (1 to 6).foreach { i =>
        graft.sources.TxTable.merge(s, root,
          orders.filter(pmod(col("o_orderkey"), lit(32)) === 1)
            .select((col("o_orderkey") + lit(i.toLong * maxK)).as("o_orderkey"),
              col("o_custkey"), col("o_totalprice")), "o_orderkey")
      }
      val before = dataState()
      val bigNames = big.map(_.name).toSet
      val smallBefore = graft.sources.TxTable.snapshot(root)
        .count(f => !bigNames.contains(f.name))
      val smallRows = big.map(_.rows).min / 2
      graft.sources.TxTable.compactBinPack(s, root, "o_orderkey",
        smallRows = smallRows, targetRows = smallRows)
      val after = dataState()
      require(bigNames.forall(n => after.get(n) == before.get(n)),
        "OPTIMIZE must not touch the big files")
      val smallAfter = graft.sources.TxTable.snapshot(root)
        .count(f => !bigNames.contains(f.name))
      require(smallAfter < smallBefore,
        s"OPTIMIZE packed nothing: $smallBefore -> $smallAfter small files")
      graft.sources.TxTable.read(s, root)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),
    // q93 (r17): LOG RETENTION — the metadata half of vacuum: a
    // per-micro-batch committer grows the log without bound (every
    // commit lists it), so records subsumed by a checkpoint older
    // than the horizon are physically deleted; the head read is
    // oracle-pinned unchanged, v1's record is REQUIRED gone, and a
    // time travel below the horizon REQUIRED loud (a truncated
    // replay must refuse, not return a silently partial state).
    "q93_tx_log_retention" -> ((s, d) => {
      // checkpointed ONCE (r19, guide §1.2): the 15 band merges + the
      // max-key probe slice the materialized blocks instead of
      // re-scanning the orders parquet per commit
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .localCheckpoint()
      val cur = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val root = stageDir(d) + "/q93_tx"
      graft.sources.TxTable.create(s, cur, root, "o_orderkey")     // v1
      graft.sources.TxTable.compactClustered(s, root, "o_orderkey", 8) // v2
      // 15 merges over CONTIGUOUS key bands (band i = [i·W, (i+1)·W)):
      // against the clustered layout each merge prunes to ~one file —
      // the log grows per commit while the data work stays ∝ the band,
      // which is the posture whose metadata this gate is about
      val w = math.max(1L,
        (orders.agg(max(col("o_orderkey"))).head.getLong(0) + 1) / 100)
      (1 to 15).foreach { i =>                                     // v3..v17
        graft.sources.TxTable.merge(s, root,
          orders.filter(col("o_orderkey") >= i * w &&
              col("o_orderkey") < (i + 1) * w)
            .select(col("o_orderkey"), col("o_custkey"),
              lit(i.toDouble).as("o_totalprice")), "o_orderkey")
      }
      val gone = graft.sources.TxTable.cleanupLog(root, keepVersions = 3)
      require(gone.nonEmpty, "retention reclaimed nothing")
      require(!java.nio.file.Files.exists(java.nio.file.Paths.get(
          root, "_graft_log", "v0000000001.json")),
        "v1's record must be physically gone")
      require(scala.util.Try(graft.sources.TxTable
          .read(s, root, Some(5L)).count()).isFailure,
        "a replay below the retention horizon must refuse loudly")
      graft.sources.TxTable.read(s, root)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),
    // q95 (r17): blind APPEND — Delta's append mode, the ingest fast
    // path merge cannot be: no snapshot read, no key join, no rewrite,
    // adds-only commits. Three txn-stamped streaming bursts land as
    // new files; the gate REQUIRES every append commit removed zero
    // files (history), every pre-existing data file byte-untouched
    // (mtime map), and the replay of the last burst under its txn to
    // no-op (at-least-once ingest × the guard = exactly-once). Oracle
    // = the union: the four %4 slices reassemble the whole table.
    // q97 (r18): COLUMN MAPPING — rename/drop as METADATA (the r17
    // verdict's item 6 — Delta's column mapping, name mode): logical
    // names live in the declared schema, physical names in the parquet
    // bytes are fixed at column birth, and the log carries the
    // logical→physical map. The gate drives the full lifecycle:
    // rename o_totalprice→amount with ZERO data files touched (mtime
    // map), a MERGE under the NEW name whose writes land under the OLD
    // physical (pre-rename files keep answering), a time-travel read
    // that resolves the PRE-rename era under ITS name, a metadata-only
    // DROP of o_custkey, and the corruption guard: a merge re-adding
    // the dropped name is REFUSED (by-name reads of pre-drop files
    // would resurrect stale bytes — the r14 class). Oracle = the
    // rename+merge algebra over orders.
    "q97_tx_column_map" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cur = orders
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val root = stageDir(d) + "/q97_tx"
      graft.sources.TxTable.create(s, cur, root, "o_orderkey")       // v1
      graft.sources.TxTable.compactClustered(s, root, "o_orderkey", 6)
      def dataState(): Map[String, java.nio.file.attribute.FileTime] = {
        import scala.jdk.CollectionConverters._
        val l = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
        try l.iterator().asScala.map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p)).toMap
        finally l.close()
      }
      val before = dataState()
      graft.sources.TxTable.renameColumn(root, "o_totalprice", "amount")
      graft.sources.TxTable.dropColumn(root, "o_custkey")
      require(dataState() == before,
        "rename and drop must touch zero data files")
      // a merge UNDER THE NEW NAME: %3 keys double — the write lands
      // under the old physical name, pruned to the touched files
      val upd = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("amount"))
      graft.sources.TxTable.merge(s, root, upd, "o_orderkey")
      // the PRE-rename era resolves under ITS OWN names
      val era1 = graft.sources.TxTable.read(s, root, Some(1L))
      require(era1.columns.toSeq ==
          Seq("o_orderkey", "o_custkey", "o_totalprice"),
        s"era-1 schema leaked the rename: ${era1.columns.toSeq}")
      // the corruption guard: re-adding the DROPPED name must refuse
      val smuggle = scala.util.Try(graft.sources.TxTable.merge(s, root,
        upd.limit(1).withColumn("o_custkey", lit(0L)), "o_orderkey"))
      require(smuggle.isFailure &&
          smuggle.failed.get.getMessage.contains("physical storage"),
        "a dropped column's name must never be reusable")
      graft.sources.TxTable.read(s, root)
        .select(col("o_orderkey"), col("amount"))
    }),
    // q96 (r18): PREDICATE-SCOPED DELETE with the METADATA-ONLY fast
    // path (the r17 verdict's item 4 — Delta's `DELETE WHERE` with
    // stats pruning): the retention purge every lakehouse runs —
    // `DELETE WHERE o_orderkey <= cut` over a range-clustered table —
    // classified per file from the LOG alone: files whose logged
    // range (and zero null count) prove every row matches DROP
    // WITHOUT BEING READ; only the boundary-straddling file rewrites
    // its residual; out-of-range files are never listed. The
    // metadata-only claim's proof is PHYSICAL: every covered file is
    // deleted from disk BEFORE the call and the DELETE still commits
    // (the q87 idiom); the untouched files' mtime map pins the
    // never-listed claim. Oracle = the filter algebra.
    "q96_tx_delete_where" -> ((s, d) => {
      val cur = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val root = stageDir(d) + "/q96_tx"
      graft.sources.TxTable.create(s, cur, root, "o_orderkey")
      graft.sources.TxTable.compactClustered(s, root, "o_orderkey", 8)
      val cut = cur.agg(max(col("o_orderkey"))).head.getLong(0) / 2
      val preds: Seq[(String, Any, Any)] = Seq(("o_orderkey", 0L, cut))
      val (covered, partial, untouched) =
        graft.sources.TxTable.deleteWhereFiles(root, preds)
      require(covered.size >= 3 && covered.size >= partial.size &&
          untouched.nonEmpty,
        s"metadata-only pruning inert: covered=${covered.size} " +
          s"partial=${partial.size} untouched=${untouched.size}")
      covered.foreach(f => java.nio.file.Files.delete(
        java.nio.file.Paths.get(root, "data", f.name)))
      def mtimes(): Map[String, java.nio.file.attribute.FileTime] =
        untouched.map(f => f.name -> java.nio.file.Files.getLastModifiedTime(
          java.nio.file.Paths.get(root, "data", f.name))).toMap
      val before = mtimes()
      graft.sources.TxTable.deleteWhere(s, root, preds)
      require(mtimes() == before,
        "a purge must never touch files outside the predicate range")
      graft.sources.TxTable.read(s, root)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),
    "q95_tx_append" -> ((s, d) => {
      val orders = t(s, d, "orders")
      def slice(r: Int) = orders.filter(pmod(col("o_orderkey"), lit(4)) === r)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val root = stageDir(d) + "/q95_tx"
      graft.sources.TxTable.create(s, slice(0), root, "o_orderkey")
      def dataState(): Map[String, java.nio.file.attribute.FileTime] = {
        import scala.jdk.CollectionConverters._
        val l = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
        try l.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => p.getFileName.toString ->
            java.nio.file.Files.getLastModifiedTime(p)).toMap
        finally l.close()
      }
      val before = dataState()
      (1 to 3).foreach { r =>
        graft.sources.TxTable.append(s, root, slice(r), "o_orderkey",
          txn = Some(("q95", r.toLong)))
      }
      val after = dataState()
      require(before.forall { case (n, t) => after.get(n).contains(t) },
        "append must never rewrite an existing file")
      val h = graft.sources.TxTable.history(s, root).collect()
      require(h.filter(_.getAs[String]("op") == "APPEND")
          .forall(_.getAs[Int]("n_removed_files") == 0),
        "an append commit must remove nothing")
      // at-least-once replay of the last burst: the guard must no-op it
      val v = graft.sources.TxTable.currentVersion(root)
      graft.sources.TxTable.append(s, root, slice(3), "o_orderkey",
        txn = Some(("q95", 3L)))
      require(graft.sources.TxTable.currentVersion(root) == v,
        "a replayed append must no-op on the idempotence guard")
      graft.sources.TxTable.read(s, root)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),
    // q94 (r17): WRITE-TIME CDC FILES — Delta's _change_data: a table
    // created with cdc=true MATERIALIZES each commit's change rows as
    // tiny sidecar files, so the feed is write-once-read-many — every
    // consumer (st43 subscribers, c71 cascades, q81 audits) reads the
    // change files instead of re-reading full pre/post data files and
    // re-running the diff join per read. The gate's proof is physical
    // and load-bearing: EVERY non-cdc file in the data directory is
    // deleted before the feed is read — a diff replay would need the
    // pre/post files and fail; the materialized feed answers in full.
    // A no-op update tier (%12 keys arrive unchanged) pins the
    // exclusion contract at write time. Oracle = the relational CDC
    // of the merge (inserts + real updates) and the delete.
    "q94_tx_cdc_files" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cur = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val root = stageDir(d) + "/q94_tx"
      graft.sources.TxTable.create(s, cur, root, "o_orderkey", cdc = true)
      val u = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          when(pmod(col("o_orderkey"), lit(12)) === 0, col("o_totalprice"))
            .otherwise(col("o_totalprice") * 2).as("o_totalprice"))
      graft.sources.TxTable.merge(s, root, u, "o_orderkey")          // v2
      graft.sources.TxTable.deleteKeys(s, root,
        orders.filter(pmod(col("o_orderkey"), lit(5)) === 0)
          .select(col("o_orderkey")), "o_orderkey")                  // v3
      // the load-bearing proof: the feed must need ONLY the cdc files
      import scala.jdk.CollectionConverters._
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
      val doomed = try l.iterator().asScala
        .filter(p => !p.getFileName.toString.startsWith("cdc-")).toSeq
        finally l.close()
      require(doomed.nonEmpty)
      doomed.foreach(java.nio.file.Files.delete(_))
      graft.sources.TxTable.changes(s, root, 1L,
          graft.sources.TxTable.currentVersion(root))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("_change_type"), col("_commit_version"))
    }),
    // q91 (r17): SHALLOW CLONE — Delta's CLONE, zero-copy branching: a
    // 100 TB table branches for an experiment in ONE metadata write
    // (the clone's v1 references the source's live files — including
    // its deletion-vector sidecar — by absolute path). The gate proves
    // zero-copy physically (the clone's data directory holds ZERO
    // files while its read answers in full) and copy-on-write
    // isolation both ways: a merge into the CLONE leaves the source's
    // data directory byte-identical (mtime map), and a delete in the
    // SOURCE after the clone rewrites only source state — the clone
    // still reads the immutable originals, which the oracle pins (any
    // leak of the source delete into the clone hash-fails). Oracle =
    // the clone branch's algebra: source snapshot minus the DV'd keys,
    // merged with the doubled-price updates.
    "q91_tx_clone" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cur = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val srcRoot = stageDir(d) + "/q91_src"
      val cloneRoot = stageDir(d) + "/q91_clone"
      graft.sources.TxTable.create(s, cur, srcRoot, "o_orderkey")
      graft.sources.TxTable.deleteKeysDV(s, srcRoot,
        orders.filter(pmod(col("o_orderkey"), lit(13)) === 0)
          .select(col("o_orderkey")), "o_orderkey")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          val w = java.nio.file.Files.walk(p)
          val all = try w.iterator().asScala.toSeq.reverse finally w.close()
          all.foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(java.nio.file.Paths.get(cloneRoot)) // stage dirs persist across runs
      graft.sources.TxTable.cloneShallow(srcRoot, cloneRoot)
      def dataList(root: String): Map[String, java.nio.file.attribute.FileTime] = {
        import scala.jdk.CollectionConverters._
        val l = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
        try l.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => p.getFileName.toString ->
            java.nio.file.Files.getLastModifiedTime(p)).toMap
        finally l.close()
      }
      require(dataList(cloneRoot).isEmpty,
        "a shallow clone must copy zero bytes")
      val srcState = dataList(srcRoot)
      val upd = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      graft.sources.TxTable.merge(s, cloneRoot, upd, "o_orderkey")
      require(dataList(srcRoot) == srcState,
        "a clone merge must copy-on-write into the clone, never the source")
      // the source evolves independently AFTER the clone: the clone
      // keeps reading the immutable originals (oracle-pinned)
      graft.sources.TxTable.deleteKeys(s, srcRoot,
        orders.filter(pmod(col("o_orderkey"), lit(4)) === 0)
          .select(col("o_orderkey")), "o_orderkey")
      graft.sources.TxTable.read(s, cloneRoot)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),
    // q68: time travel through the ACID log — q67's table read AS OF
    // the pre-merge version (the reproducibility read a training
    // pipeline needs: which exact rows did run N see?). Oracle = the
    // untouched snapshot relationally; merge+compact happen AFTER the
    // pinned version and must be invisible to it.
    "q68_time_travel" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cur = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val upd = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      val root = stageDir(d) + "/q68_tx"
      val v0 = graft.sources.TxTable.create(s, cur, root, "o_orderkey")
      graft.sources.TxTable.merge(s, root, upd, "o_orderkey")
      graft.sources.TxTable.compact(s, root, "o_orderkey")
      graft.sources.TxTable.read(s, root, asOf = Some(v0))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    }),
    // q69 (r14): schema evolution + log checkpointing through the ACID
    // table, end-to-end. Eleven disjoint-key merges (o_orderkey%13 =
    // 1..11) push the log past the checkpoint interval, so the final
    // read replays ONE checkpoint + a record suffix; a twelfth merge
    // WIDENS the schema (new c_len column), which the carried-over old
    // files surface as null under the declared-schema read. Oracle =
    // the whole history replayed relationally as one CASE over mod-13
    // (the merges' key sets are disjoint by construction, so order is
    // irrelevant and the replay is exact).
    "q69_tx_schema_evolve" -> ((s, d) => {
      // %5==0 subset keeps the 12 sequential rewrite commits bench-sane
      // (commit COUNT, not table size, is what exercises checkpointing).
      // Checkpointed ONCE (r19, guide §1.2): each of the 12 merges
      // slices its band from the materialized blocks instead of
      // re-scanning the orders parquet per commit.
      val orders = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_custkey"))
        .localCheckpoint()
      val root = stageDir(d) + "/q69_tx"
      graft.sources.TxTable.create(s,
        orders.select(col("o_orderkey"), col("o_orderstatus").as("status")),
        root, "o_orderkey")
      (1 to 11).foreach { i =>
        graft.sources.TxTable.merge(s, root,
          orders.filter(pmod(col("o_orderkey"), lit(13)) === i)
            .select(col("o_orderkey"),
              concat(lit("U"), lit(i).cast("string")).as("status")),
          "o_orderkey")
      }
      graft.sources.TxTable.merge(s, root,
        orders.filter(pmod(col("o_orderkey"), lit(13)) === 12)
          .select(col("o_orderkey"), lit("W").as("status"),
            pmod(col("o_custkey"), lit(100)).cast("int").as("c_len")),
        "o_orderkey")
      graft.sources.TxTable.read(s, root)
        .select(col("o_orderkey"), col("status"), col("c_len"))
    }),
    // q70 (r14, rewritten r18): incremental MATERIALIZED-VIEW
    // maintenance through the ACID table — the warehouse pattern that
    // never recomputes the corpus aggregate: the monthly revenue MV is
    // created from the initial load, then a delta batch is aggregated
    // ALONE and combined additively INSIDE a SET-expression merge
    // (TxTable.mergeConditional's matchedUpdateSet — Delta's `UPDATE
    // SET t.rev = t.rev + s.rev`): the merge reads ONLY the files
    // whose key range the delta touches, adds there, and inserts fresh
    // keys — work ∝ delta, never the MV (the pre-r18 form read the
    // ENTIRE sink per delta to compute the combine outside the merge,
    // the r17 verdict's lead weak item). Sums ride as exact integer
    // cents (associative, so incremental == recompute); oracle = the
    // full recompute from raw orders.
    "q70_incr_matview" -> ((s, d) => {
      val orders = t(s, d, "orders")
      def aggOf(df: org.apache.spark.sql.DataFrame) = df.groupBy(
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .cast("long").as("ym"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"),
          count(lit(1)).as("n_orders"))
      val root = stageDir(d) + "/q70_mv"
      graft.sources.TxTable.create(s,
        aggOf(orders.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)), root, "ym")
      val delta = aggOf(orders.filter(pmod(col("o_orderkey"), lit(3)) === 0))
        .localCheckpoint()
      graft.sources.TxTable.mergeConditional(s, root, delta, "ym",
        matchedUpdateSet = Some(Map(
          "rev_cents" -> ((sc, tc) => tc("rev_cents") + sc("rev_cents")),
          "n_orders" -> ((sc, tc) => tc("n_orders") + sc("n_orders")))))
      graft.sources.TxTable.read(s, root)
        .select(col("ym"),
          (col("rev_cents").cast("double") / 100.0).as("revenue"),
          col("n_orders"))
    }),
    // q81 (r15): CHANGE DATA FEED through the ACID log — Delta's
    // table_changes(v1, v2): the incremental-consumer contract
    // (downstream index maintenance, cache invalidation) emitted as
    // rows with a change type per commit. create(evens) → merge(%3:
    // value-doubling updates on the even %3 keys + inserts on the odd
    // ones) → delete(%7) → compact. The feed over (1, 4] must carry
    // EXACTLY the semantic changes: update pre/post pairs for matched
    // keys, inserts for new ones, deletes with their pre-delete
    // values — and NOTHING from the compaction (dataChange=false,
    // skipped unread) or from the carried neighbors inside rewritten
    // files (struct-equality filtered). Oracle replays the key-set
    // algebra of each commit relationally.
    "q81_tx_changes" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cur = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val upd = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      val dels = orders.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .select(col("o_orderkey"))
      val root = stageDir(d) + "/q81_tx"
      graft.sources.TxTable.create(s, cur, root, "o_orderkey")      // v1
      graft.sources.TxTable.merge(s, root, upd, "o_orderkey")       // v2
      graft.sources.TxTable.deleteKeys(s, root, dels, "o_orderkey") // v3
      graft.sources.TxTable.compact(s, root, "o_orderkey")          // v4
      graft.sources.TxTable.changes(s, root, 1L, 4L)
    }),
    // q82 (r15): DESCRIBE HISTORY as an operator — the audit surface
    // c66's erasure receipt and q79's restore story point at: the
    // commit log (op kind, schema/data flags) joined with the
    // metadata-only row count of each version (q71's stats path), so
    // the oracle replays the log's own algebra — op kinds from the
    // known sequence, row counts from the key-set algebra.
    "q82_tx_history" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cur = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val upd = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      val dels = orders.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .select(col("o_orderkey"))
      val root = stageDir(d) + "/q82_tx"
      graft.sources.TxTable.create(s, cur, root, "o_orderkey")      // v1
      graft.sources.TxTable.merge(s, root, upd, "o_orderkey")       // v2
      graft.sources.TxTable.deleteKeys(s, root, dels, "o_orderkey") // v3
      graft.sources.TxTable.compact(s, root, "o_orderkey")          // v4
      graft.sources.TxTable.restore(root, "o_orderkey", 2L)         // v5
      import s.implicits._
      val nrows = (1L to 5L).map(v =>
        (v, graft.sources.TxTable.stats(root, Some(v)).numRows))
        .toDF("version", "n_rows")
      graft.sources.TxTable.history(s, root)
        .join(nrows, Seq("version"))
        .select(col("version"), col("op"), col("schema_changed"),
          col("data_change"), col("n_rows"))
    }),
    // ordered CDC changelog applied onto a snapshot: U@1 for even keys,
    // D@2 for %5 keys, I@3 for %21 keys — multi-change keys exercise the
    // latest-wins collapse, D-after-U deletes, I-after-D resurrects
    "q44_cdc_apply" -> ((s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val snap = o.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
      val u = o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), lit("U1").as("o_orderstatus"),
          (col("o_totalprice") * 1.1).as("o_totalprice"),
          lit("U").as("op"), lit(1L).as("seq"))
      val dl = o.filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .select(col("o_orderkey"), lit(null).cast("string").as("o_orderstatus"),
          lit(null).cast("double").as("o_totalprice"),
          lit("D").as("op"), lit(2L).as("seq"))
      val ins = o.filter(pmod(col("o_orderkey"), lit(3)) === 0 &&
          pmod(col("o_orderkey"), lit(7)) === 0)
        .select(col("o_orderkey"), lit("NEW").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          lit("I").as("op"), lit(3L).as("seq"))
      graft.sources.Sources.applyCdc(snap, u.union(dl).union(ins), "o_orderkey")
    }),
    "d6_dup_clusters" -> ((s, d) => Dedup.duplicateClusters(t(s, d, "embeddings"))),
    "d8_embed_lsh_pairs" -> ((s, d) => Dedup.embeddingLshPairs(t(s, d, "embeddings"))),
    "d9_lsh_clusters" -> ((s, d) => Dedup.duplicateClustersLsh(t(s, d, "embeddings"))),
    // incremental dedup: even-id docs are the "new batch", odd-id docs
    // the persisted corpus — the result must equal the full recompute
    // over everything, restricted to pairs touching the batch (rows-only:
    // seeded LSH banding; the restriction equality is spec-asserted)
    // c62 (r14): FUZZY benchmark decontamination — c12/c35 catch exact
    // 8-token windows; the published frontier-lab recipe also drops
    // NEAR-copies (paraphrased/suffixed benchmark items), which is
    // MinHash similarity against the benchmark set: corpus docs probe
    // the benchmark signature table through the d11 banding (work ∝
    // collisions, the benchmark side is tiny), exact-Jaccard verify at
    // 0.5. Contamination is PLANTED (doc 97k+1 becomes its anchor
    // benchmark doc's text + a suffix — high-J, not exact) and the
    // oracle replays plant, banding, cap, cross-split candidates and
    // verify over the staged signature tables.
    "c62_fuzzy_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      val aug = docs
        .join(bench.select((col("doc_id") + 1).as("doc_id"),
          col("text").as("btext")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(concat(col("btext"), lit(" near duplicate benchmark leak")),
            col("text")).as("text"))
      val corpus = aug.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      val benchSigs = Dedup.minhashSignatures(bench).localCheckpoint()
      val corpusSigs = Dedup.minhashSignatures(corpus).localCheckpoint()
      val sigsAll = corpusSigs.union(benchSigs).localCheckpoint()
      sigsAll.select(col("doc_id"), col("hsh"), col("shn"))
        .coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/c62_sigs")
      Dedup.bandedSigs(sigsAll).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/c62_banded")
      val benchSide = pmod(col("doc_a"), lit(97)) === 0
      Dedup.minhashIncremental(corpus, benchSigs)
        .filter(benchSide =!= (pmod(col("doc_b"), lit(97)) === 0))
        .select(
          when(benchSide, col("doc_b")).otherwise(col("doc_a")).as("doc_id"),
          when(benchSide, col("doc_a")).otherwise(col("doc_b")).as("bench_id"),
          col("jacc"))
    }),
    "d11_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // the corpus signature table is PERSISTED in production (written
      // once, e.g. Sources.writeBucketed); localCheckpoint models that
      // here — without it each of the operator's corpus scans would
      // re-shingle the corpus, which is exactly what incremental avoids.
      // FULL oracle via the d2 staging idiom: the full signature/banded
      // tables are staged and DuckDB replays the union cap, the
      // batch-probe join and the exact-Jaccard verify over them
      val sigsAll = Dedup.minhashSignatures(docs).localCheckpoint()
      sigsAll.select(col("doc_id"), col("hsh"), col("shn"))
        .coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/d11_sigs")
      Dedup.bandedSigs(sigsAll).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/d11_banded")
      val corpusSigs = sigsAll.filter(pmod(col("doc_id"), lit(2)) === 1)
      Dedup.minhashIncremental(docs.filter(pmod(col("doc_id"), lit(2)) === 0), corpusSigs)
    }),
    // d19: incremental CLUSTER maintenance — the d11 probe's pairs folded
    // into a persisted (doc_id, cluster_id) assignment without re-running
    // components over untouched clusters. Prior assignment = minhash-pair
    // clusters over the odd-id corpus (staged, the persisted artifact);
    // batch = even-id docs; FULL oracle: the d11 staging idiom replays the
    // probe, then recursive CC over star edges ∪ new pairs relabels only
    // the affected clusters (untouched labels pass through by CASE)
    "d19_cluster_maintenance" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sigsAll = Dedup.minhashSignatures(docs).localCheckpoint()
      sigsAll.select(col("doc_id"), col("hsh"), col("shn"))
        .coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/d19_sigs")
      Dedup.bandedSigs(sigsAll).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/d19_banded")
      val corpusSigs = sigsAll.filter(pmod(col("doc_id"), lit(2)) === 1)
      val assign = Dedup.duplicateClustersFrom(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .select(col("doc_id").as("vec_id")),
        Dedup.minhashPairsFromSigs(corpusSigs)
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
        .select(col("vec_id").as("doc_id"), col("cluster_id")).localCheckpoint()
      assign.coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/d19_assign")
      val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      Dedup.clusterMaintenance(assign, batch.select(col("doc_id")),
        Dedup.minhashIncremental(batch, corpusSigs))
    }),
    // embedding analogue of d11: even-vec_id batch probed against the
    // persisted sign-code table of the odd-vec_id corpus; full oracle
    // because the seeded 1-bit banding has full recall at this θ (d8's
    // argument), so the result is the exact pair set restricted to
    // batch-touching pairs
    "d13_embed_incremental" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      // the corpus code table is PERSISTED in production (written once,
      // e.g. Sources.writeBucketed); localCheckpoint models that here
      val corpusCodes = Dedup
        .embeddingSignCodes(emb.filter(pmod(col("vec_id"), lit(2)) === 1))
        .localCheckpoint()
      Dedup.embeddingLshIncremental(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0), corpusCodes)
    }),
    // exact-dedup analogue of d11: even-id batch anti-joined against the
    // odd-id corpus's text keys, then deduped within the batch
    "d12_incremental_exact" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.exactIncremental(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1))
    }),
    "c6_boilerplate" -> ((s, d) => Curation.boilerplate(t(s, d, "documents"))),
    "c7_repetition" -> ((s, d) => Curation.repetition(t(s, d, "documents"))),
    "c8_domain_stats" -> ((s, d) => Curation.domainStats(t(s, d, "documents"))),
    // the diversity profile the size-keyed mixing layer is blind to:
    // entropy/TTR/hapax per source, exact decimal ln sums
    "c57_source_diversity" -> ((s, d) =>
      Curation.sourceDiversity(t(s, d, "documents"))),
    // the anchor-text corpus: aggregated absolute-link anchors per
    // target, sorted-order concatenation
    "c60_anchor_corpus" -> ((s, d) =>
      Curation.anchorCorpus(
        TextOps.linkGraph(plantAnchors(t(s, d, "documents"))))),
    // the datasheet duplication profile over the d1 group table on a
    // planted-copies corpus
    "c61_dup_profile" -> ((s, d) =>
      Curation.dupProfile(Dedup.exact(plantExactDups(t(s, d, "documents"))))),
    // the C4 badwords filter: exact-token blocklist (no substring
    // Scunthorpe false positives), strict drop flag + soft-count rate
    "c59_badwords_gate" -> ((s, d) =>
      Curation.badwordsGate(plantBadwords(t(s, d, "documents")))),
    // the same gate at ingest: broadcast-literal pure map, streamed
    // union == batch, one shared SQL
    "st29_badwords_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.badwordsFileStream(Tables.tune(s), d)),
    // telemetry double-fire cleanup: chain-semantics burst dedup per
    // (user, type), audit view with kept flag + burst ordinal
    "q63_event_dedup" -> ((s, d) =>
      TimeJoins.eventDedup(t(s, d, "events"), gapSec = 3600)),
    // first/last-touch attribution: RANGE lookback + packed-integer
    // extremes (no struct ordering crosses engines)
    "q64_attribution" -> ((s, d) => TimeJoins.attribution(t(s, d, "events"))),
    // interval-overlap join: day-bucket banding makes it equi (and
    // needs no dedup — one window per day), overlap as a post-filter
    "q65_interval_overlap" -> ((s, d) => TimeJoins.intervalOverlap(t(s, d, "events"))),
    // crawl-over-crawl token drift: top shifted tokens by the exact
    // integer cross-product, parity halves as the two crawls
    "c58_token_drift" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Curation.tokenDrift(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1))
    }),
    "t5_scrub" -> ((s, d) => TextOps.scrubNumbers(t(s, d, "events"))),
    "t13_chunking" -> ((s, d) => TextOps.chunk(t(s, d, "documents"))),
    "t15_sentences" -> ((s, d) =>
      TextOps.sentences(plantSentenceBreaks(t(s, d, "documents")))),
    // PII breadth gate: the synthetic corpus carries no PII, so the query
    // plants deterministic email/URL/phone strings derived from doc_id
    // (identically in the oracle SQL) and scrubs them back out — the
    // operator under test is the per-pattern-counting sequential scrub
    // invisible-character hygiene over planted zero-width/NBSP text;
    // pure-map scrub, fully relational oracle via chr() codepoints
    "t24_invisible_scrub" -> ((s, d) =>
      TextOps.scrubInvisible(plantInvisible(t(s, d, "documents")))),
    // Unicode-script routing profile over planted multi-script text;
    // pure-map seven-class histogram, fully relational oracle
    "t25_script_mix" -> ((s, d) =>
      TextOps.scriptMix(plantScripts(t(s, d, "documents")))),
    // dictionary NER tier: broadcast gazetteer over shared tokens,
    // unigram + adjacent-bigram match, sparse per-mention output
    "t29_entities" -> ((s, d) =>
      TextOps.gazetteerTag(plantEntities(t(s, d, "documents")))),
    // homoglyph hygiene: skeleton fold + the mixed-script spoof-token
    // signal (pure-Cyrillic prose scores zero)
    "t30_confusables" -> ((s, d) =>
      TextOps.confusableScrub(plantConfusables(t(s, d, "documents")))),
    // temporal-metadata recovery: three date surface forms normalized
    // to ISO so min/max give the doc's date span string-side
    "t31_dates" -> ((s, d) =>
      TextOps.dateExtract(plantDates(t(s, d, "documents")))),
    // OCR hygiene: hyphenation repair + letter-spray / digit-confusion
    // signals, integer-threshold suspect flag
    "t32_ocr_repair" -> ((s, d) =>
      TextOps.ocrRepair(plantOcr(t(s, d, "documents")))),
    // cross-script normalization: digraphs then 1:1 translate with
    // silent signs dropped; identity on Latin docs
    "t33_romanize" -> ((s, d) =>
      TextOps.romanize(plantCyrillic(t(s, d, "documents")))),
    // caption-corpus temporal quality: cue spans in pure group
    // arithmetic, reading speed as an exact rational
    "t34_subtitles" -> ((s, d) =>
      TextOps.subtitleCues(plantSubtitles(t(s, d, "documents")))),
    // cross-script dedup: the d1 algebra over ROMANIZED text pairs
    // each planted Cyrillic twin with its Latin original
    "d29_translit_dedup" -> ((s, d) =>
      Dedup.exact(TextOps.romanize(plantCyrTwins(t(s, d, "documents")))
        .select(col("doc_id"), col("roman_text").as("text")))),
    // Porter-stem conflation stats over planted inflection families;
    // the word→stem vocabulary is staged (t11's idiom) so the oracle
    // replays the stemmed aggregation relationally
    "t26_stems" -> ((s, d) => {
      val docs = plantInflections(t(s, d, "documents"))
      TextOps.porterVocab(docs).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/t26_vocab")
      TextOps.topStems(docs)
    }),
    // within-doc Gopher repetition signals over the planted stutters;
    // fully relational oracle (lines, 2-grams, 5-gram coverage)
    "t23_rep_signals" -> ((s, d) =>
      TextOps.repetitionSignals(plantRepetition(t(s, d, "documents")))),
    // payment-card PII with Luhn VERIFICATION: the valid plants redact,
    // the checksum-failing near-card survives — the two-stage contract
    "t20_card_scrub" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val aug = docs.select(col("doc_id"), concat(
        col("text"),
        when(pmod(col("doc_id"), lit(6)) === 1,
          lit(" card 4539 1488 0343 6467 on file")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(6)) === 3,
          lit(" pay 5555-5555-5555-4444 now")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(6)) === 4,
          lit(" ref 4539 1488 0343 6468 code")).otherwise(lit(""))
      ).as("text"))
      TextOps.scrubCards(aug)
    }),
    "t12_pii_scrub" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val aug = docs.select(col("doc_id"), concat(
        col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4)) < 2,
          concat(lit(" see https://data.example.org/doc/"),
            col("doc_id").cast("string"), lit(" end"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit(" call 555-0100 or 555-0199")).otherwise(lit(""))
      ).as("text"))
      TextOps.scrubPii(aug)
    }),
    // Gopher/C4 rule breadth over decorated docs: the synthetic corpus
    // is uniform clean prose, so — t12's planted-data idiom — rule
    // violations (symbols, digit runs, ellipsis/bullet lines) are
    // planted deterministically from doc_id and mirrored in the oracle
    "c24_quality_rules" -> ((s, d) =>
      TextOps.gopherQuality(plantQualityViolations(t(s, d, "documents")))),
    // Cavnar–Trenkle char-trigram language ID: profiles learned from the
    // labeled slice (aggregate-bounded), scoring map-only; integer end
    // to end, so the oracle replays the learning AND the scoring
    "t14_lang_ngram" -> ((s, d) =>
      TextOps.langIdNgram(t(s, d, "documents"), ngramFit(s, d))),
    "q26_small_qty" -> ((s, d) => Relational.smallQuantityRevenue(t(s, d, "lineitem"))),
    "q27_salted_join" -> ((s, d) => {
      val orders = t(s, d, "orders").select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val cust = t(s, d, "customer").select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      Relational.saltedJoin(orders, cust, "custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.ColumnFns.decSum(col("o_totalprice")).as("sum_price"))
    }),
    "q28_latest_event" -> ((s, d) => Relational.latestEvent(t(s, d, "events"))),
    "q29_deciles" -> ((s, d) => Relational.priceDeciles(t(s, d, "orders"))),
    "c9_source_mix" -> ((s, d) => Curation.sourceMix(t(s, d, "documents"),
      Map("src0" -> 1000, "src1" -> 250, "src2" -> 0))),
    "t6_normalize" -> ((s, d) => TextOps.normalize(t(s, d, "documents"))),
    "c11_shards" -> ((s, d) => Curation.shardAssign(t(s, d, "documents"))),
    "c12_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // deterministic self-derived "benchmark": every 97th document
      Curation.contamination(docs, docs.filter(pmod(col("doc_id"), lit(97)) === 0))
    }),
    "t8_importance" -> ((s, d) => Curation.importanceWeight(t(s, d, "documents"))),
    "c14_percentile_gate" -> ((s, d) => Curation.percentileGate(t(s, d, "documents"))),
    "t9_stop_strip" -> ((s, d) => TextOps.stopStrip(t(s, d, "documents"))),
    // corpus-learned BPE, FULL oracle via the staged-model idiom: the
    // learn loop + greedy segmentation are the one non-ANSI step, but
    // both are a pure function of the WORD (segment() encodes each
    // whitespace-split word independently — Bpe.scala), so the gate
    // stages the distinct-word → (segmentation, n_subwords) table and
    // DuckDB replays the document layer relationally: ordered positions,
    // subword-count sums, bpe_text re-assembly. BpeSpec keeps the
    // algorithm itself gated by independent driver parity. The fit is
    // memoized per sfDir so t11 and c23 share one word-count job +
    // driver merge loop per sweep (it's a pure function of the dir)
    // tokenizer fertility per language over the SAME learned merges —
    // per-doc counts staged (the c23 idiom) so the ratios replay
    "c46_fertility" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val counts = TextOps.bpeTokenize(docs, bpeFit(s, d))
        .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"))
        .localCheckpoint()
      counts.coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/c46_counts")
      TextOps.bpeFertility(docs, counts)
    }),
    "t11_bpe_tokens" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = bpeFit(s, d)
      val mergesLit = lit(merges.map { case (a, b) => s"$a $b" }.toArray)
      docs.select(explode(graft.functions.ColumnFns.tokens(col("text"))).as("word"))
        .distinct()
        .withColumn("_seg", call_function("graft_bpe_segment", col("word"), mergesLit))
        .select(col("word"), array_join(col("_seg"), " ").as("seg"),
          size(col("_seg")).as("n_sub"))
        .coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/t11_wordseg")
      TextOps.bpeTokenize(docs, merges)
    }),
    // t35: the unigram-LM (SentencePiece-family) tokenizer, t11's exact
    // staged-model idiom — the hard-EM fit + Viterbi segmentation are
    // the one non-ANSI step, but both are pure functions of the WORD,
    // so the gate stages the distinct-word → (segmentation, n_sub)
    // table and DuckDB replays the document layer relationally
    // c63 (r14): the tokenizer-SELECTION report over the three fitted
    // families — distinct corpus words segmented once per family
    // (vocab-bounded work), corpus-weighted by a count join; fertility
    // as an exact ×1e6 integer; the staged per-word table lets the
    // oracle replay counting, weighting and the rollup relationally
    "c63_tokenizer_eval" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val bpeLit = lit(bpeFit(s, d).map { case (a, b) => s"$a $b" }.toArray)
      val ugLit = lit(TextOps.unigramModelRows(unigramFit(s, d)))
      val wpLit = lit(wordpieceFit(s, d).toArray)
      val segs = docs
        .select(explode(graft.functions.ColumnFns.tokens(col("text"))).as("word"))
        .distinct()
        .withColumn("_b", call_function("graft_bpe_segment", col("word"), bpeLit))
        .withColumn("_u", call_function("graft_unigram_segment", col("word"), ugLit))
        .withColumn("_w", call_function("graft_wordpiece_segment", col("word"), wpLit))
        .select(col("word"),
          size(col("_b")).as("n_bpe"), size(col("_u")).as("n_ug"),
          size(col("_w")).as("n_wp"),
          size(filter(col("_w"),
            p => p === graft.functions.Wordpiece.Unk)).as("n_unk_wp"))
        .localCheckpoint()
      segs.coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/c63_wordsegs")
      Curation.tokenizerEval(docs, segs)
    }),
    // t37 (r14): WordPiece — the BERT tokenizer, completing the three
    // production subword families (BPE t11, unigram-LM t35): greedy
    // longest-match apply over the likelihood-fitted ##-marked vocab,
    // with the whole-word [UNK] fallback surfaced as a coverage count.
    // Same staged-word-segmentation oracle idiom as t35.
    "t37_wordpiece_tokens" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val vocab = wordpieceFit(s, d)
      val vocabLit = lit(vocab.toArray)
      docs.select(explode(graft.functions.ColumnFns.tokens(col("text"))).as("word"))
        .distinct()
        .withColumn("_seg",
          call_function("graft_wordpiece_segment", col("word"), vocabLit))
        .select(col("word"), array_join(col("_seg"), " ").as("seg"),
          size(col("_seg")).as("n_sub"),
          size(filter(col("_seg"),
            p => p === graft.functions.Wordpiece.Unk)).as("n_unk_w"))
        .coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/t37_wordseg")
      TextOps.wordpieceTokenize(docs, vocab)
    }),
    "t35_unigram_tokens" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val model = unigramFit(s, d)
      val modelLit = lit(TextOps.unigramModelRows(model))
      docs.select(explode(graft.functions.ColumnFns.tokens(col("text"))).as("word"))
        .distinct()
        .withColumn("_seg",
          call_function("graft_unigram_segment", col("word"), modelLit))
        .select(col("word"), array_join(col("_seg"), " ").as("seg"),
          size(col("_seg")).as("n_sub"))
        .coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/t35_wordseg")
      TextOps.unigramTokenize(docs, model)
    }),
    // c15's packing re-gated on REAL tokenizer counts (t11's BPE) via
    // tokenPackingBy; packing algebra itself is the c15 full-oracle
    // path, parity spec-asserted in CurationSpec.
    // FULL oracle via the staged-count idiom: the per-doc BPE counts are
    // deterministic but only computable in the JVM (learned merge table
    // + greedy segmentation), so the gate stages them as a parquet the
    // DuckDB oracle reads, then the oracle replays the whole packing
    // algebra (shard hash, running sum, integer-div pack ids) over them
    "c23_bpe_packing" -> ((s, d) => {
      val counts = TextOps.bpeTokenize(t(s, d, "documents"), bpeFit(s, d))
        .select(col("doc_id"), col("n_bpe_tokens"))
      counts.coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/c23_bpe_counts")
      Curation.tokenPackingBy(counts, col("n_bpe_tokens"))
    }),
    "c15_token_packing" -> ((s, d) => Curation.tokenPacking(t(s, d, "documents"))),
    // mergeable HLL rollup, r13 staged conversion: one sketch pass;
    // the per-day and merged ESTIMATES stage as parquet (the only
    // engine-specific values) and the returned frame is the rollup
    // audit — day counts, daily band, union-vs-exact error — pure
    // relational replay in both engines. FULL oracle (was rows-only;
    // merged==direct and error bounds remain spec-asserted).
    "c16_sketch_rollup" -> ((s, d) => {
      val ev = t(s, d, "events")
      // materialized: the daily sketch table feeds BOTH staged writes —
      // without this the HLL aggregation over events runs twice
      val sk = Curation.dailyUserSketches(ev).localCheckpoint()
      sk.select(col("event_type"), col("day"),
          hll_sketch_estimate(col("sk")).as("est_daily"))
        .coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/c16_daily")
      sk.groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("est_users"))
        .coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/c16_merged")
      Curation.sketchRollupEval(s.read.parquet(stageDir(d) + "/c16_daily"),
        s.read.parquet(stageDir(d) + "/c16_merged"), ev)
    }),
    // mergeable frequent-items rollup, r13 staged conversion: merged
    // top-k estimates staged; returned frame joins each tracked token's
    // EXACT global count (sparse-regime exactness now oracle-checked
    // per row via is_exact, not just spec-asserted). FULL oracle.
    "c17_freq_rollup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Curation.freqRollup(docs).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/c17_est")
      Curation.freqRollupEval(s.read.parquet(stageDir(d) + "/c17_est"), docs)
    }),
    // deterministic weighted reservoir sample (FULL oracle: the
    // Efraimidis–Spirakis clock is decimal-6-rounded from an
    // engine-independent integer hash, so DuckDB replays the selection
    // exactly; exact driver parity additionally spec-asserted)
    "c20_weighted_sample" -> ((s, d) => Curation.weightedSample(t(s, d, "documents"))),
    // bloom decontamination gate (the build's one driver-side head() IS
    // the operator — the bounded filter artifact replaces an exact
    // benchmark-shingle broadcast, see Curation.benchmarkBloom).
    // r13 staged conversion: the per-doc bloom flag counts (the only
    // sketch-specific values) stage as parquet; the returned frame is
    // the one-sided-error audit against c12's exact contamination —
    // false_pos replayed per doc, `missed` pinned to 0 by bloom
    // construction. FULL oracle (was rows-only).
    "c18_bloom_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      Curation.bloomGate(docs, Curation.benchmarkBloom(bench))
        .select(col("doc_id"), col("n_flagged"))
        .coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/c18_flags")
      Curation.bloomGateEval(s.read.parquet(stageDir(d) + "/c18_flags"),
        docs, bench)
    }),
    // z-order round trip: write the events z-clustered on (user_id,
    // value), read back through the stats-pruned scan with a
    // two-dimensional predicate — result is layout-independent, so the
    // oracle is the same filter over the raw table; the pruning itself
    // is measured in BucketingSpec
    "q39_zorder_read" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"), col("value"))
      val out = zorderDir() + "/ev"
      graft.sources.Sources.writeZOrdered(ev, out, "user_id", "value", numFiles = 16)
      s.read.parquet(out)
        .filter(col("user_id").between(3, 7) && col("value").between(20.0, 80.0))
        .select(col("event_id"), col("user_id"), col("value"))
    }),
    // schema evolution: two staged batches whose schemas diverged
    // (batch 2 added o_orderpriority), reconciled at read by mergeSchema
    // — old rows null-fill the late column; the oracle reads the SAME
    // staged files with union_by_name
    "q54_schema_merge" -> ((s, d) => {
      val o = t(s, d, "orders")
      val root = stageDir(d) + "/q54_evo"
      o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), lit(1).as("batch"), col("o_totalprice"))
        .coalesce(1).write.mode("overwrite").parquet(root + "/b1")
      o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .select(col("o_orderkey"), lit(2).as("batch"), col("o_totalprice"),
          col("o_orderpriority"))
        .coalesce(1).write.mode("overwrite").parquet(root + "/b2")
      graft.sources.Sources.readEvolved(s, root + "/b1", root + "/b2")
        .select(col("o_orderkey"), col("batch"), col("o_totalprice"),
          col("o_orderpriority"))
    }),
    "q40_scd2" -> ((s, d) => Relational.scd2(t(s, d, "events"))),
    // the query SCD2 exists for: each purchase joined to the dimension
    // version valid AT PURCHASE TIME, not the current one
    "q46_pit_join" -> ((s, d) => Relational.pitJoin(t(s, d, "events"))),
    "q42_interval_islands" -> ((s, d) => Relational.intervalIslands(t(s, d, "events"))),
    "q45_unpivot" -> ((s, d) => Relational.unpivotCounts(t(s, d, "events"))),
    // incremental SimHash vs a persisted signature table (rows-only like
    // d3; == full recompute restricted to batch-touching pairs,
    // spec-asserted). localCheckpoint models the persisted corpus table.
    "d15_simhash_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // FULL oracle via the d3 staging idiom (see d11's comment)
      val sigsAll = Dedup.simhashSignatures(docs).localCheckpoint()
      sigsAll.coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/d15_sigs")
      val corpusSigs = sigsAll.filter(pmod(col("doc_id"), lit(2)) === 1)
      Dedup.simhashIncremental(docs.filter(pmod(col("doc_id"), lit(2)) === 0), corpusSigs)
    }),
    // mergeable KLL quantile rollup, r13 staged conversion: the merged
    // quantile estimates stage as parquet; the returned frame is the
    // empirical rank-error report (the normalized-rank metric KLL
    // bounds), exact counting both engines replay. FULL oracle.
    "c19_quantile_rollup" -> ((s, d) => {
      val ev = t(s, d, "events")
      Curation.quantileRollup(ev).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/c19_est")
      Curation.quantileRollupEval(s.read.parquet(stageDir(d) + "/c19_est"), ev)
    }),
    "q41_outliers" -> ((s, d) => Relational.robustOutliers(t(s, d, "events"))),
    "q30_cume_users" -> ((s, d) => Relational.cumulativeUsers(t(s, d, "events"))),
    "q31_histogram" -> ((s, d) => Relational.priceHistogram(t(s, d, "orders"))),
    "q32_transitions" -> ((s, d) => Relational.eventTransitions(t(s, d, "events"))),
    "q33_wau" -> ((s, d) => Relational.slidingActiveUsers(t(s, d, "events"))),
    "q35_type_concat" -> ((s, d) => Relational.typeConcat(t(s, d, "events"))),
    "q36_modal_type" -> ((s, d) => Relational.modalType(t(s, d, "events"))),
    // the whole-operator tier under the oracle gate: custom LogicalPlan →
    // Strategy → sorted-merge SparkPlan, result == the q16 window form
    "q37_asof_exec" -> ((s, d) => TimeJoins.asofJoinExec(t(Tables.tune(s), d, "events"))),
    "q34_retention" -> ((s, d) => Relational.cohortRetention(t(s, d, "events"))),
    "q47_growth_accounting" -> ((s, d) =>
      Relational.growthAccounting(t(s, d, "events"))),
    "q48_basket_lift" -> ((s, d) =>
      Relational.basketLift(t(s, d, "lineitem"), t(s, d, "part"))),
    "q49_rfm" -> ((s, d) => Relational.rfmSegments(t(s, d, "orders"))),
    "q50_path_trigrams" -> ((s, d) =>
      Relational.pathTrigrams(t(s, d, "events"))),
    "q51_daily_anomaly" -> ((s, d) =>
      Relational.dailyAnomaly(t(s, d, "events"))),
    "q52_gap_fill" -> ((s, d) => Relational.gapFill(t(s, d, "events"))),
    // q74 (r14): q52's LOCF sibling — LINEAR interpolation between the
    // nearest observed neighbours on a planted-gap daily series; exact
    // integer-cent inputs make the IEEE interpolation bit-equal across
    // engines with no rounding step
    "q74_interpolate" -> ((s, d) => Relational.interpolate(t(s, d, "events"),
      withhold = day => dayofmonth(day) % 3 === 0)),
    // q75 (r14): referential-integrity audit over the whole star —
    // planted orphans (keyed FK remaps out of the parent key space),
    // five join+aggregate pipelines, exact integer-ppm orphan rates
    "q75_fk_audit" -> ((s, d) => Relational.fkAudit(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"),
      t(s, d, "supplier"), t(s, d, "nation"), t(s, d, "part"))),
    // c65 (r14): per-domain document cap (RefinedWeb-family anti-spam
    // step) via the c20 two-level top-k — no single-reducer domain funnel
    "c65_domain_cap" -> ((s, d) => Curation.domainCap(t(s, d, "documents"))),
    // q76 (r14): Benford first-digit fraud/data-quality audit — exact
    // cent-string digit extraction, integer-ppm shares, literal
    // expectations (no transcendental on the decision path)
    "q76_benford" -> ((s, d) => Relational.benford(t(s, d, "orders"))),
    // q77 (r14): per-group distribution moments — exact centered power
    // sums on the scale-4 grid, IEEE only in the final skew/kurt formulas
    "q77_moments" -> ((s, d) => Relational.moments(t(s, d, "events"))),
    // q80 (r14): exact audience overlap via bit-packed user bitmaps —
    // c64's HLL estimate made exact at 64× membership compression; the
    // oracle is independent machinery (distinct sets + user-keyed join)
    "q80_bitmap_overlap" -> ((s, d) =>
      Relational.bitmapOverlap(t(s, d, "events"))),
    // WITH RECURSIVE class: pointer-jumping transitive closure over the
    // supplier decimal-trie forest — O(log depth) self-joins
    "q57_hierarchy" -> ((s, d) => Relational.hierarchy(t(s, d, "supplier"))),
    // RANGE (calendar-distance) window frame — gap-correct moving
    // revenue, the ROWS-frame pitfall made explicit
    "q58_range_frame" -> ((s, d) => Relational.rangeFrame(t(s, d, "orders"))),
    // the pre-salting diagnostic: top hot keys, exact shares, and the
    // times-the-mean skew factor with an integer-cross-multiplied bar
    "q60_skew_profile" -> ((s, d) => Relational.skewProfile(t(s, d, "events"))),
    // q34's retention matrix with money in the cells: per-cohort
    // cumulative revenue and per-member LTV, integer-month arithmetic
    "q61_cohort_ltv" -> ((s, d) => Relational.cohortLtv(t(s, d, "orders"))),
    // month-over-month growth: calendar-frame lag, exact deltas, the
    // per-mille rate NULL off a zero base
    "q66_growth_rate" -> ((s, d) => Relational.growthRate(t(s, d, "orders"))),
    // q84 (r15): interval calendarization — revenue recognition's
    // month proration with the EXACT cumulative-floor allocation
    // (integer units; the per-month pieces telescope to the invoice
    // amount with zero penny drift)
    "q84_calendarize" -> ((s, d) => Relational.calendarize(t(s, d, "orders"))),
    // q85 (r15): deterministic Poisson-bootstrap CIs (Chamandy et al.
    // 2012) — hash-seeded multiplicities cut at the 1e6-scaled
    // Poisson(1) CDF, replicate means under the davg discipline,
    // order-statistic envelope; engine-exact end to end
    "q85_bootstrap_ci" -> ((s, d) => Relational.bootstrapCi(t(s, d, "orders"))),
    // q86 (r15): sequence-gap detection (the "did the loader drop a
    // chunk" scan) — two-level bucket decomposition so no window ever
    // runs over the corpus; oracle = the naive single-window form.
    // The generator's orderkeys are CONTIGUOUS (measured: zero gaps),
    // so the gate drops a residue band (k%97 ∈ 13..20 — 8-wide holes
    // that land at every bucket phase) and runs B=64 so intra-,
    // inter-bucket AND inter-superbucket paths all carry real gaps
    "q86_sequence_gaps" -> ((s, d) => Relational.sequenceGaps(
      t(s, d, "orders").filter(!pmod(col("o_orderkey"), lit(97)).between(13, 20)),
      bucketSize = 64)),
    "q53_abc_pareto" -> ((s, d) => Relational.abcPareto(t(s, d, "lineitem"))),
    "t7_unigram_ll" -> ((s, d) => Curation.unigramLogLik(t(s, d, "documents"))),
    // t38 (r15): Heaps'-law vocabulary-growth fit — t10 answers "how
    // big a vocab for THIS corpus", the Heaps exponent answers "and
    // when it 100×es": bucket-granular growth curve (two partial aggs
    // + a <=32-row cumulative window), closed-form log-log least
    // squares under the t7 ln-decimal discipline
    "t38_heaps_fit" -> ((s, d) => Curation.heapsFit(t(s, d, "documents"))),
    // c68 (r15): per-document novelty — fraction of a doc's distinct
    // 3-shingles FIRST seen in that doc (ingestion order); the
    // data-valuation signal between c7 (within-doc repetition) and c61
    // (corpus dup rate). First-occurrence trick: no corpus self-join
    "c68_novelty" -> ((s, d) => Curation.noveltyProfile(t(s, d, "documents"))),
    "c27_perplexity_gate" -> ((s, d) => Curation.perplexityGate(t(s, d, "documents"))),
    // CCNet paragraph granularity: planted multi-language / OOV-heavy
    // paragraphs (the corpus has none), language+perplexity scored PER
    // PARAGRAPH, survivors re-assembled in order; the reference LM is
    // the UNPLANTED src0 slice (c27's reference posture)
    "c32_paragraph_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Curation.paragraphGate(plantParagraphs(docs),
        docs.filter(col("source") === "src0"))
    }),
    // the web-corpus front door: markup planted (the corpus is plain
    // text), script/style dropped, tags stripped, entities decoded
    "t16_html_extract" -> ((s, d) =>
      TextOps.htmlExtract(plantHtml(t(s, d, "documents")))),
    // t36 (r14): the q19 twin for XML — Spark's native from_xml over
    // planted envelopes; attributes, nested struct, repeated→array,
    // entity decode and optional→null all come back typed, and the
    // oracle recomputes every expected value from the raw plant inputs
    "t36_xml_extract" -> ((s, d) =>
      TextOps.xmlExtract(plantXml(t(s, d, "documents")))),
    // the boilerplate-REMOVAL layer t16 lacks: per-block link-density +
    // min-words classification, survivors re-assembled in order
    "c53_main_content" -> ((s, d) =>
      Curation.mainContent(plantHtmlBlocks(t(s, d, "documents")))),
    // the IN-BAND governance tier (meta robots + X-Robots-Tag with the
    // noai opt-out) over planted two-channel signals; pure-map oracle
    "c54_robots_gate" -> ((s, d) =>
      Curation.robotsGate(plantRobots(t(s, d, "documents")))),
    // the LINK layer: every anchor → (href, anchor_text) row over
    // planted absolute/relative/attribute-noise anchors
    "t27_links" -> ((s, d) =>
      TextOps.linkGraph(plantAnchors(t(s, d, "documents")))),
    // markdown→text: the t16 sibling for the README/forum surface,
    // RE2-safe chain replayed verbatim
    "t28_markdown" -> ((s, d) =>
      TextOps.markdownExtract(plantMarkdown(t(s, d, "documents")))),
    // ingest data-quality profiler over a planted-null frame: one agg
    // pass, long-format unpivot, string-rendered extrema
    "q56_profile" -> ((s, d) => Relational.profile(
      t(s, d, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0, lit(null))
          .otherwise(col("lang")).as("lang"),
        col("source"), col("n_chars")),
      Seq("doc_id", "lang", "source", "n_chars"))),
    // the DATALOADER layer: deterministic per-epoch training order,
    // pure function of (doc_id, epoch, seed) — resumable anywhere
    "c56_epoch_order" -> ((s, d) =>
      Curation.epochOrder(t(s, d, "documents"))),
    // the layer BEFORE text: URL normalize → registered domain →
    // blocklist + rate-gate domain cap over planted URLs
    "c33_url_gate" -> ((s, d) =>
      Curation.urlDomainGate(plantUrls(t(s, d, "documents")))),
    // the FIRST dedup a web pipeline runs: canonical-URL collapse over
    // four planted spellings of the same page
    "d24_url_dedup" -> ((s, d) =>
      Dedup.urlDedup(plantUrlVariants(t(s, d, "documents")))),
    // d37 (r15): d24's URL-dedup STATE maintained through a
    // STRING-KEYED TxTable — the composition the r14 verdict named as
    // the 100 TB hole: every real state table (URL sets, digests,
    // shingle artifacts) keys on strings, and without lexicographic
    // file stats each merge was a full-table rewrite. Corpus state is
    // created keyed by canon_url, range-CLUSTERED so files carry
    // disjoint string ranges, then the %3 batch merges additively
    // (counts sum, doc_id takes the min — the associative algebra that
    // makes state ∪ batch equal the whole-corpus aggregate). The merge
    // prunes on the string min/max stats (spec-measured); the oracle
    // is d24's whole-corpus SQL verbatim — one missed file, doubled
    // count or dropped insert hash-fails.
    "d37_url_state_tx" -> ((s, d) => {
      val docs = plantUrlVariants(t(s, d, "documents"))
      val corpus = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val root = stageDir(d) + "/d37_tx"
      graft.sources.TxTable.create(s, Dedup.urlDedup(corpus), root, "canon_url")
      graft.sources.TxTable.compactClustered(s, root, "canon_url", 8)
      val bAgg = Dedup.urlDedup(batch).localCheckpoint()
      // the associative combine rides INSIDE the SET-expression merge
      // (r18): counts sum, doc_id takes the min, fresh URLs insert —
      // and the merge reads only the clustered files whose string
      // range the batch touches (the pre-r18 form read the whole
      // state table per batch to combine outside the merge)
      graft.sources.TxTable.mergeConditional(s, root, bAgg, "canon_url",
        matchedUpdateSet = Some(Map(
          "doc_id" -> ((sc, tc) => least(sc("doc_id"), tc("doc_id"))),
          "dup_count" -> ((sc, tc) => tc("dup_count") + sc("dup_count")))))
      graft.sources.TxTable.read(s, root)
        .select(col("doc_id"), col("canon_url"), col("dup_count"))
    }),
    // asymmetric containment over the df-capped inverted index; the
    // shingle table stages so candidates AND verify replay relationally
    "d25_containment" -> ((s, d) => {
      val sh = Dedup.shingleTable(t(s, d, "documents"))
      sh.coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/d25_shingles")
      Dedup.containmentFromShingles(sh)
    }),
    // per-source top-30% token-count gate: thresholds are partial-agg
    // percentiles per source, broadcast back, decimal-6 boundary
    "c37_source_relative_gate" -> ((s, d) =>
      Curation.sourceRelativeGate(t(s, d, "documents"))),
    // C4's repeated-line removal over the paragraph-planted corpus:
    // planted paragraphs repeat corpus-wide and drop everywhere, each
    // doc's own (mostly unique) body line survives
    "c38_line_dedup" -> ((s, d) =>
      Curation.lineDedup(plantParagraphs(t(s, d, "documents")))),
    // the d17 ingest posture at line granularity: even-id batch lines
    // probe the odd-id corpus's persisted line table
    "c39_line_incremental" -> ((s, d) => {
      val aug = plantParagraphs(t(s, d, "documents"))
      Curation.lineDedupIncremental(
        aug.filter(pmod(col("doc_id"), lit(2)) === 0),
        Curation.allLineCounts(aug.filter(pmod(col("doc_id"), lit(2)) === 1)))
    }),
    // training-shard write + release manifest: docs land in shard=N/
    // partition dirs by the c11 hash, the manifest is computed from the
    // READ-BACK files, and the DuckDB oracle reads the SAME written
    // bytes (hive partitioning) — write round-trip, placement and
    // manifest algebra all verified at once
    "c52_shard_write" -> ((s, d) => {
      val out = stageDir(d) + "/c52_shards"
      graft.sources.Sources.writeSharded(
        t(s, d, "documents").select(col("doc_id"), col("text")), out)
      Curation.shardManifest(s.read.parquet(out))
    }),
    // curriculum-ordered sharding: c44's micro-unit quality deciles ×
    // c11's deterministic hash sub-shards, decile-major shard ids — the
    // manifest a curriculum schedule reads in id order
    "c50_curriculum_shards" -> ((s, d) =>
      Curation.curriculumShards(t(s, d, "documents"))),
    // corpus datasheet: the per-source release report (lang mix ×
    // quality × dup exposure × scale) in two shuffles; every input is
    // already oracle-replayable so the composition is too
    "c49_datasheet" -> ((s, d) =>
      Curation.datasheet(t(s, d, "documents"))),
    // license/opt-out governance audit: per-(source, license) doc and
    // token accounting under the allowlist + opt-out policy — planted
    // metadata (corpus has none), fully relational oracle
    "c48_license_gate" -> ((s, d) =>
      Curation.licenseGate(plantGovernance(t(s, d, "documents")))),
    // compression-ratio quality gate (zlib compressibility, the
    // Gopher/RedPajama cheap signal): pure map via the native
    // graft_deflate_len codegen expression; planted template-spam and
    // hex-noise tails make both cuts observable. FULL oracle via the
    // c23 staged-count idiom — the DEFLATE byte counts are
    // zlib-build-specific, so they stage as parquet and DuckDB replays
    // the ratio + cross-multiplied integer gate relationally over them
    "c47_compression_gate" -> ((s, d) => {
      // localCheckpoint: the staging write AND the returned result both
      // consume the gate — without materialization the corpus is
      // DEFLATED twice (the deflate loop is this gate's entire cost)
      val gate = Curation.compressionGate(
        plantCompressibility(t(s, d, "documents"))).localCheckpoint()
      gate.select(col("doc_id"), col("comp_len")).coalesce(1)
        .write.mode("overwrite").parquet(stageDir(d) + "/c47_comp")
      gate
    }),
    // epoch-capped water-filling over per-source token counts; weights
    // derive from the source's numeric suffix so caps genuinely bind
    // for the heavy-weight sources and surplus redistributes.
    // r14: same oracle TYPE bug as t17b (DuckDB HUGEINT sums leaking
    // into the final SELECT where Spark emits BIGINT) — n_tokens/cap/
    // allocated now CAST AS BIGINT in the oracle; values were always
    // equal, only the hashed dtype differed
    "c36b_token_budget_mix" -> ((s, d) =>
      Curation.tokenBudgetMix(t(s, d, "documents"), budgetPct = 60,
        weightExpr = regexp_extract(col("source"), "([0-9]+)$", 1)
          .cast("long") % 7 + 1)),
    // c12's remediation half: contaminated 8-token SPANS cut, the rest
    // of each doc kept; canary contamination planted (the corpus shares
    // no genuine 8-token window across the benchmark split)
    "c35_decontam_scrub" -> ((s, d) => {
      val aug = plantContam(t(s, d, "documents"))
      Curation.decontamScrub(
        aug.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        aug.filter(pmod(col("doc_id"), lit(97)) === 0))
    }),
    // hybrid retrieval: s1's dense cosine list + the BM25-vs-query-doc
    // sparse list, fused by reciprocal rank (doc_id ≡ vec_id; the two
    // indexes cover different id ranges — RRF's normal regime)
    "c34_hybrid_rrf" -> ((s, d) => {
      val dense = Similarity.bruteTopK(t(s, d, "embeddings"), 10, 10)
        .select(col("q_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Curation.rrfFuse(dense,
        Curation.bm25QueryDocRanking(t(s, d, "documents")))
    }),
    "c21_bigram_ll" -> ((s, d) => Curation.bigramLogLik(t(s, d, "documents"))),
    "t10_vocab_coverage" -> ((s, d) => Curation.vocabCoverage(t(s, d, "documents"))),
    "c22_temperature_mix" -> ((s, d) => Curation.temperatureMix(t(s, d, "documents"))),
    // multi-signal duplicate clusters: the three text pair sources
    // (exact Jaccard, MinHash-LSH, SimHash) unioned into the
    // pair-source-agnostic connected components (rows-only: two of the
    // three sources are seeded-LSH; co-clustering invariants spec'd)
    "d14_multi_clusters" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // FULL oracle via the d2/d3 staging idiom — own staged copies so
      // the key stays self-contained under dev subset runs; the oracle
      // replays all three pair sources AND the connected components.
      // ONE tokenize+shingle pass (r19, guide §1.2): the shared signal
      // table feeds all three families — minhash/Jaccard read its
      // shingle columns, simhash its token-hash array — where the r18
      // shape re-tokenized the corpus once per family (3 full passes).
      val sigt = Dedup.signalTable(docs).localCheckpoint()
      val msigs = sigt.select(col("doc_id"), col("hsh"), col("shn"))
        .withColumn("sig", call_function("graft_minhash64", col("hsh")))
        .localCheckpoint()
      msigs.select(col("doc_id"), col("hsh"), col("shn"))
        .coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/d14_sigs")
      Dedup.bandedSigs(msigs).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/d14_banded")
      val ssigs = sigt.select(col("doc_id"),
          call_function("graft_simhash64", col("_th")).as("sig"))
        .localCheckpoint()
      ssigs.coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/d14_simhash")
      val pair = (df: DataFrame, a: String, b: String) =>
        df.select(col(a).as("a"), col(b).as("b"))
      // pair sources read the checkpointed signature tables — the
      // corpus is shingled/signed once per family, not once per consumer
      Dedup.duplicateClustersFrom(
        docs.select(col("doc_id").as("vec_id")),
        pair(Dedup.ngramJaccardPairsFromShingles(
            sigt.select(col("doc_id"), col("source"), col("shn"), col("hsh"))),
          "doc_a", "doc_b")
          .union(pair(Dedup.minhashPairsFromSigs(msigs), "doc_a", "doc_b"))
          .union(pair(Dedup.simhashPairsFromSigs(ssigs), "doc_a", "doc_b")).distinct())
        .select(col("vec_id").as("doc_id"), col("cluster_id"))
    }),
    "d7_canonical" -> ((s, d) => Dedup.canonical(t(s, d, "documents"))),
    "c10_funnel" -> ((s, d) => Curation.curationFunnel(t(s, d, "documents"))),
    "st1_tumbling_window" -> ((s, d) => TimeJoins.tumblingWindow(t(s, d, "events"))),
    "st2_sliding_window" -> ((s, d) => TimeJoins.slidingWindow(t(s, d, "events"))),
    "st3_sessionize_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.sessionizeFileStream(Tables.tune(s), d)),
    // st31: the SAME stateful sessionizer through a broker-shaped
    // in-memory source (rows-as-records, zero files) — proves the st*
    // gate logic is source-agnostic; same q15-family oracle as st3
    "st31_memory_source" -> ((s, d) =>
      graft.streaming.StreamDrivers.sessionizeMemoryStream(Tables.tune(s), d)),
    // st39: q78's NATIVE session_window through a WATERMARKED stream —
    // the engine-owned-state counterpart of st3's hand-rolled
    // flatMapGroupsWithState sessionizer; byte-identical aggregation
    // code path as the batch q78, gated on the q78 oracle verbatim
    "st39_session_native_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.sessionNativeStream(Tables.tune(s), d)),
    "st4_latest_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.latestStateFileStream(Tables.tune(s), d)),
    "st5_interval_join_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.intervalJoinFileStream(Tables.tune(s), d)),
    "st8_interval_outer_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.intervalJoinOuterFileStream(Tables.tune(s), d)),
    "st6_dedup_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.dedupFileStream(Tables.tune(s), d)),
    "st7_tumbling_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.tumblingFileStream(Tables.tune(s), d)),
    "st9_ingest_dedup_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.ingestDedupFileStream(Tables.tune(s), d)),
    // streaming NEAR-dup ingest: per-micro-batch minhashIncremental
    // probe + signature append (the st12 reload-artifact pattern at the
    // near-dup layer); == the d11 batch recompute, so its oracle gates
    // this verbatim — the signature/banded staging is re-derived here
    // (deterministic seeded hashing) so the key is self-contained
    // streaming visual ingest: per-micro-batch in-stream dHash + probe
    // against the growing corpus phash state (the st14 posture at the
    // visual layer); == the d23 batch recompute, gated by its oracle
    // streaming embedding ingest: micro-batches probe + append the
    // sign-code state — the last asymmetric cell of the matrix
    "st22_embed_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.embedIngestFileStream(Tables.tune(s), d)),
    // st41 (r16): incremental IVF index maintenance — the frozen
    // corpus-fit pivots stage for the oracle's assignment replay; the
    // driver streams the even-id vectors through ivfAssign into the
    // TxTable index state and audits the read-back (see the driver
    // scaladoc for the full contract)
    "st41_ivf_stream" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfPivotIds(emb.filter(pmod(col("vec_id"), lit(2)) === 1))
        .coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/st41_pivots")
      graft.streaming.StreamDrivers.ivfIngestFileStream(Tables.tune(s), d)
    }),
    // st42 (r16): two CONCURRENT streaming sinks sharding one hot state
    // table by key ownership — the fleet posture the OCC rebase fast
    // path exists for; final state is deterministic because disjoint
    // merges commute (see the driver scaladoc)
    "st42_multi_sink" -> ((s, d) =>
      graft.streaming.StreamDrivers.multiSinkFileStream(Tables.tune(s), d)),
    "st18_phash_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.phashIngestFileStream(Tables.tune(s), d)),
    "st19_url_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.urlGateFileStream(Tables.tune(s), d)),
    "st20_paragraph_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.paragraphGateFileStream(Tables.tune(s), d)),
    // the line-layer boilerplate gate at ingest: frozen odd-id corpus
    // line artifact, even-id docs streamed through lineScrubAgainst
    "st21_line_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.lineGateFileStream(Tables.tune(s), d)),
    // the c53 block-layer extractor at ingest: zero-state pure map,
    // streamed union == batch run, one shared SQL gates both
    "st27_content_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.mainContentFileStream(Tables.tune(s), d)),
    // the s20 drift monitor at ingest: frozen centroid artifact,
    // additive per-micro-batch cell counts, shared final algebra
    "st28_drift_stream" -> ((s, d) => {
      val s2 = Tables.tune(s)
      stageKmeans(t(s2, d, "embeddings"), d, "st28")
      graft.streaming.StreamDrivers.driftFileStream(s2, d)
    }),
    "st14_neardup_stream" -> ((s, d) => {
      val ss = Tables.tune(s)
      val docs = t(s, d, "documents")
      val sigsAll = Dedup.minhashSignatures(docs).localCheckpoint()
      sigsAll.select(col("doc_id"), col("hsh"), col("shn"))
        .coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/st14_sigs")
      Dedup.bandedSigs(sigsAll).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/st14_banded")
      graft.sources.TxTable.release(sigsAll)
      graft.streaming.StreamDrivers.minhashIngestFileStream(ss, d)
    }),
    // streaming BPE token-budget ledger: merge table persisted and
    // reloaded (bpeMergesDF → bpeMergesFrom — the model-artifact path),
    // per-doc counts staged for the oracle's batch-aggregate replay
    "st12_token_budget_stream" -> ((s, d) => {
      val ss = Tables.tune(s)
      val merges = TextOps.bpeMergesFrom(TextOps.bpeMergesDF(ss, bpeFit(ss, d)))
      TextOps.bpeCounts(t(s, d, "documents"), merges)
        .coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/st12_counts")
      graft.streaming.StreamDrivers.bpeBudgetFileStream(ss, d, merges)
    }),
    "st11_cdc_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.cdcFileStream(Tables.tune(s), d)),
    // st32: the same CDC stream with the PRODUCTION sink — every
    // micro-batch commits into the TxTable (merge/delete as atomic
    // versions); final snapshot == the batch applyCdc == q44's oracle
    "st32_cdc_tx_sink" -> ((s, d) =>
      graft.streaming.StreamDrivers.cdcTxSinkStream(Tables.tune(s), d)),
    // the Gopher quality gate as a streaming ingest filter — same
    // planted-violation input and rule algebra as c24, driven through a
    // two-batch file stream; gated on c24's oracle verbatim
    "st13_quality_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.qualityFileStream(Tables.tune(s), d,
        plantQualityViolations(t(s, d, "documents")))),
    // the c47 compression gate composed onto the stream itself (the
    // deflate expression is a pure projection); the streamed result's
    // counts stage for the same relational oracle replay as c47
    "st23_compression_stream" -> ((s, d) => {
      // the stream driver already materializes per-batch rows into a
      // local frame, so no checkpoint is needed before staging
      val out = graft.streaming.StreamDrivers.compressionFileStream(
        Tables.tune(s), d, plantCompressibility(t(s, d, "documents")))
      out.select(col("doc_id"), col("comp_len")).coalesce(1)
        .write.mode("overwrite").parquet(stageDir(d) + "/st23_comp")
      out
    }),
    // the c54 in-band robots gate as a streaming ingest predicate —
    // zero-state pure map of each doc's own bytes; batch-c54 oracle
    "st25_robots_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.robotsFileStream(Tables.tune(s), d)),
    // the c55 WARC front door as the STREAM SOURCE; batch-c55 oracle
    "st26_warc_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.warcIngestFileStream(Tables.tune(s), d)),
    // the c48 governance filter as a streaming ingest predicate —
    // stateless pure map, doc-disjoint batches union to the batch run
    "st24_license_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.licenseFileStream(Tables.tune(s), d,
        plantGovernance(t(s, d, "documents")))),
    // benchmark decontamination as a streaming ingest gate: per
    // micro-batch c12 against the static benchmark table; doc-disjoint
    // batches make the union the batch result — c12's oracle verbatim
    "st15_contamination_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.contaminationFileStream(Tables.tune(s), d)),
    // the c27 perplexity gate per micro-batch against the static
    // reference LM; doc-disjoint batches union to the batch result —
    // c27's oracle verbatim
    "st16_perplexity_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.perplexityFileStream(Tables.tune(s), d)),
    // the c30 classifier per micro-batch: the model is fit ONCE on the
    // static corpus (partitioning-independent, so this gate's staged
    // weight copy is bit-identical to c30's), scoring is a pure map —
    // doc-disjoint batches union to the batch result
    "st17_classifier_stream" -> ((s, d) => {
      val w = fittedWeights(s, d)
      stageWeights(s, d, "st17_weights", w)
      graft.streaming.StreamDrivers.classifierFileStream(Tables.tune(s), d, w)
    }),
    // the c16 sketch table written INCREMENTALLY by a watermarked stream,
    // rolled up by the same batch merge. r13 staged conversion: the
    // stream's merged estimates stage as parquet; the returned frame is
    // the est-vs-exact audit replayed relationally. FULL oracle (was
    // rows-only; streaming==batch equality remains spec-asserted).
    // st40 (r15): the KMV sketch table maintained by a streaming
    // writer — per-micro-batch sketch + associative merge into the
    // persisted state; hash-determinism means the oracle replays the
    // SKETCH VALUES from raw events (no staged estimates, unlike st10)
    "st40_kmv_stream" -> ((s, d) =>
      graft.streaming.StreamDrivers.kmvStateStream(Tables.tune(s), d)),
    "st10_sketch_stream" -> ((s, d) => {
      graft.streaming.StreamDrivers.sketchRollupFileStream(Tables.tune(s), d)
        .coalesce(1).write.mode("overwrite").parquet(stageDir(d) + "/st10_est")
      Curation.sketchStreamEval(s.read.parquet(stageDir(d) + "/st10_est"),
        t(s, d, "events"))
    }),
    "s4_knn_graph" -> ((s, d) => Similarity.knnGraph(t(s, d, "embeddings"))),
    // the sub-quadratic k-NN-graph scale path under the driver gate:
    // recall is corpus-dependent (rows-only; the recall floor vs s4's
    // exact graph is asserted in DedupSimilaritySpec)
    // s5 FULL oracle: same staged-code replay as s2, every vector a query
    "s5_knn_lsh_graph" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshCodes(emb).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/s5_codes")
      Similarity.knnGraphLsh(emb)
    }),
    // s25 (r14): hierarchically ROUTED ANN — the SPANN-style two-tier
    // batch design: the hash-sampled routing tier (staged levels) is
    // flat-scanned per query for query-adaptive entries, then s22's
    // beam refines on the m=6 base graph. Oracle replays routing from
    // staged levels, edges from staged codes, beam rounds as CTEs
    "s25_routed_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshCodes(emb).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/s25_codes")
      val lv = Similarity.hnswLevels(emb).localCheckpoint()
      lv.coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/s25_levels")
      Similarity.routedAnnTopK(emb, lv)
    }),
    // s22: graph-based ANN (NSW-family beam search over the s5 graph).
    // FULL oracle: staged codes replay the edges (lshEdgeCtes), then
    // the beam rounds unroll as CTEs — decimal-6 cosine + id ranks
    "s22_graph_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshCodes(emb).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/s22_codes")
      Similarity.graphAnnTopK(emb)
    }),
    // distributed k-means, FULL oracle: stage the seed id/cid table
    // (smallest-xxhash64 — the one non-ANSI step), then the oracle
    // unrolls the 5 Lloyd iterations as CTEs — decimal-6 assignment
    // argmin, exact DECIMAL(28,12) coordinate sums, and the driver's
    // HALF_UP scale-12 mean division replayed in HUGEINT integer math
    "s6_kmeans" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      stageKmeans(emb, d, "s6")
      Similarity.kmeans(emb)
    }),
    // the remediation half of s20: mini-batch centroid update — exact
    // weighted mean folding the batch into the frozen fit
    "s23_centroid_update" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      stageKmeans(emb, d, "s23")
      Similarity.centroidUpdate(emb,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1))
    }),
    // index drift monitoring: per-cell build-time vs batch occupancy
    // against the FROZEN centroid fit, rate-shift flag in exact
    // decimal cross-multiplication; odd ids play the monitored batch
    "s20_drift" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      stageKmeans(emb, d, "s20")
      Similarity.centroidDrift(emb,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1))
    }),
    // s13 sign random projection, FULL oracle from SQL text alone: the
    // hash-derived sign matrix and the decimal-sum/÷4 scaling are pure
    // engine-independent algebra — nothing staged, nothing seeded
    // s26 (r14): deterministic PCA — the data-DEPENDENT linear map
    // beside s13's data-oblivious JL: exact-integer scatter fit, d×d
    // driver power iteration, quantized components staged so the
    // projection is a pure integer dot product the oracle replays
    "s26_pca" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val (muq, ws) = Similarity.pcaFit(emb)
      import s.implicits._
      muq.zipWithIndex.map { case (m, i) => (i, m) }.toSeq
        .toDF("dim", "muq").coalesce(1)
        .write.mode("overwrite").parquet(stageDir(d) + "/s26_mu")
      ws.zipWithIndex.flatMap { case (w, pc) =>
        w.zipWithIndex.map { case (x, i) => (pc, i, x) } }.toSeq
        .toDF("pc", "dim", "wq").coalesce(1)
        .write.mode("overwrite").parquet(stageDir(d) + "/s26_w")
      Similarity.pcaProject(emb, muq, ws)
    }),
    "s13_rand_proj" -> ((s, d) =>
      Similarity.randomProjectionRows(t(s, d, "embeddings"))),
    // d21 SemDeDup, FULL oracle: the staged seed table replays the
    // k-means partition (kmeansCtes), then within-cluster decimal-6
    // cosine pairs, recursive-reachability components, and the
    // most-central-keeps window all replay relationally
    "d21_semdedup" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      stageKmeans(emb, d, "d21")
      Dedup.semDedup(emb)
    }),
    // cluster-stratified coreset selection, FULL oracle: the s6 replay
    // plus a per-cluster centrality rank (decimal-6 distance, id ties)
    "s9_diversity_sample" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      stageKmeans(emb, d, "s9")
      Similarity.diversitySample(emb)
    }),
    // PageRank over the SUB-QUADRATIC k-NN graph (LSH edges — the whole
    // chain is the 100 TB path, no O(n²) stage). FULL oracle: stage the
    // seeded LSH codes (the one non-ANSI step), then the oracle
    // re-derives the edges relationally and replays the 10 power
    // iterations as unrolled CTEs — per-edge division and the damping
    // update are single IEEE ops on both engines, inflow sums in exact
    // DECIMAL(38,18), and the result is decimal-12-rounded
    "s7_pagerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshCodes(emb).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/s7_codes")
      Similarity.pageRank(
        Similarity.knnGraphLsh(emb)
          .select(col("q_id").as("src"), col("neighbor_id").as("dst")))
    }),
    // s24 (r14): BFS reachability levels from a seed set over the SAME
    // sub-quadratic LSH k-NN edge source as s7/s8/s17/s21 — the
    // distance/propagation layer of the graph-analytics family (how far
    // does a seed's influence spread, in how many hops). FULL oracle:
    // the shared staged-code edge replay + a recursive-CTE
    // level-synchronous BFS with min-hop collapse.
    "s24_bfs_hops" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshCodes(emb).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/s24_codes")
      Similarity.bfsHops(
        Similarity.knnGraphLsh(emb)
          .select(col("q_id").as("src"), col("neighbor_id").as("dst")),
        emb.filter(col("vec_id") < 3).select(col("vec_id")))
    }),
    // s27 (r15): s24 made WEIGHTED — rank-weighted single-source
    // shortest paths (synchronous Bellman-Ford, integer path sums) over
    // the same LSH k-NN edge source; recursive-CTE oracle with the
    // hop-bounded min collapse matching the R-round relax invariant
    "s27_sssp" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshCodes(emb).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/s27_codes")
      Similarity.shortestPaths(
        Similarity.knnGraphLsh(emb)
          .select(col("q_id").as("src"), col("neighbor_id").as("dst"),
            col("rank").cast("long").as("w")),
        emb.filter(col("vec_id") < 3).select(col("vec_id")))
    }),
    // per-node triangle counts over the same sub-quadratic edge source
    // — degree-oriented compact-forward, all-integer. FULL oracle:
    // staged-code edge replay + the identical orientation in SQL
    "s17_triangles" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshCodes(emb).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/s17_codes")
      Similarity.triangleCounts(
        Similarity.knnGraphLsh(emb)
          .select(col("q_id").as("src"), col("neighbor_id").as("dst")))
    }),
    // simplified-silhouette cluster quality over the s6 partition.
    // FULL oracle: the kmeansCtes replay already carries ALL k
    // distances per vector (fa at rk 1 and 2 are exactly a and b)
    "s18_silhouette" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      stageKmeans(emb, d, "s18")
      Similarity.silhouette(emb)
    }),
    // MMR diversity reranking over the s1 query slate — greedy rounds
    // unrolled relationally, all-integer micro-cosine scores
    "s19_mmr_rerank" -> ((s, d) =>
      Similarity.mmrRerank(t(s, d, "embeddings"))),
    // snapshot diff over the planted recrawl — text never shuffles,
    // only (doc_id, digest)
    "d26_snapshot_diff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.snapshotDiff(docs, plantRecrawl(docs))
    }),
    // label-propagation communities over the same sub-quadratic edge
    // source. FULL oracle: staged-code edge replay + the synchronous
    // rounds unrolled as CTEs — all-integer label/count arithmetic, so
    // the replay is exact (argmax = rank by count DESC, label ASC)
    "s8_label_prop" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshCodes(emb).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/s8_codes")
      Similarity.labelPropagation(
        Similarity.knnGraphLsh(emb)
          .select(col("q_id").as("src"), col("neighbor_id").as("dst")))
    }),
    // k-core density screen over the same staged-code edge replay: its
    // own staging copy keeps the s-family gates order-independent
    "s21_kcore" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshCodes(emb).coalesce(1).write.mode("overwrite")
        .parquet(stageDir(d) + "/s21_codes")
      Similarity.kCore(
        Similarity.knnGraphLsh(emb)
          .select(col("q_id").as("src"), col("neighbor_id").as("dst")))
    }),
    // text-side duplicate clusters: the d4 exact-Jaccard pairs as the
    // edge source into the pair-source-agnostic connected components
    "d10_text_clusters" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.duplicateClustersFrom(
        docs.select(col("doc_id").as("vec_id")),
        Dedup.ngramJaccardPairs(docs)
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
        .select(col("vec_id").as("doc_id"), col("cluster_id"))
    }),
    // soft dedup: d10's clusters reduced to per-doc sampling weights
    // (1/|cluster| — reweight instead of remove); raw IEEE double
    "c28_softdedup_weights" -> ((s, d) =>
      Dedup.softDedupWeights(t(s, d, "documents"))),
    // dedup-aware mixing: c22's temperature algebra over c28's
    // effective (near-dup-discounted) source sizes
    "c31_dedup_aware_mix" -> ((s, d) =>
      Curation.dedupAwareMix(t(s, d, "documents"))),
    // model-based quality gate: balanced logistic regression over hashed
    // bag-of-words, trained in-Spark by unrolled decimal-summed GD; the
    // learned weight vector is STAGED so the oracle replays featurize →
    // dot → sigmoid → decimal-6 gate from SQL alone
    "c30_quality_classifier" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val w = fittedWeights(s, d)
      stageWeights(s, d, "c30_weights", w)
      QualityModel.score(docs, w)
    }),
    // the model-eval report over the same fit — its own staged weight
    // copy (bit-identical: the fit is partitioning-independent) keeps
    // the gates order-independent
    "c44_model_lift" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val w = fittedWeights(s, d)
      stageWeights(s, d, "c44_weights", w)
      QualityModel.modelLift(QualityModel.score(docs, w))
    }),
    // the confusion-matrix report over the same fit, own weight copy
    "c45_model_metrics" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val w = fittedWeights(s, d)
      stageWeights(s, d, "c45_weights", w)
      QualityModel.modelMetrics(QualityModel.score(docs, w))
    }),
    // ingestion robustness: a planted JSONL feed with malformed lines
    // (%13) read under PERMISSIVE with a corrupt-record column — bad
    // lines surface as data, never kill the job, and the raw line is
    // preserved for the quarantine queue
    "q55_corrupt_json" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val js = to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
      val lines = docs.select(
        when(pmod(col("doc_id"), lit(13)) === 0,
          js.substr(lit(1), length(js) - 1))   // drop the closing brace
          .otherwise(js).as("value"))
      val dir = zorderDir() + "/jsonl"
      lines.coalesce(1).write.mode("overwrite").text(dir)
      graft.sources.Sources.jsonLinesPermissive(s, dir,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_chars",
            org.apache.spark.sql.types.LongType))))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("_corrupt_record").isNotNull.cast("int").as("is_corrupt"),
          col("_corrupt_record").as("raw"))
    }),
    "g1_entry" -> ((s, d) => Relational.revenueCube(t(s, d, "region"), t(s, d, "nation"),
      t(s, d, "customer"), t(s, d, "orders"), t(s, d, "lineitem")))
  )

  // SQL helpers (kept textual so each oracle is self-contained)
  // Shared s5/s7/s8 edge derivation: staged seeded LSH codes (the one
  // non-ANSI step) → hamming≤1 candidate pairs → decimal-6 cosine
  // top-3 per vector. Parameterized on the stage key so each gate's
  // staged table stays self-contained.
  // Shared d33/d34/st33 replay: token values, 4-token lag-chain rolling
  // hash, LBFS boundary rule (h%16=0 or doc end), strict-prefix chunk
  // index, ordered chunk re-assembly -> CTE `ch` (doc_id, chunk_idx,
  // start_p, end_p, n_tokens, chunk_text)
  private lazy val cdcChunkCtes: String =
    s"""d AS (SELECT doc_id, $toks AS t FROM documents),
          tk AS (SELECT doc_id, i AS p, t[i] AS tok, len(t) AS n
                 FROM d, unnest(generate_series(1, len(t))) AS u(i)),
          tv AS (SELECT doc_id, p, tok, n,
                 length(tok) * 961 + ord(tok[1]) * 31 + ord(tok[-1]) AS v
                 FROM tk),
          hb AS (SELECT doc_id, p, tok, n,
                 CASE WHEN p >= 4 THEN
                   (lag(v, 3) OVER w) * 29791 + (lag(v, 2) OVER w) * 961
                   + (lag(v, 1) OVER w) * 31 + v END AS h
                 FROM tv WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
          bd AS (SELECT doc_id, p, tok,
                 CASE WHEN (p >= 4 AND h % 16 = 0) OR p = n THEN 1 ELSE 0 END
                   AS isb FROM hb),
          cx AS (SELECT doc_id, p, tok,
                 coalesce(sum(isb) OVER (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS chunk_idx FROM bd),
          ch AS (SELECT doc_id, chunk_idx, min(p) AS start_p, max(p) AS end_p,
                 count(*) AS n_tokens,
                 string_agg(tok, ' ' ORDER BY p) AS chunk_text
                 FROM cx GROUP BY 1, 2)"""
  private def lshEdgeCtes(stage: String, withRank: Boolean = false) =
    s"""WITH cd AS (SELECT vec_id, code
           FROM read_parquet('__GRAFT_STAGE__/$stage/*.parquet')),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT q.vec_id AS q_id, c.vec_id AS id_b,
               list_cosine_similarity(qv.v, cv.v) AS cos
               FROM cd q JOIN cd c
                 ON c.vec_id <> q.vec_id
                 AND bit_count(xor(q.code, c.code)) <= 1
               JOIN v qv ON qv.vec_id = q.vec_id
               JOIN v cv ON cv.vec_id = c.vec_id),
         rr AS (SELECT q_id, id_b, row_number() OVER
               (PARTITION BY q_id ORDER BY CAST(cos AS DECIMAL(38,6)) DESC, id_b)
               AS rank FROM p),
         e AS (SELECT q_id AS src, id_b AS dst${
             if (withRank) ", rank AS w" else ""} FROM rr WHERE rank <= 3)"""
  // Shared s6/s9 k-means replay: staged seed (cid, vec_id) table (the
  // one non-ANSI step) → `iters` unrolled Lloyd iterations → final
  // assignment CTE `fa` (vec_id, cid, d6, rk). Each iteration:
  // decimal-6-rounded squared-distance argmin (ties → smallest cid,
  // matching the Spark side's array_min over struct(d6, cid)), exact
  // DECIMAL(28,12) per-(cluster, dim) coordinate sums, and the driver's
  // BigDecimal.divide(n, 12, HALF_UP) mean replayed as HUGEINT integer
  // math on the unscaled sum: round_half_up(S/n) = sign(S)·((2|S|+n) //
  // (2n)). The final /1e12 double division is exact-rational correctly
  // rounded on both engines (S/n < 2^53, 1e12 a representable power of
  // ten), so it equals BigDecimal.doubleValue. Empty clusters keep
  // their previous centroid (the LEFT JOIN + COALESCE).
  private def kmeansCtes(stage: String, iters: Int = 5): String = {
    // the fit-sample membership staged next to the seed table: the
    // iteration sums below run over exactly this subset, mirroring
    // kmeansCentroids' fitSample (identity at gate scale, the
    // hash-threshold sample past FitCap) — without the restriction the
    // oracle would fit on the full frame and silently diverge from the
    // sampled Spark fit once the corpus crosses the cap
    val fitStage = stage.stripSuffix("_seeds") + "_fit"
    def assign(i: String, ct: String) =
      s"""ca$i AS (SELECT cid, list(cx ORDER BY pos) AS cv FROM $ct GROUP BY cid),
         cb$i AS (SELECT cid, cv, list_inner_product(cv, cv) AS cc FROM ca$i),
         asn$i AS (SELECT vec_id, cid, d6, row_number() OVER
                  (PARTITION BY vec_id ORDER BY d6, cid) AS rk FROM
                  (SELECT w.vec_id, c.cid,
                   CAST((w.vv - (CAST(2 AS DOUBLE) * list_inner_product(w.v, c.cv)))
                        + c.cc AS DECIMAL(38,6)) AS d6
                   FROM vv w CROSS JOIN cb$i c) z$i)"""
    val head =
      s"""WITH RECURSIVE sd AS (SELECT CAST(cid AS INTEGER) AS cid, vec_id
           FROM read_parquet('__GRAFT_STAGE__/$stage/*.parquet')),
         fs AS (SELECT vec_id FROM read_parquet('__GRAFT_STAGE__/$fitStage/*.parquet')),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         vv AS (SELECT vec_id, v, list_inner_product(v, v) AS vv FROM v),
         vx AS (SELECT vec_id, unnest(v) AS x, unnest(range(len(v))) AS pos FROM v),
         ct0 AS (SELECT sd.cid, u.pos, u.x AS cx FROM sd JOIN vx u ON u.vec_id = sd.vec_id)"""
    // scale bound: sum * 1e12 must fit DECIMAL(38,12), i.e. a per-
    // (cluster, dim) coordinate sum below 1e14 — for unit-scale
    // embeddings that is 1e14 members per cluster, far past any sf this
    // gate runs at; past it DuckDB errors loudly (and the Spark side
    // null-guards its own 1e26 decimal bound in kmeansCentroids)
    val loop = (0 until iters).map { i =>
      s""",
         ${assign(i.toString, s"ct$i")},
         sm$i AS (SELECT g.cid, u.pos,
                 CAST(sum(CAST(u.x AS DECIMAL(28,12))) * 1000000000000 AS HUGEINT) AS s,
                 CAST(count(*) AS HUGEINT) AS n
                 FROM asn$i g JOIN vx u ON u.vec_id = g.vec_id
                 JOIN fs ON fs.vec_id = g.vec_id
                 WHERE g.rk = 1 GROUP BY g.cid, u.pos),
         ct${i + 1} AS (SELECT p.cid, p.pos,
                 COALESCE(CAST(sign(m.s) * ((2 * abs(m.s) + m.n) // (2 * m.n))
                               AS DOUBLE) / 1e12, p.cx) AS cx
                 FROM ct$i p LEFT JOIN sm$i m ON m.cid = p.cid AND m.pos = p.pos)"""
    }.mkString
    s"""$head$loop,
         ${assign("F", s"ct$iters")},
         fa AS (SELECT vec_id, cid, d6, rk FROM asnF)"""
  }
  private def dsum(x: String) =
    s"CAST(round(sum(CAST($x AS DECIMAL(18,4))), 2) AS DOUBLE)"
  // product sums: cast each raw factor to decimal, multiply exactly
  private def dprod(price: String, factors: String*) =
    s"CAST(round(sum(CAST($price AS DECIMAL(12,4))" +
      factors.map(f => s" * CAST($f AS DECIMAL(8,4))").mkString +
      "), 2) AS DOUBLE)"
  private def davg(x: String) =
    s"CAST(CAST(CAST(sum(CAST($x AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS DECIMAL(38,4)) AS DOUBLE)"
  // Mirrors ColumnFns.tokens: CJK codepoints spaced into single tokens
  // (RE2 \p{Han} == Java \p{IsHan}, both the Unicode Script property),
  // then an ASCII-ws + U+3000 split. Identity on pure-ASCII text.
  private def segTextOf(c: String) =
    s"regexp_replace($c, '([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}])', ' \\1 ', 'g')"
  private def toksOf(c: String) =
    s"list_filter(string_split_regex(lower(trim(${segTextOf(c)})), '[\\s　]+'), x -> x <> '')"
  private val segText = segTextOf("text")
  private val toks = toksOf("text")
  // Shared q70/st34 oracle: the MV full recompute from raw orders —
  // cent sums are associative integers, so incremental AND streamed
  // maintenance must equal it exactly
  /** c66/st38 shared oracle: the erasure audit recomputed entirely from
    * the RAW documents table (before = all rows, after = revoked %13=5
    * removed) — the gates read the maintained TxTable instead, so the
    * hash asserts transactional-delete value correctness. */
  private lazy val erasureSql =
    """WITH b AS (SELECT source, count(*) AS n_before
           FROM documents GROUP BY 1),
       a AS (SELECT source, count(*) AS n_after,
           CAST(sum(n_chars) AS BIGINT) AS chars_after
         FROM documents WHERE doc_id % 13 <> 5 GROUP BY 1)
       SELECT b.source, b.n_before,
         b.n_before - COALESCE(a.n_after, 0) AS n_revoked,
         COALESCE(a.n_after, 0) AS n_after,
         COALESCE(a.chars_after, 0) AS chars_after
       FROM b LEFT JOIN a ON a.source = b.source
       ORDER BY b.source"""

  private lazy val matviewSql =
    """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
           AS revenue,
         count(*) AS n_orders
       FROM orders GROUP BY 1 ORDER BY 1"""
  // Shared d24/d37 oracle: the plant CASE + the canonicalization regex
  // chain (scheme/host lower, :443 and www. strip, trailing-slash
  // strip, sorted non-utm params, fragment drop), d1's group-by shape.
  // d37 reuses it verbatim because its corpus/batch split composes
  // additively back to the whole-corpus aggregate.
  private lazy val urlDedupSql =
    """WITH u AS (SELECT doc_id,
           CASE doc_id % 4
             WHEN 0 THEN 'https://site' || (doc_id % 50) || '.example/Page/'
                         || (doc_id % 7) || '?a=1&b=2'
             WHEN 1 THEN 'HTTPS://WWW.Site' || (doc_id % 50) || '.Example:443/Page/'
                         || (doc_id % 7) || '?b=2&a=1&utm_source=x'
             WHEN 2 THEN 'https://site' || (doc_id % 50) || '.example/Page/'
                         || (doc_id % 7) || '/?a=1&b=2'
             ELSE 'https://site' || (doc_id % 50) || '.example/Page/'
                         || (doc_id % 7) || '?a=1&utm_campaign=z&b=2#frag'
           END AS url FROM documents),
         q AS (SELECT doc_id, url,
               array_to_string(list_sort(list_filter(
                 string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
                 p -> NOT starts_with(p, 'utm_') AND p <> '')), '&') AS plist
               FROM u),
         c AS (SELECT doc_id,
               lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               || '://' ||
               regexp_replace(regexp_replace(
                 lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
                 ':(80|443)$', ''), '^www\.', '')
               || regexp_replace(
                 regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
                 '/+$', '')
               || CASE WHEN plist <> '' THEN '?' || plist ELSE '' END AS canon_url
               FROM q)
         SELECT min(doc_id) AS doc_id, canon_url, count(*) AS dup_count
         FROM c GROUP BY canon_url ORDER BY canon_url"""

  // Shared d13/st22 oracle: brute-force threshold pairs excluding
  // corpus-internal (odd-odd) pairs — the incremental contract
  private lazy val embedIncrementalSql =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       WHERE CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                  CAST(b.embedding AS DOUBLE[])) AS DECIMAL(38,6)) >= 0.45
         AND NOT (a.vec_id % 2 = 1 AND b.vec_id % 2 = 1)
       ORDER BY 1, 2"""

  // Shared c40/c41 PMI oracle fragments: token arrays, unigram/bigram
  // count tables with their totals, and the minCount=5 filtered bigram
  // set — c41 re-derives c40's top-3 from the same text so the two
  // oracles cannot drift
  private lazy val pmiCtes =
    s"""d AS (SELECT doc_id, $toks AS t FROM documents),
          uni AS (SELECT term, count(*) AS c_term FROM
                    (SELECT unnest(t) AS term FROM d) GROUP BY 1),
          tu AS (SELECT sum(c_term) AS n_uni FROM uni),
          bg AS (SELECT a AS term_a, b AS term_b FROM
                   (SELECT unnest([{'a': t[i], 'b': t[i+1]}
                      for i in generate_series(1, len(t)-1)], recursive := true)
                    FROM d WHERE len(t) >= 2)),
          big AS (SELECT term_a, term_b, count(*) AS n_ab FROM bg GROUP BY 1, 2),
          tb AS (SELECT sum(n_ab) AS n_big FROM big),
          f AS (SELECT term_a, term_b, n_ab FROM big WHERE n_ab >= 5)"""

  // Shared d16/d17/d18 span-dedup oracle fragments (w=8 fixed: the +7 /
  // +8 literals are w-1 / w — change them HERE, in one place, with the
  // Scala default). spanWinCtes derives every window occurrence,
  // spanDupAllCte marks corpus-wide duplicates, spanIslCtes merges
  // positions into islands, spanSelect is the span-table output shape.
  private lazy val spanWinCtes =
    s"""d AS (SELECT doc_id, $toks AS t FROM documents),
          o AS (SELECT doc_id, unnest([{'p': i, 'sh': array_to_string(t[i:i+7], ' ')}
                  for i in generate_series(1, len(t)-7)], recursive := true)
                FROM d WHERE len(t) >= 8)"""
  private lazy val spanDupAllCte =
    """dup AS (SELECT doc_id, p FROM
                  (SELECT doc_id, p, count(*) OVER (PARTITION BY sh) AS c FROM o)
                  WHERE c > 1)"""
  private lazy val spanIslCtes =
    """brk AS (SELECT doc_id, p, CASE WHEN p > lag(p) OVER
                    (PARTITION BY doc_id ORDER BY p) + 8 THEN 1 ELSE 0 END AS b
                  FROM dup),
          isl AS (SELECT doc_id, p, sum(b) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS UNBOUNDED PRECEDING) AS g FROM brk)"""
  private lazy val spanSelect =
    """SELECT doc_id, CAST(g + 1 AS INTEGER) AS span_id,
            CAST(min(p) AS INTEGER) AS start_pos,
            CAST(max(p) + 7 AS INTEGER) AS end_pos,
            count(*) AS n_windows,
            CAST(max(p) + 7 - min(p) + 1 AS INTEGER) AS n_span_tokens
          FROM isl GROUP BY doc_id, g ORDER BY doc_id, start_pos"""

  // shared by m6 (the frame table) and m10 (feature-sequence dedup over
  // it): real 8-bit (doc_id % 16 = 8) and 16-bit stereo (% 16 = 0)
  // planted-WAV frame features from the plant formulas, stub fallback
  // for text rows — every value integer-derived, bit-identical to the
  // Spark decode (m6's hash-green is the proof)
  private lazy val wavFramesSql =
    """WITH planted AS (
           SELECT doc_id, CAST(64 + doc_id % 64 AS INTEGER) AS ns
           FROM documents WHERE doc_id % 16 = 8),
         fr AS (
           SELECT doc_id, ns, f, least(32, ns - f * 32) AS flen
           FROM planted,
             unnest(generate_series(0, (ns + 31) // 32 - 1)) AS t(f)),
         sm AS (
           SELECT doc_id, f, flen,
             sum(abs((doc_id * 7 + (f * 32 + i) * 13) % 256 - 128)) AS s
           FROM fr, unnest(generate_series(0, flen - 1)) AS u(i)
           GROUP BY 1, 2, 3)
         SELECT doc_id, CAST(f AS INTEGER) AS frame_id,
           CAST(s AS DOUBLE) / (128.0 * flen) AS feat_mean,
           CAST(flen AS INTEGER) AS feat_dim
         FROM sm
         UNION ALL
         SELECT doc_id, CAST(f AS INTEGER) AS frame_id,
           CAST(s AS DOUBLE) / (65536.0 * flen) AS feat_mean,
           CAST(flen AS INTEGER) AS feat_dim
         FROM (
           SELECT doc_id, f, flen,
             sum(abs(((doc_id * 31 + (f * 32 + i) * 17) % 65536 - 32768)
                   + ((doc_id * 31 + (f * 32 + i) * 17 + 7919) % 65536 - 32768))) AS s
           FROM (
             SELECT doc_id, ns, f, least(32, ns - f * 32) AS flen
             FROM (SELECT doc_id, CAST(40 + (doc_id // 16) % 37 AS INTEGER) AS ns
                   FROM documents WHERE doc_id % 16 = 0),
               unnest(generate_series(0, (ns + 31) // 32 - 1)) AS t(f)),
             unnest(generate_series(0, flen - 1)) AS u(i)
           GROUP BY 1, 2, 3)
         UNION ALL
         SELECT doc_id, CAST(f AS INTEGER) AS frame_id,
           CAST((doc_id * 31 + f * 7) % 997 AS DOUBLE) / 997.0 AS feat_mean,
           64 AS feat_dim
         FROM documents, unnest(generate_series(0, octet_length(encode(text)) % 5)) AS t(f)
         WHERE doc_id % 8 <> 0"""

  // shared by c27 (batch) and st16 (the same scoring per micro-batch
  // against the static reference LM): the t7 decimal discipline with a
  // REFERENCE-slice Laplace LM (ln of an exact rational → decimal-6 →
  // exact decimal sum → negated decimal-4 average) and an integer gate on
  // the rounded score — decimal-4 comparison cannot flip cross-engine
  // Shared m9/d22/d23/st18 dHash plant-replay fragments (the wavFramesSql
  // factoring applied to the image side — ADVICE r9): px derives the
  // planted 8×8 comparison grid, bits the dHash comparisons, re the
  // packed 2×32-bit signature halves. A plant-formula or sampling-index
  // change now edits ONE place.
  private lazy val phashPlantCtes =
    """px AS (
           SELECT doc_id, x, y,
                  CAST(4 + doc_id % 5 AS BIGINT) AS w,
                  CAST(3 + doc_id % 4 AS BIGINT) AS h
           FROM documents,
             unnest(generate_series(0, 7)) AS xs(x),
             unnest(generate_series(0, 7)) AS ys(y)
           WHERE doc_id % 16 = 0),
         bits AS (
           SELECT doc_id, x, y,
             CASE WHEN (doc_id*31 + (((x+1)*w)//9)*7 + ((y*h)//8)*13) % 256 >
                       (doc_id*31 + ((x*w)//9)*7 + ((y*h)//8)*13) % 256
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS b
           FROM px),
         re AS (
           SELECT doc_id,
             CAST(SUM(CASE WHEN y*8+x >= 32 THEN b << (y*8+x-32) ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y*8+x < 32 THEN b << (y*8+x) ELSE 0 END) AS BIGINT) AS lo
           FROM bits GROUP BY doc_id)"""

  /** Brute-force Hamming-pair replay over the planted dHash tier, with an
    * optional extra WHERE clause (d23/st18 restrict to batch-touching
    * pairs). */
  private def phashPairsSql(extraWhere: String) =
    s"""WITH $phashPlantCtes,
         pr AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.hi::BIT, b.hi::BIT)) +
                  bit_count(xor(a.lo::BIT, b.lo::BIT)) AS INTEGER) AS hamming
           FROM re a JOIN re b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, hamming FROM pr
         WHERE hamming <= 3$extraWhere ORDER BY doc_a, doc_b"""

  private lazy val perplexitySql =
    s"""WITH tk AS (SELECT doc_id, unnest($toks) AS term FROM documents),
        rtk AS (SELECT unnest($toks) AS term FROM documents
                WHERE source = 'src0'),
        tf AS (SELECT term, count(*) AS rtf FROM rtk GROUP BY 1),
        st AS (SELECT count(*) AS rtotal, count(DISTINCT term) AS rv FROM rtk),
        sc AS (SELECT doc_id, count(*) AS n_tokens,
          CAST(CAST(-CAST(sum(CAST(CAST(ln(CAST(coalesce(tf.rtf, 0) + 1
               AS DOUBLE) / (st.rtotal + st.rv + 1)) AS DECIMAL(38,6))
               AS DECIMAL(28,6))) AS DOUBLE) / count(*)
               AS DECIMAL(38,4)) AS DOUBLE) AS cross_entropy
          FROM tk LEFT JOIN tf ON tk.term = tf.term, st
          GROUP BY doc_id)
        SELECT doc_id, n_tokens, cross_entropy,
          CAST(CASE WHEN cross_entropy <= 3.42 THEN 1 ELSE 0 END AS INTEGER)
            AS kept
        FROM sc ORDER BY doc_id"""

  // shared by c33 (batch) and st19 (the same gate per micro-batch against
  // the static domain-rate table) — identical SQL by the stateless-union
  // argument
  // shared by c54 (batch) and st25 (the same zero-state gate per
  // micro-batch): one SQL, two surfaces
  private lazy val robotsGateSql =
    """WITH aug AS (SELECT doc_id,
            '<html><head>' ||
            CASE WHEN doc_id % 5 = 1
                 THEN '<meta name="robots" content="noindex, follow">'
                 WHEN doc_id % 5 = 2
                 THEN '<META NAME="ROBOTS" CONTENT="index, NOFOLLOW">'
                 WHEN doc_id % 7 = 3
                 THEN '<meta name="robots" content="noai, noimageai">'
                 WHEN doc_id % 17 = 4
                 THEN '<meta name="robots" content="none">'
                 WHEN doc_id % 19 = 5
                 THEN '<meta name="robots" content="noindex">' ||
                      '<meta name="robots" content="noai">'
                 ELSE '' END ||
            '</head><body>' || text || '</body></html>' AS html,
            CASE WHEN doc_id % 11 = 4
                 THEN 'Content-Type: text/html' || chr(13) || chr(10) ||
                      'X-Robots-Tag: noindex'
                 WHEN doc_id % 13 = 6
                 THEN 'X-Robots-Tag: noai' || chr(13) || chr(10) ||
                      'Cache-Control: no-store'
                 WHEN doc_id % 23 = 7
                 THEN 'X-Robots-Tag: noindex' || chr(13) || chr(10) ||
                      'X-Robots-Tag: noai' || chr(13) || chr(10) ||
                      'Content-Type: text/html'
                 ELSE 'Content-Type: text/html' END AS hdrs
           FROM documents),
          ex AS (SELECT doc_id,
            regexp_extract_all(html,
              '(?i)<meta name="robots" content="([^"]*)"', 1) AS mcs,
            regexp_extract_all(hdrs,
              '(?i)x-robots-tag: ([^\r\n]*)', 1) AS hcs FROM aug),
          dd AS (SELECT doc_id, list_sort(list_distinct(list_filter(
              list_transform(flatten(list_transform(mcs || hcs,
                m -> string_split_regex(lower(m), ',\s*'))), x -> trim(x)),
              x -> x <> ''))) AS dirs FROM ex)
          SELECT doc_id, coalesce(array_to_string(dirs, ','), '') AS directives,
            CASE WHEN list_contains(dirs, 'noindex')
                   OR list_contains(dirs, 'none') THEN 1 ELSE 0 END
              AS noindex,
            CASE WHEN list_contains(dirs, 'nofollow')
                   OR list_contains(dirs, 'none') THEN 1 ELSE 0 END
              AS nofollow,
            CASE WHEN list_contains(dirs, 'noai') THEN 1 ELSE 0 END
              AS noai,
            CASE WHEN list_contains(dirs, 'noindex')
                   OR list_contains(dirs, 'none')
                   OR list_contains(dirs, 'noai') THEN 0 ELSE 1 END
              AS eligible
          FROM dd ORDER BY doc_id"""

  // shared by c55 (batch) and st26 (the same zero-state front door per
  // micro-batch)
  private lazy val warcIngestSql =
    """WITH ext AS (SELECT doc_id,
             trim(regexp_replace(regexp_replace(
               '<html><head><title>Page ' || CAST(doc_id AS VARCHAR) ||
               '</title></head><body><p>' || text ||
               '</p><footer>(c) 2026</footer></body></html>',
               '<[^>]*>', ' ', 'g'), '[\s　]+', ' ', 'g')) AS ct
           FROM documents WHERE doc_id % 4 = 0)
         SELECT doc_id, 0 AS rec_idx,
           'http://ingest' || CAST(doc_id AS VARCHAR) || '.example.com/'
             AS target_uri,
           ct AS clean_text, CAST(length(ct) AS INTEGER) AS n_chars
         FROM ext ORDER BY doc_id"""

  private lazy val urlGateSql =
    """WITH u AS (SELECT doc_id,
            CASE WHEN doc_id % 11 = 0
              THEN 'HTTPS://Spam.Example/track?id=' || CAST(doc_id AS VARCHAR)
            WHEN doc_id % 2 = 0
              THEN 'https://WWW.News.Example.COM/articles/' || CAST(doc_id AS VARCHAR)
            WHEN doc_id % 3 = 0
              THEN 'http://blog.example.co.uk/post/' || CAST(doc_id AS VARCHAR)
            ELSE 'https://data' || CAST(doc_id % 5 AS VARCHAR) ||
              '.example.org/item/' || CAST(doc_id AS VARCHAR) END AS url
            FROM documents),
          p AS (SELECT doc_id,
            lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
            regexp_replace(lower(regexp_extract(url,
              '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^www\.', '') AS host
            FROM u),
          l AS (SELECT doc_id, scheme, host, string_split(host, '.') AS ls
            FROM p),
          r2 AS (SELECT doc_id, scheme, host, ls,
            CASE WHEN len(ls) >= 2 THEN array_to_string(ls[-2:], '.')
              ELSE host END AS last2
            FROM l),
          dm AS (SELECT doc_id, scheme, host,
            CASE WHEN len(ls) >= 3 AND
                list_contains(['co.uk','ac.uk','com.au','co.jp'], last2)
              THEN array_to_string(ls[-3:], '.') ELSE last2 END AS reg_domain
            FROM r2),
          b AS (SELECT doc_id, scheme, host, reg_domain,
            CAST(list_contains(['spam.example','ads.example'], reg_domain)
              AS INTEGER) AS blocked
            FROM dm),
          c AS (SELECT reg_domain, count(*) AS n_domain_docs,
            CAST(CAST(least(1.0, 100.0 / count(*)) AS DECIMAL(38,6)) AS DOUBLE)
              AS keep_rate
            FROM b GROUP BY 1)
          SELECT b.doc_id, b.scheme, b.host, b.reg_domain, b.blocked,
            c.n_domain_docs, c.keep_rate,
            CAST(CASE WHEN b.blocked = 0 AND
              ((b.doc_id % 1000003) * 2246822519 + 104729) % 1000000
                < CAST(floor(c.keep_rate * 1000000.0) AS BIGINT)
              THEN 1 ELSE 0 END AS INTEGER) AS kept
          FROM b JOIN c USING (reg_domain) ORDER BY b.doc_id"""

  // the c32/st20/c38 paragraph-plant CTE (mirrors plantParagraphs) —
  // one definition so a plant change cannot desynchronize the oracles
  private lazy val parPlantCte =
    """aug AS (SELECT doc_id, text ||
            CASE WHEN doc_id % 3 = 0
              THEN chr(10) || 'el que de la en los y el que de la en'
              ELSE '' END ||
            CASE WHEN doc_id % 4 = 0
              THEN chr(10) || 'the a of zyzzyva qwerzix veldspar oolite brontide petrichor'
              ELSE '' END ||
            CASE WHEN doc_id % 5 = 0
              THEN chr(10) || 'the table scan row filter a query value data part'
              ELSE '' END AS text
            FROM documents)"""

  // shared by s20 (batch) and st28 (streaming) — each gate stages its
  // OWN seed copy, so the two Verify entries never depend on each
  // other's staging order; cell counts are additive across
  // micro-batches, which is why one SQL gates both surfaces
  private def driftSql(stage: String): String =
    s"""${kmeansCtes(stage)},
         cc AS (SELECT cid, count(*) AS n_corpus FROM fa
                WHERE rk = 1 GROUP BY cid),
         bb AS (SELECT cid, count(*) AS n_batch FROM fa
                WHERE rk = 1 AND vec_id % 2 = 1 GROUP BY cid),
         sp AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS cluster),
         tt AS (SELECT
             CAST((SELECT count(*) FROM fa WHERE rk = 1) AS BIGINT) AS nc,
             CAST((SELECT count(*) FROM fa
                   WHERE rk = 1 AND vec_id % 2 = 1) AS BIGINT) AS nb),
         jj AS (SELECT sp.cluster,
             COALESCE(cc.n_corpus, 0) AS n_corpus,
             COALESCE(bb.n_batch, 0) AS n_batch, tt.nc, tt.nb
           FROM sp LEFT JOIN cc ON cc.cid = sp.cluster
             LEFT JOIN bb ON bb.cid = sp.cluster, tt)
         SELECT cluster, n_corpus, n_batch,
           CAST(CAST((CAST(n_corpus AS HUGEINT) * 1000 * 20000 + nc)
             // (2 * CAST(nc AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 10000.0 AS corpus_pm,
           CAST(CAST((CAST(n_batch AS HUGEINT) * 1000 * 20000 + nb)
             // (2 * CAST(nb AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 10000.0 AS batch_pm,
           CASE WHEN abs(CAST(n_batch AS HUGEINT) * nc
                 - CAST(n_corpus AS HUGEINT) * nb) * 1000
               > 100 * CAST(nc AS HUGEINT) * nb
             THEN 1 ELSE 0 END AS drifted
         FROM jj ORDER BY cluster"""

  // romanization chain GENERATED from the same digraph/letter tables
  // the operator uses (TextOps.romanMulti/romanFrom/romanTo) — the
  // t1 langOrder idiom: one source of truth, two engines
  private def romanizeSqlOf(c: String): String = {
    val inner = TextOps.romanMulti.foldLeft(c) {
      case (acc, (k, v)) => s"regexp_replace($acc, '$k', '$v', 'g')"
    }
    s"translate($inner, '${TextOps.romanFrom}', '${TextOps.romanTo}')"
  }
  private lazy val allCyrSql =
    TextOps.romanMulti.map(_._1).mkString + TextOps.romanFrom

  // shared by m20 (batch) and st30 (streaming) — the sniff reads
  // only each payload's own bytes; one SQL, two surfaces
  private lazy val charsetSql =
    """WITH pt AS (SELECT doc_id,
             length('doc ' || CAST(doc_id AS VARCHAR) || ' data') AS L
           FROM documents)
         SELECT d.doc_id, 'none' AS bom, 1 AS valid_utf8,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
           CAST(length(d.text) AS BIGINT) AS n_chars,
           CASE WHEN length(d.text) < octet_length(encode(d.text))
             THEN 1 ELSE 0 END AS multibyte
         FROM documents d WHERE d.doc_id % 8 <> 0
         UNION ALL
         SELECT doc_id, 'utf8-bom', 1, CAST(3 + L AS BIGINT),
           CAST(1 + L AS BIGINT), 1
         FROM pt WHERE doc_id % 8 = 0 AND (doc_id // 8) % 4 = 0
         UNION ALL
         SELECT doc_id, 'utf16le', 0, CAST(2 + 2 * L AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER)
         FROM pt WHERE doc_id % 8 = 0 AND (doc_id // 8) % 4 = 1
         UNION ALL
         SELECT doc_id, 'utf16be', 0, CAST(2 + 2 * L AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER)
         FROM pt WHERE doc_id % 8 = 0 AND (doc_id // 8) % 4 = 2
         UNION ALL
         SELECT doc_id, 'none', 0, CAST(1 + L AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER)
         FROM pt WHERE doc_id % 8 = 0 AND (doc_id // 8) % 4 = 3
         ORDER BY doc_id"""

  // shared by c59 (batch) and st29 (streaming) — the gate reads only
  // each document's own text, so the two surfaces can never drift
  private lazy val badwordsSql =
    s"""WITH aug AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 7 = 3 THEN ' blockedalpha' ELSE '' END ||
             CASE WHEN doc_id % 13 = 6
               THEN ' blockedbeta blockedgamma blockedbeta' ELSE '' END
             AS text FROM documents),
         d AS (SELECT doc_id, $toks AS t FROM aug)
         SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
           CAST(len(list_filter(t, x -> x IN
             ('blockedalpha', 'blockedbeta', 'blockedgamma')))
             AS INTEGER) AS n_blocked,
           CASE WHEN len(t) > 0 THEN
             CAST(CAST((CAST(len(list_filter(t, x -> x IN
                 ('blockedalpha', 'blockedbeta', 'blockedgamma')))
                 AS HUGEINT) * 1000 * 20000 + len(t))
               // (2 * CAST(len(t) AS HUGEINT)) AS BIGINT) AS DOUBLE)
               / 10000.0
           END AS blocked_pm,
           CASE WHEN len(list_filter(t, x -> x IN
             ('blockedalpha', 'blockedbeta', 'blockedgamma'))) = 0
             THEN 1 ELSE 0 END AS kept
         FROM d ORDER BY doc_id"""

  // shared by c53 (batch) and st27 (per micro-batch — block
  // classification is a pure function of each doc's own markup)
  private lazy val mainContentSql =
    """WITH aug AS (SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN
              '<html><body><nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav><div>'
              || text ||
              '</div><aside><a href="/x">Ad one</a> promo</aside><footer>Copyright 2026 <a href="/t">Terms</a></footer></body></html>'
            ELSE text END AS text FROM documents),
          blk AS (SELECT doc_id, unnest(bs) AS b,
              unnest(range(len(bs))) AS ord
            FROM (SELECT doc_id, string_split_regex(text,
              '</(p|div|li|h1|h2|h3|nav|footer|header|aside)>') AS bs
              FROM aug)),
          sc AS (SELECT doc_id, ord,
              coalesce(list_aggregate(list_transform(
                regexp_extract_all(b, '<a [^>]*>([^<]*)</a>', 1),
                x -> length(x)), 'sum'), 0) AS l,
              trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'),
                '[\s　]+', ' ', 'g')) AS btext
            FROM blk),
          cl AS (SELECT doc_id, ord, btext,
              CASE WHEN length(btext) = 0 THEN 'empty'
                   WHEN 3 * l > length(btext) THEN 'link'
                   WHEN len(list_filter(string_split(btext, ' '),
                            x -> x <> '')) < 5 THEN 'short'
                   ELSE 'keep' END AS cls
            FROM sc)
          SELECT doc_id,
            coalesce(string_agg(CASE WHEN cls = 'keep' THEN btext END,
              ' ' ORDER BY ord), '') AS clean_text,
            count(CASE WHEN cls <> 'empty' THEN 1 END) AS n_blocks,
            count(CASE WHEN cls = 'keep' THEN 1 END) AS n_kept,
            count(CASE WHEN cls = 'link' THEN 1 END) AS n_drop_link,
            count(CASE WHEN cls = 'short' THEN 1 END) AS n_drop_short
          FROM cl GROUP BY doc_id ORDER BY doc_id"""

  // shared by c32 (batch) and st20 (per micro-batch against the static
  // src0 reference LM)
  private lazy val paragraphGateSql =
    s"""WITH $parPlantCte,
          sp AS (SELECT doc_id,
            list_filter([trim(x) for x in string_split(text, chr(10))],
              x -> x <> '') AS ps FROM aug),
          par AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS par_id, ps[i] AS par
            FROM sp, unnest(generate_series(1, len(ps))) AS u(i)),
          ptk AS (SELECT doc_id, par_id, par, ${toksOf("par")} AS t FROM par),
          lsc AS (SELECT doc_id, par_id, par,
            ${TextOps.langOrder.map(l => s"${stopHits(l)} AS score_$l").mkString(",\n            ")}
            FROM ptk),
          lng AS (SELECT doc_id, par_id, par, $predLangCase AS pred_lang FROM lsc),
          rtk AS (SELECT unnest($toks) AS term FROM documents
                  WHERE source = 'src0'),
          tf AS (SELECT term, count(*) AS rtf FROM rtk GROUP BY 1),
          st AS (SELECT count(*) AS rtotal, count(DISTINCT term) AS rv FROM rtk),
          ptm AS (SELECT doc_id, par_id, unnest(t) AS term FROM ptk),
          ce AS (SELECT doc_id, par_id,
            CAST(CAST(-CAST(sum(CAST(CAST(ln(CAST(coalesce(tf.rtf, 0) + 1
                 AS DOUBLE) / (st.rtotal + st.rv + 1)) AS DECIMAL(38,6))
                 AS DECIMAL(28,6))) AS DOUBLE) / count(*)
                 AS DECIMAL(38,4)) AS DOUBLE) AS cross_entropy
            FROM ptm LEFT JOIN tf ON ptm.term = tf.term, st
            GROUP BY doc_id, par_id),
          g AS (SELECT l.doc_id, l.par_id, l.par,
            CASE WHEN l.pred_lang = 'en' AND c.cross_entropy <= 6.0
              THEN 1 ELSE 0 END AS kept
            FROM lng l JOIN ce c
              ON l.doc_id = c.doc_id AND l.par_id = c.par_id),
          agg AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_paragraphs,
            CAST(sum(kept) AS INTEGER) AS n_kept,
            coalesce(array_to_string(
              list(par ORDER BY par_id) FILTER (WHERE kept = 1), chr(10)),
              '') AS clean_text
            FROM g GROUP BY doc_id)
          SELECT d.doc_id, coalesce(a.n_paragraphs, 0) AS n_paragraphs,
            coalesce(a.n_kept, 0) AS n_kept,
            coalesce(a.clean_text, '') AS clean_text
          FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
          ORDER BY d.doc_id"""

  // shared by c30 (batch) and st17 (the same scoring per micro-batch
  // against the static fitted model, each gate staging its own —
  // bit-identical, the fit is partitioning-independent — weight copy):
  // Horner char hash (t4 idiom; the outer % 1000003 covers DuckDB's
  // no-init reduce on single-codepoint terms), histogram features,
  // left-to-right reduce dot product (same IEEE order as the Spark
  // in-row aggregate), sigmoid in double, decimal-6 rounded gate
  // the CTE chain through `sc` (doc_id, label, score) — shared by the
  // c30/st17 gate selects AND c44's lift table over the same scores
  private def classifierCtes(stage: String) =
    s"""WITH wl AS (SELECT list(wv ORDER BY pos) AS w
          FROM read_parquet('__GRAFT_STAGE__/$stage/*.parquet')),
        tk AS (SELECT doc_id, source, $toks AS t FROM documents),
        ftk AS (SELECT doc_id, source, len(t) AS n, unnest(t) AS term
                FROM tk WHERE len(t) > 0),
        bkt AS (SELECT doc_id, source, n,
                (list_reduce([ord(c) for c in string_split(term, '')],
                  (a, b) -> (a * 31 + b) % 1000003) % 1000003) % 128 AS b
                FROM ftk),
        mp AS (SELECT doc_id, source, n, histogram(b) AS m
               FROM bkt GROUP BY 1, 2, 3),
        xv AS (SELECT doc_id, source,
               [CAST(coalesce(element_at(m, i)[1], 0) AS DOUBLE) / n
                for i in generate_series(0, 127)]
                 || [CAST(1.0 AS DOUBLE)] AS x
               FROM mp),
        sc AS (SELECT doc_id,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS label,
               CAST(CAST(1.0 / (1.0 + exp(-list_reduce(
                 [x[i+1] * w[i+1] for i in generate_series(0, 128)],
                 (a, b) -> a + b))) AS DECIMAL(38,6)) AS DOUBLE) AS score
               FROM xv, wl)"""

  private def classifierSql(stage: String) =
    s"""${classifierCtes(stage)}
        SELECT doc_id, CAST(label AS INTEGER) AS label, score,
          CAST(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS INTEGER) AS kept
        FROM sc ORDER BY doc_id"""

  // shared by c24 (batch) and st13 (the same computation through a file
  // stream): the aug CTE mirrors plantQualityViolations, the rule algebra
  // mirrors TextOps.gopherQuality
  // shared by st3 (file source) and st31 (in-memory broker-shaped
  // source): one stateful sessionizer gate, two arrival harnesses
  private lazy val sessionizeStreamSql =
    s"""WITH e AS (SELECT event_id, user_id, value,
          CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS se FROM events),
        f AS (SELECT *, CASE WHEN lag(se) OVER w IS NULL OR se - lag(se) OVER w > 1800
              THEN 1 ELSE 0 END AS ns FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY se, event_id)),
        g AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY se, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM f)
        SELECT user_id, session_id, min(se) AS session_start, count(*) AS n_events,
        ${dsum("value")} AS sum_value
        FROM g GROUP BY 1, 2 ORDER BY 1, 2"""
  // shared by q78 (the native session_window on the batch table) and
  // st39 (the IDENTICAL aggregation over a watermarked stream): the
  // lag-form island replay at the native operator's column contract
  // (no session_id). session_window merges INCLUSIVE of the gap
  // (measured — the r14 gate caught a +1-second adjustment
  // over-merging), so at gap = 1800 s both forms keep "diff <= 1800"
  // and the replay breaks on "> 1800"; TimeJoinsSpec pins the boundary
  private lazy val sessionNativeSql =
    s"""WITH e AS (SELECT user_id, value,
          CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS se FROM events),
        f AS (SELECT *, CASE WHEN lag(se) OVER w IS NULL
              OR se - lag(se) OVER w > 1800 THEN 1 ELSE 0 END AS ns FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY se)),
        g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY se
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
        SELECT user_id, min(se) AS session_start, count(*) AS n_events,
          ${dsum("value")} AS sum_value
        FROM g GROUP BY user_id, sid ORDER BY 1, 2"""
  // shared by q24 (DataFrame upsert) and q67 (the same upsert through
  // the TxTable ACID storage layer — value-invisible by contract)
  /** The d36/st36 shared replay: corpus df (odd rows), prefixes under
    * the (coalesce(df,0), hash) order, batch-touching candidates under
    * the size filter, exact list-intersect verify over the union. */
  private def prefixIncSql(stage: String): String =
    s"""WITH sh AS (SELECT doc_id, shn, hsh
           FROM read_parquet('__GRAFT_STAGE__/$stage/*.parquet')),
         dfq AS (SELECT h, count(*) AS df FROM
             (SELECT unnest(hsh) AS h FROM sh WHERE doc_id % 2 = 1)
           GROUP BY 1),
         inv AS (SELECT doc_id, shn, unnest(hsh) AS h FROM sh),
         rk AS (SELECT i.doc_id, i.shn, i.h, row_number() OVER
                  (PARTITION BY i.doc_id
                   ORDER BY coalesce(dfq.df, 0), i.h) AS rnk
                FROM inv i LEFT JOIN dfq USING (h)),
         pfx AS (SELECT doc_id, shn, h FROM rk
                 WHERE rnk <= shn - CAST(ceil(0.5 * shn) AS INTEGER) + 1),
         cand AS (SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
                    greatest(x.doc_id, y.doc_id) AS doc_b
                  FROM pfx x JOIN pfx y
                    ON x.h = y.h AND x.doc_id <> y.doc_id
                    AND x.doc_id % 2 = 0
                    AND least(x.shn, y.shn) >= 0.5 * greatest(x.shn, y.shn)),
         v AS (SELECT c.doc_a, c.doc_b,
                 CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
                   / (sa.shn + sb.shn - len(list_intersect(sa.hsh, sb.hsh))) AS jacc
               FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
                 JOIN sh sb ON sb.doc_id = c.doc_b)
         SELECT doc_a, doc_b, jacc FROM v WHERE jacc >= 0.5 ORDER BY 1, 2"""

  private lazy val upsertSql =
    """WITH cur AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
                    WHERE o_orderkey % 2 = 0),
       upd AS (SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
               FROM orders WHERE o_orderkey % 3 = 0)
       SELECT coalesce(u.o_orderkey, c.o_orderkey) AS o_orderkey,
         CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
              ELSE c.o_orderstatus END AS o_orderstatus,
         CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
              ELSE c.o_totalprice END AS o_totalprice
       FROM cur c FULL OUTER JOIN upd u ON c.o_orderkey = u.o_orderkey
       ORDER BY 1"""
  private lazy val contaminationSql =
    s"""WITH tok AS ($shingleTok),
        bm AS (SELECT DISTINCT s FROM
               (SELECT unnest(sh) AS s FROM tok WHERE doc_id % 97 = 0)),
        ex AS (SELECT doc_id, unnest(sh) AS s FROM tok)
        SELECT ex.doc_id, count(*) AS n_shingles,
          CAST(sum(CASE WHEN bm.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_contaminated,
          CAST(CAST(sum(CASE WHEN bm.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS DOUBLE) / count(*) AS contam_ratio
        FROM ex LEFT JOIN bm ON ex.s = bm.s
        GROUP BY ex.doc_id ORDER BY ex.doc_id"""
  private lazy val qualityRulesSql =
    s"""WITH aug AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 4 = 0 THEN ' # text ## mark ...' ELSE '' END ||
           CASE WHEN doc_id % 6 = 0 THEN ' 404 500 1234 9000' ELSE '' END ||
           CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'line trails off...' ||
             chr(10) || 'this one too...' ELSE '' END ||
           CASE WHEN doc_id % 7 = 0 THEN chr(10) || '- first bullet' ||
             chr(10) || '- second bullet' || chr(10) || '- third bullet' ELSE '' END ||
           CASE WHEN doc_id % 21 = 0 THEN chr(10) || '- b4' || chr(10) || '- b5' ||
             chr(10) || '- b6' || chr(10) || '- b7' || chr(10) || '- b8' ||
             chr(10) || '- b9' || chr(10) || '- b10' || chr(10) || '- b11' ||
             chr(10) || '- b12' ELSE '' END
           AS text FROM documents),
         sig AS (SELECT doc_id, $toks AS t, string_split(text, chr(10)) AS ls,
           len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_sym FROM aug),
         m AS (SELECT doc_id,
           CAST(len(t) AS INTEGER) AS n_words,
           CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
             / nullif(len(t), 0) AS mean_word_len,
           CAST(n_sym AS DOUBLE) / nullif(len(t), 0) AS symbol_ratio,
           CAST(len(list_filter(ls, l -> starts_with(ltrim(l), '- ')
             OR starts_with(ltrim(l), '* ') OR starts_with(ltrim(l), '• ')))
             AS DOUBLE) / nullif(len(ls), 0) AS bullet_line_frac,
           CAST(len(list_filter(ls, l -> ends_with(rtrim(l), '...')))
             AS DOUBLE) / nullif(len(ls), 0) AS ellipsis_line_frac,
           CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
             AS DOUBLE) / nullif(len(t), 0) AS alpha_word_frac
           FROM sig)
         SELECT doc_id, n_words, mean_word_len, symbol_ratio,
           bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
           CAST(CASE WHEN n_words BETWEEN 50 AND 100000
             AND mean_word_len BETWEEN 3 AND 10
             AND symbol_ratio < 0.1 AND bullet_line_frac < 0.9
             AND ellipsis_line_frac < 0.3 AND alpha_word_frac > 0.8
             THEN 1 ELSE 0 END AS INTEGER) AS keep
         FROM m ORDER BY doc_id"""
  private val shingleTok =
    s"""SELECT doc_id, source, CASE WHEN len(t) >= 3 THEN
        list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        for i in generate_series(1, len(t)-2)])
        ELSE [array_to_string(t, ' ')] END AS sh
        FROM (SELECT doc_id, source, $toks AS t FROM documents)"""
  private def stopHits(lang: String): String = {
    val words = TextOps.stopwords(lang).map(w => s"'$w'").mkString("[", ",", "]")
    s"CAST(len(list_filter(t, x -> list_contains($words, x))) AS INTEGER)"
  }
  // SINGLE SOURCE per scoring formula: t1/c10 and t2/d7 oracles all build
  // from these fragments, so a tie-break or score tweak cannot
  // desynchronize the oracles from each other (they must all hash-match
  // the one Spark implementation in TextOps).
  // generated from TextOps.langOrder so SQL and Spark can never list
  // different languages or disagree on tie-break priority
  private def langScoresSql =
    s"""SELECT doc_id, ${TextOps.langOrder.map(l => s"${stopHits(l)} AS score_$l").mkString(",\n        ")}
        FROM (SELECT doc_id, $toks AS t FROM documents)"""
  // parameterized over the score-column prefix so t1 (stopword scores)
  // and t14 (n-gram scores) share the one tie-break CASE shape
  private def predCaseOver(prefix: String) = {
    val g = TextOps.langOrder.map(l => s"$prefix$l").mkString("greatest(", ", ", ")")
    val whens = TextOps.langOrder.init
      .map(l => s"WHEN $prefix$l = $g THEN '$l'").mkString("\n         ")
    s"""CASE WHEN $g = 0 THEN 'und'
         $whens
         ELSE '${TextOps.langOrder.last}' END"""
  }
  private val predLangCase = predCaseOver("score_")
  private def predLangSql =
    s"SELECT doc_id, $predLangCase AS pred_lang FROM ($langScoresSql)"
  // shared by c47 (batch) and st23 (the same gate composed onto the
  // stream): the plant replay + staged-count join + integer gate, the
  // stage dir being the only difference
  private def compressionGateSql(stage: String) =
    s"""WITH aug AS (SELECT doc_id,
           CASE WHEN doc_id % 23 = 1 THEN md5(CAST(doc_id AS VARCHAR))
                WHEN doc_id % 9 = 0
                  THEN text || ' ' || repeat('lorem template spam block ', 40)
                ELSE text END AS text FROM documents),
        st AS (SELECT doc_id, comp_len
               FROM read_parquet('__GRAFT_STAGE__/$stage/*.parquet')),
        j AS (SELECT a.doc_id, CAST(strlen(a.text) AS BIGINT) AS raw_len,
                st.comp_len
              FROM aug a JOIN st USING (doc_id) WHERE strlen(a.text) > 0)
        SELECT doc_id, raw_len, comp_len,
          CAST(CAST((CAST(comp_len AS HUGEINT) * 2000000 + raw_len)
              // (2 * CAST(raw_len AS HUGEINT)) AS BIGINT) AS DOUBLE)
            / 1000000.0 AS ratio,
          CAST((comp_len * 1000 >= 250 * raw_len
            AND comp_len * 1000 <= 950 * raw_len) AS INTEGER) AS kept
        FROM j ORDER BY doc_id"""

  private def qualityBaseSql =
    s"""SELECT doc_id, CAST(len(t) AS INTEGER) AS n_words, punct_cnt,
        CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
          / nullif(len(t), 0) AS avg_word_len,
        CAST(${stopHits("en")} AS DOUBLE) / nullif(len(t), 0) AS stop_ratio,
        CAST(punct_cnt AS DOUBLE) / nullif(txt_len, 0) AS punct_ratio
        FROM (SELECT doc_id, $toks AS t, length(text) AS txt_len,
              CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                AS INTEGER) AS punct_cnt
              FROM documents)"""
  private val qualityCase =
    """(CASE WHEN n_words BETWEEN 5 AND 2000 THEN 1 ELSE 0 END +
        CASE WHEN punct_ratio < 0.1 THEN 1 ELSE 0 END +
        CASE WHEN stop_ratio > 0.05 THEN 1 ELSE 0 END)"""
  private def qualityScoreSql =
    s"SELECT doc_id, $qualityCase AS quality_score FROM ($qualityBaseSql)"

  // shared by q44 (batch) and st11 (the same apply driven through a
  // seq-ordered file stream with cross-batch max-seq state)
  private val cdcApplySql =
    """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
       snap AS (SELECT * FROM base WHERE o_orderkey % 3 <> 0),
       ch AS (
         SELECT o_orderkey, 'U1' AS o_orderstatus,
           o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice, 'U' AS op, 1 AS seq
         FROM base WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, NULL, NULL, 'D', 2 FROM base WHERE o_orderkey % 5 = 0
         UNION ALL
         SELECT o_orderkey, 'NEW', o_totalprice + 1000.0, 'I', 3
         FROM base WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 = 0),
       latest AS (SELECT * FROM (
         SELECT ch.*, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
         FROM ch) WHERE rn = 1)
       SELECT coalesce(s.o_orderkey, l.o_orderkey) AS o_orderkey,
         CASE WHEN l.op IS NOT NULL THEN l.o_orderstatus ELSE s.o_orderstatus END
           AS o_orderstatus,
         CASE WHEN l.op IS NOT NULL THEN l.o_totalprice ELSE s.o_totalprice END
           AS o_totalprice
       FROM snap s FULL OUTER JOIN latest l ON s.o_orderkey = l.o_orderkey
       WHERE l.op IS NULL OR l.op <> 'D'
       ORDER BY 1"""

  // q88: the conditional-merge CDC apply must equal the latest-wins
  // replay over the SAME changelog (q44's CTE + the stale tier, which
  // latest-wins ignores by seq rank exactly as update-if-newer ignores
  // it in-table — an engine that applies stale rows diverges here)
  private val cdcMergeSql =
    """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
       snap AS (SELECT * FROM base WHERE o_orderkey % 3 <> 0),
       ch AS (
         SELECT o_orderkey, 'U1' AS o_orderstatus,
           o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice, 'U' AS op, 1 AS seq
         FROM base WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, NULL, NULL, 'D', 2 FROM base WHERE o_orderkey % 5 = 0
         UNION ALL
         SELECT o_orderkey, 'NEW', o_totalprice + 1000.0, 'I', 3
         FROM base WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 = 0
         UNION ALL
         SELECT o_orderkey, 'STALE', CAST(0.0 AS DOUBLE), 'U', 0
         FROM base WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
           AND o_orderkey % 5 <> 0),
       latest AS (SELECT * FROM (
         SELECT ch.*, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
         FROM ch) WHERE rn = 1)
       SELECT coalesce(s.o_orderkey, l.o_orderkey) AS o_orderkey,
         CASE WHEN l.op IS NOT NULL THEN l.o_orderstatus ELSE s.o_orderstatus END
           AS o_orderstatus,
         CASE WHEN l.op IS NOT NULL THEN l.o_totalprice ELSE s.o_totalprice END
           AS o_totalprice
       FROM snap s FULL OUTER JOIN latest l ON s.o_orderkey = l.o_orderkey
       WHERE l.op IS NULL OR l.op <> 'D'
       ORDER BY 1"""

  // c71: the from-scratch recompute over the POST-erasure corpus for
  // all three derived artifacts — the cascade (change-feed-driven
  // deletes, count decrements, affected-segment sketch rebuilds) must
  // land exactly where a full rebuild over the survivors lands
  private lazy val erasureCascadeSql =
    s"""WITH surv AS (SELECT doc_id, source, text, n_chars FROM documents
           WHERE NOT (doc_id % 13 = 5
             AND source IN ('src0','src1','src2','src3','src4'))),
       tokd AS (SELECT doc_id, source, ${toksOf("text")} AS t FROM surv),
       corpus AS (SELECT 'corpus' AS artifact, source AS k,
           CAST(count(*) AS BIGINT) AS n, CAST(sum(n_chars) AS BIGINT) AS v
         FROM surv GROUP BY 2),
       sh3 AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN
           list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             for i in generate_series(1, len(t)-2)])
           ELSE [array_to_string(t, ' ')] END AS sh FROM tokd),
       sigs AS (SELECT 'sigs' AS artifact, 'all' AS k,
           CAST(count(*) AS BIGINT) AS n, CAST(sum(len(sh)) AS BIGINT) AS v
         FROM sh3),
       w8 AS (SELECT doc_id, unnest([array_to_string(t[i:i+7], ' ')
             for i in generate_series(1, len(t)-7)]) AS sh
           FROM tokd WHERE len(t) >= 8),
       occ AS (SELECT sh, count(*) AS cnt FROM w8 GROUP BY 1),
       shing AS (SELECT 'shingles' AS artifact, CAST(cnt AS VARCHAR) AS k,
           CAST(count(*) AS BIGINT) AS n, CAST(cnt * count(*) AS BIGINT) AS v
         FROM occ GROUP BY cnt),
       uh AS (SELECT DISTINCT source AS seg,
           ((doc_id % 1000003) * 2654435761 + 104729) % 2147483647 AS h
         FROM surv),
       sk AS (SELECT seg, h, row_number() OVER (PARTITION BY seg ORDER BY h) AS r
         FROM uh QUALIFY r <= 64),
       kmv AS (SELECT 'kmv' AS artifact, seg AS k,
           CAST(count(*) AS BIGINT) AS n, CAST(sum(h) AS BIGINT) AS v
         FROM sk GROUP BY 2)
       SELECT * FROM corpus UNION ALL SELECT * FROM sigs
       UNION ALL SELECT * FROM shing UNION ALL SELECT * FROM kmv
       ORDER BY artifact, k"""

  def oracleSql: Map[String, String] = Map(
    "q88_tx_cdc_merge" -> cdcMergeSql,
    // q89: two layered DV deletes must read exactly as the plain
    // relational deletes — the vectors are invisible to the algebra
    // (the gate's require() carries the zero-rewrite physical proof)
    "q89_tx_dv_delete" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_orderkey % 2 = 0 AND o_orderkey % 7 <> 0
           AND o_orderkey % 11 <> 0
         ORDER BY 1""",
    // q90: vacuum must be INVISIBLE to the head read — the oracle is
    // the merge+delete algebra alone (the racer's one-key merge is a
    // subset of the main merge, so the net state is one merge); the
    // reclaim-exactly set and the loud past-horizon read are gate
    // require()s
    "q90_tx_vacuum" ->
      """WITH cur AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
                      WHERE o_orderkey % 2 = 0),
         upd AS (SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
                 FROM orders WHERE o_orderkey % 3 = 0),
         m AS (SELECT coalesce(u.o_orderkey, c.o_orderkey) AS o_orderkey,
             CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey
                  ELSE c.o_custkey END AS o_custkey,
             CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                  ELSE c.o_totalprice END AS o_totalprice
           FROM cur c FULL OUTER JOIN upd u ON c.o_orderkey = u.o_orderkey)
         SELECT o_orderkey, o_custkey, o_totalprice FROM m
         WHERE o_orderkey % 5 <> 0 ORDER BY 1""",
    // q95: the four %4 slices reassemble the table exactly — append
    // adds rows, never touches existing ones (the adds-only, zero-
    // rewrite and replay-no-op claims are gate require()s)
    "q95_tx_append" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY 1""",
    // q96: the predicate purge reads as its filter algebra — survivors
    // are exactly the keys above the half-range cut (the metadata-only
    // drop, never-read and never-listed claims are gate require()s +
    // the physical pre-delete of covered files)
    "q96_tx_delete_where" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_orderkey >
           (SELECT CAST(floor(max(o_orderkey) / 2.0) AS BIGINT) FROM orders)
         ORDER BY 1""",
    // q97: rename + drop are metadata — the surviving columns read as
    // the merge algebra under the new name (zero-file-touch, era
    // resolution and the dropped-name refusal are gate require()s)
    "q97_tx_column_map" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS amount
         FROM orders ORDER BY 1""",
    // q92: OPTIMIZE moves bytes, never rows — the read after packing
    // equals the base snapshot plus the six offset ingest bands (the
    // big-files-untouched and fewer-small-files claims are gate
    // require()s over mtimes and the live set)
    "q92_tx_optimize" ->
      """WITH mk AS (SELECT max(o_orderkey) + 1 AS k FROM orders),
         base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
                  WHERE o_orderkey % 2 = 0),
         b AS (SELECT o.o_orderkey + t.i * mk.k AS o_orderkey,
                      o.o_custkey, o.o_totalprice
               FROM orders o CROSS JOIN mk
                 CROSS JOIN generate_series(1, 6) AS t(i)
               WHERE o.o_orderkey % 32 = 1)
         SELECT o_orderkey, o_custkey, o_totalprice FROM base
         UNION ALL SELECT o_orderkey, o_custkey, o_totalprice FROM b
         ORDER BY 1""",
    // q93: retention deletes metadata, never state — the head equals
    // the 15-band merge chain's algebra (band i = keys in
    // [i·W, (i+1)·W), W = (max+1)//100, each key owned by one band);
    // the v1-record-gone and loud-below-horizon claims are gate
    // require()s
    "q93_tx_log_retention" ->
      """WITH mk AS (SELECT greatest((max(o_orderkey) + 1) // 100, 1) AS w
                     FROM orders)
         SELECT o_orderkey, o_custkey,
                CAST(o_orderkey // w AS DOUBLE) AS o_totalprice
         FROM orders, mk WHERE o_orderkey // w BETWEEN 1 AND 15
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice FROM orders, mk
         WHERE o_orderkey % 2 = 0 AND o_orderkey // w NOT BETWEEN 1 AND 15
         ORDER BY 1""",
    // q94: the materialized feed equals the relational CDC — inserts
    // (odd %3 keys), real updates pre+post (%3 even keys whose doubled
    // price differs; %12 no-ops and zero prices stay silent), then the
    // %5 deletes over the post-merge state (the physical
    // only-cdc-files-survive proof is a gate require)
    "q94_tx_cdc_files" ->
      """WITH cur AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
                      WHERE o_orderkey % 2 = 0),
         u AS (SELECT o_orderkey, o_custkey,
                 CASE WHEN o_orderkey % 12 = 0 THEN o_totalprice
                      ELSE o_totalprice * 2 END AS o_totalprice
               FROM orders WHERE o_orderkey % 3 = 0),
         ins AS (SELECT u.o_orderkey, u.o_custkey, u.o_totalprice,
                   'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
                 FROM u WHERE u.o_orderkey % 2 <> 0),
         ch AS (SELECT u.o_orderkey FROM u JOIN cur c USING (o_orderkey)
                WHERE u.o_totalprice <> c.o_totalprice),
         upre AS (SELECT c.o_orderkey, c.o_custkey, c.o_totalprice,
                    'update_preimage' AS _change_type,
                    CAST(2 AS BIGINT) AS _commit_version
                  FROM cur c JOIN ch USING (o_orderkey)),
         upost AS (SELECT u.o_orderkey, u.o_custkey, u.o_totalprice,
                     'update_postimage' AS _change_type,
                     CAST(2 AS BIGINT) AS _commit_version
                   FROM u JOIN ch USING (o_orderkey)),
         m AS (SELECT coalesce(u.o_orderkey, c.o_orderkey) AS o_orderkey,
                 CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey
                      ELSE c.o_custkey END AS o_custkey,
                 CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                      ELSE c.o_totalprice END AS o_totalprice
               FROM cur c FULL OUTER JOIN u ON c.o_orderkey = u.o_orderkey),
         del AS (SELECT o_orderkey, o_custkey, o_totalprice,
                   'delete' AS _change_type, CAST(3 AS BIGINT) AS _commit_version
                 FROM m WHERE o_orderkey % 5 = 0)
         SELECT * FROM ins UNION ALL SELECT * FROM upre
         UNION ALL SELECT * FROM upost UNION ALL SELECT * FROM del
         ORDER BY _commit_version, o_orderkey, _change_type""",
    // st43: the incrementally-maintained aggregate must equal the
    // from-scratch recompute over the upstream head — initial %3=0
    // load, %3=1 inserts, %9 keys' prices doubled, %5 rewrite-
    // deleted, %7 DV-deleted; cents are per-row rounded longs (the
    // st34/q70 discipline), the sum CAST back to BIGINT for DuckDB's
    // HUGEINT sum
    "st43_change_feed" ->
      """WITH u AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
                    WHERE o_orderkey % 3 IN (0, 1)),
         m AS (SELECT o_orderkey, o_custkey,
                 CASE WHEN o_orderkey % 9 = 0 THEN o_totalprice * 2
                      ELSE o_totalprice END AS o_totalprice FROM u),
         h AS (SELECT * FROM m
               WHERE o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0)
         SELECT o_custkey,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS rev_cents,
                count(*) AS n_rows
         FROM h GROUP BY 1 ORDER BY 1""",
    "c71_erasure_cascade" -> erasureCascadeSql,
    // st41: the maintained index must equal the batch assignment of the
    // UNION corpus under the staged frozen pivots — the s3 assignment
    // replay (decimal-6 argmax, smallest-pivot tie-break) aggregated to
    // per-cell corpus/streamed counts + the id-sum checksum + the exact
    // cross-multiplication drift rule at 4 per-mille
    "st41_ivf_stream" ->
      """WITH pid AS (SELECT pivot_id
           FROM read_parquet('__GRAFT_STAGE__/st41_pivots/*.parquet')),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pv AS (SELECT pid.pivot_id, v.v AS pvec FROM pid
                JOIN v ON v.vec_id = pid.pivot_id),
         sc AS (SELECT v.vec_id, pv.pivot_id,
                CAST((list_inner_product(v.v, pv.pvec) * CAST(-1 AS DOUBLE)) /
                     (sqrt(list_inner_product(v.v, v.v)) *
                      sqrt(list_inner_product(pv.pvec, pv.pvec)))
                     AS DECIMAL(38,6)) AS negcos
                FROM v CROSS JOIN pv),
         rkc AS (SELECT vec_id, pivot_id, row_number() OVER
                 (PARTITION BY vec_id ORDER BY negcos, pivot_id) AS rk FROM sc),
         asg AS (SELECT vec_id, pivot_id AS cell FROM rkc WHERE rk = 1),
         agg AS (SELECT cell,
                 CAST(count(*) FILTER (vec_id % 2 = 1) AS BIGINT) AS n_corpus,
                 CAST(count(*) FILTER (vec_id % 2 = 0) AS BIGINT) AS n_streamed,
                 CAST(sum(vec_id) AS BIGINT) AS id_sum
                 FROM asg GROUP BY 1),
         tot AS (SELECT sum(n_corpus) AS nc, sum(n_streamed) AS nb FROM agg)
         SELECT cell, n_corpus, n_streamed, id_sum,
           CAST(abs(n_streamed * nc - n_corpus * nb) * 1000 > 4 * nc * nb
             AS INTEGER) AS drifted
         FROM agg, tot ORDER BY cell""",
    // st42: whatever order the two racing sinks' commits landed in, the
    // table must equal the plain upsert of BOTH sinks' update sets over
    // the base snapshot — disjoint merges commute, so one relational
    // replay covers every interleaving
    "st42_multi_sink" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                       FROM orders WHERE o_orderkey % 3 = 0),
         upd AS (SELECT o_orderkey,
             (CASE WHEN o_orderkey % 2 = 0 THEN 'A' ELSE 'B' END
               || CAST(o_orderkey % 10 AS VARCHAR)) AS o_orderstatus,
             o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice
           FROM orders WHERE o_orderkey % 5 < 2)
         SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
                ELSE b.o_orderstatus END AS o_orderstatus,
           CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                ELSE b.o_totalprice END AS o_totalprice
         FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
         ORDER BY 1""",
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
          ${dsum("l_quantity")} AS sum_qty,
          ${dsum("l_extendedprice")} AS sum_base_price,
          ${dprod("l_extendedprice", "1 - l_discount")} AS sum_disc_price,
          ${dprod("l_extendedprice", "1 - l_discount", "1 + l_tax")} AS sum_charge,
          ${davg("l_quantity")} AS avg_qty,
          ${davg("l_extendedprice")} AS avg_price,
          ${davg("l_discount")} AS avg_disc,
          count(*) AS count_order
          FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          GROUP BY 1, 2 ORDER BY 1, 2""",
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
         ORDER BY l_orderkey, l_linenumber""",
    "q3_top_revenue" ->
      s"""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
          ${dprod("l_extendedprice", "1 - l_discount")} AS revenue
          FROM customer, orders, lineitem
          WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
            AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
            AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
          GROUP BY o_orderkey, orders.o_orderdate
          ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q4_exists_semi" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
                       AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY 1 ORDER BY 1""",
    "q5_nation_revenue" ->
      s"""SELECT n_name, ${dprod("l_extendedprice", "1 - l_discount")} AS revenue
          FROM region, nation, customer, orders, lineitem
          WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey AND c_nationkey = n_nationkey
            AND o_custkey = c_custkey AND l_orderkey = o_orderkey
            AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY 1 ORDER BY 1""",
    "q6_selective_agg" ->
      s"""SELECT ${dprod("l_extendedprice", "l_discount")} AS revenue FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q7_rollup" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
          coalesce(l_linestatus, 'ALL') AS l_linestatus,
          ${dsum("l_quantity")} AS sum_qty, count(*) AS count_order
          FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY 1, 2""",
    "q8_grouping_sets" ->
      s"""SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
          coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
          ${dsum("o_totalprice")} AS sum_price, count(*) AS n_orders
          FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) ORDER BY 1, 2""",
    "q9_pivot" ->
      """SELECT user_id,
         count(*) FILTER (WHERE event_type = 'click') AS click,
         count(*) FILTER (WHERE event_type = 'error') AS error,
         count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
         count(*) FILTER (WHERE event_type = 'signup') AS signup,
         count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q10_topn_group" ->
      """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
           SELECT p_brand, p_partkey, p_retailprice, CAST(row_number() OVER
             (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS INTEGER) AS rn
           FROM part) WHERE rn <= 3 ORDER BY p_brand, rn""",
    "q11_window_running" ->
      """SELECT event_id, user_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) OVER run AS DOUBLE) AS run_sum,
         lag(value, 1) OVER ord AS prev_value,
         CAST(CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER mov AS DOUBLE)
               / count(*) OVER mov AS DECIMAL(38,4)) AS DOUBLE) AS mov_avg
         FROM events
         WINDOW ord AS (PARTITION BY user_id ORDER BY ts, event_id),
           run AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           mov AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id""",
    "q12_distinct" ->
      """SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1 ORDER BY 1""",
    "q40_scd2" ->
      """WITH ordered AS (
           SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
           FROM events),
         changes AS (
           SELECT * FROM ordered WHERE prev_type IS NULL OR prev_type <> event_type)
         SELECT user_id, CAST(row_number() OVER w AS INTEGER) AS version, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(ts, 1) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
           CAST(CASE WHEN lead(ts, 1) OVER w IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_current
         FROM changes
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, version""",
    // q48: distinct (order, brand) sets → per-order brand-pair counts →
    // lift = n_both·N / (n_a·n_b), exact integer products, decimal-6
    "q48_basket_lift" ->
      """WITH ob AS (SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
         tot AS (SELECT count(DISTINCT okey) AS n_orders FROM ob),
         per AS (SELECT brand, count(*) AS n_brand FROM ob GROUP BY 1),
         pr AS (SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_both
                FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
                GROUP BY 1, 2 HAVING count(*) >= 20)
         SELECT pr.brand_a, pr.brand_b, pr.n_both,
           pa.n_brand AS n_a, pb.n_brand AS n_b,
           CAST(CAST(CAST(pr.n_both * tot.n_orders AS DOUBLE)
             / (pa.n_brand * pb.n_brand) AS DECIMAL(38,6)) AS DOUBLE) AS lift
         FROM pr JOIN per pa ON pa.brand = pr.brand_a
              JOIN per pb ON pb.brand = pr.brand_b, tot
         ORDER BY brand_a, brand_b""",
    // q49: per-customer R/F/M base → corpus quintile boundaries via
    // quantile_cont (percentile's partial-agg pair) → boundary-strict
    // scores in the decimal-6 domain; recency inverted (recent = 5)
    "q49_rfm" ->
      """WITH pc AS (SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_day,
             count(*) AS frequency,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,2)) AS DOUBLE) AS monetary
           FROM orders GROUP BY 1),
         mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS max_day FROM orders),
         base AS (SELECT o_custkey,
             CAST(mx.max_day - pc.last_day AS BIGINT) AS recency_days,
             frequency, monetary FROM pc, mx),
         b AS (SELECT
             quantile_cont(recency_days, 0.2) AS r1, quantile_cont(recency_days, 0.4) AS r2,
             quantile_cont(recency_days, 0.6) AS r3, quantile_cont(recency_days, 0.8) AS r4,
             quantile_cont(frequency, 0.2) AS f1, quantile_cont(frequency, 0.4) AS f2,
             quantile_cont(frequency, 0.6) AS f3, quantile_cont(frequency, 0.8) AS f4,
             quantile_cont(monetary, 0.2) AS m1, quantile_cont(monetary, 0.4) AS m2,
             quantile_cont(monetary, 0.6) AS m3, quantile_cont(monetary, 0.8) AS m4
           FROM base),
         sc AS (SELECT base.*,
             CAST(6 - (1
               + CASE WHEN recency_days > CAST(CAST(r1 AS DECIMAL(38,6)) AS DOUBLE) THEN 1 ELSE 0 END
               + CASE WHEN recency_days > CAST(CAST(r2 AS DECIMAL(38,6)) AS DOUBLE) THEN 1 ELSE 0 END
               + CASE WHEN recency_days > CAST(CAST(r3 AS DECIMAL(38,6)) AS DOUBLE) THEN 1 ELSE 0 END
               + CASE WHEN recency_days > CAST(CAST(r4 AS DECIMAL(38,6)) AS DOUBLE) THEN 1 ELSE 0 END) AS INTEGER) AS r_score,
             CAST(1
               + CASE WHEN frequency > CAST(CAST(f1 AS DECIMAL(38,6)) AS DOUBLE) THEN 1 ELSE 0 END
               + CASE WHEN frequency > CAST(CAST(f2 AS DECIMAL(38,6)) AS DOUBLE) THEN 1 ELSE 0 END
               + CASE WHEN frequency > CAST(CAST(f3 AS DECIMAL(38,6)) AS DOUBLE) THEN 1 ELSE 0 END
               + CASE WHEN frequency > CAST(CAST(f4 AS DECIMAL(38,6)) AS DOUBLE) THEN 1 ELSE 0 END AS INTEGER) AS f_score,
             CAST(1
               + CASE WHEN monetary > CAST(CAST(m1 AS DECIMAL(38,6)) AS DOUBLE) THEN 1 ELSE 0 END
               + CASE WHEN monetary > CAST(CAST(m2 AS DECIMAL(38,6)) AS DOUBLE) THEN 1 ELSE 0 END
               + CASE WHEN monetary > CAST(CAST(m3 AS DECIMAL(38,6)) AS DOUBLE) THEN 1 ELSE 0 END
               + CASE WHEN monetary > CAST(CAST(m4 AS DECIMAL(38,6)) AS DOUBLE) THEN 1 ELSE 0 END AS INTEGER) AS m_score
           FROM base, b)
         SELECT o_custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS segment
         FROM sc ORDER BY o_custkey""",
    // q50: per-user (ts, event_id)-ordered trigram window → combinable
    // counts with distinct-user support → deterministic top-20
    "q50_path_trigrams" ->
      """WITH tri AS (SELECT user_id, event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT e1, e2, e3, count(*) AS n_paths,
           count(DISTINCT user_id) AS n_users
         FROM tri WHERE e3 IS NOT NULL
         GROUP BY 1, 2, 3
         ORDER BY n_paths DESC, e1, e2, e3 LIMIT 20""",
    // q51: daily counts → trailing 7-row exact integer sums → mean/sd by
    // the SAME IEEE op order as the Spark side → decimal-6 z
    "q51_daily_anomaly" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n_events
             FROM events GROUP BY 1),
         w AS (SELECT day, n_events,
             count(n_events) OVER win AS n_base,
             sum(n_events) OVER win AS s1,
             sum(n_events * n_events) OVER win AS s2
           FROM d
           WINDOW win AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
         z AS (SELECT day, n_events, n_base,
             CAST(s1 AS DOUBLE) / n_base AS mu,
             sqrt((CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_base)
               / (n_base - 1)) AS sd
           FROM w),
         o AS (SELECT day, n_events,
             CASE WHEN n_base >= 7
               THEN CAST(CAST(mu AS DECIMAL(38,6)) AS DOUBLE) END AS mean_base,
             CASE WHEN n_base >= 7 AND sd > 0
               THEN CAST(CAST((n_events - mu) / sd AS DECIMAL(38,6)) AS DOUBLE) END AS z
           FROM z)
         SELECT strftime(day, '%Y-%m-%d') AS day, n_events, mean_base, z,
           CAST(CASE WHEN z IS NOT NULL AND abs(z) > 2.0 THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
         FROM o ORDER BY day""",
    // q54: the staged evolved batches read back with union_by_name —
    // DuckDB's spelling of mergeSchema
    "q54_schema_merge" ->
      """SELECT o_orderkey, batch, o_totalprice, o_orderpriority
         FROM read_parquet(['__GRAFT_STAGE__/q54_evo/b1/*.parquet',
                            '__GRAFT_STAGE__/q54_evo/b2/*.parquet'],
           union_by_name = true)
         ORDER BY o_orderkey""",
    // q52: (day × type) spine from the corpus's own bounds, zero-filled
    // counts, LOCF averages via IGNORE NULLS in day order
    // q74: the interpolation replayed — planted gaps (day-of-month % 3
    // withheld), IGNORE-NULLS neighbour windows over the calendar ×
    // type frame, the identical IEEE interpolation on exact scale-4
    // integer units
    "q74_interpolate" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) * 10000 AS HUGEINT)
               AS BIGINT) AS cents
           FROM events GROUP BY 1, 2),
         kn AS (SELECT * FROM daily WHERE date_part('day', day) % 3 <> 0),
         b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
         ty AS (SELECT DISTINCT event_type FROM daily),
         sp AS (SELECT CAST(unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY))
                  AS DATE) AS day, ty.event_type FROM b, ty),
         j AS (SELECT sp.day, sp.event_type, k.cents
               FROM sp LEFT JOIN kn k
                 ON k.day = sp.day AND k.event_type = sp.event_type),
         nb AS (SELECT day, event_type, cents,
             last_value(cents IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS pv,
             last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS pd,
             first_value(cents IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
           FROM j)
         SELECT strftime(day, '%Y-%m-%d') AS day, event_type,
           CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                  CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE) *
                    (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
                ELSE CAST(COALESCE(pv, nv) AS DOUBLE) END AS value_interp,
           CAST(CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS INTEGER)
             AS is_interpolated
         FROM nb ORDER BY 1, 2""",
    // q80: INDEPENDENT relational ground truth — distinct membership
    // sets and a user-keyed join; any packing/popcount/word-join bug
    // in the bitmap machinery hash-fails against it
    "q80_bitmap_overlap" ->
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
         t AS (SELECT event_type, count(*) AS n FROM u GROUP BY 1),
         ov AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS n_ov
             FROM u a JOIN u b ON a.user_id = b.user_id
               AND a.event_type < b.event_type
             GROUP BY 1, 2)
         SELECT ta.event_type AS type_a, tb.event_type AS type_b,
           ta.n AS n_a, tb.n AS n_b,
           COALESCE(ov.n_ov, 0) AS n_overlap
         FROM t ta JOIN t tb ON ta.event_type < tb.event_type
         LEFT JOIN ov ON ov.type_a = ta.event_type
           AND ov.type_b = tb.event_type
         ORDER BY 1, 2""",
    // q77: the centered power sums replay as exact HUGEINT integers
    // about the SAME grid-rounded mean (the ratRound rational); the
    // final skew/kurt doubles come from identical exact integers
    // through identical expression shapes
    "q77_moments" ->
      """WITH b AS (SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS HUGEINT) AS u
           FROM events),
         s AS (SELECT event_type, count(*) AS n, sum(u) AS su
               FROM b GROUP BY 1),
         mu AS (SELECT event_type, n,
             CAST((abs(su) * 2 + n) // (2 * CAST(n AS HUGEINT)) AS BIGINT)
               * (CASE WHEN su < 0 THEN -1 ELSE 1 END) AS mean_u
           FROM s),
         c AS (SELECT b.event_type, mu.n, mu.mean_u,
             b.u - mu.mean_u AS c
           FROM b JOIN mu ON mu.event_type = b.event_type),
         m AS (SELECT event_type, n, mean_u,
             sum(c*c) AS sc2, sum(c*c*c) AS sc3, sum(c*c*c*c) AS sc4
           FROM c GROUP BY 1, 2, 3)
         SELECT event_type, n,
           CAST(mean_u AS DOUBLE) / 10000.0 AS mean,
           sqrt(CAST(sc2 AS DOUBLE) / CAST(n AS DOUBLE)) / 10000.0 AS stddev,
           CASE WHEN sc2 > 0 THEN
             (CAST(sc3 AS DOUBLE) / CAST(n AS DOUBLE))
               / ((CAST(sc2 AS DOUBLE) / CAST(n AS DOUBLE))
                  * sqrt(CAST(sc2 AS DOUBLE) / CAST(n AS DOUBLE)))
           ELSE 0.0 END AS skewness,
           CASE WHEN sc2 > 0 THEN
             (CAST(sc4 AS DOUBLE) / CAST(n AS DOUBLE))
               / ((CAST(sc2 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(sc2 AS DOUBLE) / CAST(n AS DOUBLE))) - 3
           ELSE 0.0 END AS kurtosis_excess
         FROM m ORDER BY event_type""",
    // q76: digit from the exact cent integer's decimal string; the
    // expected-ppm CASE is the SAME generated text both engines run
    "q76_benford" ->
      s"""WITH c AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
               AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
           FROM orders WHERE o_totalprice > 0),
         g AS (SELECT digit, count(*) AS n FROM c GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
         SELECT digit, n,
           CAST((CAST(n AS HUGEINT) * 2000000 + total)
             // (2 * CAST(total AS HUGEINT)) AS BIGINT) AS share_ppm,
           CAST(${graft.operators.Relational.benfordCaseSql("digit")}
             AS BIGINT) AS expected_ppm,
           CAST((CAST(n AS HUGEINT) * 2000000 + total)
             // (2 * CAST(total AS HUGEINT)) AS BIGINT)
             - CAST(${graft.operators.Relational.benfordCaseSql("digit")}
                 AS BIGINT) AS delta_ppm
         FROM g, t ORDER BY digit""",
    // q79: the restore target IS the raw create input — equality after
    // merge + delete + restore asserts the version-state swap is exact
    "q79_tx_restore" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
         FROM orders ORDER BY o_orderkey""",
    // q75: the five FK relations replayed with the same planted remaps;
    // count(*) / conditional count / conditional distinct are BIGINT in
    // both engines; the ppm rate is the exact half-away integer rational
    // (HUGEINT mirror of ratRound)
    "q75_fk_audit" ->
      """WITH lo AS (SELECT CASE WHEN l_orderkey % 97 = 0
               THEN l_orderkey + 1000000000 ELSE l_orderkey END AS k
             FROM lineitem),
         lp AS (SELECT CASE WHEN (l_orderkey * 7 + l_linenumber) % 83 = 0
               THEN l_partkey + 1000000000 ELSE l_partkey END AS k
             FROM lineitem),
         oc AS (SELECT CASE WHEN o_orderkey % 89 = 0
               THEN o_custkey + 1000000000 ELSE o_custkey END AS k
             FROM orders),
         cn AS (SELECT CASE WHEN c_custkey % 71 = 0
               THEN c_nationkey + 100 ELSE c_nationkey END AS k
             FROM customer),
         sn AS (SELECT CASE WHEN s_suppkey % 19 = 0
               THEN s_nationkey + 100 ELSE s_nationkey END AS k
             FROM supplier),
         rel AS (
           SELECT 'lineitem_orders' AS relation, c.k, p.pk
             FROM lo c LEFT JOIN (SELECT DISTINCT o_orderkey AS pk
               FROM orders) p ON c.k = p.pk
           UNION ALL
           SELECT 'lineitem_part', c.k, p.pk
             FROM lp c LEFT JOIN (SELECT DISTINCT p_partkey AS pk
               FROM part) p ON c.k = p.pk
           UNION ALL
           SELECT 'orders_customer', c.k, p.pk
             FROM oc c LEFT JOIN (SELECT DISTINCT c_custkey AS pk
               FROM customer) p ON c.k = p.pk
           UNION ALL
           SELECT 'customer_nation', c.k, p.pk
             FROM cn c LEFT JOIN (SELECT DISTINCT n_nationkey AS pk
               FROM nation) p ON c.k = p.pk
           UNION ALL
           SELECT 'supplier_nation', c.k, p.pk
             FROM sn c LEFT JOIN (SELECT DISTINCT n_nationkey AS pk
               FROM nation) p ON c.k = p.pk)
         SELECT relation, count(*) AS n_child,
           count(CASE WHEN pk IS NULL THEN 1 END) AS n_orphan,
           count(DISTINCT CASE WHEN pk IS NULL THEN k END) AS n_orphan_keys,
           CAST((CAST(count(CASE WHEN pk IS NULL THEN 1 END) AS HUGEINT)
               * 2000000 + count(*))
             // (2 * CAST(count(*) AS HUGEINT)) AS BIGINT) AS orphan_ppm
         FROM rel GROUP BY relation ORDER BY relation""",
    // c66: both sides recomputed from the RAW table — the gate reads
    // the maintained TxTable (v1 via time travel, head after the
    // delete), so equality asserts the transactional erasure removed
    // exactly the revoked set and nothing else
    "c66_erasure_audit" -> erasureSql,
    // st38: identical contract — deleteKeys is delete-set-partition
    // invariant, so the two-batch streamed erasure equals c66's
    // one-shot delete and the same raw-recompute oracle gates it
    "st38_erasure_stream" -> erasureSql,
    // st44: the DV erasure stream's algebra is identical — merge-on-
    // read is a storage strategy, not a semantics change (the
    // zero-rewrite and physical-completion proofs are gate require()s)
    "st44_erasure_dv_stream" -> erasureSql,
    // q91: the clone branch = source snapshot minus the DV'd keys,
    // merged with doubled-price updates; the source's own post-clone
    // delete (%4) must be INVISIBLE here — its leak would change m
    "q91_tx_clone" ->
      """WITH cur AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
                      WHERE o_orderkey % 2 = 0 AND o_orderkey % 13 <> 0),
         upd AS (SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
                 FROM orders WHERE o_orderkey % 3 = 0),
         m AS (SELECT coalesce(u.o_orderkey, c.o_orderkey) AS o_orderkey,
             CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey
                  ELSE c.o_custkey END AS o_custkey,
             CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                  ELSE c.o_totalprice END AS o_totalprice
           FROM cur c FULL OUTER JOIN upd u ON c.o_orderkey = u.o_orderkey)
         SELECT o_orderkey, o_custkey, o_totalprice FROM m ORDER BY 1""",
    // c65: the single-window replay of the two-level cap (global top-N
    // per source is a subset of the union of salted-cell top-Ns, so the
    // forms are identical — spec-asserted on the Spark side)
    "c65_domain_cap" ->
      """WITH r AS (SELECT doc_id, source,
             CAST(length(text) AS INTEGER) AS text_len,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY length(text) DESC, doc_id) AS INTEGER) AS rn
           FROM documents)
         SELECT doc_id, source, text_len,
           CASE WHEN rn <= 20 THEN rn END AS dom_rank,
           CAST(CASE WHEN rn <= 20 THEN 1 ELSE 0 END AS INTEGER) AS kept
         FROM r ORDER BY doc_id""",
    "q52_gap_fill" ->
      """WITH pre AS (SELECT CAST(ts AS DATE) AS day, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,4))) * 10000 AS HUGEINT) AS k4
           FROM events GROUP BY 1, 2),
         daily AS (SELECT day, event_type, n_events,
             CAST(CAST((abs(k4) * 20000 + n_events * 10000)
                 // (2 * CAST(n_events * 10000 AS HUGEINT)) AS BIGINT)
               * (CASE WHEN k4 < 0 THEN -1 ELSE 1 END) AS DOUBLE)
               / 10000.0 AS avg_value
           FROM pre),
         b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
         ty AS (SELECT DISTINCT event_type FROM daily),
         sp AS (SELECT CAST(unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY))
                  AS DATE) AS day, ty.event_type FROM b, ty),
         j AS (SELECT sp.day, sp.event_type,
             COALESCE(d.n_events, 0) AS n_events, d.avg_value
           FROM sp LEFT JOIN daily d
             ON d.day = sp.day AND d.event_type = sp.event_type)
         SELECT strftime(day, '%Y-%m-%d') AS day, event_type, n_events,
           avg_value,
           last_value(avg_value IGNORE NULLS) OVER
             (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING)
             AS avg_value_filled
         FROM j ORDER BY 1, 2""",
    // q53: exact decimal revenue, catalog-bounded cumulative window,
    // cross-multiplied integer class cuts, t19's HUGEINT share rounding
    "q53_abc_pareto" ->
      """WITH rv AS (SELECT l_partkey,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
               * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DECIMAL(38,2)) AS rev
           FROM lineitem GROUP BY 1),
         tt AS (SELECT CAST(sum(rev) AS DECIMAL(38,2)) AS total FROM rv),
         cm AS (SELECT l_partkey, rev,
             CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
               ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,2)) AS cum
           FROM rv)
         SELECT cm.l_partkey, CAST(rev AS DOUBLE) AS revenue,
           CAST(cum AS DOUBLE) AS cum_revenue,
           CAST(CAST((CAST(cum * 100 AS HUGEINT) * 2000000
               + CAST(total * 100 AS HUGEINT))
             // (2 * CAST(total * 100 AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000.0 AS cum_share,
           CASE WHEN cum * 5 <= total * 4 THEN 'A'
                WHEN cum * 20 <= total * 19 THEN 'B'
                ELSE 'C' END AS abc_class
         FROM cm, tt ORDER BY cm.l_partkey""",
    // q57: the SAME decimal-trie forest walked with a REAL recursive
    // CTE — one engine recursing parent-at-a-time and one pointer-
    // jumping agreeing bit-for-bit is the correctness argument for the
    // jump algebra (dist additivity + root fixed points)
    "q57_hierarchy" ->
      """WITH RECURSIVE base AS (SELECT s_suppkey,
             CASE WHEN s_suppkey < 10 THEN s_suppkey
                  ELSE s_suppkey // 10 END AS parent_key FROM supplier),
         walk AS (
           SELECT s_suppkey, parent_key, s_suppkey AS root_key, 0 AS depth
             FROM base WHERE s_suppkey = parent_key
           UNION ALL
           SELECT b.s_suppkey, b.parent_key, w.root_key, w.depth + 1
             FROM base b JOIN walk w ON b.parent_key = w.s_suppkey
             WHERE b.s_suppkey <> b.parent_key),
         sz AS (SELECT root_key, count(*) AS tree_size
                FROM walk GROUP BY root_key)
         SELECT w.s_suppkey, w.parent_key, w.root_key,
           CAST(w.depth AS INTEGER) AS depth, sz.tree_size
         FROM walk w JOIN sz USING (root_key) ORDER BY w.s_suppkey""",
    // q58: identical daily decimal aggregate, then a REAL RANGE frame
    // over epoch-day integers; the moving average replays ratRound on
    // the exact cent numerator (q52's HUGEINT idiom)
    "q58_range_frame" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
             o_orderpriority AS priority,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
               AS DECIMAL(38,2)) AS rev
           FROM orders GROUP BY 1, 2),
         d2 AS (SELECT day, priority, rev,
             day - DATE '1970-01-01' AS day_num FROM daily),
         w AS (SELECT day, priority, rev,
             CAST(sum(rev) OVER win AS DECIMAL(38,2)) AS mv_rev,
             count(*) OVER win AS n_days
           FROM d2 WINDOW win AS (PARTITION BY priority ORDER BY day_num
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT strftime(day, '%Y-%m-%d') AS day, priority,
           CAST(rev AS DOUBLE) AS day_revenue,
           CAST(mv_rev AS DOUBLE) AS mv_revenue, n_days,
           CAST(CAST((CAST(mv_rev * 100 AS HUGEINT) * 200 + n_days * 100)
               // (2 * CAST(n_days * 100 AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 100.0 AS mv_avg_revenue
         FROM w ORDER BY day, priority""",
    // q66: the same integer-month aggregate, lag over the month frame,
    // exact decimal deltas and the HUGEINT per-mille rate
    // q86: the oracle is the NAIVE single-window form — the two-level
    // decomposition must equal it exactly (a missed cross-bucket or
    // cross-superbucket gap, or a double-reported boundary, hash-fails)
    "q86_sequence_gaps" ->
      """WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders
                    WHERE o_orderkey % 97 NOT BETWEEN 13 AND 20),
         g AS (SELECT lag(k) OVER (ORDER BY k) AS p, k FROM k)
         SELECT p + 1 AS gap_start, k - 1 AS gap_end, k - 1 - p AS width
         FROM g WHERE p IS NOT NULL AND k - p > 1 ORDER BY 1""",
    // q85: the full bootstrap replays — per-(row, replicate) hash draw,
    // Poisson CDF cut, decimal replicate means, order-statistic
    // envelope; a wrong cutoff, mix constant, or rank index hash-fails
    "q85_bootstrap_ci" ->
      """WITH rep AS (SELECT o_orderpriority AS seg, b,
             CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                  WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
                  ELSE 4 END AS m,
             CAST(o_totalprice AS DECIMAL(18,4)) AS price
           FROM (SELECT o_orderkey, o_orderpriority, o_totalprice, b,
               ((o_orderkey % 1000003 + b * 1000003) * 2654435761 + 104729)
                 % 1000000 AS u
             FROM orders, unnest(generate_series(0, 31)) AS t(b))),
         bm AS (SELECT seg, b,
             CAST(CAST(CAST(sum(price * m) AS DOUBLE) / sum(m)
               AS DECIMAL(38,4)) AS DOUBLE) AS mean_b
           FROM rep GROUP BY 1, 2),
         rk AS (SELECT seg, mean_b, row_number() OVER
             (PARTITION BY seg ORDER BY mean_b) AS rk FROM bm),
         st AS (SELECT seg,
             max(CASE WHEN rk = 2 THEN mean_b END) AS boot_lo,
             max(CASE WHEN rk = 31 THEN mean_b END) AS boot_hi
           FROM rk GROUP BY 1),
         f AS (SELECT o_orderpriority AS seg, count(*) AS n,
             CAST(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
               AS DOUBLE) / count(*) AS DECIMAL(38,4)) AS DOUBLE)
               AS mean_full
           FROM orders GROUP BY 1)
         SELECT f.seg, f.n, f.mean_full, st.boot_lo, st.boot_hi
         FROM f JOIN st USING (seg) ORDER BY 1""",
    // q84: the whole proration replays — interval derivation, month
    // explode, day overlaps, the cumulative-floor integer allocation
    // (a wrong div order or off-by-one day boundary hash-fails)
    "q84_calendarize" ->
      """WITH iv AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + CAST(30 + o_orderkey % 120 AS INTEGER) AS e,
             CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 10000 AS BIGINT) AS units
           FROM orders),
         bm AS (SELECT o_orderkey, s, e, units,
             CAST(unnest(generate_series(CAST(date_trunc('month', s) AS DATE),
               CAST(date_trunc('month', e) AS DATE), INTERVAL 1 MONTH)) AS DATE) AS mo
           FROM iv),
         ovr AS (SELECT *,
             date_diff('day', greatest(s, mo), least(e, last_day(mo))) + 1 AS ov,
             date_diff('day', s, e) + 1 AS total FROM bm),
         cm AS (SELECT *, CAST(sum(ov) OVER (PARTITION BY o_orderkey ORDER BY mo
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM ovr),
         al AS (SELECT mo,
             (units * cum) // total - (units * (cum - ov)) // total AS alloc
           FROM cm)
         SELECT strftime(mo, '%Y-%m') AS month,
           CAST(CAST(CAST(sum(alloc) AS DOUBLE) / 10000 AS DECIMAL(38,4))
             AS DOUBLE) AS revenue,
           count(*) AS n_active
         FROM al GROUP BY 1 ORDER BY 1""",
    "q66_growth_rate" ->
      """WITH m AS (SELECT year(o_orderdate) * 12 + month(o_orderdate) AS ym,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
               AS DECIMAL(38,2)) AS rev
           FROM orders GROUP BY 1),
         l AS (SELECT ym, rev, lag(rev) OVER (ORDER BY ym) AS prev FROM m)
         SELECT printf('%04d-%02d', (ym - 1) // 12, (ym - 1) % 12 + 1)
             AS month,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(prev AS DOUBLE) AS prev_revenue,
           CAST(rev - prev AS DOUBLE) AS delta,
           CASE WHEN prev IS NOT NULL AND prev > 0 THEN
             CAST((CASE WHEN rev < prev THEN -1 ELSE 1 END) *
               CAST((abs(CAST((rev - prev) * 100 AS HUGEINT)) * 1000 * 200
                 + CAST(prev * 100 AS HUGEINT))
               // (2 * CAST(prev * 100 AS HUGEINT)) AS BIGINT) AS DOUBLE)
               / 100.0
           END AS growth_pm
         FROM l ORDER BY month""",
    // q61: the same integer-month algebra — first-order aggregate,
    // (cohort, offset) decimal revenue, cohort-partitioned cumulative
    // window, ratRound LTV over exact cents
    "q61_cohort_ltv" ->
      """WITH om AS (SELECT o_custkey,
             year(o_orderdate) * 12 + month(o_orderdate) AS ym,
             o_totalprice FROM orders),
         fs AS (SELECT o_custkey, min(ym) AS cym FROM om GROUP BY 1),
         sz AS (SELECT cym, count(*) AS n_custs FROM fs GROUP BY 1),
         rv AS (SELECT f.cym, CAST(o.ym - f.cym AS INTEGER) AS "offset",
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4)))
               AS DECIMAL(38,2)) AS rev
           FROM om o JOIN fs f USING (o_custkey) GROUP BY 1, 2),
         cm AS (SELECT cym, "offset", rev,
             CAST(sum(rev) OVER (PARTITION BY cym ORDER BY "offset"
               ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,2)) AS cum
           FROM rv)
         SELECT printf('%04d-%02d', (cym - 1) // 12, (cym - 1) % 12 + 1)
             AS cohort,
           "offset", sz.n_custs,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(cum AS DOUBLE) AS cum_revenue,
           CAST(CAST((CAST(cum * 100 AS HUGEINT) * 200 + sz.n_custs * 100)
             // (2 * CAST(sz.n_custs * 100 AS HUGEINT)) AS BIGINT)
             AS DOUBLE) / 100.0 AS ltv
         FROM cm JOIN sz USING (cym) ORDER BY 1, 2""",
    // q60: same one-aggregate profile — top-20 by (n DESC, key), the
    // k-row cumulative window, HUGEINT rationals and the integer bar
    "q60_skew_profile" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
         tt AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                count(*) AS n_keys FROM c),
         tp AS (SELECT user_id, n,
             row_number() OVER (ORDER BY n DESC, user_id) AS rank,
             sum(n) OVER (ORDER BY n DESC, user_id
               ROWS UNBOUNDED PRECEDING) AS cum_n
           FROM c ORDER BY n DESC, user_id LIMIT 20)
         SELECT CAST(tp.rank AS INTEGER) AS rank, tp.user_id,
           tp.n AS n_rows, tt.n_keys, tt.total,
           CAST(CAST((CAST(tp.n AS HUGEINT) * 1000 * 20000 + tt.total)
             // (2 * CAST(tt.total AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 10000.0 AS share_pm,
           CAST(CAST((CAST(tp.cum_n AS HUGEINT) * 1000 * 20000 + tt.total)
             // (2 * CAST(tt.total AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 10000.0 AS cum_pm,
           CAST(CAST((CAST(tp.n AS HUGEINT) * tt.n_keys * 200 + tt.total)
             // (2 * CAST(tt.total AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 100.0 AS skew_x,
           CASE WHEN CAST(tp.n AS HUGEINT) * tt.n_keys
               > 10 * CAST(tt.total AS HUGEINT) THEN 1 ELSE 0 END AS is_hot
         FROM tp, tt ORDER BY rank""",
    // q47: distinct (user, day) → per-user prev/next window → the four
    // growth classes; churn lands on day+1 capped at the corpus max day
    "q47_growth_accounting" ->
      """WITH daily AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         m AS (SELECT user_id, day,
               lag(day) OVER w AS prev_day, lead(day) OVER w AS next_day
               FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
         mx AS (SELECT max(day) AS max_day FROM daily),
         act AS (SELECT day, CASE WHEN prev_day IS NULL THEN 'new'
                      WHEN day - prev_day = 1 THEN 'retained'
                      ELSE 'resurrected' END AS cls FROM m),
         ch AS (SELECT day + 1 AS day, 'churned' AS cls FROM m, mx
                WHERE (next_day IS NULL OR next_day - day > 1)
                  AND day + 1 <= mx.max_day),
         u AS (SELECT * FROM act UNION ALL SELECT * FROM ch)
         SELECT strftime(day, '%Y-%m-%d') AS day,
           count(*) FILTER (WHERE cls = 'new') AS n_new,
           count(*) FILTER (WHERE cls = 'retained') AS n_retained,
           count(*) FILTER (WHERE cls = 'resurrected') AS n_resurrected,
           count(*) FILTER (WHERE cls = 'churned') AS n_churned
         FROM u GROUP BY 1 ORDER BY 1""",
    // q46: q40's dimension CTEs restricted to non-purchase activity,
    // purchases joined on user + the half-open [valid_from, valid_to)
    // string-interval containment
    "q46_pit_join" ->
      """WITH ordered AS (
           SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
           FROM events WHERE event_type <> 'purchase'),
         changes AS (
           SELECT * FROM ordered WHERE prev_type IS NULL OR prev_type <> event_type),
         dim AS (
           SELECT user_id, CAST(row_number() OVER w AS INTEGER) AS state_version,
             event_type AS state_type,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
             strftime(lead(ts, 1) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to
           FROM changes
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         f AS (SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts
               FROM events WHERE event_type = 'purchase')
         SELECT f.event_id, f.user_id, f.ts, dim.state_type, dim.state_version
         FROM f JOIN dim ON dim.user_id = f.user_id
           AND f.ts >= dim.valid_from
           AND (dim.valid_to IS NULL OR f.ts < dim.valid_to)
         ORDER BY f.event_id""",
    "q45_unpivot" ->
      """WITH p AS (
           SELECT user_id,
             count(*) FILTER (WHERE event_type = 'click') AS click,
             count(*) FILTER (WHERE event_type = 'error') AS error,
             count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             count(*) FILTER (WHERE event_type = 'signup') AS signup,
             count(*) FILTER (WHERE event_type = 'view') AS view
           FROM events GROUP BY user_id)
         SELECT user_id, event_type, n FROM (
           SELECT user_id, 'click' AS event_type, click AS n FROM p
           UNION ALL SELECT user_id, 'error', error FROM p
           UNION ALL SELECT user_id, 'purchase', purchase FROM p
           UNION ALL SELECT user_id, 'signup', signup FROM p
           UNION ALL SELECT user_id, 'view', view FROM p)
         ORDER BY user_id, event_type""",
    "q43_conversion_window" ->
      """WITH ord AS (
           SELECT user_id, event_type, event_id, ts,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS BIGINT) AS rn
           FROM events),
         marked AS (
           SELECT user_id, event_type, sec, rn,
             last_value(CASE WHEN event_type = 'signup' THEN rn END IGNORE NULLS)
               OVER w AS sig_rn,
             last_value(CASE WHEN event_type = 'signup' THEN sec END IGNORE NULLS)
               OVER w AS sig_sec,
             last_value(CASE WHEN event_type = 'error' THEN rn END IGNORE NULLS)
               OVER w AS err_rn
           FROM ord
           WINDOW w AS (PARTITION BY user_id ORDER BY rn
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT user_id, count(*) AS n_purchases,
           count(*) FILTER (WHERE sig_sec IS NOT NULL AND sec - sig_sec <= 3600
             AND (err_rn IS NULL OR err_rn < sig_rn)) AS n_conversions
         FROM marked WHERE event_type = 'purchase'
         GROUP BY 1 ORDER BY 1""",
    "q44_cdc_apply" -> cdcApplySql,
    "st11_cdc_stream" -> cdcApplySql,
    "st32_cdc_tx_sink" -> cdcApplySql,
    "q42_interval_islands" ->
      """WITH iv AS (
           SELECT user_id, event_id, ts,
             CAST(floor(epoch(ts)) AS BIGINT) AS start_sec,
             CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value) AS BIGINT) * 60 AS end_sec
           FROM events),
         marked AS (
           SELECT user_id, ts, event_id, start_sec, end_sec,
             max(end_sec) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
           FROM iv),
         isl AS (
           SELECT user_id, start_sec, end_sec,
             CAST(sum(CASE WHEN prev_max IS NULL OR start_sec > prev_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS island
           FROM marked)
         SELECT user_id, island, min(start_sec) AS island_start,
           max(end_sec) AS island_end, count(*) AS n_events
         FROM isl GROUP BY 1, 2 ORDER BY 1, 2""",
    "q41_outliers" ->
      """WITH med AS (
           SELECT event_type,
             CAST(CAST(quantile_cont(value, 0.5) AS DECIMAL(38,4)) AS DOUBLE) AS med
           FROM events GROUP BY 1),
         dev AS (
           SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
           FROM events e JOIN med m USING (event_type)),
         mad AS (
           SELECT event_type,
             CAST(CAST(quantile_cont(dev, 0.5) AS DECIMAL(38,4)) AS DOUBLE) AS mad
           FROM dev GROUP BY 1)
         SELECT d.event_type, max(d.med) AS med, max(m.mad) AS mad,
           count(*) AS n_total,
           count(*) FILTER (WHERE d.dev > m.mad * 3.0) AS n_outliers
         FROM dev d JOIN mad m USING (event_type)
         GROUP BY 1 ORDER BY 1""",
    "q14_percentiles" ->
      """SELECT event_type, CAST(CAST(quantile_cont(value, 0.5) AS DECIMAL(38,4)) AS DOUBLE) AS p50,
         CAST(CAST(quantile_cont(value, 0.9) AS DECIMAL(38,4)) AS DOUBLE) AS p90
         FROM events GROUP BY 1 ORDER BY 1""",
    // r13 staged-artifact conversions of the former rows-only sketch
    // keys: the engine-specific estimates are read verbatim from the
    // staged parquet; every derived column is the same relational
    // algebra the Spark side computes over the identical staged values.
    // c64: staged pair estimates + the exact overlap/union join the
    // sketch path avoids; rel_err replayed decimal-6 against the union
    "c64_overlap_sketch" ->
      """WITH est AS (SELECT type_a, type_b, est_overlap
           FROM read_parquet('__GRAFT_STAGE__/c64_est/*.parquet')),
         uu AS (SELECT DISTINCT event_type, user_id FROM events),
         pt AS (SELECT event_type, count(*) AS nd FROM uu GROUP BY 1),
         ov AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                  CAST(count(*) AS BIGINT) AS exact_overlap
                FROM uu a JOIN uu b ON a.user_id = b.user_id
                  AND a.event_type < b.event_type GROUP BY 1, 2)
         SELECT est.type_a, est.type_b, est.est_overlap, ov.exact_overlap,
           CAST(pa.nd + pb.nd - ov.exact_overlap AS BIGINT) AS exact_union,
           CAST(CAST(CAST(abs(est.est_overlap - ov.exact_overlap) AS DOUBLE)
             / (pa.nd + pb.nd - ov.exact_overlap) AS DECIMAL(38,6)) AS DOUBLE)
             AS rel_err
         FROM est JOIN ov ON ov.type_a = est.type_a AND ov.type_b = est.type_b
           JOIN pt pa ON pa.event_type = est.type_a
           JOIN pt pb ON pb.event_type = est.type_b
         ORDER BY 1, 2""",
    // c67: KMV is hash-deterministic, so the oracle replays the ENTIRE
    // pipeline from events — sketch (distinct hash, top-k per segment),
    // per-segment regime/θ/estimate, pair threshold, below-θ sample
    // counts, union/intersection estimators, exact audit join. No
    // staged numbers anywhere: a wrong hash, rank cutoff, θ rule, or
    // estimator scaling hash-fails.
    // st40: the streamed state equals the whole-corpus sketch by merge
    // associativity, so the oracle replays the ENTIRE pipeline from raw
    // events — sketch values included. A merge bug that depends on
    // batch boundaries (dropped hash, wrong cut at k) hash-fails here.
    "st40_kmv_stream" ->
      """WITH uh AS (SELECT DISTINCT event_type AS seg,
             ((user_id % 1000003) * 2654435761 + 104729) % 2147483647 AS h
           FROM events),
         sk AS (SELECT seg, h,
             row_number() OVER (PARTITION BY seg ORDER BY h) AS r
           FROM uh QUALIFY r <= 64),
         stats AS (SELECT seg,
             CASE WHEN count(*) < 64 THEN 2147483647 ELSE max(h) END AS theta,
             CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                  ELSE 63.0 * 2147483647 / max(h) END AS est
           FROM sk GROUP BY 1),
         pairs AS (SELECT a.seg AS seg_a, b.seg AS seg_b,
             least(a.theta, b.theta) AS th, a.est AS est_a, b.est AS est_b
           FROM stats a JOIN stats b ON a.seg < b.seg),
         below AS (SELECT p.seg_a, p.seg_b, p.th, s.seg AS ty, s.h
           FROM pairs p JOIN sk s
           ON (s.seg = p.seg_a OR s.seg = p.seg_b) AND s.h < p.th),
         cnts AS (SELECT seg_a, seg_b, count(DISTINCT h) AS n_union,
             sum(CASE WHEN ty = seg_a THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN ty = seg_b THEN 1 ELSE 0 END) AS n_b
           FROM below GROUP BY 1, 2),
         est AS (SELECT p.seg_a, p.seg_b, p.est_a, p.est_b,
             CAST(c.n_union AS DOUBLE) * 2147483647 / p.th AS est_union,
             CAST(c.n_a + c.n_b - c.n_union AS DOUBLE) * 2147483647 / p.th
               AS est_overlap
           FROM pairs p JOIN cnts c USING (seg_a, seg_b)),
         uu AS (SELECT DISTINCT event_type AS seg, user_id AS k FROM events),
         ov AS (SELECT a.seg AS seg_a, b.seg AS seg_b,
             count(*) AS exact_overlap
           FROM uu a JOIN uu b ON a.k = b.k AND a.seg < b.seg
           GROUP BY 1, 2)
         SELECT e.seg_a, e.seg_b, e.est_a, e.est_b, e.est_union,
           e.est_overlap, coalesce(o.exact_overlap, 0) AS exact_overlap
         FROM est e LEFT JOIN ov o USING (seg_a, seg_b) ORDER BY 1, 2""",
    "c67_kmv_overlap" ->
      """WITH uh AS (SELECT DISTINCT o_orderpriority AS seg,
             ((o_custkey % 1000003) * 2654435761 + 104729) % 2147483647 AS h
           FROM orders),
         sk AS (SELECT seg, h,
             row_number() OVER (PARTITION BY seg ORDER BY h) AS r
           FROM uh QUALIFY r <= 64),
         stats AS (SELECT seg,
             CASE WHEN count(*) < 64 THEN 2147483647 ELSE max(h) END AS theta,
             CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                  ELSE 63.0 * 2147483647 / max(h) END AS est
           FROM sk GROUP BY 1),
         pairs AS (SELECT a.seg AS seg_a, b.seg AS seg_b,
             least(a.theta, b.theta) AS th, a.est AS est_a, b.est AS est_b
           FROM stats a JOIN stats b ON a.seg < b.seg),
         below AS (SELECT p.seg_a, p.seg_b, p.th, s.seg AS ty, s.h
           FROM pairs p JOIN sk s
           ON (s.seg = p.seg_a OR s.seg = p.seg_b) AND s.h < p.th),
         cnts AS (SELECT seg_a, seg_b, count(DISTINCT h) AS n_union,
             sum(CASE WHEN ty = seg_a THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN ty = seg_b THEN 1 ELSE 0 END) AS n_b
           FROM below GROUP BY 1, 2),
         est AS (SELECT p.seg_a, p.seg_b, p.est_a, p.est_b,
             CAST(c.n_union AS DOUBLE) * 2147483647 / p.th AS est_union,
             CAST(c.n_a + c.n_b - c.n_union AS DOUBLE) * 2147483647 / p.th
               AS est_overlap
           FROM pairs p JOIN cnts c USING (seg_a, seg_b)),
         uu AS (SELECT DISTINCT o_orderpriority AS seg, o_custkey AS k
                FROM orders),
         ov AS (SELECT a.seg AS seg_a, b.seg AS seg_b,
             count(*) AS exact_overlap
           FROM uu a JOIN uu b ON a.k = b.k AND a.seg < b.seg
           GROUP BY 1, 2)
         SELECT e.seg_a, e.seg_b, e.est_a, e.est_b, e.est_union,
           e.est_overlap, coalesce(o.exact_overlap, 0) AS exact_overlap
         FROM est e LEFT JOIN ov o USING (seg_a, seg_b) ORDER BY 1, 2""",
    "q13_approx_distinct" ->
      """WITH est AS (SELECT event_type, approx_users
           FROM read_parquet('__GRAFT_STAGE__/q13_est/*.parquet')),
         ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
                FROM events GROUP BY 1)
         SELECT est.event_type, est.approx_users, ex.exact_users,
           CAST(CAST(CAST(abs(est.approx_users - ex.exact_users) AS DOUBLE)
             / ex.exact_users AS DECIMAL(38,6)) AS DOUBLE) AS rel_err
         FROM est JOIN ex ON ex.event_type = est.event_type ORDER BY 1""",
    "q38_percentiles_approx" ->
      """WITH est AS (SELECT event_type, p50, p90
           FROM read_parquet('__GRAFT_STAGE__/q38_est/*.parquet')),
         a AS (SELECT e.event_type, est.p50, est.p90, count(*) AS n,
               sum(CASE WHEN e.value <= est.p50 THEN 1 ELSE 0 END) AS le50,
               sum(CASE WHEN e.value <= est.p90 THEN 1 ELSE 0 END) AS le90
               FROM events e JOIN est ON est.event_type = e.event_type
               GROUP BY 1, 2, 3)
         SELECT event_type, p50, p90,
           CAST(CAST(abs(CAST(le50 AS DOUBLE) / n - 0.5) AS DECIMAL(38,6)) AS DOUBLE) AS rank_err50,
           CAST(CAST(abs(CAST(le90 AS DOUBLE) / n - 0.9) AS DECIMAL(38,6)) AS DOUBLE) AS rank_err90
         FROM a ORDER BY 1""",
    "c16_sketch_rollup" ->
      """WITH dl AS (SELECT event_type, est_daily
           FROM read_parquet('__GRAFT_STAGE__/c16_daily/*.parquet')),
         ag AS (SELECT event_type, count(*) AS n_days,
                max(est_daily) AS max_daily,
                CAST(sum(est_daily) AS BIGINT) AS sum_daily
                FROM dl GROUP BY 1),
         mg AS (SELECT event_type, est_users
                FROM read_parquet('__GRAFT_STAGE__/c16_merged/*.parquet')),
         ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
                FROM events GROUP BY 1)
         SELECT ag.event_type, ag.n_days, mg.est_users, ag.max_daily,
           ag.sum_daily, ex.exact_users,
           CAST(CAST(CAST(abs(mg.est_users - ex.exact_users) AS DOUBLE)
             / ex.exact_users AS DECIMAL(38,6)) AS DOUBLE) AS rel_err,
           CAST(mg.est_users >= ag.max_daily AND mg.est_users <= ag.sum_daily
             AS INTEGER) AS bounded
         FROM ag JOIN mg ON mg.event_type = ag.event_type
         JOIN ex ON ex.event_type = ag.event_type ORDER BY 1""",
    "c17_freq_rollup" ->
      s"""WITH est AS (SELECT token, est_count
           FROM read_parquet('__GRAFT_STAGE__/c17_est/*.parquet')),
         tk AS (SELECT unnest($toks) AS token FROM documents),
         ex AS (SELECT token, count(*) AS exact_count FROM tk GROUP BY 1)
         SELECT est.token, est.est_count,
           coalesce(ex.exact_count, 0) AS exact_count,
           CAST(est.est_count = coalesce(ex.exact_count, 0) AS INTEGER) AS is_exact
         FROM est LEFT JOIN ex ON ex.token = est.token
         ORDER BY est.token""",
    "c18_bloom_gate" ->
      s"""WITH tok AS ($shingleTok),
         bm AS (SELECT DISTINCT s FROM
                (SELECT unnest(sh) AS s FROM tok WHERE doc_id % 97 = 0)),
         ex AS (SELECT doc_id, unnest(sh) AS s FROM tok),
         ct AS (SELECT ex.doc_id, count(*) AS n_shingles,
                CAST(sum(CASE WHEN bm.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_contaminated
                FROM ex LEFT JOIN bm ON ex.s = bm.s GROUP BY 1),
         fl AS (SELECT doc_id, n_flagged
                FROM read_parquet('__GRAFT_STAGE__/c18_flags/*.parquet'))
         SELECT ct.doc_id, ct.n_shingles, ct.n_contaminated, fl.n_flagged,
           CAST(fl.n_flagged > 0 AS INTEGER) AS flagged,
           CAST(ct.n_contaminated > 0 AS INTEGER) AS exact_hit,
           CAST(fl.n_flagged > 0 AND ct.n_contaminated = 0 AS INTEGER) AS false_pos,
           CAST(ct.n_contaminated > 0 AND fl.n_flagged = 0 AS INTEGER) AS missed
         FROM ct JOIN fl ON fl.doc_id = ct.doc_id ORDER BY 1""",
    "c19_quantile_rollup" ->
      """WITH est AS (SELECT event_type, n_days, p50, p90, p99
           FROM read_parquet('__GRAFT_STAGE__/c19_est/*.parquet')),
         a AS (SELECT e.event_type, est.n_days, est.p50, est.p90, est.p99,
               count(*) AS n,
               sum(CASE WHEN e.value <= est.p50 THEN 1 ELSE 0 END) AS le50,
               sum(CASE WHEN e.value <= est.p90 THEN 1 ELSE 0 END) AS le90,
               sum(CASE WHEN e.value <= est.p99 THEN 1 ELSE 0 END) AS le99
               FROM events e JOIN est ON est.event_type = e.event_type
               GROUP BY 1, 2, 3, 4, 5)
         SELECT event_type, n_days, p50, p90, p99,
           CAST(CAST(abs(CAST(le50 AS DOUBLE) / n - 0.5) AS DECIMAL(38,6)) AS DOUBLE) AS rank_err50,
           CAST(CAST(abs(CAST(le90 AS DOUBLE) / n - 0.9) AS DECIMAL(38,6)) AS DOUBLE) AS rank_err90,
           CAST(CAST(abs(CAST(le99 AS DOUBLE) / n - 0.99) AS DECIMAL(38,6)) AS DOUBLE) AS rank_err99
         FROM a ORDER BY 1""",
    "st10_sketch_stream" ->
      """WITH est AS (SELECT event_type, n_days, est_users
           FROM read_parquet('__GRAFT_STAGE__/st10_est/*.parquet')),
         ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
                FROM events GROUP BY 1)
         SELECT est.event_type, est.n_days, est.est_users, ex.exact_users,
           CAST(CAST(CAST(abs(est.est_users - ex.exact_users) AS DOUBLE)
             / ex.exact_users AS DECIMAL(38,6)) AS DOUBLE) AS rel_err
         FROM est JOIN ex ON ex.event_type = est.event_type ORDER BY 1""",
    "q15_sessionize" ->
      s"""WITH e AS (SELECT event_id, user_id, value,
            CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS se FROM events),
          f AS (SELECT *, CASE WHEN lag(se) OVER w IS NULL OR se - lag(se) OVER w > 1800
                THEN 1 ELSE 0 END AS ns FROM e
                WINDOW w AS (PARTITION BY user_id ORDER BY se, event_id)),
          g AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY se, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM f)
          SELECT user_id, session_id, min(se) AS session_start, count(*) AS n_events,
          ${dsum("value")} AS sum_value
          FROM g GROUP BY 1, 2 ORDER BY 1, 2""",
    // q78: the native session_window result replayed with q15's
    // lag+running-sum island algebra, aggregated per session.
    // session_window merges INCLUSIVE of the gap (measured — the r14
    // gate caught a +1-second adjustment over-merging), so at gap =
    // 1800 s both forms keep "diff <= 1800" and the lag replay below
    // breaks on "> 1800"; TimeJoinsSpec pins the boundary pair
    "q78_session_native" -> sessionNativeSql,
    // st39 is q78's operator running over the watermarked stream — the
    // native oracle gates the streamed emission verbatim (a dropped
    // late row, an unsealed final session, or a cross-batch merge
    // failure all change rows and hash-fail)
    "st39_session_native_stream" -> sessionNativeSql,
    // st3 drives the STATEFUL streaming sessionizer end-to-end (file
    // source → flatMapGroupsWithState → foreachBatch) and must land on
    // the batch result exactly — the q15 oracle verbatim. st31 is the
    // identical gate through the broker-shaped in-memory source.
    "st31_memory_source" -> sessionizeStreamSql,
    "st3_sessionize_stream" -> sessionizeStreamSql,
    "q16_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS se FROM events
           WHERE event_type IN ('purchase', 'signup')),
         f AS (SELECT *, last_value(CASE WHEN event_type = 'signup' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY se, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ref_value FROM e)
         SELECT event_id, user_id, se, value, ref_value FROM f
         WHERE event_type = 'purchase' ORDER BY event_id""",
    // q62: q16's carry + the carried timestamp; the staleness CASE
    // nulls both columns past the 7-day bound
    "q62_asof_tolerance" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS se FROM events
           WHERE event_type IN ('purchase', 'signup')),
         f AS (SELECT *,
           last_value(CASE WHEN event_type = 'signup' THEN value END
             IGNORE NULLS) OVER w AS rv,
           last_value(CASE WHEN event_type = 'signup' THEN se END
             IGNORE NULLS) OVER w AS rse
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY se, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, se, value,
           CASE WHEN rse IS NOT NULL AND se - rse <= 604800
             THEN rv END AS ref_value,
           CASE WHEN rse IS NOT NULL AND se - rse <= 604800
             THEN se - rse END AS age_sec
         FROM f WHERE event_type = 'purchase' ORDER BY event_id""",
    // q59: q16's carry reversed — both carried fields select from the
    // SAME physical row (nullness keyed on event_type alone)
    "q59_asof_forward" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS se FROM events
           WHERE event_type IN ('purchase', 'signup')),
         f AS (SELECT *,
           last_value(CASE WHEN event_type = 'signup' THEN value END
             IGNORE NULLS) OVER w AS next_value,
           last_value(CASE WHEN event_type = 'signup' THEN se END
             IGNORE NULLS) OVER w AS next_se
           FROM e WINDOW w AS (PARTITION BY user_id
             ORDER BY se DESC, event_id DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, se, value, next_value,
           next_se - se AS wait_sec
         FROM f WHERE event_type = 'purchase' ORDER BY event_id""",
    "q17_range_join" ->
      s"""SELECT o_orderkey, count(*) AS n_items,
          ${dprod("l_extendedprice", "1 - l_discount")} AS revenue
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            AND l_shipdate >= o_orderdate AND l_shipdate < o_orderdate + INTERVAL 90 DAY
          GROUP BY 1 ORDER BY 1""",
    "q18_set_ops" ->
      """WITH a AS (SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
                    WHERE c_mktsegment = 'BUILDING'),
         b AS (SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier),
         c AS (SELECT CAST(n_nationkey AS INTEGER) AS nationkey FROM nation
               WHERE n_regionkey IN (0, 1))
         SELECT DISTINCT nationkey FROM (
           (SELECT * FROM a INTERSECT SELECT * FROM b)
           UNION (SELECT * FROM a EXCEPT SELECT * FROM c))
         ORDER BY nationkey""",
    "q19_json_extract" ->
      """SELECT event_id, event_type,
         CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INTEGER) AS k
         FROM events
         WHERE CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INTEGER) > 50
         ORDER BY event_id""",
    // q72: the nested-document stats replayed flat — the fold order is
    // fixed by the sorted array but the sums are exact integers, so the
    // relational group-by is the same value; first_line_qty = the
    // min-linenumber item (arg_min), n_big = conditional count
    "q72_nested" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem),
         fl AS (SELECT l_orderkey, qty, row_number() OVER (
                  PARTITION BY l_orderkey
                  ORDER BY l_linenumber, qty, cents) AS rn FROM li),
         agg AS (SELECT l_orderkey AS o_orderkey,
             CAST(count(*) AS INTEGER) AS n_items,
             CAST(sum(qty) AS BIGINT) AS total_qty,
             CAST(sum(cents) AS BIGINT) AS total_cents,
             CAST(max(cents) AS BIGINT) AS max_cents,
             CAST(sum(CASE WHEN qty >= 25 THEN 1 ELSE 0 END) AS INTEGER) AS n_big
           FROM li GROUP BY 1)
         SELECT agg.*, fl.qty AS first_line_qty
         FROM agg JOIN fl ON fl.l_orderkey = agg.o_orderkey AND fl.rn = 1
         ORDER BY 1""",
    "q20_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS name_u, split_part(p_type, ' ', 1) AS type_head,
         regexp_replace(p_brand, '[0-9]+', '#', 'g') AS brand_n,
         CAST(length(p_name) AS INTEGER) AS name_len,
         substring(p_name, 1, 5) AS name_pre,
         p_brand || '|' || p_type AS brand_type
         FROM part ORDER BY p_partkey""",
    "q21_date_series" ->
      s"""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
          ${dsum("o_totalprice")} AS revenue, count(*) AS n_orders
          FROM orders GROUP BY 1 ORDER BY 1""",
    "q22_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    // d1/d12/d7 group on md5 DIGESTS (the ship-digests posture) — the
    // oracle mirrors the digest key so the stated semantics match
    "d1_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_count FROM documents
         GROUP BY md5(text) ORDER BY 1""",
    // d12 = d1 restricted to the even-id batch, minus texts the odd-id
    // corpus already holds — incremental ingest dedup, fully relational
    "d12_incremental_exact" ->
      """WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         c AS (SELECT text FROM documents WHERE doc_id % 2 = 1)
         SELECT min(doc_id) AS doc_id, count(*) AS dup_count
         FROM b WHERE NOT EXISTS
           (SELECT 1 FROM c WHERE md5(c.text) = md5(b.text))
         GROUP BY md5(text) ORDER BY 1""",
    // d16: window shingles with ordered positions (struct comprehension),
    // duplicate marking by count-over-shingle, then the q42 island merge
    // on token positions — w=8, so windows at p and p' overlap-or-touch
    // iff p' <= p + 8 and the span tail is max(p) + 7
    "d16_dup_spans" ->
      s"""WITH $spanWinCtes,
          $spanDupAllCte,
          $spanIslCtes
          $spanSelect""",
    // d33: the LBFS divisor rule replayed — token value polynomial,
    // 4-token rolling window (lag chain), boundary at h%16=0 or doc
    // end, strict-prefix boundary sum = chunk index, ordered chunk
    // re-assembly, corpus-wide duplication count join. Engine side
    // counts over xxhash64(chunk) (the 8-byte shuffle posture); counts
    // equal the string counts the replay computes.
    "d33_cdc_chunks" ->
      s"""WITH $cdcChunkCtes,
          dup AS (SELECT chunk_text, count(*) AS n_dup FROM ch GROUP BY 1)
          SELECT ch.doc_id, CAST(ch.chunk_idx AS INTEGER) AS chunk_idx,
            CAST(ch.start_p AS INTEGER) AS start_p,
            CAST(ch.end_p AS INTEGER) AS end_p,
            CAST(ch.n_tokens AS INTEGER) AS n_tokens, ch.chunk_text,
            CAST(dup.n_dup AS BIGINT) AS n_dup
          FROM ch JOIN dup USING (chunk_text) ORDER BY 1, 2""",
    // d34: even half = ONE batch (within-batch counts over all evens),
    // odd half = the corpus membership probe
    "d34_chunk_incremental" ->
      s"""WITH $cdcChunkCtes,
          bb AS (SELECT * FROM ch WHERE doc_id % 2 = 0),
          bc AS (SELECT chunk_text, count(*) AS n_dup_batch FROM bb GROUP BY 1),
          cc AS (SELECT DISTINCT chunk_text FROM ch WHERE doc_id % 2 = 1)
          SELECT bb.doc_id, CAST(bb.chunk_idx AS INTEGER) AS chunk_idx,
            CAST(bb.start_p AS INTEGER) AS start_p,
            CAST(bb.end_p AS INTEGER) AS end_p,
            CAST(bb.n_tokens AS INTEGER) AS n_tokens, bb.chunk_text,
            CAST(bc.n_dup_batch AS INTEGER) AS n_dup_batch,
            CAST(CASE WHEN cc.chunk_text IS NOT NULL THEN 1 ELSE 0 END
              AS INTEGER) AS in_corpus
          FROM bb JOIN bc USING (chunk_text) LEFT JOIN cc USING (chunk_text)
          ORDER BY 1, 2""",
    // st33: flags as-of ingest time — %4=0 fires before %4=2, so a
    // batch chunk's in_corpus sees odd-corpus ∪ the EARLIER batch only,
    // and n_dup_batch counts within its OWN micro-batch
    "st33_chunk_stream" ->
      s"""WITH $cdcChunkCtes,
          bb AS (SELECT *, doc_id % 4 AS g FROM ch WHERE doc_id % 2 = 0),
          bc AS (SELECT g, chunk_text, count(*) AS n_dup_batch
                 FROM bb GROUP BY 1, 2)
          SELECT bb.doc_id, CAST(bb.chunk_idx AS INTEGER) AS chunk_idx,
            CAST(bb.start_p AS INTEGER) AS start_p,
            CAST(bb.end_p AS INTEGER) AS end_p,
            CAST(bb.n_tokens AS INTEGER) AS n_tokens, bb.chunk_text,
            CAST(bc.n_dup_batch AS INTEGER) AS n_dup_batch,
            CAST(CASE WHEN EXISTS (SELECT 1 FROM ch c
                   WHERE c.chunk_text = bb.chunk_text
                     AND (c.doc_id % 2 = 1
                          OR (bb.g = 2 AND c.doc_id % 4 = 0)))
              THEN 1 ELSE 0 END AS INTEGER) AS in_corpus
          FROM bb JOIN bc ON bc.g = bb.g AND bc.chunk_text = bb.chunk_text
          ORDER BY 1, 2""",
    // d20: the d16 algebra over 20-char substring windows on RAW text —
    // duplicate marking and island merge identical, positions are
    // 1-based codepoints (substring() is codepoint-indexed in both
    // engines; corpus text is BMP so Java's UTF-16 length agrees)
    "d20_char_spans" ->
      """WITH d AS (SELECT doc_id, text AS s, length(text) AS n FROM documents),
          o AS (SELECT doc_id, unnest([{'p': i, 'sh': substring(s, i, 20)}
                  for i in generate_series(1, n - 19)], recursive := true)
                FROM d WHERE n >= 20),
          dup AS (SELECT doc_id, p FROM
                  (SELECT doc_id, p, count(*) OVER (PARTITION BY sh) AS c FROM o)
                  WHERE c > 1),
          brk AS (SELECT doc_id, p, CASE WHEN p > lag(p) OVER
                    (PARTITION BY doc_id ORDER BY p) + 20 THEN 1 ELSE 0 END AS b
                  FROM dup),
          isl AS (SELECT doc_id, p, sum(b) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS UNBOUNDED PRECEDING) AS g FROM brk)
          SELECT doc_id, CAST(g + 1 AS INTEGER) AS span_id,
            CAST(min(p) AS INTEGER) AS start_pos,
            CAST(max(p) + 19 AS INTEGER) AS end_pos,
            count(*) AS n_windows,
            CAST(max(p) + 19 - min(p) + 1 AS INTEGER) AS n_span_chars
          FROM isl GROUP BY doc_id, g ORDER BY doc_id, start_pos""",
    // d17: the d16 window/island replay with the corpus restricted to a
    // (sh, cnt) key table and duplicate marking split into within-batch
    // count OR corpus membership
    "d17_dupspan_incremental" ->
      s"""WITH $spanWinCtes,
          co AS (SELECT sh, count(*) AS cnt FROM o WHERE doc_id % 2 = 1 GROUP BY 1),
          bo AS (SELECT doc_id, p, sh FROM o WHERE doc_id % 2 = 0),
          dup AS (SELECT b.doc_id, b.p FROM
                  (SELECT doc_id, p, sh,
                   count(*) OVER (PARTITION BY sh) AS bc FROM bo) b
                  LEFT JOIN co ON co.sh = b.sh
                  WHERE b.bc > 1 OR co.cnt IS NOT NULL),
          $spanIslCtes
          $spanSelect""",
    // d18: the d16 span replay + ordered token positions; kept tokens are
    // the NOT-EXISTS complement of span containment, re-assembled with an
    // ORDER BY position string_agg; every doc survives the LEFT JOIN
    "d18_span_scrub" ->
      s"""WITH $spanWinCtes,
          $spanDupAllCte,
          $spanIslCtes,
          sp AS (SELECT doc_id, min(p) AS start_pos, max(p) + 7 AS end_pos
                 FROM isl GROUP BY doc_id, g),
          tk AS (SELECT doc_id, unnest([{'p': i, 'tok': t[i]}
                   for i in generate_series(1, len(t))], recursive := true)
                 FROM d),
          kept AS (SELECT tk.doc_id, tk.p, tk.tok FROM tk WHERE NOT EXISTS
                   (SELECT 1 FROM sp WHERE sp.doc_id = tk.doc_id
                    AND tk.p BETWEEN sp.start_pos AND sp.end_pos)),
          agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                  count(*) AS kept FROM kept GROUP BY 1)
          SELECT d.doc_id, coalesce(agg.clean_text, '') AS clean_text,
            CAST(len(d.t) AS INTEGER) AS n_tokens,
            CAST(len(d.t) - coalesce(agg.kept, 0) AS INTEGER) AS n_tokens_removed
          FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id ORDER BY d.doc_id""",
    // d25: full relational replay from the staged shingle table — the
    // df-capped inverted index, the >= minShared pair count, and the
    // list_intersect verify with the decimal-6 containment gate
    "d25_containment" ->
      """WITH sh AS (SELECT doc_id, shn, hsh
           FROM read_parquet('__GRAFT_STAGE__/d25_shingles/*.parquet')),
         inv AS (SELECT doc_id, unnest(hsh) AS h FROM sh),
         rare AS (SELECT h FROM (SELECT h, count(*) AS df FROM inv GROUP BY 1)
                  WHERE df <= 100 AND df >= 2),
         hits AS (SELECT inv.doc_id, inv.h FROM inv JOIN rare USING (h)),
         cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM hits a JOIN hits b ON a.h = b.h AND a.doc_id < b.doc_id
                  GROUP BY 1, 2 HAVING count(*) >= 2),
         v AS (SELECT c.doc_a, c.doc_b, sa.shn AS na, sb.shn AS nb,
               CAST(CAST(CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
                 / least(sa.shn, sb.shn) AS DECIMAL(38,6)) AS DOUBLE) AS containment
               FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
                    JOIN sh sb ON sb.doc_id = c.doc_b)
         SELECT doc_a, doc_b, na, nb, containment
         FROM v WHERE containment >= 0.8 ORDER BY doc_a, doc_b""",
    // d24: the same plant CASE + the same canonicalization regex chain
    // (scheme/host lower, :443 and www. strip, trailing-slash strip,
    // sorted non-utm params, fragment drop), d1's group-by shape
    "d24_url_dedup" -> urlDedupSql,
    // d37: the state table maintained through the string-keyed TxTable
    // must equal the whole-corpus aggregate — d24's oracle VERBATIM
    // (counts sum and mins compose across the corpus/batch split)
    "d37_url_state_tx" -> urlDedupSql,
    // t18: plant replay + symbol-class strip length diff + camelCase
    // extraction count + keyword hits over the shared toks fragment;
    // the two-signal rule in the decimal-6 domain
    "t18_code_detect" ->
      s"""WITH aug AS (SELECT doc_id,
             CASE WHEN doc_id % 9 = 0
               THEN 'int v' || (doc_id % 97) || ' = ' || (doc_id % 43)
                 || '; if (v' || (doc_id % 97) || ' < 7) { return v'
                 || (doc_id % 97)
                 || '; } for (int i = 0; i < 10; i++) { theSum += i; }'
               ELSE text END AS text FROM documents),
          m AS (SELECT doc_id, length(text) AS n,
                length(text) - length(regexp_replace(text,
                  '[{}\\[\\]();=<>]', '', 'g')) AS sym,
                len(regexp_extract_all(text, '[a-z][A-Z]')) AS camel,
                len(list_filter(${toksOf("text")}, t -> t IN
                  ('int','if','for','return','var','def','function',
                   'while','else','void'))) AS kw
                FROM aug),
          r AS (SELECT doc_id, CAST(n AS INTEGER) AS n_chars,
                CASE WHEN n > 0 THEN
                  CAST(CAST(CAST(sym AS DOUBLE) / n AS DECIMAL(38,6)) AS DOUBLE)
                ELSE 0.0 END AS symbol_ratio,
                CAST(camel AS INTEGER) AS camel_hits,
                CAST(kw AS INTEGER) AS keyword_hits FROM m)
          SELECT doc_id, n_chars, symbol_ratio, camel_hits, keyword_hits,
            CAST(CASE WHEN symbol_ratio >= 0.05 AND keyword_hits >= 2
              THEN 1 ELSE 0 END AS INTEGER) AS is_code
          FROM r ORDER BY doc_id""",
    // t19: syllable-free readability — exact counts, each formula an
    // exact integer RATIONAL rounded half-away at 1e-6 in HUGEINT (the
    // double-arithmetic form hit the shortest-repr-vs-binary decimal
    // cast divergence on true halves), null without a denominator
    "t19_readability" ->
      s"""WITH b AS (SELECT doc_id,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_letters,
             CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS BIGINT) AS n_chars_an,
             CAST(len($toks) AS BIGINT) AS n_words,
             CAST(len(list_filter([trim(x) for x in
               regexp_extract_all(text, '[^.!?。！？]+[.!?。！？]*')],
               x -> x <> '')) AS BIGINT) AS n_sentences
           FROM documents),
         n AS (SELECT doc_id, n_letters, n_chars_an, n_words, n_sentences,
             588 * n_letters - 2960 * n_sentences - 1580 * n_words AS cn,
             100 * n_words AS cd,
             471 * n_chars_an * n_sentences + 50 * n_words * n_words
               - 2143 * n_words * n_sentences AS an,
             100 * n_words * n_sentences AS ad
           FROM b)
         SELECT doc_id, n_letters, n_chars_an, n_words, n_sentences,
           CASE WHEN n_words > 0 AND n_sentences > 0 THEN
             CAST(CAST((abs(CAST(cn AS HUGEINT)) * 2000000 + cd)
                 // (2 * CAST(cd AS HUGEINT)) AS BIGINT)
               * (CASE WHEN cn < 0 THEN -1 ELSE 1 END) AS DOUBLE)
               / 1000000.0 END AS cli,
           CASE WHEN n_words > 0 AND n_sentences > 0 THEN
             CAST(CAST((abs(CAST(an AS HUGEINT)) * 2000000 + ad)
                 // (2 * CAST(ad AS HUGEINT)) AS BIGINT)
               * (CASE WHEN an < 0 THEN -1 ELSE 1 END) AS DOUBLE)
               / 1000000.0 END AS ari
         FROM n ORDER BY doc_id""",
    // t39: the syllable fold replays as a list comprehension (empty
    // token lists coalesce to 0 like Spark's aggregate zero), scores as
    // the same HUGEINT rational rounding as t19
    "t39_flesch" ->
      s"""WITH b AS (SELECT doc_id,
             CAST(len($toks) AS BIGINT) AS n_words,
             CAST(len(list_filter([trim(x) for x in
               regexp_extract_all(text, '[^.!?。！？]+[.!?。！？]*')],
               x -> x <> '')) AS BIGINT) AS n_sentences,
             CAST(coalesce(list_sum([greatest(1,
                 len(regexp_extract_all(w, '[aeiouy]+')) -
                 (CASE WHEN w LIKE '%e'
                   AND len(regexp_extract_all(w, '[aeiouy]+')) > 1
                   THEN 1 ELSE 0 END)) for w in
                 [regexp_replace(x, '[^a-z]', '', 'g') for x in $toks]]), 0)
               AS BIGINT) AS n_syllables
           FROM documents),
         n AS (SELECT *,
             206835 * n_sentences * n_words - 1015 * n_words * n_words
               - 84600 * n_syllables * n_sentences AS fn,
             390 * n_words * n_words + 11800 * n_syllables * n_sentences
               - 15590 * n_sentences * n_words AS kn,
             1000 * n_sentences * n_words AS dd
           FROM b)
         SELECT doc_id, n_words, n_sentences, n_syllables,
           CASE WHEN n_words > 0 AND n_sentences > 0 THEN
             CAST(CAST((abs(CAST(fn AS HUGEINT)) * 2000000 + dd)
                 // (2 * CAST(dd AS HUGEINT)) AS BIGINT)
               * (CASE WHEN fn < 0 THEN -1 ELSE 1 END) AS DOUBLE)
               / 1000000.0 END AS fre,
           CASE WHEN n_words > 0 AND n_sentences > 0 THEN
             CAST(CAST((abs(CAST(kn AS HUGEINT)) * 2000000 + dd)
                 // (2 * CAST(dd AS HUGEINT)) AS BIGINT)
               * (CASE WHEN kn < 0 THEN -1 ELSE 1 END) AS DOUBLE)
               / 1000000.0 END AS fk_grade
         FROM n ORDER BY doc_id""",
    // c40: adjacent-bigram PMI — exact combinable counts, the product in
    // DOUBLE with Spark's op order (the integer form overflows BIGINT at
    // scale), one ln, decimal-6, deterministic top-20
    "c40_pmi_phrases" ->
      s"""WITH $pmiCtes
         SELECT f.term_a, f.term_b, f.n_ab, ua.c_term AS n_a, ub.c_term AS n_b,
           CAST(CAST(ln(CAST(f.n_ab AS DOUBLE) * tu.n_uni * tu.n_uni
             / (CAST(tb.n_big AS DOUBLE) * ua.c_term * ub.c_term))
             AS DECIMAL(38,6)) AS DOUBLE) AS pmi
         FROM f JOIN uni ua ON ua.term = f.term_a
                JOIN uni ub ON ub.term = f.term_b, tu, tb
         ORDER BY pmi DESC, f.term_a, f.term_b LIMIT 20""",
    // c41: c40's top-3 collocations re-derived verbatim, then the exact
    // adjacent-position match from the positional posting table
    "c41_phrase_search" ->
      s"""WITH $pmiCtes,
          ph AS (SELECT f.term_a, f.term_b,
               CAST(CAST(ln(CAST(f.n_ab AS DOUBLE) * tu.n_uni * tu.n_uni
                 / (CAST(tb.n_big AS DOUBLE) * ua.c_term * ub.c_term))
                 AS DECIMAL(38,6)) AS DOUBLE) AS pmi
             FROM f JOIN uni ua ON ua.term = f.term_a
                    JOIN uni ub ON ub.term = f.term_b, tu, tb
             ORDER BY pmi DESC, f.term_a, f.term_b LIMIT 3),
          occ AS (SELECT doc_id, unnest([{'p': i, 'term': t[i]}
               for i in generate_series(1, len(t))], recursive := true)
             FROM d)
         SELECT p.term_a || ' ' || p.term_b AS phrase, a.doc_id,
           count(*) AS n_matches
         FROM occ a JOIN ph p ON a.term = p.term_a
              JOIN occ b ON b.doc_id = a.doc_id AND b.term = p.term_b
                AND b.p = a.p + 1
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // c42: corpus-adaptive stoplist (t9's tie-break), phrase islands via
    // the lag/sum window pair, deg/freq in the HUGEINT rational form,
    // exact decimal phrase sums, deterministic top-20
    "c42_rake_keywords" ->
      s"""WITH aug AS (SELECT doc_id, text ||
              (CASE WHEN doc_id % 5 = 0
                THEN ' the neural retrieval index improves ranking quality fast'
                ELSE '' END) ||
              (CASE WHEN doc_id % 7 = 0
                THEN ' a semantic search cache accelerates lookup speed slow'
                ELSE '' END) AS text FROM documents),
          d AS (SELECT doc_id, ${toksOf("text")} AS t FROM aug),
          occ AS (SELECT doc_id, unnest([{'p': i, 'term': t[i]}
                for i in generate_series(1, len(t))], recursive := true)
              FROM d),
          sl AS (SELECT term FROM (SELECT term, count(*) AS tf FROM occ
                 GROUP BY 1 ORDER BY tf DESC, term LIMIT 30)),
          ns AS (SELECT doc_id, p, term FROM occ
                 WHERE term NOT IN (SELECT term FROM sl)),
          mk AS (SELECT doc_id, p, term,
                 CASE WHEN p <> lag(p) OVER w + 1 THEN 1 ELSE 0 END AS brk
                 FROM ns WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
          gg AS (SELECT doc_id, p, term, sum(brk) OVER
                 (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS g
                 FROM mk),
          wl AS (SELECT doc_id, p, term, g,
                 count(*) OVER (PARTITION BY doc_id, g) AS len FROM gg),
          ws AS (SELECT term, count(*) AS freq, sum(len) AS deg
                 FROM wl GROUP BY 1),
          wsc AS (SELECT term,
                 CAST(CAST((abs(CAST(deg AS HUGEINT)) * 2000000 + freq)
                     // (2 * CAST(freq AS HUGEINT)) AS BIGINT) AS DOUBLE)
                   / 1000000.0 AS wscore FROM ws),
          it AS (SELECT doc_id, g, string_agg(term, ' ' ORDER BY p) AS phrase
                 FROM wl GROUP BY 1, 2),
          pt AS (SELECT phrase, count(*) AS n_occurrences FROM it
                 GROUP BY 1 HAVING count(*) >= 3),
          px AS (SELECT pt.phrase, pt.n_occurrences,
                 unnest(string_split(pt.phrase, ' ')) AS term FROM pt)
          SELECT px.phrase, px.n_occurrences,
            CAST(sum(CAST(wsc.wscore AS DECIMAL(28,6))) AS DOUBLE) AS score
          FROM px JOIN wsc USING (term)
          GROUP BY 1, 2 ORDER BY score DESC, phrase LIMIT 20""",
    // t22: pure array slicing over the shared token stream; head 64 +
    // tail 32 + ' ... ' marker, exact drop accounting
    "t22_truncate_middle" ->
      s"""WITH d AS (SELECT doc_id, $toks AS t FROM documents)
         SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
           CASE WHEN len(t) <= 96 THEN array_to_string(t, ' ')
             ELSE array_to_string(t[1:64], ' ') || ' ... '
               || array_to_string(t[len(t)-31:len(t)], ' ') END
             AS truncated_text,
           CAST(greatest(len(t) - 96, 0) AS INTEGER) AS n_dropped,
           CAST(CASE WHEN len(t) > 96 THEN 1 ELSE 0 END AS INTEGER) AS truncated
         FROM d ORDER BY doc_id""",
    // t21: the replace chain is BUILT from TextOps.MojibakePairs, so
    // operator and oracle share one damage table by construction
    "t21_mojibake" -> {
      val fixedSql = TextOps.MojibakePairs.foldLeft("text") {
        case (acc, (bad, good)) => s"replace($acc, '$bad', '$good')"
      }
      s"""WITH aug AS (SELECT doc_id, text ||
            (CASE WHEN doc_id % 6 = 0 THEN ' cafÃ© rÃ©sumÃ© naÃ¯ve jalapeÃ±o'
                  WHEN doc_id % 6 = 3 THEN ' café résumé naïve jalapeño'
                  ELSE '' END) AS text FROM documents)
         SELECT doc_id, $fixedSql AS fixed_text,
           CAST(length(text) - length($fixedSql) AS INTEGER) AS n_fixed
         FROM aug ORDER BY doc_id"""
    },
    // t17: exact per-doc counts; all three ratios are HUGEINT exact
    // rationals (half-away at 1e-6) — the ratRound replay, never a
    // double quotient (the round-10 half-tie FAIL)
    "t17b_lexical_diversity" ->
      s"""WITH tk AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
          tc AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
          ag AS (SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_types,
                 sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax,
                 max(c) AS max_c
                 FROM tc GROUP BY 1)
          SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, n_types,
            CAST(CAST((CAST(n_types AS HUGEINT) * 2000000 + n_tokens)
                // (2 * CAST(n_tokens AS HUGEINT)) AS BIGINT) AS DOUBLE)
              / 1000000.0 AS ttr,
            CAST(CAST((CAST(n_hapax AS HUGEINT) * 2000000 + n_types)
                // (2 * CAST(n_types AS HUGEINT)) AS BIGINT) AS DOUBLE)
              / 1000000.0 AS hapax_ratio,
            CAST(CAST((CAST(max_c AS HUGEINT) * 2000000 + n_tokens)
                // (2 * CAST(n_tokens AS HUGEINT)) AS BIGINT) AS DOUBLE)
              / 1000000.0 AS top_ratio
          FROM ag ORDER BY doc_id""",
    // c38: the plant CTE shared with c32, then C4's rule — two-phase
    // line count, cnt=1 survivors, ordered re-assembly (d18 idiom)
    "c38_line_dedup" ->
      s"""WITH $parPlantCte,
          sp AS (SELECT doc_id,
            list_filter([trim(x) for x in string_split(text, chr(10))],
              x -> x <> '') AS ls FROM aug),
          ln AS (SELECT doc_id, i AS p, ls[i] AS line
                 FROM sp, unnest(generate_series(1, len(ls))) AS u(i)),
          ct AS (SELECT line, count(*) AS cnt FROM ln GROUP BY 1),
          kept AS (SELECT ln.doc_id, ln.p, ln.line
                   FROM ln JOIN ct USING (line) WHERE ct.cnt = 1),
          agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS clean_text,
                  count(*) AS k FROM kept GROUP BY 1)
          SELECT sp.doc_id, coalesce(agg.clean_text, '') AS clean_text,
            CAST(len(sp.ls) AS INTEGER) AS n_lines,
            CAST(len(sp.ls) - coalesce(agg.k, 0) AS INTEGER) AS n_lines_removed
          FROM sp LEFT JOIN agg ON agg.doc_id = sp.doc_id
          ORDER BY sp.doc_id""",
    // c39: c38's CTEs with the corpus/batch parity split — a batch line
    // is cut iff it repeats within the batch or exists in the corpus
    // st21: c39's corpus/batch split with the FROZEN-artifact gate —
    // no within-batch clause (lineScrubAgainst's documented trade), so
    // bad = corpus lines only
    "st21_line_stream" ->
      s"""WITH $parPlantCte,
          sp AS (SELECT doc_id,
            list_filter([trim(x) for x in string_split(text, chr(10))],
              x -> x <> '') AS ls FROM aug),
          ln AS (SELECT doc_id, i AS p, ls[i] AS line
                 FROM sp, unnest(generate_series(1, len(ls))) AS u(i)),
          co AS (SELECT DISTINCT line FROM ln WHERE doc_id % 2 = 1),
          bl AS (SELECT doc_id, p, line FROM ln WHERE doc_id % 2 = 0),
          kept AS (SELECT bl.doc_id, bl.p, bl.line FROM bl WHERE NOT EXISTS
                   (SELECT 1 FROM co WHERE co.line = bl.line)),
          agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS clean_text,
                  count(*) AS k FROM kept GROUP BY 1)
          SELECT sp.doc_id, coalesce(agg.clean_text, '') AS clean_text,
            CAST(len(sp.ls) AS INTEGER) AS n_lines,
            CAST(len(sp.ls) - coalesce(agg.k, 0) AS INTEGER) AS n_lines_removed
          FROM sp LEFT JOIN agg ON agg.doc_id = sp.doc_id
          WHERE sp.doc_id % 2 = 0 ORDER BY sp.doc_id""",
    "c39_line_incremental" ->
      s"""WITH $parPlantCte,
          sp AS (SELECT doc_id,
            list_filter([trim(x) for x in string_split(text, chr(10))],
              x -> x <> '') AS ls FROM aug),
          ln AS (SELECT doc_id, i AS p, ls[i] AS line
                 FROM sp, unnest(generate_series(1, len(ls))) AS u(i)),
          co AS (SELECT DISTINCT line FROM ln WHERE doc_id % 2 = 1),
          bl AS (SELECT doc_id, p, line FROM ln WHERE doc_id % 2 = 0),
          bc AS (SELECT line, count(*) AS bcnt FROM bl GROUP BY 1),
          bad AS (SELECT line FROM bc WHERE bcnt >= 2
                  UNION SELECT bc.line FROM bc JOIN co USING (line)),
          kept AS (SELECT bl.doc_id, bl.p, bl.line FROM bl WHERE NOT EXISTS
                   (SELECT 1 FROM bad WHERE bad.line = bl.line)),
          agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS clean_text,
                  count(*) AS k FROM kept GROUP BY 1)
          SELECT sp.doc_id, coalesce(agg.clean_text, '') AS clean_text,
            CAST(len(sp.ls) AS INTEGER) AS n_lines,
            CAST(len(sp.ls) - coalesce(agg.k, 0) AS INTEGER) AS n_lines_removed
          FROM sp LEFT JOIN agg ON agg.doc_id = sp.doc_id
          WHERE sp.doc_id % 2 = 0 ORDER BY sp.doc_id""",
    // c37: per-source quantile thresholds (quantile_cont == Spark
    // percentile, c14's proven pairing), decimal-6 boundary both sides
    "c37_source_relative_gate" ->
      s"""WITH sc AS (SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS score
             FROM documents),
          th AS (SELECT source, quantile_cont(score, 0.7) AS thr,
                 count(*) AS n_docs FROM sc GROUP BY 1),
          k AS (SELECT sc.source, sc.score, th.thr, th.n_docs
                FROM sc JOIN th USING (source)
                WHERE sc.score >= CAST(CAST(th.thr AS DECIMAL(38,6)) AS DOUBLE))
          SELECT source, max(n_docs) AS n_docs,
            CAST(CAST(max(thr) AS DECIMAL(38,6)) AS DOUBLE) AS thr,
            count(*) AS n_kept, min(score) AS min_score_kept
          FROM k GROUP BY source ORDER BY source""",
    // c36: water-filling replay — the (cap//weight, double quotient,
    // source) sort key (exact integer part, IEEE refiner — overflow-
    // free at any corpus size), strict-prefix running sums,
    // the cross-multiplied all-integer capped test, floor-division
    // fill, HUGEINT-rational epochs (the ratRound replay — the round-10
    // half-tie FAIL was epochs through a double quotient)
    // c52: the oracle reads the ACTUAL written shard files (hive
    // partitioning recovers the shard dir value), recomputes the
    // manifest and the placement check from the same hash replay
    "c52_shard_write" ->
      s"""WITH w AS (SELECT doc_id, text, CAST(shard AS INTEGER) AS shard
             FROM read_parquet('__GRAFT_STAGE__/c52_shards/*/*.parquet',
               hive_partitioning = true)),
          m AS (SELECT doc_id, text, shard,
                  ((doc_id % 1000003) * 3266489917 + 104729) % 8 AS expect,
                  len($toks) AS nt FROM w)
          SELECT shard, count(*) AS n_docs,
            CAST(sum(nt) AS BIGINT) AS n_tokens,
            min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
            CAST(sum(CAST(doc_id AS HUGEINT) * doc_id) AS VARCHAR)
              AS id_checksum,
            CAST(sum(CASE WHEN shard <> expect THEN 1 ELSE 0 END) AS BIGINT)
              AS n_misplaced
          FROM m GROUP BY shard ORDER BY shard""",
    // c50: ttr micro-units (HUGEINT floor division), quantile_cont
    // boundaries with ties-low bucketing (the c44 micro replay), the
    // c11-form shard hash with c50's own seed, decile-major ids,
    // HUGEINT-rational mean
    "c50_curriculum_shards" ->
      s"""WITH tt AS (SELECT doc_id, $toks AS t FROM documents),
          sc AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(t)) AS BIGINT) AS n_types
                 FROM tt WHERE len(t) > 0),
          mi AS (SELECT doc_id, n_tokens,
                   (CAST(n_types AS HUGEINT) * 1000000) // n_tokens AS micro
                 FROM sc),
          b AS (SELECT ${(1 to 9).map(i =>
             s"quantile_cont(micro, 0.$i) AS b_$i").mkString(", ")} FROM mi),
          dd AS (SELECT doc_id, n_tokens, micro,
              CAST(1 ${(1 to 9).map(i =>
                s"+ (CASE WHEN micro > b_$i THEN 1 ELSE 0 END)").mkString(" ")}
              AS INTEGER) AS decile
            FROM mi, b),
          sh AS (SELECT *, CAST(((doc_id % 1000003) * 3266489917 + 7919) % 4
                   AS INTEGER) AS sub FROM dd)
          SELECT (decile - 1) * 4 + sub AS shard, decile, sub,
            count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
            CAST(min(micro) AS BIGINT) AS lo_micro,
            CAST(max(micro) AS BIGINT) AS hi_micro,
            CAST(CAST((CAST(sum(micro) AS HUGEINT) * 2000000
                  + count(*) * 1000000)
                // (2 * CAST(count(*) * 1000000 AS HUGEINT)) AS BIGINT)
              AS DOUBLE) / 1000000.0 AS mean_ttr
          FROM sh GROUP BY 1, 2, 3 ORDER BY shard""",
    // c49: copy counts on the text key, per-(source, lang) partials
    // with the shared quality-score fragment, dominant lang by
    // (n DESC, lang) rank, HUGEINT exact rationals for the two ratios
    "c49_datasheet" ->
      s"""WITH cp AS (SELECT md5(text) AS h, count(*) AS copies
                 FROM documents GROUP BY 1),
          dt AS (SELECT doc_id, source, lang, n_chars, md5(text) AS h,
                   len($toks) AS nt FROM documents),
          en AS (SELECT dt.source, dt.lang, dt.n_chars, dt.nt,
                   q.quality_score AS q,
                   CASE WHEN cp.copies > 1 THEN 1 ELSE 0 END AS dup
                 FROM dt
                 JOIN cp ON cp.h = dt.h
                 JOIN ($qualityScoreSql) q ON q.doc_id = dt.doc_id),
          pl AS (SELECT source, lang, count(*) AS n,
                   CAST(sum(nt) AS BIGINT) AS tk,
                   CAST(sum(n_chars) AS BIGINT) AS ch,
                   CAST(sum(q) AS BIGINT) AS qs,
                   CAST(sum(dup) AS BIGINT) AS du
                 FROM en GROUP BY 1, 2),
          top AS (SELECT source, lang AS top_lang, n AS top_lang_docs FROM
                  (SELECT source, lang, n, row_number() OVER
                     (PARTITION BY source ORDER BY n DESC, lang) AS rn
                   FROM pl) WHERE rn = 1),
          ag AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
                   CAST(sum(tk) AS BIGINT) AS n_tokens,
                   CAST(sum(ch) AS BIGINT) AS n_chars,
                   CAST(sum(qs) AS BIGINT) AS qsum,
                   CAST(sum(du) AS BIGINT) AS n_dup_docs
                 FROM pl GROUP BY 1)
          SELECT ag.source, n_docs, n_tokens, n_chars, top_lang,
            top_lang_docs,
            CAST(CAST((CAST(qsum AS HUGEINT) * 2000000 + n_docs)
                // (2 * CAST(n_docs AS HUGEINT)) AS BIGINT) AS DOUBLE)
              / 1000000.0 AS mean_quality,
            n_dup_docs,
            CAST(CAST((CAST(n_dup_docs AS HUGEINT) * 2000000 + n_docs)
                // (2 * CAST(n_docs AS HUGEINT)) AS BIGINT) AS DOUBLE)
              / 1000000.0 AS dup_ratio
          FROM ag JOIN top ON top.source = ag.source ORDER BY ag.source""",
    // c48: governance plant replay (license cycle + opt-out flag), the
    // same allowlist/opt-out predicate, one grouped aggregate
    "c48_license_gate" ->
      s"""WITH aug AS (SELECT doc_id, source, text,
             CASE (doc_id // 7) % 5 WHEN 0 THEN 'cc0' WHEN 1 THEN 'cc-by'
                  WHEN 2 THEN 'cc-by-sa' WHEN 3 THEN 'all-rights-reserved'
                  ELSE 'unknown' END AS license,
             doc_id % 17 = 2 AS opt_out FROM documents),
          k AS (SELECT source, license, opt_out, len($toks) AS n,
                  (license IN ('cc0', 'cc-by', 'cc-by-sa') AND NOT opt_out)
                    AS kept
                FROM aug)
          SELECT source, license, count(*) AS n_docs,
            CAST(sum(CASE WHEN opt_out THEN 1 ELSE 0 END) AS BIGINT) AS n_opt_out,
            CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
            CAST(sum(CASE WHEN kept THEN n ELSE 0 END) AS BIGINT) AS kept_tokens
          FROM k GROUP BY source, license ORDER BY source, license""",
    // c47: plant replay (md5-hex replacement wins over the repeated
    // template append), staged DEFLATE counts joined back by doc_id,
    // ratio = HUGEINT exact rational, gate = cross-multiplied integers
    "c47_compression_gate" -> compressionGateSql("c47_comp"),
    "st23_compression_stream" -> compressionGateSql("st23_comp"),
    // st24: the doc-level governance filter replay (plant + predicate)
    "st24_license_stream" ->
      """SELECT doc_id, source,
           CASE (doc_id // 7) % 5 WHEN 0 THEN 'cc0' WHEN 1 THEN 'cc-by'
                WHEN 2 THEN 'cc-by-sa' WHEN 3 THEN 'all-rights-reserved'
                ELSE 'unknown' END AS license
         FROM documents
         WHERE (doc_id // 7) % 5 IN (0, 1, 2) AND doc_id % 17 <> 2
         ORDER BY doc_id""",
    "c36b_token_budget_mix" ->
      s"""WITH st AS (SELECT source, sum(len($toks)) AS n_tokens,
             CAST(regexp_extract(source, '([0-9]+)$$', 1) AS BIGINT) % 7 + 1 AS weight
             FROM documents GROUP BY source),
          st2 AS (SELECT source, n_tokens, weight, n_tokens * 1 AS cap FROM st),
          tot AS (SELECT CAST(floor(CAST(sum(n_tokens) * 60 AS DOUBLE) / 100)
                    AS BIGINT) AS budget,
                  sum(weight) AS tot_w FROM st2),
          rk AS (SELECT st2.*, tot.budget, tot.tot_w,
                 coalesce(sum(cap) OVER w, 0) AS pre_cap,
                 coalesce(sum(weight) OVER w, 0) AS pre_w
                 FROM st2, tot
                 WINDOW w AS (ORDER BY cap // weight,
                     CAST(cap AS DOUBLE) / weight, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
          cp AS (SELECT *,
                 (weight * (budget - pre_cap) >= cap * (tot_w - pre_w)) AS capped
                 FROM rk),
          fl AS (SELECT sum(CASE WHEN capped THEN cap ELSE 0 END) AS cap_sum,
                 sum(CASE WHEN NOT capped THEN weight ELSE 0 END) AS w_unc FROM cp),
          al AS (SELECT cp.source, cp.n_tokens, cp.weight, cp.cap, cp.capped,
                 CASE WHEN cp.capped THEN cp.cap
                      ELSE CAST(floor(CAST(cp.weight * (cp.budget - fl.cap_sum)
                        AS DOUBLE) / greatest(fl.w_unc, 1)) AS BIGINT)
                 END AS allocated
                 FROM cp, fl)
          SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, weight,
            CAST(cap AS BIGINT) AS cap, CAST(allocated AS BIGINT) AS allocated,
            CAST(CAST((CAST(allocated AS HUGEINT) * 20000 + n_tokens)
                // (2 * CAST(n_tokens AS HUGEINT)) AS BIGINT) AS DOUBLE)
              / 10000.0 AS epochs,
            CAST(capped AS INTEGER) AS capped
          FROM al ORDER BY source""",
    // c35: the d18 scrub replay with coverage coming from BENCHMARK
    // membership instead of corpus-wide duplication — planted canary
    // suffixes (the CASE concat both engines share) are the only
    // 8-token windows crossing the %97 split, so they are exactly what
    // gets cut; every non-benchmark doc survives the LEFT JOIN
    "c35_decontam_scrub" ->
      s"""WITH aug AS (SELECT doc_id,
             CASE WHEN doc_id % 97 = 0 OR doc_id % 13 = 5
                  THEN text || ' qa canary alpha beta gamma delta epsilon zeta'
                  ELSE text END AS text FROM documents),
          d AS (SELECT doc_id, $toks AS t FROM aug),
          o AS (SELECT doc_id, unnest([{'p': i, 'sh': array_to_string(t[i:i+7], ' ')}
                  for i in generate_series(1, len(t)-7)], recursive := true)
                FROM d WHERE len(t) >= 8),
          bm AS (SELECT DISTINCT sh FROM o WHERE doc_id % 97 = 0),
          cov AS (SELECT DISTINCT o.doc_id, u.p2 AS p
                  FROM o JOIN bm USING (sh),
                    unnest(generate_series(o.p, o.p + 7)) AS u(p2)
                  WHERE o.doc_id % 97 <> 0),
          tk AS (SELECT doc_id, unnest([{'p': i, 'tok': t[i]}
                   for i in generate_series(1, len(t))], recursive := true)
                 FROM d WHERE doc_id % 97 <> 0),
          kept AS (SELECT tk.doc_id, tk.p, tk.tok FROM tk WHERE NOT EXISTS
                   (SELECT 1 FROM cov WHERE cov.doc_id = tk.doc_id
                    AND cov.p = tk.p)),
          agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                  count(*) AS kept FROM kept GROUP BY 1)
          SELECT d.doc_id, coalesce(agg.clean_text, '') AS clean_text,
            CAST(len(d.t) AS INTEGER) AS n_tokens,
            CAST(len(d.t) - coalesce(agg.kept, 0) AS INTEGER) AS n_tokens_removed
          FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
          WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id""",
    "d4_ngram_jaccard" ->
      s"""WITH tok AS ($shingleTok),
          p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jacc
                FROM tok a JOIN tok b ON a.source = b.source AND a.doc_id < b.doc_id)
          SELECT doc_a, doc_b, jacc FROM p WHERE jacc >= 0.5 ORDER BY 1, 2""",
    // d35: the AllPairs prefix-filter chain replayed relationally over
    // the staged shingle table — df, (df, h) global rank, prefix
    // length |d| − ⌈t·|d|⌉ + 1, shared-prefix-token candidates under
    // the size filter, exact list-intersect Jaccard verify. Both
    // engines rank by the SAME staged hashes, so the candidate sets
    // (not just the final exact answer) match row for row.
    "d35_prefix_allpairs" ->
      """WITH sh AS (SELECT doc_id, shn, hsh
           FROM read_parquet('__GRAFT_STAGE__/d35_sh/*.parquet')),
         inv AS (SELECT doc_id, shn, unnest(hsh) AS h FROM sh),
         dfq AS (SELECT h, count(*) AS df FROM inv GROUP BY 1),
         rk AS (SELECT doc_id, shn, h,
                  row_number() OVER (PARTITION BY doc_id ORDER BY df, h) AS rnk
                FROM inv JOIN dfq USING (h)),
         pfx AS (SELECT doc_id, shn, h FROM rk
                 WHERE rnk <= shn - CAST(ceil(0.5 * shn) AS INTEGER) + 1),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM pfx a JOIN pfx b ON a.h = b.h AND a.doc_id < b.doc_id
                    AND least(a.shn, b.shn) >= 0.5 * greatest(a.shn, b.shn)),
         v AS (SELECT c.doc_a, c.doc_b,
                 CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
                   / (sa.shn + sb.shn - len(list_intersect(sa.hsh, sb.hsh))) AS jacc
               FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
                 JOIN sh sb ON sb.doc_id = c.doc_b)
         SELECT doc_a, doc_b, jacc FROM v WHERE jacc >= 0.5 ORDER BY 1, 2""",
    // d36: the incremental prefix chain replayed — corpus df from the
    // odd rows only, both sides' prefixes under the (coalesce(df,0), h)
    // order, batch-touching candidates, exact verify over the union
    "d36_prefix_incremental" -> prefixIncSql("d36_sh"),
    // st36: pairs are symmetric, so the drained stream set equals the
    // d36 batch answer — the same replay over st36's own staged copy
    "st36_prefix_stream" -> prefixIncSql("st36_sh"),
    // d2: banding/cap/candidate/verify replayed over the staged
    // signature tables (the signature VALUES are JVM hashes the gate
    // stages; everything after them is relational)
    // d32: the d2 replay over a FRESH direct-recompute staging while
    // the gate reads the TxTable-maintained state — equality IS the
    // ACID value-invisibility assertion (r14 de-tautologization)
    "d32_state_table_tx" ->
      """WITH banded AS (
           SELECT doc_id, band, bh
           FROM read_parquet('__GRAFT_STAGE__/d32_banded/*.parquet')),
         sized AS (
           SELECT doc_id, band, bh FROM (
             SELECT doc_id, band, bh,
               count(*) OVER (PARTITION BY band, bh) AS bsz FROM banded)
           WHERE bsz <= 1000),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sized a JOIN sized b
             ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         sh AS (SELECT doc_id, hsh, shn
           FROM read_parquet('__GRAFT_STAGE__/d32_sigs/*.parquet')),
         v AS (
           SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
               / (sa.shn + sb.shn - len(list_intersect(sa.hsh, sb.hsh))) AS jacc
           FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
             JOIN sh sb ON sb.doc_id = c.doc_b)
         SELECT doc_a, doc_b, jacc FROM v WHERE jacc >= 0.5 ORDER BY 1, 2""",
    "d2_dedup_minhash" ->
      """WITH banded AS (
           SELECT doc_id, band, bh
           FROM read_parquet('__GRAFT_STAGE__/d2_banded/*.parquet')),
         sized AS (
           SELECT doc_id, band, bh FROM (
             SELECT doc_id, band, bh,
               count(*) OVER (PARTITION BY band, bh) AS bsz FROM banded)
           WHERE bsz <= 1000),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sized a JOIN sized b
             ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         sh AS (SELECT doc_id, hsh, shn
           FROM read_parquet('__GRAFT_STAGE__/d2_sigs/*.parquet')),
         v AS (
           SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
               / (sa.shn + sb.shn - len(list_intersect(sa.hsh, sb.hsh))) AS jacc
           FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
             JOIN sh sb ON sb.doc_id = c.doc_b)
         SELECT doc_a, doc_b, jacc FROM v WHERE jacc >= 0.5 ORDER BY 1, 2""",
    // d27: the d2 candidate replay + component-match estimate vs exact
    // Jaccard — all single IEEE ops on exact integers, no rounding
    "d27_minhash_eval" ->
      """WITH banded AS (SELECT doc_id, band, bh
           FROM read_parquet('__GRAFT_STAGE__/d27_banded/*.parquet')),
         sized AS (SELECT doc_id, band, bh FROM (
             SELECT doc_id, band, bh,
               count(*) OVER (PARTITION BY band, bh) AS bsz FROM banded)
           WHERE bsz <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sized a JOIN sized b
             ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         sh AS (SELECT doc_id, hsh, shn, sig
           FROM read_parquet('__GRAFT_STAGE__/d27_sigs/*.parquet')),
         v AS (SELECT c.doc_a, c.doc_b,
             len(list_intersect(sa.hsh, sb.hsh)) AS inter,
             sa.shn + sb.shn AS tot,
             len([i for i in generate_series(1, 64)
                  if sa.sig[i] = sb.sig[i]]) AS m
           FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
             JOIN sh sb ON sb.doc_id = c.doc_b)
         SELECT doc_a, doc_b,
           CAST(m AS DOUBLE) / 64.0 AS est_jaccard,
           CAST(inter AS DOUBLE) / (tot - inter) AS exact_jaccard,
           abs(CAST(m AS DOUBLE) / 64.0
             - CAST(inter AS DOUBLE) / (tot - inter)) AS abs_err
         FROM v ORDER BY 1, 2""",
    // c70: the d2 pair replay from its own staged tables + the source
    // endpoint joins and symmetric cell aggregation
    "c70_source_matrix" ->
      """WITH banded AS (SELECT doc_id, band, bh
           FROM read_parquet('__GRAFT_STAGE__/c70_banded/*.parquet')),
         sized AS (SELECT doc_id, band, bh FROM (
             SELECT doc_id, band, bh,
               count(*) OVER (PARTITION BY band, bh) AS bsz FROM banded)
           WHERE bsz <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sized a JOIN sized b
             ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         sh AS (SELECT doc_id, hsh, shn
           FROM read_parquet('__GRAFT_STAGE__/c70_sigs/*.parquet')),
         v AS (SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
               / (sa.shn + sb.shn - len(list_intersect(sa.hsh, sb.hsh))) AS jacc
           FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
             JOIN sh sb ON sb.doc_id = c.doc_b),
         p AS (SELECT doc_a, doc_b FROM v WHERE jacc >= 0.5),
         m AS (SELECT least(x.source, y.source) AS source_a,
             greatest(x.source, y.source) AS source_b
           FROM p JOIN documents x ON x.doc_id = p.doc_a
             JOIN documents y ON y.doc_id = p.doc_b)
         SELECT source_a, source_b, count(*) AS n_pairs
         FROM m GROUP BY 1, 2 ORDER BY 1, 2""",
    // c69: same candidate replay from its own staged tables; the sweep
    // replays as a values join on the (threshold, cutoff) literals with
    // LEFT-join zero rows for thresholds nothing passes
    "c69_threshold_sweep" ->
      """WITH banded AS (SELECT doc_id, band, bh
           FROM read_parquet('__GRAFT_STAGE__/c69_banded/*.parquet')),
         sized AS (SELECT doc_id, band, bh FROM (
             SELECT doc_id, band, bh,
               count(*) OVER (PARTITION BY band, bh) AS bsz FROM banded)
           WHERE bsz <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sized a JOIN sized b
             ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         sh AS (SELECT doc_id, sig
           FROM read_parquet('__GRAFT_STAGE__/c69_sigs/*.parquet')),
         mt AS (SELECT c.doc_a, c.doc_b,
             len([i for i in generate_series(1, 64)
                  if sa.sig[i] = sb.sig[i]]) AS matches
           FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
             JOIN sh sb ON sb.doc_id = c.doc_b),
         th AS (SELECT * FROM (VALUES (0.5, 32), (0.6, 39), (0.7, 45),
             (0.8, 52), (0.9, 58)) AS t(threshold, min_matches)),
         ps AS (SELECT th.threshold, th.min_matches, mt.doc_a, mt.doc_b
           FROM th JOIN mt ON mt.matches >= th.min_matches),
         pc AS (SELECT threshold, min_matches, count(*) AS n_pairs
           FROM ps GROUP BY 1, 2),
         dc AS (SELECT threshold, count(DISTINCT d) AS n_docs FROM (
             SELECT threshold, doc_a AS d FROM ps
             UNION ALL SELECT threshold, doc_b AS d FROM ps)
           GROUP BY 1)
         SELECT th.threshold, CAST(th.min_matches AS INTEGER) AS min_matches,
           coalesce(pc.n_pairs, 0) AS n_pairs,
           coalesce(dc.n_docs, 0) AS n_docs
         FROM th LEFT JOIN pc USING (threshold, min_matches)
           LEFT JOIN dc USING (threshold)
         ORDER BY 1""",
    // d38: same candidate replay as d27 from its own staged tables;
    // the 1-bit match count verifies from the UNPACKED staged
    // signatures ((sig&1) equality per component), so a packing bug on
    // the engine side cannot hide behind its own packing
    "d38_bbit_minhash" ->
      """WITH banded AS (SELECT doc_id, band, bh
           FROM read_parquet('__GRAFT_STAGE__/d38_banded/*.parquet')),
         sized AS (SELECT doc_id, band, bh FROM (
             SELECT doc_id, band, bh,
               count(*) OVER (PARTITION BY band, bh) AS bsz FROM banded)
           WHERE bsz <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sized a JOIN sized b
             ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         sh AS (SELECT doc_id, hsh, shn, sig
           FROM read_parquet('__GRAFT_STAGE__/d38_sigs/*.parquet')),
         v AS (SELECT c.doc_a, c.doc_b,
             len(list_intersect(sa.hsh, sb.hsh)) AS inter,
             sa.shn + sb.shn AS tot,
             len([i for i in generate_series(1, 64)
                  if (sa.sig[i] & 1) = (sb.sig[i] & 1)]) AS mb
           FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
             JOIN sh sb ON sb.doc_id = c.doc_b)
         SELECT doc_a, doc_b,
           CAST(mb * 2 - 64 AS DOUBLE) / 64 AS est_1bit,
           CAST(inter AS DOUBLE) / (tot - inter) AS exact_jaccard
         FROM v ORDER BY 1, 2""",
    // c44: the classifier score replay (shared CTEs), quantile-boundary
    // deciles in integer micro-units (score×1e6 as BIGINT — boundaries
    // interpolate between integers, comparisons never round; ties low),
    // HUGEINT rational pos_rate and cross-multiplied lift — mirrors
    // QualityModel.modelLift op for op
    "c44_model_lift" ->
      s"""${classifierCtes("c44_weights")},
         mi AS (SELECT doc_id, label,
             CAST(round(score * 1000000) AS BIGINT) AS micro FROM sc),
         b AS (SELECT ${(1 to 9).map(i =>
            s"quantile_cont(micro, 0.$i) AS b_$i").mkString(", ")} FROM mi),
         dd AS (SELECT doc_id, label, micro,
             CAST(1 ${(1 to 9).map(i =>
               s"+ (CASE WHEN micro > b_$i THEN 1 ELSE 0 END)").mkString(" ")}
             AS INTEGER) AS decile
           FROM mi, b),
         ag AS (SELECT decile, count(*) AS n_docs,
                CAST(sum(label) AS BIGINT) AS n_pos FROM dd GROUP BY 1),
         tt AS (SELECT count(*) AS nn, CAST(sum(label) AS BIGINT) AS pp FROM dd)
         SELECT decile, n_docs, n_pos,
           CAST(CAST((abs(CAST(n_pos AS HUGEINT)) * 2000000 + n_docs)
               // (2 * CAST(n_docs AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000.0 AS pos_rate,
           CASE WHEN pp > 0 THEN
             CAST(CAST((abs(CAST(n_pos * nn AS HUGEINT)) * 2000000 + n_docs * pp)
                 // (2 * CAST(n_docs * pp AS HUGEINT)) AS BIGINT) AS DOUBLE)
               / 1000000.0 END AS lift
         FROM ag, tt ORDER BY decile""",
    // c45: the shared classifier CTEs → kept at 0.5 → one aggregate →
    // guarded HUGEINT rationals (F1 in its single-fraction form)
    "c45_model_metrics" ->
      s"""${classifierCtes("c45_weights")},
         kk AS (SELECT label,
              CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS kept FROM sc),
         ag AS (SELECT
              CAST(sum(CASE WHEN label = 1 AND kept = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              CAST(sum(CASE WHEN label = 0 AND kept = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              CAST(sum(CASE WHEN label = 1 AND kept = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
              CAST(sum(CASE WHEN label = 0 AND kept = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM kk)
         SELECT tp, fp, fn, tn,
           CASE WHEN tp + fp > 0 THEN
             CAST(CAST((CAST(tp AS HUGEINT) * 2000000 + (tp + fp))
               // (2 * CAST(tp + fp AS HUGEINT)) AS BIGINT) AS DOUBLE)
               / 1000000.0 END AS precision,
           CASE WHEN tp + fn > 0 THEN
             CAST(CAST((CAST(tp AS HUGEINT) * 2000000 + (tp + fn))
               // (2 * CAST(tp + fn AS HUGEINT)) AS BIGINT) AS DOUBLE)
               / 1000000.0 END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0 THEN
             CAST(CAST((CAST(2 * tp AS HUGEINT) * 2000000 + (2 * tp + fp + fn))
               // (2 * CAST(2 * tp + fp + fn AS HUGEINT)) AS BIGINT) AS DOUBLE)
               / 1000000.0 END AS f1,
           CASE WHEN tp + fp + fn + tn > 0 THEN
             CAST(CAST((CAST(tp + tn AS HUGEINT) * 2000000 + (tp + fp + fn + tn))
               // (2 * CAST(tp + fp + fn + tn AS HUGEINT)) AS BIGINT) AS DOUBLE)
               / 1000000.0 END AS accuracy
         FROM ag""",
    // q55: the plant replayed — parsed rows pass through, malformed
    // lines (%13, truncated brace) surface as all-null + the raw line
    "q55_corrupt_json" ->
      """SELECT doc_id, lang, n_chars, 0 AS is_corrupt,
           CAST(NULL AS VARCHAR) AS raw
         FROM documents WHERE doc_id % 13 <> 0
         UNION ALL
         SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS lang,
           CAST(NULL AS BIGINT) AS n_chars, 1 AS is_corrupt,
           '{"doc_id":' || doc_id || ',"lang":"' || lang
             || '","n_chars":' || n_chars AS raw
         FROM documents WHERE doc_id % 13 = 0
         ORDER BY doc_id, raw""",
    // d28: plant replay + last-token block + levenshtein verify + the
    // block-bounded best-match window — both engines' levenshtein is
    // the standard unit-cost edit distance
    // d28: plant appends 'q' to the %5 rows (LAST-token edit), then the
    // union of last-token and first-token blockings (tagged, DISTINCT
    // candidate pairs) — the thresholded-DP/length-band prunes are
    // lossless so the oracle needs only the plain levenshtein filter
    "d28_fuzzy_join" ->
      """WITH dirty AS (SELECT p_partkey AS dirty_id,
             CASE WHEN p_partkey % 5 = 2 THEN p_name || 'q'
                  WHEN p_partkey % 3 = 0 THEN 'x' || substr(p_name, 2)
                  WHEN p_partkey % 3 = 1 THEN 'z' || p_name
                  ELSE p_name END AS dname FROM part),
         dn AS (SELECT dirty_id, dname, 0 AS tag,
                string_split(dname, ' ')[-1] AS blk FROM dirty
                UNION ALL
                SELECT dirty_id, dname, 1,
                string_split(dname, ' ')[1] FROM dirty),
         cn AS (SELECT p_partkey AS cat_id, p_name AS cname, 0 AS tag,
                string_split(p_name, ' ')[-1] AS blk FROM part
                UNION ALL
                SELECT p_partkey, p_name, 1,
                string_split(p_name, ' ')[1] FROM part),
         cand AS (SELECT DISTINCT dn.dirty_id, dn.dname, cn.cat_id, cn.cname
              FROM dn JOIN cn USING (tag, blk)),
         lv AS (SELECT *, levenshtein(dname, cname) AS lev FROM cand
                WHERE levenshtein(dname, cname) <= 2),
         r AS (SELECT *, row_number() OVER
                (PARTITION BY dirty_id ORDER BY lev, cat_id) AS rk FROM lv)
         SELECT dirty_id, dname AS dirty_name, cat_id AS matched_id,
           cname AS matched_name, CAST(lev AS INTEGER) AS lev
         FROM r WHERE rk = 1 ORDER BY dirty_id""",
    // c43: the c30 Horner bucket at dim 32, combinable counts, sqrt
    // norm, decimal-6 weights — sparse rows only
    "c43_hashed_embeddings" ->
      s"""WITH tk AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         bk AS (SELECT doc_id,
              (list_reduce([ord(c) for c in string_split(term, '')],
                (a, b) -> (a * 31 + b) % 1000003) % 1000003) % 32 AS dim
            FROM tk),
         ct AS (SELECT doc_id, dim, count(*) AS cnt FROM bk GROUP BY 1, 2),
         nm AS (SELECT doc_id, sqrt(CAST(sum(cnt * cnt) AS DOUBLE)) AS nrm
            FROM ct GROUP BY 1)
         SELECT ct.doc_id, CAST(ct.dim AS INTEGER) AS dim, ct.cnt,
           CAST(CAST(CAST(ct.cnt AS DOUBLE) / nm.nrm AS DECIMAL(38,6))
             AS DOUBLE) AS weight
         FROM ct JOIN nm ON nm.doc_id = ct.doc_id
         ORDER BY ct.doc_id, ct.dim""",
    // d11: the incremental probe replayed — union-bucket cap, UNCAPPED
    // batch probe joining the capped build side, (min,max) pair
    // normalization, exact-Jaccard verify over the staged signatures
    // c62: plant replay is implicit in the STAGED sigs (the gate signed
    // the augmented corpus); banding/cap/cross-split candidates/verify
    // replayed relationally — the d11 idiom with the probe restricted
    // to corpus docs and the build side to benchmark docs
    "c62_fuzzy_contamination" ->
      """WITH banded AS (SELECT doc_id, band, bh
           FROM read_parquet('__GRAFT_STAGE__/c62_banded/*.parquet')),
         bsz AS (SELECT band, bh, count(*) AS n FROM banded GROUP BY 1, 2),
         admitted AS (SELECT b.doc_id, b.band, b.bh
           FROM banded b JOIN bsz ON b.band = bsz.band AND b.bh = bsz.bh
           WHERE bsz.n <= 1000),
         cand AS (SELECT DISTINCT p.doc_id AS doc_id, a.doc_id AS bench_id
           FROM banded p JOIN admitted a
             ON p.band = a.band AND p.bh = a.bh
           WHERE p.doc_id % 97 <> 0 AND a.doc_id % 97 = 0),
         sh AS (SELECT doc_id, hsh, shn
           FROM read_parquet('__GRAFT_STAGE__/c62_sigs/*.parquet')),
         v AS (SELECT c.doc_id, c.bench_id,
           CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
             / (sa.shn + sb.shn - len(list_intersect(sa.hsh, sb.hsh))) AS jacc
           FROM cand c JOIN sh sa ON sa.doc_id = c.doc_id
             JOIN sh sb ON sb.doc_id = c.bench_id)
         SELECT doc_id, bench_id, jacc FROM v WHERE jacc >= 0.5 ORDER BY 1, 2""",
    "d11_incremental" ->
      """WITH banded AS (SELECT doc_id, band, bh
           FROM read_parquet('__GRAFT_STAGE__/d11_banded/*.parquet')),
         bsz AS (SELECT band, bh, count(*) AS n FROM banded GROUP BY 1, 2),
         admitted AS (SELECT b.doc_id, b.band, b.bh
           FROM banded b JOIN bsz ON b.band = bsz.band AND b.bh = bsz.bh
           WHERE bsz.n <= 1000),
         cand AS (
           SELECT DISTINCT least(p.doc_id, a.doc_id) AS doc_a,
             greatest(p.doc_id, a.doc_id) AS doc_b
           FROM banded p JOIN admitted a
             ON p.band = a.band AND p.bh = a.bh AND p.doc_id <> a.doc_id
           WHERE p.doc_id % 2 = 0),
         sh AS (SELECT doc_id, hsh, shn
           FROM read_parquet('__GRAFT_STAGE__/d11_sigs/*.parquet')),
         v AS (
           SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
               / (sa.shn + sb.shn - len(list_intersect(sa.hsh, sb.hsh))) AS jacc
           FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
             JOIN sh sb ON sb.doc_id = c.doc_b)
         SELECT doc_a, doc_b, jacc FROM v WHERE jacc >= 0.5 ORDER BY 1, 2""",
    // d19: the d11 probe replay produces the new-pair set; recursive CC
    // over star edges (member → old label, preserving each affected
    // cluster's connectivity) ∪ new pairs relabels the affected subgraph;
    // untouched clusters keep their staged labels via the CASE — the
    // relational mirror of Dedup.clusterMaintenance
    "d19_cluster_maintenance" ->
      """WITH RECURSIVE banded AS (SELECT doc_id, band, bh
           FROM read_parquet('__GRAFT_STAGE__/d19_banded/*.parquet')),
         bsz AS (SELECT band, bh, count(*) AS n FROM banded GROUP BY 1, 2),
         admitted AS (SELECT b.doc_id, b.band, b.bh
           FROM banded b JOIN bsz ON b.band = bsz.band AND b.bh = bsz.bh
           WHERE bsz.n <= 1000),
         cand AS (
           SELECT DISTINCT least(p.doc_id, a.doc_id) AS doc_a,
             greatest(p.doc_id, a.doc_id) AS doc_b
           FROM banded p JOIN admitted a
             ON p.band = a.band AND p.bh = a.bh AND p.doc_id <> a.doc_id
           WHERE p.doc_id % 2 = 0),
         sh AS (SELECT doc_id, hsh, shn
           FROM read_parquet('__GRAFT_STAGE__/d19_sigs/*.parquet')),
         np AS (
           SELECT c.doc_a AS a, c.doc_b AS b
           FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
             JOIN sh sb ON sb.doc_id = c.doc_b
           WHERE CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
             / (sa.shn + sb.shn - len(list_intersect(sa.hsh, sb.hsh))) >= 0.5),
         assign AS (SELECT doc_id, cluster_id
           FROM read_parquet('__GRAFT_STAGE__/d19_assign/*.parquet')),
         touched AS (SELECT a AS n FROM np UNION SELECT b AS n FROM np),
         aff AS (SELECT DISTINCT s.cluster_id FROM assign s
           JOIN touched t ON s.doc_id = t.n),
         am AS (SELECT s.doc_id, s.cluster_id FROM assign s
           JOIN aff ON s.cluster_id = aff.cluster_id),
         e AS (SELECT doc_id AS a, cluster_id AS b FROM am
               WHERE doc_id <> cluster_id
               UNION SELECT a, b FROM np),
         bidir AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         nodes AS (SELECT DISTINCT a AS n FROM bidir),
         reach(n, m) AS (SELECT n, n FROM nodes UNION
           SELECT bidir.a, reach.m FROM bidir JOIN reach ON reach.n = bidir.b),
         lab AS (SELECT n, min(m) AS cluster_id FROM reach GROUP BY n),
         pop AS (SELECT doc_id, cluster_id AS old_cl, 1 AS corp FROM assign
                 UNION ALL
                 SELECT doc_id, doc_id AS old_cl, 0 AS corp FROM documents
                 WHERE doc_id % 2 = 0)
         SELECT p.doc_id,
           CASE WHEN p.corp = 1 AND p.old_cl NOT IN (SELECT cluster_id FROM aff)
                THEN p.old_cl ELSE coalesce(lab.cluster_id, p.doc_id) END
             AS cluster_id
         FROM pop p LEFT JOIN lab ON lab.n = p.doc_id ORDER BY p.doc_id""",
    // st14: the d11 replay over st14's own (re-derived, deterministic)
    // staged signature tables — the streaming union of per-micro-batch
    // probes equals the batch recompute (see minhashIngestFileStream)
    "st14_neardup_stream" ->
      """WITH banded AS (SELECT doc_id, band, bh
           FROM read_parquet('__GRAFT_STAGE__/st14_banded/*.parquet')),
         bsz AS (SELECT band, bh, count(*) AS n FROM banded GROUP BY 1, 2),
         admitted AS (SELECT b.doc_id, b.band, b.bh
           FROM banded b JOIN bsz ON b.band = bsz.band AND b.bh = bsz.bh
           WHERE bsz.n <= 1000),
         cand AS (
           SELECT DISTINCT least(p.doc_id, a.doc_id) AS doc_a,
             greatest(p.doc_id, a.doc_id) AS doc_b
           FROM banded p JOIN admitted a
             ON p.band = a.band AND p.bh = a.bh AND p.doc_id <> a.doc_id
           WHERE p.doc_id % 2 = 0),
         sh AS (SELECT doc_id, hsh, shn
           FROM read_parquet('__GRAFT_STAGE__/st14_sigs/*.parquet')),
         v AS (
           SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
               / (sa.shn + sb.shn - len(list_intersect(sa.hsh, sb.hsh))) AS jacc
           FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
             JOIN sh sb ON sb.doc_id = c.doc_b)
         SELECT doc_a, doc_b, jacc FROM v WHERE jacc >= 0.5 ORDER BY 1, 2""",
    // d15: simhash incremental — CAPPED probe and build (unlike d11's
    // uncapped probe: mirrors the Scala exactly), symmetric hamming
    // verify, (min,max)+distinct collapse
    "d15_simhash_incremental" ->
      """WITH sg AS (SELECT doc_id, sig
           FROM read_parquet('__GRAFT_STAGE__/d15_sigs/*.parquet')),
         banded AS (
           SELECT doc_id, sig, c, (sig >> (c * 16)) & 65535 AS chunk
           FROM sg, unnest(generate_series(0, 3)) AS t(c)),
         sizes AS (SELECT c, chunk FROM (
             SELECT c, chunk, count(*) AS bsz FROM banded GROUP BY 1, 2)
           WHERE bsz <= 1000),
         target AS (SELECT b.doc_id, b.sig, b.c, b.chunk
           FROM banded b JOIN sizes ON b.c = sizes.c AND b.chunk = sizes.chunk),
         probe AS (SELECT * FROM target WHERE doc_id % 2 = 0)
         SELECT DISTINCT least(p.doc_id, t.doc_id) AS doc_a,
           greatest(p.doc_id, t.doc_id) AS doc_b,
           CAST(bit_count(xor(p.sig, t.sig)) AS INTEGER) AS dist
         FROM probe p JOIN target t
           ON p.c = t.c AND p.chunk = t.chunk AND p.doc_id <> t.doc_id
         WHERE bit_count(xor(p.sig, t.sig)) <= 3
         ORDER BY 1, 2""",
    // d3: 4×16-bit chunk banding, bucket cap, candidate join and the
    // xor/bit_count hamming verify all replay over the staged codes
    "d3_dedup_simhash" ->
      """WITH sg AS (SELECT doc_id, sig
           FROM read_parquet('__GRAFT_STAGE__/d3_sigs/*.parquet')),
         banded AS (
           SELECT doc_id, sig, c, (sig >> (c * 16)) & 65535 AS chunk
           FROM sg, unnest(generate_series(0, 3)) AS t(c)),
         sized AS (
           SELECT doc_id, sig, c, chunk FROM (
             SELECT doc_id, sig, c, chunk,
               count(*) OVER (PARTITION BY c, chunk) AS bsz FROM banded)
           WHERE bsz <= 1000),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b
           FROM sized a JOIN sized b
             ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS dist
         FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
         ORDER BY 1, 2""",
    "d5_embed_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                    CAST(b.embedding AS DOUBLE[])) AS DECIMAL(38,6)) >= 0.45
         ORDER BY 1, 2""",
    // d8 is the banded-LSH candidate stage + exact verify: output must
    // EQUAL the exact all-pairs truth set (full recall with the seeded
    // planes at this θ) — so its oracle IS the d5 oracle.
    "d8_embed_lsh_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                    CAST(b.embedding AS DOUBLE[])) AS DECIMAL(38,6)) >= 0.45
         ORDER BY 1, 2""",
    // d13 = the exact pair set restricted to batch-touching pairs (the
    // odd-id corpus's internal pairs are excluded — found at corpus-build
    // time); full oracle by d8's full-recall argument for the seeded
    // 1-bit banding at θ=0.45.
    "d13_embed_incremental" -> embedIncrementalSql,
    // st22: the streamed union over micro-batches equals the batch d13
    // run (probe state grows batch by batch — the st14 posture), so the
    // same brute-force replay gates it
    "st22_embed_stream" -> embedIncrementalSql,
    // q37 = the q16 oracle verbatim: the custom sorted-merge as-of
    // SparkPlan must reproduce the window formulation exactly.
    "q37_asof_exec" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS se FROM events
           WHERE event_type IN ('purchase', 'signup')),
         f AS (SELECT *, last_value(CASE WHEN event_type = 'signup' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY se, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ref_value FROM e)
         SELECT event_id, user_id, se, value, ref_value FROM f
         WHERE event_type = 'purchase' ORDER BY event_id""",
    "q35_type_concat" ->
      """SELECT user_id,
         array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types
         FROM events GROUP BY 1 ORDER BY 1""",
    "q36_modal_type" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS n
                    FROM events GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER
               (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn FROM c)
         SELECT user_id, event_type AS modal_type, n FROM r WHERE rn = 1 ORDER BY 1""",
    // st7 = the st1 oracle verbatim: the streaming windowed aggregation
    // must drain to exactly the batch tumbling-window table.
    "st7_tumbling_stream" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
          event_type, count(*) AS n, ${dsum("value")} AS sum_value
          FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // st6: streaming dedup over a source with every event duplicated
    // across micro-batches must drain to exactly the original table.
    "st6_dedup_stream" ->
      """SELECT event_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
         user_id, event_type, value FROM events ORDER BY event_id""",
    // s4 = the s1 oracle with every vector as a query (k-NN graph);
    // same decimal-rounded cosine ordering, same id tie-break.
    "s4_knn_graph" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT q.vec_id AS q_id, c.vec_id AS id_b,
               list_cosine_similarity(q.v, c.v) AS cos
               FROM v q JOIN v c ON c.vec_id <> q.vec_id),
         r AS (SELECT q_id, id_b, CAST(row_number() OVER
               (PARTITION BY q_id ORDER BY CAST(cos AS DECIMAL(38,6)) DESC, id_b)
               AS INTEGER) AS rank FROM p)
         SELECT q_id, id_b AS neighbor_id, rank FROM r WHERE rank <= 3 ORDER BY q_id, rank""",
    // s2: the multi-probe candidate set is exactly hamming ≤ 1 on the
    // staged 8-bit codes; ranking is s1's decimal-6 cosine shape
    "s2_ann_lsh" ->
      """WITH cd AS (SELECT vec_id, code
           FROM read_parquet('__GRAFT_STAGE__/s2_codes/*.parquet')),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT q.vec_id AS q_id, c.vec_id AS id_b,
               list_cosine_similarity(qv.v, cv.v) AS cos
               FROM cd q JOIN cd c
                 ON q.vec_id < 10 AND c.vec_id <> q.vec_id
                 AND bit_count(xor(q.code, c.code)) <= 1
               JOIN v qv ON qv.vec_id = q.vec_id
               JOIN v cv ON cv.vec_id = c.vec_id),
         r AS (SELECT q_id, id_b, CAST(row_number() OVER
               (PARTITION BY q_id ORDER BY CAST(cos AS DECIMAL(38,6)) DESC, id_b)
               AS INTEGER) AS rank FROM p)
         SELECT q_id, id_b AS neighbor_id, rank FROM r WHERE rank <= 5 ORDER BY q_id, rank""",
    // s16: s1's exact CTE joined against s2's staged-code approx CTE,
    // per-query overlap → recall (bigint/bigint division, decimal-6)
    "s16_ann_eval" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pe AS (SELECT q.vec_id AS q_id, c.vec_id AS id_b,
               list_cosine_similarity(q.v, c.v) AS cos
               FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         ex AS (SELECT q_id, id_b FROM (
                SELECT q_id, id_b, row_number() OVER
                  (PARTITION BY q_id ORDER BY CAST(cos AS DECIMAL(38,6)) DESC, id_b)
                  AS rank FROM pe) WHERE rank <= 5),
         cd AS (SELECT vec_id, code
           FROM read_parquet('__GRAFT_STAGE__/s16_codes/*.parquet')),
         pa AS (SELECT q.vec_id AS q_id, c.vec_id AS id_b,
               list_cosine_similarity(qv.v, cv.v) AS cos
               FROM cd q JOIN cd c
                 ON q.vec_id < 10 AND c.vec_id <> q.vec_id
                 AND bit_count(xor(q.code, c.code)) <= 1
               JOIN v qv ON qv.vec_id = q.vec_id
               JOIN v cv ON cv.vec_id = c.vec_id),
         ap AS (SELECT q_id, id_b FROM (
                SELECT q_id, id_b, row_number() OVER
                  (PARTITION BY q_id ORDER BY CAST(cos AS DECIMAL(38,6)) DESC, id_b)
                  AS rank FROM pa) WHERE rank <= 5),
         hit AS (SELECT ex.q_id, count(*) AS n_exact,
                 count(ap.id_b) AS n_hit
                 FROM ex LEFT JOIN ap
                   ON ap.q_id = ex.q_id AND ap.id_b = ex.id_b
                 GROUP BY 1),
         an AS (SELECT q_id, count(*) AS n_approx FROM ap GROUP BY 1)
         SELECT hit.q_id, hit.n_exact, coalesce(an.n_approx, 0) AS n_approx,
           hit.n_hit,
           CAST(CAST(CAST(hit.n_hit AS DOUBLE) / hit.n_exact AS DECIMAL(38,6))
             AS DOUBLE) AS recall
         FROM hit LEFT JOIN an ON an.q_id = hit.q_id
         ORDER BY hit.q_id""",
    // s5: same staged-code replay, every vector a query, k = 3
    // s22: staged-code edge replay (the s5 shape) + the 3 beam rounds
    // unrolled — every rank is decimal-6 cosine + id, no float ties
    // s25: routing replayed as a flat top-`entries` scan of the staged
    // level ≥ 1 tier, base edges (m=6) from the staged codes, the 3
    // beam rounds unrolled — decimal-6 cosine + id ranks throughout
    "s25_routed_ann" -> {
      val hops = (1 to 3).map { h =>
        s""",
         c$h AS (SELECT DISTINCT q_id, cand FROM (
                 SELECT q_id, cand FROM f${h - 1}
                 UNION ALL
                 SELECT f.q_id, e.dst AS cand FROM f${h - 1} f JOIN e ON e.src = f.cand)),
         s$h AS (SELECT q_id, cand, row_number() OVER
                 (PARTITION BY q_id ORDER BY cos6 DESC, cand) AS rk FROM
                 (SELECT c.q_id, c.cand,
                  CAST(list_cosine_similarity(qv.vq, wv.v) AS DECIMAL(38,6)) AS cos6
                  FROM c$h c JOIN qq qv ON qv.q_id = c.q_id
                  JOIN v wv ON wv.vec_id = c.cand) w$h),
         f$h AS (SELECT q_id, cand FROM s$h WHERE rk <= 8)"""
      }.mkString
      s"""WITH cd AS (SELECT vec_id, code
           FROM read_parquet('__GRAFT_STAGE__/s25_codes/*.parquet')),
         lv AS (SELECT vec_id, level
           FROM read_parquet('__GRAFT_STAGE__/s25_levels/*.parquet')),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT q.vec_id AS q_id, c.vec_id AS id_b,
               list_cosine_similarity(qv.v, cv.v) AS cos
               FROM cd q JOIN cd c
                 ON c.vec_id <> q.vec_id
                 AND bit_count(xor(q.code, c.code)) <= 1
               JOIN v qv ON qv.vec_id = q.vec_id
               JOIN v cv ON cv.vec_id = c.vec_id),
         rr AS (SELECT q_id, id_b, row_number() OVER
               (PARTITION BY q_id ORDER BY CAST(cos AS DECIMAL(38,6)) DESC, id_b)
               AS rank FROM p),
         e AS (SELECT q_id AS src, id_b AS dst FROM rr WHERE rank <= 6),
         qq AS (SELECT vec_id AS q_id, v AS vq FROM v WHERE vec_id < 10),
         rt AS (SELECT q_id, cand, row_number() OVER
               (PARTITION BY q_id ORDER BY cos6 DESC, cand) AS rk FROM
               (SELECT qv.q_id, s.vec_id AS cand,
                CAST(list_cosine_similarity(qv.vq, wv.v) AS DECIMAL(38,6)) AS cos6
                FROM lv s CROSS JOIN qq qv
                JOIN v wv ON wv.vec_id = s.vec_id
                WHERE s.level >= 1) z0),
         f0 AS (SELECT q_id, cand FROM rt WHERE rk <= 4)$hops
         SELECT q_id, cand AS neighbor_id, CAST(rk AS INTEGER) AS rank
         FROM s3 WHERE rk <= 5 ORDER BY q_id, rank"""
    },
    "s22_graph_ann" -> {
      val hops = (1 to 3).map { h =>
        s""",
         c$h AS (SELECT DISTINCT q_id, cand FROM (
                 SELECT q_id, cand FROM f${h - 1}
                 UNION ALL
                 SELECT f.q_id, e.dst AS cand FROM f${h - 1} f JOIN e ON e.src = f.cand)),
         s$h AS (SELECT q_id, cand, row_number() OVER
                 (PARTITION BY q_id ORDER BY cos6 DESC, cand) AS rk FROM
                 (SELECT c.q_id, c.cand,
                  CAST(list_cosine_similarity(qv.vq, wv.v) AS DECIMAL(38,6)) AS cos6
                  FROM c$h c JOIN qq qv ON qv.q_id = c.q_id
                  JOIN v wv ON wv.vec_id = c.cand) z$h),
         f$h AS (SELECT q_id, cand FROM s$h WHERE rk <= 8)"""
      }.mkString
      s"""WITH cd AS (SELECT vec_id, code
           FROM read_parquet('__GRAFT_STAGE__/s22_codes/*.parquet')),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT q.vec_id AS q_id, c.vec_id AS id_b,
               list_cosine_similarity(qv.v, cv.v) AS cos
               FROM cd q JOIN cd c
                 ON c.vec_id <> q.vec_id
                 AND bit_count(xor(q.code, c.code)) <= 1
               JOIN v qv ON qv.vec_id = q.vec_id
               JOIN v cv ON cv.vec_id = c.vec_id),
         rr AS (SELECT q_id, id_b, row_number() OVER
               (PARTITION BY q_id ORDER BY CAST(cos AS DECIMAL(38,6)) DESC, id_b)
               AS rank FROM p),
         e AS (SELECT q_id AS src, id_b AS dst FROM rr WHERE rank <= 3),
         qq AS (SELECT vec_id AS q_id, v AS vq FROM v WHERE vec_id < 10),
         en AS (SELECT vec_id AS cand FROM embeddings ORDER BY vec_id LIMIT 4),
         c0 AS (SELECT q_id, cand FROM qq CROSS JOIN en),
         s0 AS (SELECT q_id, cand, row_number() OVER
               (PARTITION BY q_id ORDER BY cos6 DESC, cand) AS rk FROM
               (SELECT c.q_id, c.cand,
                CAST(list_cosine_similarity(qv.vq, wv.v) AS DECIMAL(38,6)) AS cos6
                FROM c0 c JOIN qq qv ON qv.q_id = c.q_id
                JOIN v wv ON wv.vec_id = c.cand) z0),
         f0 AS (SELECT q_id, cand FROM s0 WHERE rk <= 8)$hops
         SELECT q_id, cand AS neighbor_id, CAST(rk AS INTEGER) AS rank
         FROM s3 WHERE rk <= 5 ORDER BY q_id, rank"""
    },
    "s5_knn_lsh_graph" ->
      """WITH cd AS (SELECT vec_id, code
           FROM read_parquet('__GRAFT_STAGE__/s5_codes/*.parquet')),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT q.vec_id AS q_id, c.vec_id AS id_b,
               list_cosine_similarity(qv.v, cv.v) AS cos
               FROM cd q JOIN cd c
                 ON c.vec_id <> q.vec_id
                 AND bit_count(xor(q.code, c.code)) <= 1
               JOIN v qv ON qv.vec_id = q.vec_id
               JOIN v cv ON cv.vec_id = c.vec_id),
         r AS (SELECT q_id, id_b, CAST(row_number() OVER
               (PARTITION BY q_id ORDER BY CAST(cos AS DECIMAL(38,6)) DESC, id_b)
               AS INTEGER) AS rank FROM p)
         SELECT q_id, id_b AS neighbor_id, rank FROM r WHERE rank <= 3 ORDER BY q_id, rank""",
    // s19: the s1 slate cut at decimal-6 micro-units, candidate-pair
    // cosines, then the 4 greedy MMR rounds unrolled — every score is
    // the INTEGER 7·c6 − 3·m6, so no float tie can split engines
    "s19_mmr_rerank" -> {
      val rounds = (2 to 5).map { r =>
        s""",
         ms$r AS (SELECT cp.q_id, cp.a, max(cp.p6) AS m6 FROM cp
                  JOIN pp${r - 1} p ON p.q_id = cp.q_id AND p.id_b = cp.b
                  GROUP BY 1, 2),
         sel$r AS (SELECT c.q_id, c.id_b, row_number() OVER
                  (PARTITION BY c.q_id
                   ORDER BY (7 * c.c6 - 3 * m.m6) DESC, c.id_b) AS rk
                  FROM cand c JOIN ms$r m ON m.q_id = c.q_id AND m.a = c.id_b
                  WHERE NOT EXISTS (SELECT 1 FROM pp${r - 1} p
                    WHERE p.q_id = c.q_id AND p.id_b = c.id_b)),
         p$r AS (SELECT q_id, id_b, $r AS rank FROM sel$r WHERE rk = 1),
         pp$r AS (SELECT * FROM pp${r - 1} UNION ALL SELECT * FROM p$r)"""
      }.mkString
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pr AS (SELECT q.vec_id AS q_id, c.vec_id AS id_b,
              CAST(CAST(list_cosine_similarity(q.v, c.v) AS DECIMAL(38,6))
                * 1000000 AS BIGINT) AS c6
              FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         cand AS (SELECT q_id, id_b, c6 FROM
              (SELECT q_id, id_b, c6, row_number() OVER
               (PARTITION BY q_id ORDER BY c6 DESC, id_b) AS rk FROM pr) z
              WHERE rk <= 20),
         cp AS (SELECT x.q_id, x.id_b AS a, y.id_b AS b,
              CAST(CAST(list_cosine_similarity(va.v, vb.v) AS DECIMAL(38,6))
                * 1000000 AS BIGINT) AS p6
              FROM cand x JOIN cand y ON y.q_id = x.q_id AND y.id_b <> x.id_b
              JOIN v va ON va.vec_id = x.id_b JOIN v vb ON vb.vec_id = y.id_b),
         p1x AS (SELECT q_id, id_b FROM
              (SELECT q_id, id_b, row_number() OVER
               (PARTITION BY q_id ORDER BY c6 DESC, id_b) AS rk FROM cand) z
              WHERE rk = 1),
         pp1 AS (SELECT q_id, id_b, 1 AS rank FROM p1x)$rounds
         SELECT q_id, id_b AS neighbor_id, rank FROM pp5 ORDER BY q_id, rank"""
    },
    // s17: the s5 edge replay, canonicalized + degree-oriented exactly
    // as the Spark side, wedges closed at the lowest-order vertex,
    // every triangle credited to all three corners — all integers
    "s17_triangles" ->
      s"""${lshEdgeCtes("s17_codes")},
         und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                 FROM e WHERE src <> dst),
         dg AS (SELECT id, count(*) AS deg FROM
                (SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und) x
                GROUP BY 1),
         ori AS (SELECT
                 CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                   THEN u.a ELSE u.b END AS u,
                 CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                   THEN u.b ELSE u.a END AS v,
                 CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                   THEN db.deg ELSE da.deg END AS dv
                 FROM und u JOIN dg da ON da.id = u.a JOIN dg db ON db.id = u.b),
         tri AS (SELECT e1.u, e1.v AS y, e2.v AS z
                 FROM ori e1 JOIN ori e2 ON e2.u = e1.u
                   AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
                 WHERE EXISTS (SELECT 1 FROM ori c
                   WHERE c.u = e1.v AND c.v = e2.v))
         SELECT id AS vec_id, count(*) AS n_triangles FROM
           (SELECT u AS id FROM tri UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri) t
         GROUP BY 1 ORDER BY 1""",
    // s18: fa's rk-1/rk-2 distances ARE a and b; sqrt of the clamped
    // decimal-6 square, decimal-6 s, exact-decimal cluster mean
    "s18_silhouette" ->
      s"""${kmeansCtes("s18_seeds")},
         ab AS (SELECT a.vec_id, a.cid AS cluster,
                sqrt(greatest(CAST(a.d6 AS DOUBLE), CAST(0 AS DOUBLE))) AS sa,
                sqrt(greatest(CAST(b.d6 AS DOUBLE), CAST(0 AS DOUBLE))) AS sb
                FROM fa a JOIN fa b ON b.vec_id = a.vec_id AND b.rk = 2
                WHERE a.rk = 1),
         si AS (SELECT vec_id, cluster,
                CASE WHEN greatest(sa, sb) > 0 THEN
                  CAST(CAST((sb - sa) / greatest(sa, sb) AS DECIMAL(38,6)) AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS s
                FROM ab)
         SELECT cluster, count(*) AS n_points,
           CAST(CAST(CAST(sum(CAST(s AS DECIMAL(28,6))) AS DOUBLE) / count(*)
             AS DECIMAL(38,6)) AS DOUBLE) AS mean_silhouette
         FROM si GROUP BY 1 ORDER BY 1""",
    // d26: the planted recrawl replayed (deletion wins over change),
    // then digest-only full-outer accounting
    "d26_snapshot_diff" ->
      """WITH nxt AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 2 THEN text || ' [recrawled]'
               ELSE text END AS text
           FROM documents WHERE doc_id % 11 <> 3
           UNION ALL
           SELECT -doc_id - 1 AS doc_id,
             'fresh page ' || CAST(doc_id AS VARCHAR) AS text
           FROM documents WHERE doc_id % 13 = 4),
         a AS (SELECT doc_id, md5(text) AS h_a FROM documents),
         b AS (SELECT doc_id, md5(text) AS h_b FROM nxt)
         SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'deleted'
                WHEN h_a = h_b THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
         ORDER BY doc_id""",
    // s8: the s5 edge replay feeding the label-propagation rounds
    // unrolled as CTEs — labels and counts are integers, the per-round
    // argmax is rank-by-(count DESC, label ASC), so the replay is exact
    "s8_label_prop" ->
      s"""${lshEdgeCtes("s8_codes")},
         und AS (SELECT DISTINCT src, dst FROM
                 (SELECT src, dst FROM e
                  UNION ALL SELECT dst AS src, src AS dst FROM e) b),
         l0 AS (SELECT DISTINCT src AS id, src AS label FROM und)${
        (1 to 5).map { i =>
          s""",
         l$i AS (SELECT dst AS id, label FROM
                (SELECT u.dst, l.label, row_number() OVER
                 (PARTITION BY u.dst ORDER BY count(*) DESC, l.label) AS rn
                 FROM und u JOIN l${i - 1} l ON u.src = l.id
                 GROUP BY u.dst, l.label) g WHERE rn = 1)"""
        }.mkString}
         SELECT id AS vec_id, label FROM l5 ORDER BY vec_id""",
    // s21: the same staged-code edge replay, canonical undirected
    // edges, then 8 synchronous peeling rounds unrolled (degree count +
    // both-endpoint filter per round — integer arithmetic throughout).
    // Every round CTE is MATERIALIZED: each level references the
    // previous one several times, so un-materialized inlining expands
    // the base scan ~5^8-fold and DuckDB falls over re-globbing the
    // staged parquet (observed as a spurious "No files found")
    "s21_kcore" ->
      s"""${lshEdgeCtes("s21_codes")},
         e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
                greatest(src, dst) AS b
                FROM e WHERE src <> dst),
         d0 AS MATERIALIZED (SELECT n, count(*) AS c FROM
                 (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
         e1 AS MATERIALIZED (SELECT e0.a, e0.b FROM e0
                 JOIN d0 da ON da.n = e0.a AND da.c >= 3
                 JOIN d0 db ON db.n = e0.b AND db.c >= 3),
         d1 AS MATERIALIZED (SELECT n, count(*) AS c FROM
                 (SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1) GROUP BY 1),
         e2 AS MATERIALIZED (SELECT e1.a, e1.b FROM e1
                 JOIN d1 da ON da.n = e1.a AND da.c >= 3
                 JOIN d1 db ON db.n = e1.b AND db.c >= 3),
         d2 AS MATERIALIZED (SELECT n, count(*) AS c FROM
                 (SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2) GROUP BY 1),
         e3 AS MATERIALIZED (SELECT e2.a, e2.b FROM e2
                 JOIN d2 da ON da.n = e2.a AND da.c >= 3
                 JOIN d2 db ON db.n = e2.b AND db.c >= 3),
         d3 AS MATERIALIZED (SELECT n, count(*) AS c FROM
                 (SELECT a AS n FROM e3 UNION ALL SELECT b FROM e3) GROUP BY 1),
         e4 AS MATERIALIZED (SELECT e3.a, e3.b FROM e3
                 JOIN d3 da ON da.n = e3.a AND da.c >= 3
                 JOIN d3 db ON db.n = e3.b AND db.c >= 3),
         d4 AS MATERIALIZED (SELECT n, count(*) AS c FROM
                 (SELECT a AS n FROM e4 UNION ALL SELECT b FROM e4) GROUP BY 1),
         e5 AS MATERIALIZED (SELECT e4.a, e4.b FROM e4
                 JOIN d4 da ON da.n = e4.a AND da.c >= 3
                 JOIN d4 db ON db.n = e4.b AND db.c >= 3),
         d5 AS MATERIALIZED (SELECT n, count(*) AS c FROM
                 (SELECT a AS n FROM e5 UNION ALL SELECT b FROM e5) GROUP BY 1),
         e6 AS MATERIALIZED (SELECT e5.a, e5.b FROM e5
                 JOIN d5 da ON da.n = e5.a AND da.c >= 3
                 JOIN d5 db ON db.n = e5.b AND db.c >= 3),
         d6 AS MATERIALIZED (SELECT n, count(*) AS c FROM
                 (SELECT a AS n FROM e6 UNION ALL SELECT b FROM e6) GROUP BY 1),
         e7 AS MATERIALIZED (SELECT e6.a, e6.b FROM e6
                 JOIN d6 da ON da.n = e6.a AND da.c >= 3
                 JOIN d6 db ON db.n = e6.b AND db.c >= 3),
         d7 AS MATERIALIZED (SELECT n, count(*) AS c FROM
                 (SELECT a AS n FROM e7 UNION ALL SELECT b FROM e7) GROUP BY 1),
         e8 AS MATERIALIZED (SELECT e7.a, e7.b FROM e7
                 JOIN d7 da ON da.n = e7.a AND da.c >= 3
                 JOIN d7 db ON db.n = e7.b AND db.c >= 3)
         SELECT n AS vec_id, CAST(count(*) AS BIGINT) AS core_degree
         FROM (SELECT a AS n FROM e8 UNION ALL SELECT b FROM e8)
         GROUP BY 1 ORDER BY 1""",
    // s7: same edge replay, then the 10 damped power iterations
    // unrolled — rank/deg and the damping update are single IEEE double
    // ops on both engines, the inflow sum is exact DECIMAL(38,18) (the
    // one double→decimal cast rounds a dyadic rational whose digit-19
    // tail is never an exact half — same residual class as c20's ln
    // note), and the k-NN graph has no dangling nodes by construction
    // (bucket sharing is symmetric), so the dangling-mass term is 0
    "s7_pagerank" ->
      s"""${lshEdgeCtes("s7_codes")},
         n AS (SELECT DISTINCT src AS id FROM
               (SELECT src FROM e UNION ALL SELECT dst AS src FROM e) b),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM n),
         dg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         r0 AS (SELECT id, CAST(1 AS DOUBLE) / nn.n AS rank FROM n CROSS JOIN nn)${
        (1 to 10).map { i =>
          s""",
         c$i AS (SELECT e.dst, CAST(sum(CAST(r.rank / dg.deg AS DECIMAL(38,18)))
                 AS DOUBLE) AS inflow
                 FROM e JOIN dg ON e.src = dg.src JOIN r${i - 1} r ON e.src = r.id
                 GROUP BY e.dst),
         r$i AS (SELECT n.id,
                 (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                   + CAST(0.85 AS DOUBLE) * COALESCE(c.inflow, CAST(0 AS DOUBLE))
                   AS rank
                 FROM n CROSS JOIN nn LEFT JOIN c$i c ON n.id = c.dst)"""
        }.mkString}
         SELECT id AS vec_id, CAST(CAST(rank AS DECIMAL(38,12)) AS DOUBLE) AS rank
         FROM r10 ORDER BY vec_id""",
    // s24: the shared edge replay feeds a recursive-CTE BFS; UNION
    // (deduping) recursion bounded by hop < 4, min-hop collapse makes
    // the level a set property (order-independent on both engines)
    "s24_bfs_hops" ->
      s"""WITH RECURSIVE ${lshEdgeCtes("s24_codes").stripPrefix("WITH ")},
         bfs AS (
           SELECT CAST(s.vec_id AS BIGINT) AS vec_id, 0 AS hop
           FROM (SELECT unnest(generate_series(0, 2)) AS vec_id) s
           UNION
           SELECT e.dst AS vec_id, bfs.hop + 1 AS hop
           FROM bfs JOIN e ON e.src = bfs.vec_id WHERE bfs.hop < 4)
         SELECT vec_id, min(hop) AS hop FROM bfs GROUP BY 1 ORDER BY 1""",
    // s27: the rank-weighted edge replay feeds a recursive-CTE
    // Bellman-Ford; hop-bounded UNION recursion (paths of <= 8 edges —
    // exactly the 8-round synchronous relax invariant), min-dist
    // collapse. Integer weights ⇒ exact path sums on both engines.
    "s27_sssp" ->
      s"""WITH RECURSIVE ${lshEdgeCtes("s27_codes", withRank = true)
             .stripPrefix("WITH ")},
         sp AS (
           SELECT CAST(s.vec_id AS BIGINT) AS vec_id,
             CAST(0 AS BIGINT) AS dist, 0 AS hop
           FROM (SELECT unnest(generate_series(0, 2)) AS vec_id) s
           UNION
           SELECT e.dst AS vec_id, sp.dist + e.w AS dist, sp.hop + 1 AS hop
           FROM sp JOIN e ON e.src = sp.vec_id WHERE sp.hop < 8)
         SELECT vec_id, min(dist) AS dist FROM sp GROUP BY 1 ORDER BY 1""",
    // s14: s1's ranking discipline on the RAW inner product
    "s14_mips" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT q.vec_id AS q_id, c.vec_id AS id_b,
               list_inner_product(q.v, c.v) AS ip
               FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         r AS (SELECT q_id, id_b, CAST(row_number() OVER
               (PARTITION BY q_id ORDER BY CAST(ip AS DECIMAL(38,6)) DESC, id_b)
               AS INTEGER) AS rank FROM p)
         SELECT q_id, id_b AS neighbor_id, rank FROM r WHERE rank <= 5 ORDER BY q_id, rank""",
    "s1_ann_brute" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT q.vec_id AS q_id, c.vec_id AS id_b,
               list_cosine_similarity(q.v, c.v) AS cos
               FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         r AS (SELECT q_id, id_b, CAST(row_number() OVER
               (PARTITION BY q_id ORDER BY CAST(cos AS DECIMAL(38,6)) DESC, id_b)
               AS INTEGER) AS rank FROM p)
         SELECT q_id, id_b AS neighbor_id, rank FROM r WHERE rank <= 5 ORDER BY q_id, rank""",
    // s11: PQ replay over the staged codebook model — per-(vec,
    // subspace) integer-quantized L2 argmin over round(x·4096) BIGINTs
    // (exact in both engines — the s13 discipline; ties → smallest cid, the ivf
    // discipline), centroid-concatenation reconstruction, then s1's
    // decimal-6 cosine ranking of raw queries vs reconstructions;
    // subvector offset = subsp·len(c) so the SQL is m/sub-agnostic
    "s11_pq_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cb AS (SELECT subsp, cid, CAST(c AS DOUBLE[]) AS c
                FROM read_parquet('__GRAFT_STAGE__/s11_codebooks/*.parquet')),
         d2 AS (SELECT e.vec_id, cb.subsp, cb.cid,
                list_sum([(CAST(round(e.v[cb.subsp * len(cb.c) + i] * 4096) AS BIGINT)
                         - CAST(round(cb.c[i] * 4096) AS BIGINT))
                        * (CAST(round(e.v[cb.subsp * len(cb.c) + i] * 4096) AS BIGINT)
                         - CAST(round(cb.c[i] * 4096) AS BIGINT))
                  for i in generate_series(1, len(cb.c))]) AS d
                FROM e, cb),
         asn AS (SELECT vec_id, subsp, cid FROM (
                 SELECT vec_id, subsp, cid, row_number() OVER
                   (PARTITION BY vec_id, subsp ORDER BY d, cid) AS rn FROM d2)
                 WHERE rn = 1),
         recon AS (SELECT a.vec_id, a.subsp * len(cb.c) + i AS pos, cb.c[i] AS val
                   FROM asn a JOIN cb ON cb.subsp = a.subsp AND cb.cid = a.cid,
                   unnest(generate_series(1, len(cb.c))) AS t(i)),
         rn AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM recon GROUP BY 1
                HAVING sqrt(sum(val * val)) > 0),
         qx AS (SELECT vec_id AS q_id, unnest([{'pos': i, 'val': v[i]}
                  for i in generate_series(1, len(v))], recursive := true)
                FROM e WHERE vec_id < 10),
         qn AS (SELECT q_id, sqrt(sum(val * val)) AS nrm FROM qx GROUP BY 1),
         dp AS (SELECT q.q_id, r.vec_id AS id_b, sum(q.val * r.val) AS dp
                FROM qx q JOIN recon r ON r.pos = q.pos AND r.vec_id <> q.q_id
                GROUP BY 1, 2),
         p AS (SELECT dp.q_id, dp.id_b, dp.dp / (qn.nrm * rnn.nrm) AS cos
               FROM dp JOIN qn ON qn.q_id = dp.q_id
               JOIN rn rnn ON rnn.vec_id = dp.id_b),
         r AS (SELECT q_id, id_b, CAST(row_number() OVER
               (PARTITION BY q_id ORDER BY CAST(cos AS DECIMAL(38,6)) DESC, id_b)
               AS INTEGER) AS rank FROM p)
         SELECT q_id, id_b AS neighbor_id, rank FROM r WHERE rank <= 5
         ORDER BY q_id, rank""",
    // s13: the sign is the c3 mod-prime hash of (i, j) — identical
    // integer algebra; round(x·4096) is exact-binary scaling + the
    // ties-away-from-zero double round both engines share (a decimal
    // cast is NOT tie-stable — see the randomProjection scaladoc);
    // signed sums are pure BIGINT, /16384 exact power-of-two scaling
    // s26: integer projection replay from the staged mean/component
    // grids — the double forms are exact 2^-40 exponent shifts of the
    // BIGINT numerators, identical in any IEEE engine
    "s26_pca" ->
      """WITH mu AS (SELECT dim, muq
             FROM read_parquet('__GRAFT_STAGE__/s26_mu/*.parquet')),
         w AS (SELECT pc, dim, wq
             FROM read_parquet('__GRAFT_STAGE__/s26_w/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         x AS (SELECT vec_id, i - 1 AS dim,
               CAST(round(v[i] * 1048576) AS BIGINT) AS qx
               FROM e, unnest(generate_series(1, len(v))) AS t(i)),
         pr AS (SELECT x.vec_id, w.pc,
                CAST(sum((x.qx - mu.muq) * w.wq) AS BIGINT) AS num
                FROM x JOIN mu ON mu.dim = x.dim JOIN w ON w.dim = x.dim
                GROUP BY 1, 2)
         SELECT vec_id,
           max(CASE WHEN pc = 0 THEN num END) AS pc1_q,
           max(CASE WHEN pc = 1 THEN num END) AS pc2_q,
           CAST(max(CASE WHEN pc = 0 THEN num END) AS DOUBLE)
             / 1099511627776 AS pc1,
           CAST(max(CASE WHEN pc = 1 THEN num END) AS DOUBLE)
             / 1099511627776 AS pc2
         FROM pr GROUP BY vec_id ORDER BY vec_id""",
    "s13_rand_proj" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         x AS (SELECT vec_id, i - 1 AS i,
               CAST(round(v[i] * 4096) AS BIGINT) AS q
               FROM e, unnest(generate_series(1, len(v))) AS t(i)),
         pr AS (SELECT vec_id, j,
                CAST(sum(q *
                  (((((i * 8191 + j) % 1000003) * 2654435761 + 104729)
                    % 1000003) % 2 * 2 - 1)) AS DOUBLE) / 16384 AS val
                FROM x, unnest(generate_series(0, 15)) AS u(j)
                GROUP BY 1, 2)
         SELECT vec_id, CAST(j AS INTEGER) AS pos, val FROM pr
         ORDER BY vec_id, pos""",
    // s12: s3's cell replay (staged pivots → decimal-6 argmin cell,
    // 8-cell query probe) composed with s11's PQ replay (staged
    // codebooks → integer-quantized L2 argmin codes → reconstruction) — the
    // candidate set is cell-matched, scoring is raw-query vs
    // reconstruction (ADC), ranking s1's decimal-6 discipline
    "s12_ivf_pq" ->
      """WITH pid AS (SELECT pivot_id
           FROM read_parquet('__GRAFT_STAGE__/s12_pivots/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pv AS (SELECT pid.pivot_id, e.v AS pvec FROM pid
                JOIN e ON e.vec_id = pid.pivot_id),
         sc AS (SELECT e.vec_id, pv.pivot_id,
                CAST((list_inner_product(e.v, pv.pvec) * CAST(-1 AS DOUBLE)) /
                     (sqrt(list_inner_product(e.v, e.v)) *
                      sqrt(list_inner_product(pv.pvec, pv.pvec)))
                     AS DECIMAL(38,6)) AS negcos
                FROM e CROSS JOIN pv),
         rkc AS (SELECT vec_id, pivot_id, row_number() OVER
                 (PARTITION BY vec_id ORDER BY negcos, pivot_id) AS rk FROM sc),
         corp AS (SELECT vec_id AS id_b, pivot_id AS cell FROM rkc WHERE rk = 1),
         qc AS (SELECT vec_id AS q_id, pivot_id AS cell FROM rkc
                WHERE vec_id < 10 AND rk <= 8),
         cb AS (SELECT subsp, cid, CAST(c AS DOUBLE[]) AS c
                FROM read_parquet('__GRAFT_STAGE__/s12_codebooks/*.parquet')),
         d2 AS (SELECT e.vec_id, cb.subsp, cb.cid,
                list_sum([(CAST(round(e.v[cb.subsp * len(cb.c) + i] * 4096) AS BIGINT)
                         - CAST(round(cb.c[i] * 4096) AS BIGINT))
                        * (CAST(round(e.v[cb.subsp * len(cb.c) + i] * 4096) AS BIGINT)
                         - CAST(round(cb.c[i] * 4096) AS BIGINT))
                  for i in generate_series(1, len(cb.c))]) AS d
                FROM e, cb),
         asn AS (SELECT vec_id, subsp, cid FROM (
                 SELECT vec_id, subsp, cid, row_number() OVER
                   (PARTITION BY vec_id, subsp ORDER BY d, cid) AS rn FROM d2)
                 WHERE rn = 1),
         recon AS (SELECT a.vec_id, a.subsp * len(cb.c) + i AS pos, cb.c[i] AS val
                   FROM asn a JOIN cb ON cb.subsp = a.subsp AND cb.cid = a.cid,
                   unnest(generate_series(1, len(cb.c))) AS t(i)),
         rn AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM recon GROUP BY 1
                HAVING sqrt(sum(val * val)) > 0),
         qx AS (SELECT vec_id AS q_id, unnest([{'pos': i, 'val': v[i]}
                  for i in generate_series(1, len(v))], recursive := true)
                FROM e WHERE vec_id < 10),
         qn AS (SELECT q_id, sqrt(sum(val * val)) AS nrm FROM qx GROUP BY 1),
         cand AS (SELECT q.q_id, c.id_b FROM qc q
                  JOIN corp c ON c.cell = q.cell AND c.id_b <> q.q_id),
         dp AS (SELECT cd.q_id, cd.id_b, sum(q.val * r.val) AS dp
                FROM cand cd
                JOIN qx q ON q.q_id = cd.q_id
                JOIN recon r ON r.vec_id = cd.id_b AND r.pos = q.pos
                GROUP BY 1, 2),
         p AS (SELECT dp.q_id, dp.id_b, dp.dp / (qn.nrm * rnn.nrm) AS cos
               FROM dp JOIN qn ON qn.q_id = dp.q_id
               JOIN rn rnn ON rnn.vec_id = dp.id_b),
         r AS (SELECT q_id, id_b, CAST(row_number() OVER
               (PARTITION BY q_id ORDER BY CAST(cos AS DECIMAL(38,6)) DESC, id_b)
               AS INTEGER) AS rank FROM p)
         SELECT q_id, id_b AS neighbor_id, rank FROM r WHERE rank <= 5
         ORDER BY q_id, rank""",
    // s15: s12's replay with the RESIDUAL (IVFADC-proper) encoding —
    // the staged codebooks were fit on v − pivot(cell), so the code
    // argmin quantizes the residual (one IEEE subtract per coordinate,
    // bit-identical both engines, then the shared round(x·4096) integer
    // domain) and reconstruction is pivot + decoded residual
    "s15_ivfadc" ->
      """WITH pid AS (SELECT pivot_id
           FROM read_parquet('__GRAFT_STAGE__/s15_pivots/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pv AS (SELECT pid.pivot_id, e.v AS pvec FROM pid
                JOIN e ON e.vec_id = pid.pivot_id),
         sc AS (SELECT e.vec_id, pv.pivot_id,
                CAST((list_inner_product(e.v, pv.pvec) * CAST(-1 AS DOUBLE)) /
                     (sqrt(list_inner_product(e.v, e.v)) *
                      sqrt(list_inner_product(pv.pvec, pv.pvec)))
                     AS DECIMAL(38,6)) AS negcos
                FROM e CROSS JOIN pv),
         rkc AS (SELECT vec_id, pivot_id, row_number() OVER
                 (PARTITION BY vec_id ORDER BY negcos, pivot_id) AS rk FROM sc),
         corp AS (SELECT vec_id AS id_b, pivot_id AS cell FROM rkc WHERE rk = 1),
         qc AS (SELECT vec_id AS q_id, pivot_id AS cell FROM rkc
                WHERE vec_id < 10 AND rk <= 8),
         cb AS (SELECT subsp, cid, CAST(c AS DOUBLE[]) AS c
                FROM read_parquet('__GRAFT_STAGE__/s15_codebooks/*.parquet')),
         d2 AS (SELECT e.vec_id, cb.subsp, cb.cid,
                list_sum([(CAST(round((e.v[cb.subsp * len(cb.c) + i]
                                     - cp.pvec[cb.subsp * len(cb.c) + i]) * 4096) AS BIGINT)
                         - CAST(round(cb.c[i] * 4096) AS BIGINT))
                        * (CAST(round((e.v[cb.subsp * len(cb.c) + i]
                                     - cp.pvec[cb.subsp * len(cb.c) + i]) * 4096) AS BIGINT)
                         - CAST(round(cb.c[i] * 4096) AS BIGINT))
                  for i in generate_series(1, len(cb.c))]) AS d
                FROM e
                JOIN corp ON corp.id_b = e.vec_id
                JOIN pv cp ON cp.pivot_id = corp.cell, cb),
         asn AS (SELECT vec_id, subsp, cid FROM (
                 SELECT vec_id, subsp, cid, row_number() OVER
                   (PARTITION BY vec_id, subsp ORDER BY d, cid) AS rn FROM d2)
                 WHERE rn = 1),
         recon AS (SELECT a.vec_id, a.subsp * len(cb.c) + i AS pos,
                   cp.pvec[a.subsp * len(cb.c) + i] + cb.c[i] AS val
                   FROM asn a JOIN cb ON cb.subsp = a.subsp AND cb.cid = a.cid
                   JOIN corp ON corp.id_b = a.vec_id
                   JOIN pv cp ON cp.pivot_id = corp.cell,
                   unnest(generate_series(1, len(cb.c))) AS t(i)),
         rn AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM recon GROUP BY 1
                HAVING sqrt(sum(val * val)) > 0),
         qx AS (SELECT vec_id AS q_id, unnest([{'pos': i, 'val': v[i]}
                  for i in generate_series(1, len(v))], recursive := true)
                FROM e WHERE vec_id < 10),
         qn AS (SELECT q_id, sqrt(sum(val * val)) AS nrm FROM qx GROUP BY 1),
         cand AS (SELECT q.q_id, c.id_b FROM qc q
                  JOIN corp c ON c.cell = q.cell AND c.id_b <> q.q_id),
         dp AS (SELECT cd.q_id, cd.id_b, sum(q.val * r.val) AS dp
                FROM cand cd
                JOIN qx q ON q.q_id = cd.q_id
                JOIN recon r ON r.vec_id = cd.id_b AND r.pos = q.pos
                GROUP BY 1, 2),
         p AS (SELECT dp.q_id, dp.id_b, dp.dp / (qn.nrm * rnn.nrm) AS cos
               FROM dp JOIN qn ON qn.q_id = dp.q_id
               JOIN rn rnn ON rnn.vec_id = dp.id_b),
         r AS (SELECT q_id, id_b, CAST(row_number() OVER
               (PARTITION BY q_id ORDER BY CAST(cos AS DECIMAL(38,6)) DESC, id_b)
               AS INTEGER) AS rank FROM p)
         SELECT q_id, id_b AS neighbor_id, rank FROM r WHERE rank <= 5
         ORDER BY q_id, rank""",
    // s10: the quantization model (per-dim min/max) and the codes both
    // replay relationally — (x-mn)·255/(mx-mn) is the same three IEEE
    // ops in both engines, the integer round goes through the decimal-6
    // boundary, and quantized dots/norms are exact integer sums
    "s10_quantized_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         x AS (SELECT vec_id, unnest([{'d': i, 'val': v[i]}
                 for i in generate_series(1, len(v))], recursive := true) FROM e),
         mm AS (SELECT d, min(val) AS mn, max(val) AS mx FROM x GROUP BY 1),
         c AS (SELECT vec_id, d,
               CASE WHEN mm.mx > mm.mn THEN
                 least(CAST(255 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                   CAST(round(CAST((val - mm.mn) * CAST(255 AS DOUBLE) / (mm.mx - mm.mn)
                     AS DECIMAL(38,6)), 0) AS DOUBLE)))
               ELSE CAST(0 AS DOUBLE) END AS code
               FROM x JOIN mm USING (d)),
         n AS (SELECT vec_id, sqrt(sum(code * code)) AS nrm FROM c GROUP BY 1
               HAVING sqrt(sum(code * code)) > 0),
         dp AS (SELECT q.vec_id AS q_id, b.vec_id AS id_b, sum(q.code * b.code) AS dp
                FROM c q JOIN c b ON q.d = b.d AND q.vec_id < 10 AND b.vec_id <> q.vec_id
                GROUP BY 1, 2),
         p AS (SELECT dp.q_id, dp.id_b, dp.dp / (nq.nrm * nb.nrm) AS cos
               FROM dp JOIN n nq ON nq.vec_id = dp.q_id
                       JOIN n nb ON nb.vec_id = dp.id_b),
         r AS (SELECT q_id, id_b, CAST(row_number() OVER
               (PARTITION BY q_id ORDER BY CAST(cos AS DECIMAL(38,6)) DESC, id_b)
               AS INTEGER) AS rank FROM p)
         SELECT q_id, id_b AS neighbor_id, rank FROM r WHERE rank <= 5 ORDER BY q_id, rank""",
    // s6: staged seeds → 5 unrolled Lloyd iterations → final assignment
    "s6_kmeans" ->
      s"""${kmeansCtes("s6_seeds")}
         SELECT vec_id, cid AS cluster FROM fa WHERE rk = 1 ORDER BY vec_id""",
    // s20: the s6 clustering replay (own staged seed copy), then the
    // parity-split cell occupancies over the FULL 0..k-1 spine, exact
    // per-mille rates and the HUGEINT cross-multiplied rate-shift flag
    "s20_drift" -> driftSql("s20_seeds"),
    // s23: the Lloyd replay's final ct5 centroid table + batch-side
    // exact decimal sums, the same HALF_UP scale-12 integer division
    // the fit itself uses
    "s23_centroid_update" ->
      s"""${kmeansCtes("s23_seeds")},
         ncc AS (SELECT cid, count(*) AS n FROM fa
                 WHERE rk = 1 GROUP BY cid),
         bs AS (SELECT g.cid, u.pos,
             sum(CAST(u.x AS DECIMAL(28,12))) AS s12, count(*) AS nb
           FROM fa g JOIN vx u ON u.vec_id = g.vec_id
           WHERE g.rk = 1 AND g.vec_id % 2 = 1 GROUP BY 1, 2),
         up AS (SELECT c.cid AS cluster, CAST(c.pos AS INTEGER) AS pos,
             c.cx AS old_cx,
             CAST(COALESCE(n.n, 0) AS BIGINT) AS nc,
             CAST(COALESCE(bs.nb, 0) AS BIGINT) AS nb,
             COALESCE(bs.s12, CAST(0 AS DECIMAL(38,12))) AS s12
           FROM ct5 c LEFT JOIN ncc n ON n.cid = c.cid
             LEFT JOIN bs ON bs.cid = c.cid AND bs.pos = c.pos),
         -- all-HUGEINT numerator: centroid coordinates are scale-12
         -- values, so round(cx·1e12) recovers the exact unscaled
         -- integer; the s12·1e12 shift is the proven sm-CTE idiom
         nm AS (SELECT *,
             CAST(round(old_cx * 1000000000000) AS HUGEINT) * nc
               + CAST(s12 * 1000000000000 AS HUGEINT) AS n12
           FROM up)
         SELECT cluster, pos, old_cx,
           CASE WHEN nc + nb > 0 THEN
             CAST((CASE WHEN n12 < 0 THEN -1 ELSE 1 END) *
               ((2 * abs(n12) + (nc + nb)) //
                (2 * CAST(nc + nb AS HUGEINT))) AS DOUBLE)
               / 1000000000000.0
           ELSE old_cx END AS new_cx,
           nc AS n_corpus, nb AS n_batch
         FROM nm ORDER BY cluster, pos""",
    // st28: the SAME SQL over the stream gate's own staged seed copy —
    // cell counts are additive across micro-batches, so the streamed
    // monitor equals the batch monitor by construction
    "st28_drift_stream" -> driftSql("st28_seeds"),
    // d21: the s6 clustering replay (staged seeds), then SemDeDup's
    // within-cluster decimal-6 cosine pairs → recursive-reachability
    // components → keep = most-central member (d6 from fa, vec_id ties)
    "d21_semdedup" ->
      s"""${kmeansCtes("d21_seeds")},
         asg AS (SELECT vec_id, cid AS cluster, d6 FROM fa WHERE rk = 1),
         e AS (SELECT x.vec_id AS a, y.vec_id AS b
               FROM asg x JOIN asg y ON y.cluster = x.cluster AND x.vec_id < y.vec_id
               JOIN v ea ON ea.vec_id = x.vec_id
               JOIN v eb ON eb.vec_id = y.vec_id
               WHERE CAST(list_cosine_similarity(ea.v, eb.v) AS DECIMAL(38,6)) >= 0.45),
         bidir AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         nodes AS (SELECT DISTINCT a AS n FROM bidir),
         reach(n, m) AS (SELECT n, n FROM nodes UNION
           SELECT bidir.a, reach.m FROM bidir JOIN reach ON reach.n = bidir.b),
         lab AS (SELECT n, min(m) AS comp FROM reach GROUP BY n),
         cmp AS (SELECT asg.vec_id, asg.cluster, asg.d6,
                 coalesce(lab.comp, asg.vec_id) AS comp_id
                 FROM asg LEFT JOIN lab ON lab.n = asg.vec_id),
         rk2 AS (SELECT vec_id, cluster, comp_id, row_number() OVER
                 (PARTITION BY comp_id ORDER BY d6, vec_id) AS r FROM cmp)
         SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, comp_id,
           (r = 1) AS keep FROM rk2 ORDER BY vec_id""",
    // s9: the s6 replay + per-cluster centrality rank (decimal-6
    // distance, vec_id ties), top 10 per cluster
    "s9_diversity_sample" ->
      s"""${kmeansCtes("s9_seeds")},
         asg AS (SELECT vec_id, cid AS cluster, d6 FROM fa WHERE rk = 1),
         rnk AS (SELECT cluster, CAST(row_number() OVER
                 (PARTITION BY cluster ORDER BY d6, vec_id) AS INTEGER) AS rank,
                 vec_id FROM asg)
         SELECT cluster, rank, vec_id FROM rnk WHERE rank <= 10
         ORDER BY cluster, rank""",
    // s3: staged pivot ids → decimal-6 argmin cell assignment → 8-cell
    // probe for the queries → s1's decimal-6 cosine ranking. A (q, c)
    // pair meets at most once (the corpus side has ONE cell), so no
    // dedup is needed before the ranking.
    "s3_ann_ivf" ->
      """WITH pid AS (SELECT pivot_id
           FROM read_parquet('__GRAFT_STAGE__/s3_pivots/*.parquet')),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pv AS (SELECT pid.pivot_id, v.v AS pvec FROM pid
                JOIN v ON v.vec_id = pid.pivot_id),
         sc AS (SELECT v.vec_id, pv.pivot_id,
                CAST((list_inner_product(v.v, pv.pvec) * CAST(-1 AS DOUBLE)) /
                     (sqrt(list_inner_product(v.v, v.v)) *
                      sqrt(list_inner_product(pv.pvec, pv.pvec)))
                     AS DECIMAL(38,6)) AS negcos
                FROM v CROSS JOIN pv),
         rkc AS (SELECT vec_id, pivot_id, row_number() OVER
                 (PARTITION BY vec_id ORDER BY negcos, pivot_id) AS rk FROM sc),
         corp AS (SELECT vec_id AS id_b, pivot_id AS cell FROM rkc WHERE rk = 1),
         qc AS (SELECT vec_id AS q_id, pivot_id AS cell FROM rkc
                WHERE vec_id < 10 AND rk <= 8),
         p AS (SELECT q.q_id, c.id_b, list_cosine_similarity(qv.v, cv.v) AS cos
               FROM qc q JOIN corp c ON c.cell = q.cell AND c.id_b <> q.q_id
               JOIN v qv ON qv.vec_id = q.q_id
               JOIN v cv ON cv.vec_id = c.id_b),
         r AS (SELECT q_id, id_b, CAST(row_number() OVER
               (PARTITION BY q_id ORDER BY CAST(cos AS DECIMAL(38,6)) DESC, id_b)
               AS INTEGER) AS rank FROM p)
         SELECT q_id, id_b AS neighbor_id, rank FROM r WHERE rank <= 5 ORDER BY q_id, rank""",
    "t1_lang_id" ->
      s"""WITH s AS ($langScoresSql)
          SELECT doc_id, ${TextOps.langOrder.map(l => s"score_$l").mkString(", ")},
          $predLangCase AS pred_lang
          FROM s ORDER BY doc_id""",
    "t2_quality" ->
      s"""SELECT doc_id, n_words, punct_cnt, avg_word_len, stop_ratio,
          $qualityCase AS quality_score
          FROM ($qualityBaseSql) ORDER BY doc_id""",
    "t3_tokens" ->
      s"""SELECT doc_id, CAST(len($toks) AS INTEGER) AS ws_tokens,
          CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS INTEGER)
            AS re_tokens,
          CAST(ceil(CAST(length(text) AS DOUBLE) / 4) AS BIGINT) AS approx_bpe
          FROM documents ORDER BY doc_id""",
    "t4_fingerprint" ->
      """SELECT doc_id, CASE WHEN len(c) >= 4 THEN
           list_min([ord(c[i]) * 29791 + ord(c[i+1]) * 961
           + ord(c[i+2]) * 31 + ord(c[i+3])
           for i in generate_series(1, len(c)-3)])
           ELSE NULL END AS fp
         FROM (SELECT doc_id, string_split(text, '') AS c FROM documents)
         ORDER BY doc_id""",
    "m1_media_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
         upper(substring(hex(encode(text)), 1, 4)) AS magic_hex,
         ['image', 'audio', 'video'][(octet_length(encode(text)) % 3) + 1] AS media_type,
         CAST(64 + octet_length(encode(text)) % 577 AS INTEGER) AS width,
         CAST(64 + (octet_length(encode(text)) * 31) % 331 AS INTEGER) AS height,
         CAST(1 + octet_length(encode(text)) % 5 AS INTEGER) AS n_frames
         FROM documents ORDER BY doc_id""",
    "m4_media_text_gate" ->
      s"""WITH q AS ($qualityScoreSql)
          SELECT d.doc_id,
            ['image', 'audio', 'video'][(octet_length(encode(d.text)) % 3) + 1]
              AS media_type,
            CAST(1 + octet_length(encode(d.text)) % 5 AS INTEGER) AS n_frames,
            q.quality_score,
            CAST(CASE WHEN q.quality_score >= 2
              AND 1 + octet_length(encode(d.text)) % 5 <= 4
              THEN 1 ELSE 0 END AS INTEGER) AS keep
          FROM documents d JOIN q ON d.doc_id = q.doc_id
          ORDER BY d.doc_id""",
    // planted rows (doc_id % 16 = 0) replay the REAL decode: the planted
    // PNG is a lossless gray gradient, so mean luminance = avg over the
    // gradient — a single IEEE division of integer sums in both engines
    // m9: planted rows replay the dHash from the gradient plant formula
    // (nearest-neighbor 9×8 sample, right-neighbor comparison); text
    // rows replay the stub bit formula; both pack bits into two 32-bit
    // halves (1 << 63 overflows checked engines; halves replay anywhere)
    "m9_image_phash" ->
      s"""WITH $phashPlantCtes,
         st AS (
           SELECT doc_id, 0 AS is_real,
             CAST(SUM(CASE WHEN i >= 32
               THEN CAST(((doc_id*31 + i*7) % 997) % 2 AS BIGINT) << (i-32)
               ELSE 0 END) AS BIGINT) AS phash_hi,
             CAST(SUM(CASE WHEN i < 32
               THEN CAST(((doc_id*31 + i*7) % 997) % 2 AS BIGINT) << i
               ELSE 0 END) AS BIGINT) AS phash_lo
           FROM documents, unnest(generate_series(0, 63)) AS t(i)
           WHERE doc_id % 16 <> 0 GROUP BY doc_id)
         SELECT doc_id, CAST(is_real AS INTEGER) AS is_real, phash_hi, phash_lo
         FROM (SELECT doc_id, 1 AS is_real, hi AS phash_hi, lo AS phash_lo
               FROM re UNION ALL SELECT * FROM st) ORDER BY doc_id""",
    // d22: the m9 planted-tier replay joined brute-force — the 4-chunk
    // banding is full-recall at Hamming ≤ 3 (pigeonhole), so the
    // operator's banded+verified pair set equals this exhaustive filter
    "d22_phash_pairs" -> phashPairsSql(""),
    // d31: the d22 edge set + the d10 recursive-reachability replay,
    // labels joined back onto the real-tier signature rows
    "d31_phash_clusters" ->
      s"""WITH RECURSIVE $phashPlantCtes,
         e AS (SELECT a.doc_id AS a, b.doc_id AS b
           FROM re a JOIN re b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.hi::BIT, b.hi::BIT)) +
                 bit_count(xor(a.lo::BIT, b.lo::BIT)) <= 3),
         bidir AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         nodes AS (SELECT DISTINCT a AS n FROM bidir),
         reach(n, m) AS (SELECT n, n FROM nodes UNION
           SELECT bidir.a, reach.m FROM bidir JOIN reach ON reach.n = bidir.b),
         lab AS (SELECT n, min(m) AS cluster_id FROM reach GROUP BY n)
         SELECT re.doc_id, coalesce(lab.cluster_id, re.doc_id) AS cluster_id
         FROM re LEFT JOIN lab ON lab.n = re.doc_id ORDER BY 1""",
    // d23: the d22 brute-force replay RESTRICTED to batch-touching pairs
    // (batch = the doc_id/16-even half of the planted tier) — equality
    // with the banded incremental probe licensed by the recall guarantee
    "d23_phash_incremental" ->
      phashPairsSql(" AND (doc_a % 32 = 0 OR doc_b % 32 = 0)"),
    // st18: the streamed union over micro-batches equals the batch d23
    // result (probe state grows batch by batch — the st14 posture), so
    // the same restricted brute-force replay gates it
    "st18_phash_stream" ->
      phashPairsSql(" AND (doc_a % 32 = 0 OR doc_b % 32 = 0)"),
    "m2_media_features" ->
      """WITH planted AS (
           SELECT doc_id, CAST(4 + doc_id % 5 AS INTEGER) AS w,
                  CAST(3 + doc_id % 4 AS INTEGER) AS h
           FROM documents WHERE doc_id % 16 = 0),
         px AS (
           SELECT doc_id, w, h, (doc_id * 31 + x * 7 + y * 13) % 256 AS g
           FROM planted,
             unnest(generate_series(0, w - 1)) AS xs(x),
             unnest(generate_series(0, h - 1)) AS ys(y))
         SELECT doc_id, 0 AS frame_id,
           CAST(SUM(g) AS DOUBLE) / (255.0 * w * h) AS feat_mean,
           CAST(w * h AS INTEGER) AS feat_dim
         FROM px GROUP BY doc_id, w, h
         UNION ALL
         SELECT doc_id, CAST(f AS INTEGER) AS frame_id,
           CAST((doc_id * 31 + f * 7) % 997 AS DOUBLE) / 997.0 AS feat_mean,
           64 AS feat_dim
         FROM documents, unnest(generate_series(0, octet_length(encode(text)) % 5)) AS t(f)
         WHERE doc_id % 16 <> 0
         ORDER BY doc_id, frame_id""",
    // m5: planted rows replay the real header fields from the plant
    // formula; text rows replay the synthetic fallback from byte length
    // m8: planted rows replay the screen-descriptor fields from the
    // plant formula (gct_entries = 2^((id%8)+1)); text rows replay the
    // synthetic fallback from byte length
    "m8_gif_meta" ->
      """SELECT doc_id, 1 AS is_gif,
           CAST(16 + doc_id % 241 AS INTEGER) AS width,
           CAST(16 + doc_id % 199 AS INTEGER) AS height,
           CAST(power(2, (doc_id % 8) + 1) AS INTEGER) AS gct_entries,
           CAST(doc_id % 7 AS INTEGER) AS bg_index
         FROM documents WHERE doc_id % 8 = 0
         UNION ALL
         SELECT doc_id, 0 AS is_gif,
           CAST(32 + (octet_length(encode(text)) * 3) % 613 AS INTEGER) AS width,
           CAST(32 + (octet_length(encode(text)) * 11) % 479 AS INTEGER) AS height,
           0 AS gct_entries,
           CAST(octet_length(encode(text)) % 256 AS INTEGER) AS bg_index
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    // m11: planted rows replay the BMP plant formulas (24-bpp
    // bottom-up), text rows the synthetic fallback from byte length
    // m13: plant replay — version alternates, tag sizes all ≥ 128 so a
    // non-syncsafe read could never stay green
    // c55: the planted page replayed through the same extraction chain
    // (tag strip + whitespace collapse; the entity replaces are
    // identities on this corpus — no '&' in the generated text); only
    // %4==0 docs are containers, only their response record emits
    "c55_warc_ingest" -> warcIngestSql,
    // st26: container-disjoint micro-batches union to batch c55
    "st26_warc_stream" -> warcIngestSql,
    // m15: the plant formulas replayed — %4==0 docs are EXIF, %8==0 of
    // those carry GPS (3 IFD entries vs 2), coordinates are doc_id
    // moduli, the scrub zeroes 12+30+48=90 bytes and gps_after is 0
    "m16_png_gps" ->
      """SELECT doc_id, 1 AS is_exif, 'png' AS container,
           CAST(CASE WHEN doc_id % 8 = 0 THEN 3 ELSE 2 END AS INTEGER)
             AS n_entries,
           CAST(16 + doc_id % 53 AS INTEGER) AS width,
           CASE WHEN doc_id % 8 = 0 THEN 1 ELSE 0 END AS has_gps,
           CASE WHEN doc_id % 8 = 0 THEN CAST(doc_id % 90 AS BIGINT) END
             AS gps_lat_deg,
           CASE WHEN doc_id % 8 = 0 THEN CAST(doc_id % 180 AS BIGINT) END
             AS gps_lon_deg,
           0 AS gps_after,
           CAST(CASE WHEN doc_id % 8 = 0 THEN 90 ELSE 0 END AS BIGINT)
             AS n_zeroed
         FROM documents WHERE doc_id % 4 = 0
         UNION ALL
         SELECT doc_id, 0 AS is_exif, 'none' AS container, 0 AS n_entries,
           CAST(16 + (octet_length(encode(text)) * 3) % 521 AS INTEGER)
             AS width,
           0 AS has_gps, CAST(NULL AS BIGINT) AS gps_lat_deg,
           CAST(NULL AS BIGINT) AS gps_lon_deg, 0 AS gps_after,
           CAST(0 AS BIGINT) AS n_zeroed
         FROM documents WHERE doc_id % 4 <> 0
         ORDER BY doc_id""",
    "m15_exif_gps" ->
      """SELECT doc_id, 1 AS is_exif, 'jpeg' AS container,
           CAST(CASE WHEN doc_id % 8 = 0 THEN 3 ELSE 2 END AS INTEGER)
             AS n_entries,
           CAST(16 + doc_id % 53 AS INTEGER) AS width,
           CASE WHEN doc_id % 8 = 0 THEN 1 ELSE 0 END AS has_gps,
           CASE WHEN doc_id % 8 = 0 THEN CAST(doc_id % 90 AS BIGINT) END
             AS gps_lat_deg,
           CASE WHEN doc_id % 8 = 0 THEN CAST(doc_id % 180 AS BIGINT) END
             AS gps_lon_deg,
           0 AS gps_after,
           CAST(CASE WHEN doc_id % 8 = 0 THEN 90 ELSE 0 END AS BIGINT)
             AS n_zeroed
         FROM documents WHERE doc_id % 4 = 0
         UNION ALL
         SELECT doc_id, 0 AS is_exif, 'none' AS container, 0 AS n_entries,
           CAST(16 + (octet_length(encode(text)) * 3) % 521 AS INTEGER)
             AS width,
           0 AS has_gps, CAST(NULL AS BIGINT) AS gps_lat_deg,
           CAST(NULL AS BIGINT) AS gps_lon_deg, 0 AS gps_after,
           CAST(0 AS BIGINT) AS n_zeroed
         FROM documents WHERE doc_id % 4 <> 0
         ORDER BY doc_id""",
    // m14: the plant's framing replayed as pure byte arithmetic — each
    // record's absolute payload offset is version line (10) + type line
    // (21/20) + uri line (19+len(uri)) + length line (18+len(digits)) +
    // blank line (2) past its record start, and record 1's start is
    // record 0's offset + Content-Length + the trailing CRLF CRLF
    "m14_warc_records" ->
      """WITH w AS (SELECT doc_id,
             'http://w' || CAST(doc_id AS VARCHAR) || '.example.com/p' ||
               CAST(doc_id % 7 AS VARCHAR) AS uri,
             40 + doc_id % 100 AS cl0, 20 + doc_id % 50 AS cl1
           FROM documents WHERE doc_id % 4 = 0),
         w2 AS (SELECT doc_id, uri, cl0, cl1, length(uri) AS lu,
             length(CAST(cl0 AS VARCHAR)) AS l0,
             length(CAST(cl1 AS VARCHAR)) AS l1 FROM w),
         r0 AS (SELECT doc_id, 0 AS rec_idx, 1 AS is_warc,
             'response' AS warc_type, uri AS target_uri,
             CAST(cl0 AS INTEGER) AS content_length,
             CAST(71 + lu + l0 AS INTEGER) AS payload_off FROM w2),
         r1 AS (SELECT doc_id, 1 AS rec_idx, 1 AS is_warc,
             'request' AS warc_type, uri AS target_uri,
             CAST(cl1 AS INTEGER) AS content_length,
             CAST(71 + lu + l0 + cl0 + 73 + lu + l1 AS INTEGER)
               AS payload_off FROM w2),
         fb AS (SELECT doc_id, 0 AS rec_idx, 0 AS is_warc,
             'none' AS warc_type, CAST(NULL AS VARCHAR) AS target_uri,
             CAST(32 + (octet_length(encode(text)) * 7) % 997 AS INTEGER)
               AS content_length, 0 AS payload_off
           FROM documents WHERE doc_id % 4 <> 0)
         SELECT * FROM (SELECT * FROM r0 UNION ALL SELECT * FROM r1
                        UNION ALL SELECT * FROM fb)
         ORDER BY doc_id, rec_idx""",
    // m23: the plant formulas replayed, duration as the same integer
    // division; fallback duration is the exact 10000 identity
    "m23_flac_meta" ->
      """SELECT doc_id, 1 AS is_flac,
           CAST(8000 + (doc_id % 50) * 800 AS BIGINT) AS sample_rate,
           CAST(1 + doc_id % 8 AS INTEGER) AS channels,
           CAST(8 + (doc_id % 3) * 8 AS INTEGER) AS bits_per_sample,
           CAST(100000 + doc_id * 37 AS BIGINT) AS total_samples,
           CAST(((100000 + doc_id * 37) * 1000)
             // (8000 + (doc_id % 50) * 800) AS BIGINT) AS duration_ms
         FROM documents WHERE doc_id % 8 = 0
         UNION ALL
         SELECT doc_id, 0,
           CAST(8000 + (octet_length(encode(text)) * 13) % 4001 AS BIGINT),
           1, 16,
           CAST((8000 + (octet_length(encode(text)) * 13) % 4001) * 10
             AS BIGINT),
           CAST(10000 AS BIGINT)
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    // m22: plant replay — index formulas through the same published
    // tables (1-based list indexing), the same integer frame-length
    // formula, and the synthetic fallback
    "m22_mp3_frame" ->
      """WITH f AS (SELECT doc_id,
             CAST(1 + doc_id % 14 AS INTEGER) AS bri,
             CAST(doc_id % 3 AS INTEGER) AS sri,
             CAST(doc_id % 2 AS INTEGER) AS pad,
             CAST(doc_id % 4 AS INTEGER) AS md
           FROM documents WHERE doc_id % 8 = 0)
         SELECT doc_id, 1 AS is_mp3,
           ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[bri]
             AS bitrate_kbps,
           ([44100,48000,32000])[sri + 1] AS sample_rate,
           pad AS padding,
           CASE md WHEN 0 THEN 'stereo' WHEN 1 THEN 'joint'
             WHEN 2 THEN 'dual' ELSE 'mono' END AS mode,
           CAST((144000 * ([32,40,48,56,64,80,96,112,128,160,192,224,
               256,320])[bri])
             // (([44100,48000,32000])[sri + 1]) + pad AS BIGINT)
             AS frame_len
         FROM f
         UNION ALL
         SELECT doc_id, 0,
           CAST(64 + (octet_length(encode(text)) * 7) % 257 AS INTEGER),
           CAST(8064 + (octet_length(encode(text)) * 7) % 257 AS INTEGER),
           0, 'none',
           CAST(64 + (octet_length(encode(text)) * 7) % 257 AS BIGINT)
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    // m21: plant replay — names/sizes/typeflags as formulas, data
    // offsets as running sums of 512-padded entry sizes (the m19
    // arithmetic with TAR's block rounding)
    "m21_tar_meta" ->
      """WITH z AS (SELECT doc_id, unnest(range(
             CASE WHEN doc_id % 16 = 0 THEN 3 ELSE 2 END)) AS i
           FROM documents WHERE doc_id % 8 = 0),
         e AS (SELECT doc_id, CAST(i AS INTEGER) AS entry_idx,
             'f' || CAST(doc_id AS VARCHAR) || '_' ||
               CAST(i AS VARCHAR) || '.txt' AS name,
             CAST(10 + (doc_id * 7 + i * 13) % 600 AS BIGINT) AS size,
             '0' AS typeflag,
             512 + ((10 + (doc_id * 7 + i * 13) % 600 + 511) // 512) * 512
               AS esize
           FROM z)
         SELECT doc_id, entry_idx, name, size, typeflag,
           CAST(1 + COALESCE(sum(esize) OVER (PARTITION BY doc_id
               ORDER BY entry_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + 512 AS BIGINT) AS data_offset
         FROM e ORDER BY doc_id, entry_idx""",
    // m20: plant replay across the four encoding branches + the plain
    // corpus tier; char fields NULL where UTF-8 validity fails
    "m20_charset_sniff" -> charsetSql,
    // st30: the SAME SQL — the sniff reads only each payload's own
    // bytes, so the streamed union equals the batch run
    "st30_charset_stream" -> charsetSql,
    // m19: plant replay — entry fields as doc_id/ordinal formulas,
    // data offsets as the running sum of prior entry sizes (pure
    // arithmetic, the m14 byte-offset idiom)
    "m19_zip_meta" ->
      """WITH z AS (SELECT doc_id, unnest(range(
             CASE WHEN doc_id % 16 = 0 THEN 3 ELSE 2 END)) AS i
           FROM documents WHERE doc_id % 8 = 0),
         e AS (SELECT doc_id, CAST(i AS INTEGER) AS entry_idx,
             'doc' || CAST(doc_id AS VARCHAR) || '_' ||
               CAST(i AS VARCHAR) || '.txt' AS name,
             CAST(CASE WHEN i % 2 = 0 THEN 8 ELSE 0 END AS INTEGER)
               AS method,
             CAST(8 + (doc_id * 3 + i * 5) % 40 AS BIGINT) AS comp_size,
             CAST(8 + (doc_id * 3 + i * 5) % 40 + doc_id % 30 AS BIGINT)
               AS uncomp_size,
             30 + length('doc' || CAST(doc_id AS VARCHAR) || '_' ||
               CAST(i AS VARCHAR) || '.txt')
               + 8 + (doc_id * 3 + i * 5) % 40 AS esize
           FROM z)
         SELECT doc_id, entry_idx, name, method, comp_size, uncomp_size,
           CAST(1 + COALESCE(sum(esize) OVER (PARTITION BY doc_id
               ORDER BY entry_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + 30 + length(name) AS BIGINT) AS data_offset
         FROM e ORDER BY doc_id, entry_idx""",
    // m18: the plant formulas replayed across the three branches —
    // the lossy simple format, the extended VP8X header with its flag
    // bits, and the synthetic fallback
    "m18_webp_meta" ->
      """SELECT doc_id, 1 AS is_webp, 'VP8 ' AS format,
           CAST(32 + doc_id % 300 AS INTEGER) AS width,
           CAST(32 + doc_id % 280 AS INTEGER) AS height,
           0 AS has_alpha, 0 AS has_exif
         FROM documents WHERE doc_id % 16 = 0
         UNION ALL
         SELECT doc_id, 1, 'VP8X',
           CAST(32 + doc_id % 211 AS INTEGER),
           CAST(32 + doc_id % 191 AS INTEGER),
           CAST((doc_id // 8) % 2 AS INTEGER),
           CAST(CASE WHEN (doc_id // 8) % 3 = 0 THEN 1 ELSE 0 END
             AS INTEGER)
         FROM documents WHERE doc_id % 8 = 0 AND doc_id % 16 <> 0
         UNION ALL
         SELECT doc_id, 0, 'none',
           CAST(16 + (octet_length(encode(text)) * 7) % 367 AS INTEGER),
           CAST(16 + (octet_length(encode(text)) * 11) % 347 AS INTEGER),
           0, 0
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    // m17: the plant formulas replayed — quant list rebuilt via
    // list_transform over the doc_id-chosen modulus, mean as the
    // ratRound HUGEINT rational over the integer quant sum, bands as
    // integer sum cuts
    "m17_jpeg_dqt" ->
      """WITH f AS (SELECT doc_id, 4 + (doc_id % 3) * 30 AS m
           FROM documents WHERE doc_id % 8 = 0),
         q AS (SELECT doc_id,
             list_transform(range(64),
               i -> 1 + (doc_id * 7 + i * 3) % m) AS ql FROM f),
         s AS (SELECT doc_id, list_sum(ql) AS qsum, list_min(ql) AS qmin,
             list_max(ql) AS qmax FROM q)
         SELECT doc_id, 1 AS is_jpeg,
           CAST(CASE WHEN doc_id % 16 = 0 THEN 2 ELSE 1 END AS INTEGER)
             AS n_dqt,
           CAST(24 + doc_id % 43 AS INTEGER) AS width,
           CAST(24 + doc_id % 37 AS INTEGER) AS height,
           CAST(CAST((CAST(qsum AS HUGEINT) * 20000 + 64) // 128
             AS BIGINT) AS DOUBLE) / 10000.0 AS q_mean,
           CAST(qmin AS INTEGER) AS q_min, CAST(qmax AS INTEGER) AS q_max,
           CASE WHEN qsum <= 512 THEN 'high'
                WHEN qsum <= 1536 THEN 'medium' ELSE 'low' END AS band
         FROM s
         UNION ALL
         SELECT doc_id, 0 AS is_jpeg, 0 AS n_dqt,
           CAST(24 + (octet_length(encode(text)) * 3) % 433 AS INTEGER)
             AS width,
           CAST(24 + (octet_length(encode(text)) * 5) % 389 AS INTEGER)
             AS height,
           CAST(1 + octet_length(encode(text)) % 50 AS DOUBLE) AS q_mean,
           CAST(1 + octet_length(encode(text)) % 50 AS INTEGER) AS q_min,
           CAST(1 + octet_length(encode(text)) % 50 AS INTEGER) AS q_max,
           'none' AS band
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    // m24: the plant formulas replayed (version minor, page count, the
    // object census = pages + catalog + pages-node + info, title)
    "m24_pdf_meta" ->
      """SELECT doc_id, 1 AS is_pdf,
           '1.' || CAST((doc_id // 8) % 8 AS VARCHAR) AS version,
           CAST(3 + (1 + doc_id % 4) AS INTEGER) AS n_objects,
           CAST(1 + doc_id % 4 AS INTEGER) AS n_pages,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           1 AS has_eof
         FROM documents WHERE doc_id % 8 = 0
         UNION ALL
         SELECT doc_id, 0 AS is_pdf, '' AS version, 0 AS n_objects,
           0 AS n_pages, '' AS title, 0 AS has_eof
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    "m13_id3_meta" ->
      """SELECT doc_id, 1 AS is_id3,
           CAST(3 + (doc_id // 8) % 2 AS INTEGER) AS version,
           CAST(128 + doc_id % 900 AS INTEGER) AS tag_size
         FROM documents WHERE doc_id % 8 = 0
         UNION ALL
         SELECT doc_id, 0 AS is_id3, 0 AS version,
           CAST(64 + (octet_length(encode(text)) * 9) % 887 AS INTEGER) AS tag_size
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    // m12: the plant formulas replayed — endianness itself is a planted
    // datum ((doc_id // 8) % 2), which is the point of the TIFF gate
    "m12_tiff_meta" ->
      """SELECT doc_id, 1 AS is_tiff,
           CAST(CASE WHEN (doc_id // 8) % 2 = 0 THEN 1 ELSE 0 END AS INTEGER)
             AS little_endian,
           CAST(16 + doc_id % 53 AS INTEGER) AS width,
           CAST(16 + doc_id % 41 AS INTEGER) AS height,
           8 AS bits_per_sample
         FROM documents WHERE doc_id % 8 = 0
         UNION ALL
         SELECT doc_id, 0 AS is_tiff, 0 AS little_endian,
           CAST(16 + (octet_length(encode(text)) * 3) % 521 AS INTEGER) AS width,
           CAST(16 + (octet_length(encode(text)) * 5) % 431 AS INTEGER) AS height,
           8 AS bits_per_sample
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    "m11_bmp_meta" ->
      """SELECT doc_id, 1 AS is_bmp,
           CAST(4 + doc_id % 61 AS INTEGER) AS width,
           CAST(4 + doc_id % 47 AS INTEGER) AS height,
           24 AS bpp, 0 AS top_down
         FROM documents WHERE doc_id % 8 = 0
         UNION ALL
         SELECT doc_id, 0 AS is_bmp,
           CAST(16 + (octet_length(encode(text)) * 5) % 509 AS INTEGER) AS width,
           CAST(16 + (octet_length(encode(text)) * 7) % 389 AS INTEGER) AS height,
           24 AS bpp, 0 AS top_down
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    // m5: two planted layouts — %16=0 docs carry the generalized
    // 16-bit stereo file with a LIST chunk (pinning the chunk walk),
    // %16=8 the canonical 8-bit mono; both replay from the plant
    // formulas. duration for the stereo file: ds·1000 // br =
    // (n·4·1000) // (rate·4) = (n·1000) // rate exactly (common factor)
    "m5_wav_meta" ->
      """SELECT doc_id, 1 AS is_wav,
           CAST(8000 + ((doc_id // 16) % 4) * 4000 AS INTEGER) AS sample_rate,
           2 AS n_channels, 16 AS bits,
           CAST(40 + (doc_id // 16) % 37 AS BIGINT) AS n_samples,
           CAST(((40 + (doc_id // 16) % 37) * 1000)
                // (8000 + ((doc_id // 16) % 4) * 4000) AS BIGINT) AS duration_ms
         FROM documents WHERE doc_id % 16 = 0
         UNION ALL
         SELECT doc_id, 1 AS is_wav,
           CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate,
           1 AS n_channels, 8 AS bits,
           CAST(64 + doc_id % 64 AS BIGINT) AS n_samples,
           CAST(((64 + doc_id % 64) * 1000) // (8000 + (doc_id % 4) * 4000) AS BIGINT)
             AS duration_ms
         FROM documents WHERE doc_id % 16 = 8
         UNION ALL
         SELECT doc_id, 0 AS is_wav,
           CAST(8000 + (octet_length(encode(text)) % 5) * 2000 AS INTEGER) AS sample_rate,
           CAST(1 + octet_length(encode(text)) % 2 AS INTEGER) AS n_channels,
           16 AS bits,
           CAST(64 + (octet_length(encode(text)) * 7) % 331 AS BIGINT) AS n_samples,
           CAST((octet_length(encode(text)) * 13) % 10000 AS BIGINT) AS duration_ms
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    // m25: planted rows replay the avih fields from the plant formula;
    // text rows replay the synthetic fallback from byte length
    "m25_avi_meta" ->
      """SELECT doc_id, 1 AS is_avi,
           CAST(33333 + (doc_id % 5) * 8333 AS INTEGER) AS us_per_frame,
           CAST(100 + doc_id % 400 AS INTEGER) AS n_frames,
           CAST(1 + doc_id % 2 AS INTEGER) AS n_streams,
           CAST(320 + (doc_id % 4) * 160 AS INTEGER) AS width,
           CAST(240 + (doc_id % 4) * 120 AS INTEGER) AS height,
           CAST(((33333 + (doc_id % 5) * 8333) * (100 + doc_id % 400)) // 1000
             AS BIGINT) AS duration_ms
         FROM documents WHERE doc_id % 8 = 0
         UNION ALL
         SELECT doc_id, 0 AS is_avi,
           CAST(33333 + octet_length(encode(text)) % 777 AS INTEGER) AS us_per_frame,
           CAST(1 + octet_length(encode(text)) % 100 AS INTEGER) AS n_frames,
           1 AS n_streams, 320 AS width, 240 AS height,
           CAST((octet_length(encode(text)) * 17) % 20000 AS BIGINT) AS duration_ms
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    // m26: planted rows replay the directory fields from the plant
    // formula (zero-means-256 included); text rows the fallback
    "m26_ico_meta" ->
      """SELECT doc_id, 1 AS is_ico,
           CAST(1 + doc_id % 3 AS INTEGER) AS n_images,
           CAST(CASE (doc_id // 8) % 4 WHEN 0 THEN 16 WHEN 1 THEN 32
             WHEN 2 THEN 48 ELSE 256 END AS INTEGER) AS width,
           CAST(CASE (doc_id // 8) % 4 WHEN 0 THEN 16 WHEN 1 THEN 32
             WHEN 2 THEN 48 ELSE 256 END AS INTEGER) AS height,
           CAST(CASE (doc_id // 16) % 4 WHEN 0 THEN 1 WHEN 1 THEN 4
             WHEN 2 THEN 8 ELSE 32 END AS INTEGER) AS bpp
         FROM documents WHERE doc_id % 8 = 0
         UNION ALL
         SELECT doc_id, 0 AS is_ico,
           CAST(1 + octet_length(encode(text)) % 3 AS INTEGER) AS n_images,
           CAST(16 + (octet_length(encode(text)) % 4) * 16 AS INTEGER) AS width,
           CAST(16 + (octet_length(encode(text)) % 4) * 16 AS INTEGER) AS height,
           32 AS bpp
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    // m29: the four descriptor variants replayed from the plant
    // formulas — the exponent/mantissa window rule via exact shifts,
    // single-segment window == content size per spec
    "m29_zstd_meta" ->
      """SELECT doc_id, 1 AS is_zstd,
           CAST(CASE WHEN (doc_id // 8) % 4 = 0 THEN 1 ELSE 0 END
             AS INTEGER) AS single_segment,
           CAST(CASE WHEN (doc_id // 8) % 4 IN (1, 3) THEN 1 ELSE 0 END
             AS INTEGER) AS has_checksum,
           CAST(CASE (doc_id // 8) % 4 WHEN 0 THEN 0
             WHEN 1 THEN doc_id % 65536 WHEN 2 THEN doc_id % 256
             ELSE (doc_id * 31) % 2147483648 END AS BIGINT) AS dict_id,
           CAST(CASE WHEN (doc_id // 8) % 4 = 0 THEN doc_id % 200
             ELSE (CAST(1 AS BIGINT) << CAST(10 + doc_id % 5 AS INTEGER))
               + (CAST(1 AS BIGINT) << CAST(7 + doc_id % 5 AS INTEGER))
                 * ((doc_id // 32) % 8)
             END AS BIGINT) AS window_size,
           CAST(CASE (doc_id // 8) % 4 WHEN 0 THEN doc_id % 200
             WHEN 1 THEN 300 + doc_id % 1000
             WHEN 2 THEN 1000000 + doc_id % 1000000
             ELSE 5000000000 + doc_id END AS BIGINT) AS content_size
         FROM documents WHERE doc_id % 8 = 0
         UNION ALL
         SELECT doc_id, 0 AS is_zstd,
           CAST(octet_length(encode(text)) % 2 AS INTEGER) AS single_segment,
           0 AS has_checksum,
           CAST(octet_length(encode(text)) % 1000 AS BIGINT) AS dict_id,
           CAST(1024 * (1 + octet_length(encode(text)) % 7) AS BIGINT)
             AS window_size,
           CAST(octet_length(encode(text)) AS BIGINT) AS content_size
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    // m28: planted rows replay class/endian/osabi/type/machine/entry
    // from the plant formulas; text rows the synthetic fallback
    "m28_elf_meta" ->
      """SELECT doc_id, 1 AS is_elf,
           CAST(CASE (doc_id // 8) % 2 WHEN 0 THEN 32 ELSE 64 END
             AS INTEGER) AS bits,
           CASE (doc_id // 16) % 2 WHEN 0 THEN 'LE' ELSE 'BE' END AS endian,
           CAST(((doc_id // 16) % 4) * 3 AS INTEGER) AS osabi,
           CAST(1 + (doc_id // 8) % 4 AS INTEGER) AS e_type,
           CAST(CASE doc_id % 5 WHEN 0 THEN 3 WHEN 1 THEN 40 WHEN 2 THEN 62
             WHEN 3 THEN 183 ELSE 243 END AS INTEGER) AS machine,
           CAST(4194304 + doc_id % 65536 AS BIGINT) AS entry
         FROM documents WHERE doc_id % 8 = 0
         UNION ALL
         SELECT doc_id, 0 AS is_elf,
           CAST(32 + (octet_length(encode(text)) % 2) * 32 AS INTEGER) AS bits,
           'LE' AS endian, 255 AS osabi,
           CAST(octet_length(encode(text)) % 5 AS INTEGER) AS e_type,
           CAST(octet_length(encode(text)) % 300 AS INTEGER) AS machine,
           CAST((octet_length(encode(text)) * 4096) % 16777216 AS BIGINT) AS entry
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    // m27: planted rows replay every header/trailer field from the
    // four-variant plant formula; text rows the synthetic fallback
    "m27_gzip_meta" ->
      """SELECT doc_id, 1 AS is_gzip,
           CAST(1600000000 + doc_id % 100000 AS BIGINT) AS mtime,
           CAST((doc_id // 8) % 14 AS INTEGER) AS os,
           CAST(CASE WHEN (doc_id // 8) % 4 >= 2
             THEN 4 + ((doc_id // 8) % 6) * 2 ELSE 0 END AS INTEGER) AS n_extra,
           CASE WHEN (doc_id // 8) % 4 >= 1
             THEN 'f' || CAST(doc_id AS VARCHAR) || '.txt'
             ELSE 'none' END AS fname,
           CAST(CASE WHEN (doc_id // 8) % 4 = 3 THEN 1 ELSE 0 END
             AS INTEGER) AS has_comment,
           CAST(CASE WHEN (doc_id // 8) % 4 = 3 THEN 1 ELSE 0 END
             AS INTEGER) AS has_hcrc,
           CAST((doc_id * 2654435761) % 4294967296 AS BIGINT) AS crc32,
           CAST(doc_id % 100000 + 50 AS BIGINT) AS isize
         FROM documents WHERE doc_id % 8 = 0
         UNION ALL
         SELECT doc_id, 0 AS is_gzip,
           CAST((octet_length(encode(text)) * 31) % 1000000 AS BIGINT) AS mtime,
           255 AS os, 0 AS n_extra, 'none' AS fname,
           0 AS has_comment, 0 AS has_hcrc,
           CAST((octet_length(encode(text)) * 17) % 65536 AS BIGINT) AS crc32,
           CAST(octet_length(encode(text)) AS BIGINT) AS isize
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    // m7: planted rows replay the real mvhd fields from the plant
    // formula; text rows replay the synthetic fallback from byte length
    "m7_video_meta" ->
      """SELECT doc_id, 1 AS is_mp4, 'isom' AS major_brand,
           CAST(600 + (doc_id % 5) * 300 AS INTEGER) AS timescale,
           CAST(1200 + (doc_id % 997) * 7 AS BIGINT) AS duration,
           CAST(((1200 + (doc_id % 997) * 7) * 1000)
                // (600 + (doc_id % 5) * 300) AS BIGINT) AS duration_ms
         FROM documents WHERE doc_id % 8 = 0
         UNION ALL
         SELECT doc_id, 0 AS is_mp4, 'none' AS major_brand,
           CAST(600 + (octet_length(encode(text)) % 7) * 150 AS INTEGER) AS timescale,
           CAST((octet_length(encode(text)) * 11) % 99991 AS BIGINT) AS duration,
           CAST((octet_length(encode(text)) * 17) % 60000 AS BIGINT) AS duration_ms
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    // m6: the planted PCM is lossless by construction — per-frame
    // absolute-deviation sums replay exactly via generate_series. Two
    // planted tiers: %16=8 the 8-bit mono bytes, %16=0 the 16-bit
    // stereo samples (channel SUM deviation over the 2·32768
    // normalizer == the channel-mean deviation, integer-exact; the
    // 65536.0·flen denominator is a power-of-two times a small int, so
    // the single division matches the Scala decoder's bit-for-bit)
    "m6_wav_frames" -> s"$wavFramesSql ORDER BY doc_id, frame_id",
    // m10: per-doc feature-sequence signature (frame order, exact
    // doubles — both engines derive them from the same integer
    // formulas, m6-verified bit-identical) self-joined on equality —
    // the audio analogue of d22's exact tier. Restricted to the
    // real-decode tier (doc_id % 8 = 0, the planted WAVs) like d22's
    // is_real gate: stub rows would pair on id arithmetic, not content.
    "m10_audio_dup" ->
      s"""WITH sig AS (
           SELECT doc_id, count(*) AS n_frames,
             list(ROW(frame_id, feat_mean, feat_dim) ORDER BY frame_id) AS sig
           FROM ($wavFramesSql) WHERE doc_id % 8 = 0 GROUP BY doc_id)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(a.n_frames AS INTEGER) AS n_frames
         FROM sig a JOIN sig b ON a.sig = b.sig AND a.doc_id < b.doc_id
         ORDER BY doc_a, doc_b""",
    // m30: the FULL landmark pipeline replayed from the plant formula —
    // frame features from the per-variant deviation algebra (master /
    // frame-trimmed / exactly-gain-halved / unrelated), strict-local-max
    // peaks, triple-peak delta+ratio hashes, hash join, same-offset
    // counting, dominant-offset selection, threshold. A wrong decode,
    // peak rule, hash component, offset sign, or tie-break hash-fails.
    "m30_audio_landmarks" ->
      """WITH dims AS (
           SELECT doc_id, doc_id // 32 AS g, (doc_id // 8) % 4 AS v,
             CAST(24 + (doc_id // 32) % 8 AS INTEGER) AS nm,
             CASE WHEN (doc_id // 8) % 4 = 1
               THEN CAST(2 + (doc_id // 32) % 3 AS INTEGER) ELSE 0 END AS off
           FROM documents WHERE doc_id % 8 = 0),
         sm AS (
           SELECT doc_id, g, v, f, (f + off) * 32 + j AS i
           FROM dims,
             unnest(generate_series(0, nm - off - 1)) AS t(f),
             unnest(generate_series(0, 31)) AS u(j)),
         fr AS (
           SELECT doc_id, f,
             sum(abs(CASE
               WHEN v = 3 THEN 2 * (((doc_id % 127 + 64) * i * i + 53 * i + doc_id * 31) % 127 - 63)
               WHEN v = 2 THEN ((g % 127 + 1) * i * i + 29 * i + g * 37) % 127 - 63
               ELSE 2 * (((g % 127 + 1) * i * i + 29 * i + g * 37) % 127 - 63) END)) AS s
           FROM sm GROUP BY 1, 2),
         feat AS (SELECT doc_id, f, CAST(s AS DOUBLE) / (128.0 * 32) AS fm FROM fr),
         pk AS (
           SELECT doc_id, f AS t0, fm AS f0 FROM (
             SELECT doc_id, f, fm, lag(fm) OVER w AS pf, lead(fm) OVER w AS nf
             FROM feat WINDOW w AS (PARTITION BY doc_id ORDER BY f))
           WHERE pf IS NOT NULL AND nf IS NOT NULL AND fm > pf AND fm >= nf),
         lm AS (
           SELECT doc_id, t0,
             (((t1 - t0) * 17 + (t2 - t0)) * 4096 +
               least(4095, CAST(floor(f1 / f0 * 256) AS BIGINT))) * 4096 +
               least(4095, CAST(floor(f2 / f0 * 256) AS BIGINT)) AS lm_hash
           FROM (
             SELECT doc_id, t0, f0,
               lead(t0, 1) OVER w AS t1, lead(f0, 1) OVER w AS f1,
               lead(t0, 2) OVER w AS t2, lead(f0, 2) OVER w AS f2
             FROM pk WINDOW w AS (PARTITION BY doc_id ORDER BY t0))
           WHERE t2 IS NOT NULL AND t2 - t0 <= 12),
         mt AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.t0 - b.t0 AS offset_frames, count(*) AS n
           FROM lm a JOIN lm b USING (lm_hash)
           WHERE a.doc_id < b.doc_id
           GROUP BY 1, 2, 3),
         best AS (
           SELECT doc_a, doc_b, offset_frames, n, row_number() OVER
             (PARTITION BY doc_a, doc_b ORDER BY n DESC, offset_frames) AS rn
           FROM mt)
         SELECT doc_a, doc_b, CAST(offset_frames AS INTEGER) AS offset_frames,
           CAST(n AS INTEGER) AS n_matched
         FROM best WHERE rn = 1 AND n >= 3 ORDER BY doc_a, doc_b""",
    // m31: planted pages replay from the /8-tier plant formulas — the
    // lacing-byte payload sum replays as a generate_series sum; text
    // rows replay the synthetic-fallback algebra on the UTF-8 length
    "m31_ogg_meta" ->
      """WITH planted AS (
           SELECT doc_id, (doc_id // 8) % 4 AS tier,
             CASE (doc_id // 8) % 4 WHEN 0 THEN 2 WHEN 1 THEN 6
               WHEN 2 THEN 1 ELSE 0 END AS ht,
             CAST(1 + (doc_id // 8) % 5 AS INTEGER) AS nseg
           FROM documents WHERE doc_id % 8 = 0),
         pay AS (
           SELECT doc_id, CAST(sum((doc_id // 8 + i * 7) % 255) AS BIGINT) AS paylen
           FROM planted, unnest(generate_series(0, nseg - 1)) AS t(i)
           GROUP BY 1)
         SELECT p.doc_id, 1 AS is_ogg,
           CAST((ht // 2) % 2 AS INTEGER) AS bos,
           CAST((ht // 4) % 2 AS INTEGER) AS eos,
           CAST((p.doc_id // 8) % 65536 + 7 AS INTEGER) AS serial,
           CAST((p.doc_id // 16) % 4 AS INTEGER) AS page_seq,
           CAST(p.doc_id * 1000 + tier AS BIGINT) AS granule,
           nseg AS n_segments, pay.paylen AS payload_len
         FROM planted p JOIN pay USING (doc_id)
         UNION ALL
         SELECT doc_id, 0 AS is_ogg,
           CAST(octet_length(encode(text)) % 2 AS INTEGER) AS bos,
           CAST((octet_length(encode(text)) + 1) % 2 AS INTEGER) AS eos,
           CAST(octet_length(encode(text)) * 3 % 65536 AS INTEGER) AS serial,
           CAST(octet_length(encode(text)) % 16 AS INTEGER) AS page_seq,
           CAST(octet_length(encode(text)) * 13 % 100000 AS BIGINT) AS granule,
           CAST(1 + octet_length(encode(text)) % 7 AS INTEGER) AS n_segments,
           CAST(octet_length(encode(text)) * 11 % 999 AS BIGINT) AS payload_len
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    // m33: plant-formula replay incl. the 1-means-65536 page-size tier;
    // text rows replay the UTF-8-length fallback algebra
    "m33_sqlite_meta" ->
      """SELECT doc_id, 1 AS is_sqlite,
           CAST(CASE WHEN (doc_id // 8) % 5 = 4 THEN 65536
             ELSE 512 * (1 << ((doc_id // 8) % 5)) END AS BIGINT) AS page_size,
           CAST(1 + (doc_id // 16) % 2 AS INTEGER) AS write_version,
           CAST(1 + (doc_id // 32) % 2 AS INTEGER) AS read_version,
           CAST(10 + doc_id % 990 AS BIGINT) AS page_count,
           CAST(1 + (doc_id // 8) % 3 AS INTEGER) AS encoding,
           CAST(doc_id % 1000 AS BIGINT) AS user_version
         FROM documents WHERE doc_id % 8 = 0
         UNION ALL
         SELECT doc_id, 0 AS is_sqlite,
           CAST(512 * (1 << (octet_length(encode(text)) % 5)) AS BIGINT)
             AS page_size,
           CAST(1 + octet_length(encode(text)) % 2 AS INTEGER) AS write_version,
           CAST(1 + (octet_length(encode(text)) * 3) % 2 AS INTEGER)
             AS read_version,
           CAST(octet_length(encode(text)) * 7 % 1000 AS BIGINT) AS page_count,
           CAST(1 + octet_length(encode(text)) % 3 AS INTEGER) AS encoding,
           CAST(octet_length(encode(text)) * 11 % 1000 AS BIGINT) AS user_version
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    // m32: planted headers replay from the tier formulas; fallback rows
    // from the UTF-8 length algebra
    "m32_ebml_meta" ->
      """SELECT doc_id, 1 AS is_ebml,
           CAST(1 + (doc_id // 8) % 2 AS INTEGER) AS version,
           1 AS read_version,
           4 AS max_id_len,
           CAST(4 + (doc_id // 16) % 5 AS INTEGER) AS max_size_len,
           CASE WHEN (doc_id // 8) % 2 = 0 THEN 'webm' ELSE 'matroska' END
             AS doc_type,
           CAST(1 + (doc_id // 16) % 4 AS INTEGER) AS doc_type_version,
           CAST(1 + (doc_id // 32) % 2 AS INTEGER) AS doc_type_read_version
         FROM documents WHERE doc_id % 8 = 0
         UNION ALL
         SELECT doc_id, 0 AS is_ebml,
           CAST(1 + octet_length(encode(text)) % 2 AS INTEGER) AS version,
           1 AS read_version,
           CAST(1 + octet_length(encode(text)) % 4 AS INTEGER) AS max_id_len,
           CAST(1 + octet_length(encode(text)) % 8 AS INTEGER) AS max_size_len,
           'none' AS doc_type,
           CAST(1 + octet_length(encode(text)) % 5 AS INTEGER) AS doc_type_version,
           CAST(1 + octet_length(encode(text)) % 3 AS INTEGER) AS doc_type_read_version
         FROM documents WHERE doc_id % 8 <> 0
         ORDER BY doc_id""",
    "m3_frame_dedup" ->
      """WITH fr AS (SELECT doc_id,
           CAST((doc_id * 31 + f * 7) % 997 AS DOUBLE) / 997.0 AS feat_mean
           FROM documents, unnest(generate_series(0, octet_length(encode(text)) % 5)) AS t(f))
         SELECT CAST(floor(feat_mean * 32) AS INTEGER) AS bucket,
           count(*) AS n_frames, count(DISTINCT doc_id) AS n_docs
         FROM fr GROUP BY 1 ORDER BY 1""",
    "c1_top_ngrams" ->
      s"""WITH tok AS (SELECT doc_id, CASE WHEN len(t) >= 2 THEN
            list_distinct([t[i] || ' ' || t[i+1] for i in generate_series(1, len(t)-1)])
            ELSE [array_to_string(t, ' ')] END AS ngs
            FROM (SELECT doc_id, $toks AS t FROM documents))
          SELECT ng, count(*) AS df FROM tok, unnest(ngs) AS u(ng)
          GROUP BY ng ORDER BY df DESC, ng LIMIT 20""",
    "c2_tfidf" ->
      s"""WITH terms AS (SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest($toks) AS term FROM documents)
            GROUP BY 1, 2),
          dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
          n AS (SELECT count(*) AS n FROM documents)
          SELECT doc_id, terms.term, tf,
            CAST(CAST(tf * ln(CAST(n AS DOUBLE) / df) AS DECIMAL(38,6)) AS DOUBLE) AS tfidf
          FROM terms, dfreq, n WHERE terms.term = dfreq.term
            AND CAST(CAST(tf * ln(CAST(n AS DOUBLE) / df) AS DECIMAL(38,6)) AS DOUBLE) > 0.0
          ORDER BY doc_id, terms.term""",
    // c25: BM25 replayed relationally — every constant enters as the
    // same single IEEE op as the Spark expression tree (k1+1 is an ADD
    // in both engines, never a 2.2 literal whose decimal→double
    // conversion could differ from the runtime sum)
    "c25_bm25" ->
      s"""WITH terms AS (SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest($toks) AS term FROM documents)
            GROUP BY 1, 2),
          dfreq AS (SELECT term, count(*) AS df FROM terms GROUP BY 1),
          qt AS (SELECT term AS qterm, df FROM dfreq ORDER BY df DESC, term LIMIT 5),
          dlen AS (SELECT doc_id, sum(tf) AS dl FROM terms GROUP BY 1),
          st AS (SELECT (SELECT count(*) FROM documents) AS n,
                        (SELECT sum(tf) FROM terms) AS tt),
          sc AS (SELECT qt.qterm AS term, t.doc_id,
                 CAST((ln(CAST(1 AS DOUBLE) +
                        ((CAST(st.n AS DOUBLE) - qt.df) + CAST(0.5 AS DOUBLE))
                        / (qt.df + CAST(0.5 AS DOUBLE)))
                      * (t.tf * (CAST(1.2 AS DOUBLE) + CAST(1 AS DOUBLE))))
                   / (t.tf + CAST(1.2 AS DOUBLE) *
                      ((CAST(1 AS DOUBLE) - CAST(0.75 AS DOUBLE)) +
                       (CAST(0.75 AS DOUBLE) * d.dl) /
                       (CAST(st.tt AS DOUBLE) / CAST(st.n AS DOUBLE))))
                 AS DECIMAL(38,6)) AS score
                 FROM terms t JOIN qt ON t.term = qt.qterm
                 JOIN dlen d ON d.doc_id = t.doc_id CROSS JOIN st),
          r AS (SELECT term, doc_id, CAST(score AS DOUBLE) AS score,
                CAST(row_number() OVER (PARTITION BY term
                     ORDER BY score DESC, doc_id) AS INTEGER) AS rank FROM sc)
          SELECT term, rank, doc_id, score FROM r WHERE rank <= 10
          ORDER BY term, rank""",
    "c3_hash_split" ->
      """SELECT doc_id,
           CASE WHEN ((doc_id % 1000003) * 2654435761 + 104729) % 100 < 90 THEN 'train'
                WHEN ((doc_id % 1000003) * 2654435761 + 104729) % 100 < 95 THEN 'valid'
                ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""",
    // c4: the stratified gate replayed — stratum mixed in via leading
    // character codes, integer arithmetic end to end (seed 42, frac 0.5)
    "c4_stratified_sample" ->
      """SELECT lang, count(*) AS n_sampled FROM documents
         WHERE ((doc_id % 1000003) * 2246822519 +
                ((doc_id // 1000003) % 1000003) * 2654435761 +
                (CASE WHEN length(lang) >= 1 THEN ord(substr(lang, 1, 1)) ELSE 0 END * 31
                 + CASE WHEN length(lang) >= 2 THEN ord(substr(lang, 2, 1)) ELSE 0 END) * 97003
                + 42) % 1000000 < 500000
         GROUP BY 1 ORDER BY lang""",
    "c5_length_buckets" ->
      """SELECT CASE WHEN n_chars >= 500 THEN 5 WHEN n_chars >= 400 THEN 4
           WHEN n_chars >= 300 THEN 3 WHEN n_chars >= 200 THEN 2
           WHEN n_chars >= 100 THEN 1 ELSE 0 END AS bucket,
         count(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars
         FROM documents GROUP BY 1 ORDER BY 1""",
    "st1_tumbling_window" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
          event_type, count(*) AS n, ${dsum("value")} AS sum_value
          FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // st35: the drop accounting replayed — the sealing marker's commit
    // passes the watermark over every real window before the odd batch
    // arrives, so a row survives iff it rode the even batch; emitted
    // windows are those with ≥1 surviving row
    "st35_late_audit" ->
      """WITH w AS (SELECT event_id, date_trunc('hour', ts) AS ws FROM events),
         agg AS (SELECT ws, CAST(count(*) AS BIGINT) AS n_total,
                 CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_stream
                 FROM w GROUP BY 1)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           n_stream, n_total, CAST(n_total - n_stream AS BIGINT) AS n_dropped
         FROM agg WHERE n_stream >= 1 ORDER BY 1""",
    "q23_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS se FROM events),
         f AS (SELECT user_id, min(CASE WHEN event_type = 'signup' THEN se END) AS first_from
               FROM e GROUP BY 1),
         g AS (SELECT e.user_id, f.first_from,
               min(CASE WHEN e.event_type = 'purchase' AND e.se >= f.first_from
                   THEN e.se END) AS first_to
               FROM e JOIN f ON e.user_id = f.user_id GROUP BY 1, 2)
         SELECT user_id, first_from, first_to, first_to - first_from AS lag_sec,
           first_to IS NOT NULL AS converted
         FROM g WHERE first_from IS NOT NULL ORDER BY user_id""",
    "q25_brand_revenue" ->
      s"""SELECT p_brand, ${dprod("l_extendedprice", "1 - l_discount")} AS revenue,
          count(*) AS n_items
          FROM lineitem, part, supplier, nation, region
          WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
            AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
            AND r_name = 'EUROPE'
            AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          GROUP BY 1 ORDER BY 1""",
    // q67 is the same relational result through the TxTable storage layer
    "q67_tx_merge" -> upsertSql,
    // q73: value-invisible like q67 — same relational upsert oracle;
    // the pruning win is a physical property the spec measures
    "q73_clustered_compact" -> upsertSql,
    // q83: the merge algebra with the custkey column carried, gated
    // through the z-ordered layout + the two-dimensional rectangle —
    // a z-compaction that loses, duplicates, or reorders values into
    // the wrong files hash-fails here; the file-count win is measured
    // in TxTableSpec
    "q83_tx_zorder" ->
      """WITH cur AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
                      WHERE o_orderkey % 2 = 0),
         upd AS (SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
                 FROM orders WHERE o_orderkey % 3 = 0),
         m AS (SELECT coalesce(u.o_orderkey, c.o_orderkey) AS o_orderkey,
             CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey
                  ELSE c.o_custkey END AS o_custkey,
             CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                  ELSE c.o_totalprice END AS o_totalprice
           FROM cur c FULL OUTER JOIN upd u ON c.o_orderkey = u.o_orderkey)
         SELECT o_orderkey, o_custkey, o_totalprice FROM m
         WHERE o_orderkey <= 30000 AND o_custkey <= 750 ORDER BY 1""",
    // q87: the skipping read must equal the UNPRUNED read's algebra —
    // the q83 merge CTE under the same rectangle, with both bounds
    // derived from the data exactly as the engine derives them from
    // the log stats (global max / 2, integer division)
    "q87_tx_read_where" ->
      """WITH cur AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
                      WHERE o_orderkey % 2 = 0),
         upd AS (SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
                 FROM orders WHERE o_orderkey % 3 = 0),
         m AS (SELECT coalesce(u.o_orderkey, c.o_orderkey) AS o_orderkey,
             CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey
                  ELSE c.o_custkey END AS o_custkey,
             CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                  ELSE c.o_totalprice END AS o_totalprice
           FROM cur c FULL OUTER JOIN upd u ON c.o_orderkey = u.o_orderkey),
         b AS (SELECT max(o_orderkey) // 2 AS khi, max(o_custkey) // 2 AS chi
               FROM m)
         SELECT o_orderkey, o_custkey, o_totalprice FROM m, b
         WHERE o_orderkey BETWEEN 0 AND khi AND o_custkey BETWEEN 0 AND chi
         ORDER BY 1""",
    // q71: the stats path is metadata-only on the engine side; the
    // oracle replays the SEMANTICS — the key-set algebra of the three
    // versions (create / merge-with-inserts / delete) — relationally,
    // so a wrong row count or range in ANY log entry hash-fails
    "q71_stats_scan" ->
      """WITH cur AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0),
         v2 AS (SELECT o_orderkey FROM cur
                UNION SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0),
         v3 AS (SELECT o_orderkey FROM v2 WHERE o_orderkey % 7 <> 0)
         SELECT * FROM (
           SELECT CAST(1 AS INTEGER) AS version,
             CAST(count(*) AS BIGINT) AS n_rows,
             min(o_orderkey) AS key_min, max(o_orderkey) AS key_max FROM cur
           UNION ALL
           SELECT CAST(2 AS INTEGER), CAST(count(*) AS BIGINT),
             min(o_orderkey), max(o_orderkey) FROM v2
           UNION ALL
           SELECT CAST(3 AS INTEGER), CAST(count(*) AS BIGINT),
             min(o_orderkey), max(o_orderkey) FROM v3)
         ORDER BY version""",
    // q68: the AS-OF read pins the PRE-merge version — the oracle is
    // the untouched snapshot (later commits must be invisible to it)
    "q68_time_travel" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE o_orderkey % 2 = 0 ORDER BY 1""",
    // q69: the 12-merge history (11 status updates on disjoint mod-13
    // key sets, then a schema-WIDENING merge adding c_len) replayed as
    // one relational CASE; keys untouched by the widening merge carry
    // null c_len — exactly what the declared-schema read of pre-widening
    // files must produce
    "q69_tx_schema_evolve" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 13 = 12 THEN 'W'
                WHEN o_orderkey % 13 >= 1 THEN 'U' || CAST(o_orderkey % 13 AS VARCHAR)
                ELSE o_orderstatus END AS status,
           CASE WHEN o_orderkey % 13 = 12
                THEN CAST(o_custkey % 100 AS INTEGER) END AS c_len
         FROM orders WHERE o_orderkey % 5 = 0 ORDER BY 1""",
    // q70: the MV equals the one-shot recompute because cent sums are
    // associative integers — exactly the property the incremental
    // maintenance relies on
    "q70_incr_matview" -> matviewSql,
    // q81: each commit's key-set algebra replayed relationally —
    // commit 2 (merge of %3 keys onto the even snapshot): update
    // pre/post pairs on the matched (even) keys, inserts on the odd
    // ones; commit 3 (delete of %7 keys): the keys present at v2 with
    // their AS-OF-v2 values; the compaction commit contributes nothing
    "q81_tx_changes" ->
      """WITH ev AS (SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey % 2 = 0),
         up AS (SELECT o_orderkey, o_orderstatus,
             o_totalprice * 2 AS o_totalprice
           FROM orders WHERE o_orderkey % 3 = 0),
         v2s AS (SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0)
         SELECT * FROM (
           SELECT o_orderkey, o_orderstatus, o_totalprice,
             'update_preimage' AS _change_type,
             CAST(2 AS BIGINT) AS _commit_version
           FROM ev WHERE o_orderkey % 3 = 0
           UNION ALL
           SELECT o_orderkey, o_orderstatus, o_totalprice,
             'update_postimage', CAST(2 AS BIGINT)
           FROM up WHERE o_orderkey % 2 = 0
           UNION ALL
           SELECT o_orderkey, o_orderstatus, o_totalprice,
             'insert', CAST(2 AS BIGINT)
           FROM up WHERE o_orderkey % 2 <> 0
           UNION ALL
           SELECT o_orderkey, o_orderstatus, o_totalprice,
             'delete', CAST(3 AS BIGINT)
           FROM v2s WHERE o_orderkey % 7 = 0)
         ORDER BY _commit_version, o_orderkey, _change_type""",
    // q82: op kinds + schema/data flags from the KNOWN commit
    // sequence; per-version row counts from the key-set algebra (the
    // q71 posture) — a wrong op stamp, flag or logged row count
    // hash-fails
    "q82_tx_history" ->
      """WITH ev AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0),
         v2k AS (SELECT o_orderkey FROM orders
                 WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0),
         v3k AS (SELECT o_orderkey FROM v2k WHERE o_orderkey % 7 <> 0)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS version, 'CREATE' AS op,
             true AS schema_changed, true AS data_change,
             (SELECT CAST(count(*) AS BIGINT) FROM ev) AS n_rows
           UNION ALL
           SELECT CAST(2 AS BIGINT), 'MERGE', false, true,
             (SELECT CAST(count(*) AS BIGINT) FROM v2k)
           UNION ALL
           SELECT CAST(3 AS BIGINT), 'DELETE', false, true,
             (SELECT CAST(count(*) AS BIGINT) FROM v3k)
           UNION ALL
           SELECT CAST(4 AS BIGINT), 'COMPACT', false, false,
             (SELECT CAST(count(*) AS BIGINT) FROM v3k)
           UNION ALL
           SELECT CAST(5 AS BIGINT), 'RESTORE', false, true,
             (SELECT CAST(count(*) AS BIGINT) FROM v2k))
         ORDER BY version""",
    // st34: identical contract — batch split lives only in the driver,
    // the cent-sum algebra erases it
    "st34_matview_stream" -> matviewSql,
    // st37: same MV contract — the txn guard is exactly what makes the
    // double-applied stream still equal the one-shot recompute
    "st37_idempotent_sink" -> matviewSql,
    "q24_upsert" -> upsertSql,
    "st2_sliding_window" ->
      s"""WITH e AS (SELECT event_type, value,
            (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 900) * 900 AS base
            FROM events),
          w AS (SELECT event_type, value, base - k * 900 AS ws
            FROM e, unnest(generate_series(0, 3)) AS t(k))
          SELECT strftime(to_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS window_start,
            event_type, count(*) AS n, ${dsum("value")} AS sum_value
          FROM w GROUP BY 1, 2 ORDER BY 1, 2""",
    "d6_dup_clusters" ->
      """WITH RECURSIVE e AS (
           SELECT a.vec_id AS a, b.vec_id AS b FROM embeddings a JOIN embeddings b
           ON a.vec_id < b.vec_id
           WHERE CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])) AS DECIMAL(38,6)) >= 0.35),
         bidir AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         nodes AS (SELECT DISTINCT a AS n FROM bidir),
         reach(n, m) AS (SELECT n, n FROM nodes UNION
           SELECT bidir.a, reach.m FROM bidir JOIN reach ON reach.n = bidir.b),
         lab AS (SELECT n, min(m) AS cluster_id FROM reach GROUP BY n)
         SELECT v.vec_id, coalesce(lab.cluster_id, v.vec_id) AS cluster_id
         FROM embeddings v LEFT JOIN lab ON lab.n = v.vec_id ORDER BY 1""",
    // d9 = the same clustering through the LSH pair source: full LSH
    // recall at θ=0.35 ⇒ identical components ⇒ the d6 oracle verbatim.
    "d9_lsh_clusters" ->
      """WITH RECURSIVE e AS (
           SELECT a.vec_id AS a, b.vec_id AS b FROM embeddings a JOIN embeddings b
           ON a.vec_id < b.vec_id
           WHERE CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])) AS DECIMAL(38,6)) >= 0.35),
         bidir AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         nodes AS (SELECT DISTINCT a AS n FROM bidir),
         reach(n, m) AS (SELECT n, n FROM nodes UNION
           SELECT bidir.a, reach.m FROM bidir JOIN reach ON reach.n = bidir.b),
         lab AS (SELECT n, min(m) AS cluster_id FROM reach GROUP BY n)
         SELECT v.vec_id, coalesce(lab.cluster_id, v.vec_id) AS cluster_id
         FROM embeddings v LEFT JOIN lab ON lab.n = v.vec_id ORDER BY 1""",
    // d10 = connected components over the d4 exact-Jaccard pair graph
    // (doc-id domain); the same recursive-reachability oracle as d6/d9,
    // seeded by the d4 pair SQL. Singleton docs label themselves.
    // c26: the d10 cluster replay + c3's split CASE keyed on cluster_id
    "c26_leakage_split" ->
      s"""WITH RECURSIVE tok AS ($shingleTok),
         e AS (SELECT a.doc_id AS a, b.doc_id AS b
               FROM tok a JOIN tok b ON a.source = b.source AND a.doc_id < b.doc_id
               WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
         bidir AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         nodes AS (SELECT DISTINCT a AS n FROM bidir),
         reach(n, m) AS (SELECT n, n FROM nodes UNION
           SELECT bidir.a, reach.m FROM bidir JOIN reach ON reach.n = bidir.b),
         lab AS (SELECT n, min(m) AS cluster_id FROM reach GROUP BY n),
         cl AS (SELECT d.doc_id, coalesce(lab.cluster_id, d.doc_id) AS cluster_id
                FROM documents d LEFT JOIN lab ON lab.n = d.doc_id)
         SELECT doc_id, cluster_id,
           CASE WHEN ((cluster_id % 1000003) * 2654435761 + 104729) % 100 < 90 THEN 'train'
                WHEN ((cluster_id % 1000003) * 2654435761 + 104729) % 100 < 95 THEN 'valid'
                ELSE 'test' END AS split
         FROM cl ORDER BY doc_id""",
    "d10_text_clusters" ->
      s"""WITH RECURSIVE tok AS ($shingleTok),
         e AS (SELECT a.doc_id AS a, b.doc_id AS b
               FROM tok a JOIN tok b ON a.source = b.source AND a.doc_id < b.doc_id
               WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
         bidir AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         nodes AS (SELECT DISTINCT a AS n FROM bidir),
         reach(n, m) AS (SELECT n, n FROM nodes UNION
           SELECT bidir.a, reach.m FROM bidir JOIN reach ON reach.n = bidir.b),
         lab AS (SELECT n, min(m) AS cluster_id FROM reach GROUP BY n)
         SELECT d.doc_id, coalesce(lab.cluster_id, d.doc_id) AS cluster_id
         FROM documents d LEFT JOIN lab ON lab.n = d.doc_id ORDER BY 1""",
    // c28: d10's recursive clustering extended by per-cluster counts and
    // the 1/n reweighting — weight stays a raw IEEE double (identical
    // division in both engines, no rounding boundary to disagree on)
    "c28_softdedup_weights" ->
      s"""WITH RECURSIVE tok AS ($shingleTok),
         e AS (SELECT a.doc_id AS a, b.doc_id AS b
               FROM tok a JOIN tok b ON a.source = b.source AND a.doc_id < b.doc_id
               WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
         bidir AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         nodes AS (SELECT DISTINCT a AS n FROM bidir),
         reach(n, m) AS (SELECT n, n FROM nodes UNION
           SELECT bidir.a, reach.m FROM bidir JOIN reach ON reach.n = bidir.b),
         lab AS (SELECT n, min(m) AS cluster_id FROM reach GROUP BY n),
         cl AS (SELECT d.doc_id, coalesce(lab.cluster_id, d.doc_id) AS cluster_id
                FROM documents d LEFT JOIN lab ON lab.n = d.doc_id),
         sz AS (SELECT cluster_id, count(*) AS n_members FROM cl GROUP BY 1)
         SELECT cl.doc_id, cl.cluster_id, sz.n_members,
           CAST(1.0 AS DOUBLE) / sz.n_members AS weight
         FROM cl JOIN sz ON cl.cluster_id = sz.cluster_id ORDER BY cl.doc_id""",
    // c31: c28's recursive clustering → decimal-12-summed per-source
    // effective sizes → c22's √-temperature algebra and mod-hash gate
    "c31_dedup_aware_mix" ->
      s"""WITH RECURSIVE tok AS ($shingleTok),
         e0 AS (SELECT a.doc_id AS a, b.doc_id AS b
               FROM tok a JOIN tok b ON a.source = b.source AND a.doc_id < b.doc_id
               WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
         bidir AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
         nodes AS (SELECT DISTINCT a AS n FROM bidir),
         reach(n, m) AS (SELECT n, n FROM nodes UNION
           SELECT bidir.a, reach.m FROM bidir JOIN reach ON reach.n = bidir.b),
         lab AS (SELECT n, min(m) AS cluster_id FROM reach GROUP BY n),
         cl AS (SELECT d.doc_id, d.source,
                coalesce(lab.cluster_id, d.doc_id) AS cluster_id
                FROM documents d LEFT JOIN lab ON lab.n = d.doc_id),
         sz AS (SELECT cluster_id, count(*) AS nm FROM cl GROUP BY 1),
         wdoc AS (SELECT cl.doc_id, cl.source,
                CAST(CAST(1.0 AS DOUBLE) / sz.nm AS DECIMAL(28,12)) AS wq
                FROM cl JOIN sz ON cl.cluster_id = sz.cluster_id),
         c AS (SELECT source, count(*) AS n, CAST(sum(wq) AS DOUBLE) AS e
               FROM wdoc GROUP BY 1),
         w AS (SELECT CAST(sum(CAST(sqrt(e) AS DECIMAL(28,12))) AS DOUBLE) AS wsum
               FROM c),
         r AS (SELECT source, n, e,
             CAST(CAST(least(1.0, 300 * sqrt(e) / (wsum * e)) AS DECIMAL(38,6))
               AS DOUBLE) AS rate
           FROM c, w)
         SELECT d.source, max(r.n) AS n_docs,
           CAST(CAST(max(r.e) AS DECIMAL(38,4)) AS DOUBLE) AS eff_docs,
           max(r.rate) AS rate,
           count(*) FILTER (WHERE
             ((d.doc_id % 1000003) * 2246822519 + 104729) % 1000000
               < CAST(floor(r.rate * 1000000.0) AS BIGINT)) AS n_kept
         FROM documents d JOIN r ON d.source = r.source
         GROUP BY 1 ORDER BY 1""",
    // c30: the scoring path replayed from the STAGED weight vector alone
    // — Horner char hash (t4 idiom; the outer % 1000003 covers DuckDB's
    // no-init reduce on single-codepoint terms), histogram features,
    // left-to-right reduce dot product (same IEEE order as the Spark
    // in-row aggregate), sigmoid in double, decimal-6 rounded gate
    "c30_quality_classifier" -> classifierSql("c30_weights"),
    // st17 is the SAME scoring driven per micro-batch against the static
    // fitted model; the partitioning-independent fit guarantees its own
    // staged copy of the weights is bit-identical to c30's
    "st17_classifier_stream" -> classifierSql("st17_weights"),
    // d14: all three pair sources replayed (exact Jaccard from the text,
    // minhash + simhash over the staged signature tables) unioned into
    // the same recursive connected-components as d10
    "d14_multi_clusters" ->
      s"""WITH RECURSIVE tok AS ($shingleTok),
         e1 AS (SELECT a.doc_id AS a, b.doc_id AS b
               FROM tok a JOIN tok b ON a.source = b.source AND a.doc_id < b.doc_id
               WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
         mb AS (SELECT doc_id, band, bh
           FROM read_parquet('__GRAFT_STAGE__/d14_banded/*.parquet')),
         msz AS (SELECT doc_id, band, bh FROM (
             SELECT doc_id, band, bh, count(*) OVER (PARTITION BY band, bh) AS bsz
             FROM mb) WHERE bsz <= 1000),
         mc AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM msz x JOIN msz y
             ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
         msh AS (SELECT doc_id, hsh, shn
           FROM read_parquet('__GRAFT_STAGE__/d14_sigs/*.parquet')),
         e2 AS (SELECT c.a, c.b FROM mc c
           JOIN msh sa ON sa.doc_id = c.a JOIN msh sb ON sb.doc_id = c.b
           WHERE CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
             / (sa.shn + sb.shn - len(list_intersect(sa.hsh, sb.hsh))) >= 0.5),
         sg AS (SELECT doc_id, sig
           FROM read_parquet('__GRAFT_STAGE__/d14_simhash/*.parquet')),
         sb2 AS (SELECT doc_id, sig, c, (sig >> (c * 16)) & 65535 AS chunk
           FROM sg, unnest(generate_series(0, 3)) AS t(c)),
         ssz AS (SELECT doc_id, sig, c, chunk FROM (
             SELECT doc_id, sig, c, chunk, count(*) OVER (PARTITION BY c, chunk) AS bsz
             FROM sb2) WHERE bsz <= 1000),
         e3 AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM ssz x JOIN ssz y
             ON x.c = y.c AND x.chunk = y.chunk AND x.doc_id < y.doc_id
           WHERE bit_count(xor(x.sig, y.sig)) <= 3),
         e AS (SELECT a, b FROM e1 UNION SELECT a, b FROM e2
               UNION SELECT a, b FROM e3),
         bidir AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         nodes AS (SELECT DISTINCT a AS n FROM bidir),
         reach(n, m) AS (SELECT n, n FROM nodes UNION
           SELECT bidir.a, reach.m FROM bidir JOIN reach ON reach.n = bidir.b),
         lab AS (SELECT n, min(m) AS cluster_id FROM reach GROUP BY n)
         SELECT d.doc_id, coalesce(lab.cluster_id, d.doc_id) AS cluster_id
         FROM documents d LEFT JOIN lab ON lab.n = d.doc_id ORDER BY 1""",
    "c6_boilerplate" ->
      s"""WITH tok AS ($shingleTok),
          ex AS (SELECT doc_id, unnest(sh) AS s FROM tok),
          df AS (SELECT s, count(*) AS df FROM ex GROUP BY 1)
          SELECT ex.doc_id, count(*) AS n_shingles,
            CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
            CAST(CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
              / count(*) AS boiler_ratio
          FROM ex JOIN df ON ex.s = df.s GROUP BY ex.doc_id ORDER BY ex.doc_id""",
    "c7_repetition" ->
      s"""WITH r AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN
            [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in generate_series(1, len(t)-2)]
            ELSE [array_to_string(t, ' ')] END AS sh
          FROM (SELECT doc_id, $toks AS t FROM documents))
          SELECT doc_id, CAST(len(sh) AS INTEGER) AS n_shingles,
            CAST(len(list_distinct(sh)) AS INTEGER) AS n_distinct,
            1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh) AS rep_ratio
          FROM r ORDER BY doc_id""",
    // c59: plant replay + the same exact-token IN filter and the
    // per-mille rational; kept = the strict any-hit drop
    "c59_badwords_gate" -> badwordsSql,
    // st29: the SAME SQL — the gate is a pure function of each doc's
    // own text, so the streamed union equals the batch run
    "st29_badwords_stream" -> badwordsSql,
    // q65: the q15 session CTEs with both bounds, the corpus day
    // spine × the fixed daily window, day-equi join + clamped overlap
    "q65_interval_overlap" ->
      """WITH e AS (SELECT event_id, user_id,
            CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS se FROM events),
          f AS (SELECT *, CASE WHEN lag(se) OVER w IS NULL
                OR se - lag(se) OVER w > 1800
                THEN 1 ELSE 0 END AS ns FROM e
                WINDOW w AS (PARTITION BY user_id ORDER BY se, event_id)),
          g AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id
                ORDER BY se, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS session_id FROM f),
          sess AS (SELECT user_id, session_id, min(se) AS s_start,
                max(se) AS s_end FROM g GROUP BY 1, 2),
          b AS (SELECT min(s_start) // 86400 AS d0,
                max(s_end) // 86400 AS d1 FROM sess),
          w2 AS (SELECT CAST(day AS BIGINT) AS day,
                day * 86400 + 21600 AS ws, day * 86400 + 64800 AS we
            FROM (SELECT unnest(range(d0, d1 + 1)) AS day FROM b)),
          j AS (SELECT s.user_id, s.session_id, w2.day, s.s_start,
                s.s_end,
                least(s.s_end, w2.we) - greatest(s.s_start, w2.ws) AS ov
            FROM sess s JOIN w2 ON w2.day
              BETWEEN s.s_start // 86400 AND s.s_end // 86400)
          SELECT user_id, session_id, day, s_start, s_end,
            CAST(ov AS BIGINT) AS overlap_sec
          FROM j WHERE ov > 0 ORDER BY 1, 2, 3""",
    // q64: the same RANGE lookback + packed extremes + div/mod decode
    "q64_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS se
           FROM events),
         p AS (SELECT *, CASE WHEN event_type = 'view' THEN se * 8 + 1
             WHEN event_type = 'click' THEN se * 8 + 2 END AS packed
           FROM e),
         f AS (SELECT *,
           min(packed) OVER w AS ft, max(packed) OVER w AS lt,
           count(packed) OVER w AS nt
           FROM p WINDOW w AS (PARTITION BY user_id ORDER BY se
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, se,
           CASE ft % 8 WHEN 1 THEN 'view' WHEN 2 THEN 'click' END
             AS first_type,
           ft // 8 AS first_se,
           CASE lt % 8 WHEN 1 THEN 'view' WHEN 2 THEN 'click' END
             AS last_type,
           lt // 8 AS last_se,
           CAST(nt AS INTEGER) AS n_touches
         FROM f WHERE event_type = 'purchase' ORDER BY event_id""",
    // q63: the same chain-semantics lag + running burst ordinal
    "q63_event_dedup" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS se
           FROM events),
         f AS (SELECT *,
           lag(se) OVER (PARTITION BY user_id, event_type
             ORDER BY se, event_id) AS prev
           FROM e),
         g AS (SELECT event_id, user_id, event_type, se,
           CASE WHEN prev IS NULL OR se - prev > 3600
             THEN 1 ELSE 0 END AS kept
           FROM f)
         SELECT event_id, user_id, event_type, se,
           CAST(sum(kept) OVER (PARTITION BY user_id, event_type
             ORDER BY se, event_id ROWS UNBOUNDED PRECEDING) AS INTEGER)
             AS burst_id,
           CAST(kept AS INTEGER) AS kept
         FROM g ORDER BY event_id""",
    // c58: the same parity split + full-outer token join — delta as a
    // HUGEINT cross-product, rank window after the top-20 limit's
    // ordering, the three per-mille rationals
    "c58_token_drift" ->
      s"""WITH tk AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         a AS (SELECT token, count(*) AS cnt_a FROM tk
               WHERE doc_id % 2 = 0 GROUP BY 1),
         b AS (SELECT token, count(*) AS cnt_b FROM tk
               WHERE doc_id % 2 = 1 GROUP BY 1),
         j AS (SELECT COALESCE(a.token, b.token) AS token,
             COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
           FROM a FULL OUTER JOIN b ON a.token = b.token),
         tt AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS na,
                CAST(sum(cnt_b) AS BIGINT) AS nb FROM j),
         sc AS (SELECT token, cnt_a, cnt_b, na, nb,
             abs(CAST(cnt_a AS HUGEINT) * nb - CAST(cnt_b AS HUGEINT) * na)
               AS delta
           FROM j, tt),
         tp AS (SELECT *, row_number() OVER (ORDER BY delta DESC, token)
               AS rank
           FROM sc ORDER BY delta DESC, token LIMIT 20)
         SELECT CAST(rank AS INTEGER) AS rank, token, cnt_a, cnt_b,
           CAST(CAST((CAST(cnt_a AS HUGEINT) * 1000 * 20000 + na)
             // (2 * CAST(na AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 10000.0 AS share_a_pm,
           CAST(CAST((CAST(cnt_b AS HUGEINT) * 1000 * 20000 + nb)
             // (2 * CAST(nb AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 10000.0 AS share_b_pm,
           CAST(CAST((delta * 1000 * 20000 + CAST(na AS HUGEINT) * nb)
             // (2 * CAST(na AS HUGEINT) * nb) AS BIGINT) AS DOUBLE)
             / 10000.0 AS shift_pm
         FROM tp ORDER BY rank""",
    // c57: the same two-aggregate chain — per-(source, term) counts,
    // decimal-6-rounded c·ln c summed exactly, entropy via the
    // ln N − S/N identity, ratios as HUGEINT rationals
    "c57_source_diversity" ->
      s"""WITH tk AS (SELECT source, unnest($toks) AS term FROM documents),
         tf AS (SELECT source, term, count(*) AS c FROM tk GROUP BY 1, 2),
         ds AS (SELECT source, count(*) AS n_docs FROM documents
                GROUP BY 1),
         ag AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS vocab,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
             max(c) AS top_c,
             sum(CAST(c * ln(CAST(c AS DOUBLE)) AS DECIMAL(38,6))) AS slc
           FROM tf GROUP BY 1),
         j AS (SELECT ag.source, ds.n_docs, n_tokens, vocab, n_hapax,
             top_c,
             CAST(CAST(CAST(CAST(ln(CAST(n_tokens AS DOUBLE))
                 AS DECIMAL(38,6)) AS DOUBLE)
               - CAST(slc AS DOUBLE) / n_tokens AS DECIMAL(38,6))
               AS DOUBLE) AS h
           FROM ag JOIN ds USING (source))
         SELECT source, n_docs, n_tokens, vocab, n_hapax,
           CAST(CAST((CAST(vocab AS HUGEINT) * 2000000 + n_tokens)
             // (2 * CAST(n_tokens AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000.0 AS ttr,
           CAST(CAST((CAST(n_hapax AS HUGEINT) * 2000000 + vocab)
             // (2 * CAST(vocab AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000.0 AS hapax_share,
           CAST(CAST((CAST(top_c AS HUGEINT) * 2000000 + n_tokens)
             // (2 * CAST(n_tokens AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000.0 AS top_share,
           h AS entropy,
           CASE WHEN vocab > 1 THEN
             CAST(CAST(h / CAST(CAST(ln(CAST(vocab AS DOUBLE))
               AS DECIMAL(38,6)) AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE)
           END AS norm_entropy
         FROM j ORDER BY source""",
    "c8_domain_stats" ->
      """WITH lc AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
         top AS (SELECT source, lang AS top_lang FROM
           (SELECT source, lang, row_number() OVER
              (PARTITION BY source ORDER BY n DESC, lang) AS rn FROM lc)
           WHERE rn = 1),
         agg AS (SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           count(DISTINCT lang) AS n_langs FROM documents GROUP BY 1)
         SELECT agg.source, n_docs, sum_chars, n_langs,
           CAST(sum_chars AS DOUBLE) / n_docs AS avg_chars, top_lang
         FROM agg JOIN top ON agg.source = top.source ORDER BY agg.source""",
    "t5_scrub" ->
      """SELECT event_id, regexp_replace(props, '-?\d+', '<NUM>', 'g') AS scrubbed,
         CAST(len(regexp_extract_all(props, '-?\d+')) AS INTEGER) AS n_redactions
         FROM events ORDER BY event_id""",
    // t13: windows of 64 tokens at stride 48; DuckDB list slicing is
    // 1-based inclusive [a : b], Spark's slice(start, length) truncates
    // at the array end — least() mirrors that
    // t15: the same extraction regex (RE2 and java.util.regex agree on
    // literal char classes; extraction instead of split because RE2 has
    // no lookbehind), trim-filter, 0-based ordinal, token count via the
    // shared script-aware tokenizer applied to each sentence
    "t15_sentences" ->
      s"""WITH aug AS (SELECT doc_id,
            CASE WHEN doc_id % 2 = 0 THEN 'Planted lead. ' ELSE '' END ||
            text ||
            CASE WHEN doc_id % 3 = 0 THEN '! Planted tail? done.' ELSE '' END
              AS text FROM documents),
          r AS (SELECT doc_id,
            regexp_extract_all(text, '[^.!?。！？]+[.!?。！？]*') AS raw
            FROM aug),
          f AS (SELECT doc_id,
            list_filter([trim(x) for x in raw], x -> x <> '') AS s FROM r),
          u AS (SELECT doc_id, unnest(generate_series(1, len(s))) AS i, s
            FROM f)
          SELECT doc_id, CAST(i - 1 AS INTEGER) AS sent_id,
            s[i] AS sentence,
            CAST(len(${toksOf("s[i]")}) AS INTEGER) AS n_tokens
          FROM u ORDER BY doc_id, sent_id""",
    "t13_chunking" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
          s AS (SELECT doc_id, t,
            unnest(generate_series(1, len(t), 48)) AS start FROM tk),
          c AS (SELECT doc_id, CAST((start - 1) // 48 AS INTEGER) AS chunk_id,
            t[start : least(start + 63, len(t))] AS chunk FROM s)
          SELECT doc_id, chunk_id, CAST(len(chunk) AS INTEGER) AS n_tokens,
            array_to_string(chunk, ' ') AS chunk_text
          FROM c ORDER BY doc_id, chunk_id""",
    // t12: same planted-PII construction as the Spark side, then the same
    // three sequential pattern passes (RE2 and java.util.regex agree on
    // this regex subset); counts taken against the pre-replace text of
    // each stage, exactly like TextOps.scrubCounted
    // t24: plant replay via chr() codepoints, the same \x{...} regex
    // classes (java.util.regex and RE2 parse them identically)
    "t24_invisible_scrub" ->
      """WITH aug AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 5 = 1
               THEN ' sp' || chr(8203) || 'am wedge' || chr(8207) || ' here'
               ELSE '' END ||
             CASE WHEN doc_id % 5 = 3
               THEN ' non' || chr(160) || 'breaking co' || chr(173) || 'operate'
               ELSE '' END AS text FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(text,
             '[\x{200B}-\x{200F}\x{2060}\x{FEFF}\x{00AD}]', '', 'g'),
             '\x{00A0}', ' ', 'g') AS clean_text,
           CAST(len(regexp_extract_all(text,
             '[\x{200B}-\x{200F}\x{2060}\x{FEFF}\x{00AD}]')) AS INTEGER)
             AS n_invisible,
           CAST(len(regexp_extract_all(text, '\x{00A0}')) AS INTEGER)
             AS n_nbsp
         FROM aug ORDER BY doc_id""",
    // t25: plant replay (visible UTF-8 literals, the t21 precedent),
    // the same fixed codepoint-range classes (\x{...} ranges parse
    // identically in java.util.regex and RE2), dominant via parallel
    // unnest + row_number (count DESC, name ASC — the struct-greatest
    // tie order), latin share as the exact HUGEINT rational
    "t25_script_mix" ->
      """WITH aug AS (SELECT doc_id,
             CASE WHEN doc_id % 31 = 4
                    THEN 'данные поток движок обработка данных'
                  WHEN doc_id % 37 = 6 THEN '数据处理引擎 データ処理'
                  ELSE text ||
               CASE WHEN doc_id % 6 = 1 THEN ' привет мир данные'
                    ELSE '' END ||
               CASE WHEN doc_id % 6 = 2 THEN ' 数据处理引擎テスト'
                    ELSE '' END ||
               CASE WHEN doc_id % 10 = 3 THEN ' δεδομένα ροή'
                    ELSE '' END ||
               CASE WHEN doc_id % 14 = 5 THEN ' بيانات ضخمة'
                    ELSE '' END ||
               CASE WHEN doc_id % 22 = 7 THEN ' 한국어 데이터'
                    ELSE '' END ||
               CASE WHEN doc_id % 26 = 9 THEN ' נתונים גדולים'
                    ELSE '' END
             END AS text FROM documents),
         c AS (SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[\x{0600}-\x{06FF}]'))
               AS BIGINT) AS n_arabic,
             CAST(len(regexp_extract_all(text,
               '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]')) AS BIGINT) AS n_cjk,
             CAST(len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]'))
               AS BIGINT) AS n_cyrillic,
             CAST(len(regexp_extract_all(text, '[\x{0370}-\x{03FF}]'))
               AS BIGINT) AS n_greek,
             CAST(len(regexp_extract_all(text,
               '[\x{AC00}-\x{D7A3}\x{1100}-\x{11FF}]')) AS BIGINT) AS n_hangul,
             CAST(len(regexp_extract_all(text, '[\x{0590}-\x{05FF}]'))
               AS BIGINT) AS n_hebrew,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{024F}]'))
               AS BIGINT) AS n_latin
           FROM aug),
         tot AS (SELECT *, n_arabic + n_cjk + n_cyrillic + n_greek
               + n_hangul + n_hebrew + n_latin AS n_script FROM c),
         u AS (SELECT doc_id,
             unnest(['arabic','cjk','cyrillic','greek',
                     'hangul','hebrew','latin']) AS name,
             unnest([n_arabic, n_cjk, n_cyrillic, n_greek,
                     n_hangul, n_hebrew, n_latin]) AS cnt FROM tot),
         dm AS (SELECT doc_id, name FROM (
             SELECT doc_id, name, row_number() OVER
               (PARTITION BY doc_id ORDER BY cnt DESC, name) AS rk FROM u)
           WHERE rk = 1)
         SELECT t.doc_id, t.n_script, t.n_arabic, t.n_cjk, t.n_cyrillic,
           t.n_greek, t.n_hangul, t.n_hebrew, t.n_latin,
           CASE WHEN t.n_script > 0 THEN dm.name ELSE 'none' END
             AS dominant_script,
           CASE WHEN t.n_script > 0 THEN
             CAST(CAST((CAST(t.n_latin AS HUGEINT) * 2000000 + t.n_script)
                 // (2 * CAST(t.n_script AS HUGEINT)) AS BIGINT) AS DOUBLE)
               / 1000000.0
           END AS latin_share
         FROM tot t JOIN dm USING (doc_id) ORDER BY t.doc_id""",
    // t26: plant replay + the STAGED word→stem vocabulary (the t11
    // staging idiom — the five-step Porter cascade is JVM-only, the
    // stemmed aggregation replays relationally over the staged table)
    "t26_stems" ->
      s"""WITH aug AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 4 = 1
               THEN ' processing processed processes process' ELSE '' END ||
             CASE WHEN doc_id % 4 = 2
               THEN ' merges merged merging relational relations' ELSE '' END ||
             CASE WHEN doc_id % 4 = 3
               THEN ' querying queried queries connection connected' ELSE '' END
             AS text FROM documents),
         st AS (SELECT word, stem
           FROM read_parquet('__GRAFT_STAGE__/t26_vocab/*.parquet')),
         tok AS (SELECT doc_id, unnest($toks) AS word FROM aug)
         SELECT s.stem, count(DISTINCT t.doc_id) AS df,
           count(DISTINCT t.word) AS n_forms, count(*) AS tf
         FROM tok t JOIN st s ON s.word = t.word
         GROUP BY s.stem ORDER BY df DESC, s.stem LIMIT 50""",
    // t29: plant replay + the same two match tiers — unigrams unnest
    // directly, bigrams via 1-based list_transform over range(1, len)
    // (empty for one-token docs), gazetteer as a VALUES dictionary
    "t29_entities" ->
      s"""WITH aug AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 5 = 1
               THEN ' Alan Turing visited London' ELSE '' END ||
             CASE WHEN doc_id % 7 = 2
               THEN ' Grace Hopper joined Acme Corp in New York' ELSE '' END ||
             CASE WHEN doc_id % 9 = 4
               THEN ' the UN met in Paris and London' ELSE '' END ||
             CASE WHEN doc_id % 11 = 3
               THEN ' london calling london again' ELSE '' END
             AS text FROM documents),
         d AS (SELECT doc_id, $toks AS t FROM aug),
         uni AS (SELECT doc_id, unnest(t) AS gram FROM d),
         bi AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
             i -> t[i] || ' ' || t[i+1])) AS gram FROM d),
         g AS (SELECT * FROM (VALUES
             ('alan turing', 'person'), ('grace hopper', 'person'),
             ('ada', 'person'), ('london', 'place'), ('paris', 'place'),
             ('new york', 'place'), ('acme corp', 'org'), ('un', 'org'))
           AS v(entity, etype)),
         m AS (SELECT * FROM uni UNION ALL SELECT * FROM bi)
         SELECT m.doc_id, g.entity, g.etype, count(*) AS n_mentions
         FROM m JOIN g ON m.gram = g.entity
         GROUP BY 1, 2, 3 ORDER BY m.doc_id, g.entity""",
    // t34: the lpad plant replay, the same cue regex, per-group ms
    // arithmetic via list_transform, speech span as the per-cue
    // duration sum, cps as the HUGEINT rational
    "t34_subtitles" ->
      """WITH aug AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 5 = 2 THEN
               chr(10) || '1' || chr(10) || '00:' ||
               lpad(CAST(doc_id % 50 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(doc_id % 40 AS VARCHAR), 2, '0') || ',' ||
               lpad(CAST(doc_id % 900 AS VARCHAR), 3, '0') ||
               ' --> 00:' ||
               lpad(CAST(doc_id % 50 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(doc_id % 40 + 2 AS VARCHAR), 2, '0') || ',' ||
               lpad(CAST(doc_id % 900 AS VARCHAR), 3, '0') ||
               chr(10) || 'hello caption line' || chr(10) || chr(10) ||
               '2' || chr(10) || '00:' ||
               lpad(CAST(doc_id % 50 + 1 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(doc_id % 30 AS VARCHAR), 2, '0') || ',' ||
               lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') ||
               ' --> 00:' ||
               lpad(CAST(doc_id % 50 + 1 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(doc_id % 30 + 3 AS VARCHAR), 2, '0') || ',' ||
               lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') ||
               chr(10) || 'second caption text' || chr(10)
             ELSE '' END AS text FROM documents),
         d AS (SELECT doc_id, text, regexp_extract_all(text,
             '(\d{2}):(\d{2}):(\d{2}),(\d{3}) --> (\d{2}):(\d{2}):(\d{2}),(\d{3})',
             0) AS cues FROM aug),
         e AS (SELECT doc_id, text, cues,
             list_transform(cues, x ->
               CAST(regexp_extract(x, '(\d{2}):(\d{2}):(\d{2}),(\d{3}) --> (\d{2}):(\d{2}):(\d{2}),(\d{3})', 1) AS BIGINT) * 3600000 +
               CAST(regexp_extract(x, '(\d{2}):(\d{2}):(\d{2}),(\d{3}) --> (\d{2}):(\d{2}):(\d{2}),(\d{3})', 2) AS BIGINT) * 60000 +
               CAST(regexp_extract(x, '(\d{2}):(\d{2}):(\d{2}),(\d{3}) --> (\d{2}):(\d{2}):(\d{2}),(\d{3})', 3) AS BIGINT) * 1000 +
               CAST(regexp_extract(x, '(\d{2}):(\d{2}):(\d{2}),(\d{3}) --> (\d{2}):(\d{2}):(\d{2}),(\d{3})', 4) AS BIGINT)) AS starts,
             list_transform(cues, x ->
               CAST(regexp_extract(x, '(\d{2}):(\d{2}):(\d{2}),(\d{3}) --> (\d{2}):(\d{2}):(\d{2}),(\d{3})', 5) AS BIGINT) * 3600000 +
               CAST(regexp_extract(x, '(\d{2}):(\d{2}):(\d{2}),(\d{3}) --> (\d{2}):(\d{2}):(\d{2}),(\d{3})', 6) AS BIGINT) * 60000 +
               CAST(regexp_extract(x, '(\d{2}):(\d{2}):(\d{2}),(\d{3}) --> (\d{2}):(\d{2}):(\d{2}),(\d{3})', 7) AS BIGINT) * 1000 +
               CAST(regexp_extract(x, '(\d{2}):(\d{2}):(\d{2}),(\d{3}) --> (\d{2}):(\d{2}):(\d{2}),(\d{3})', 8) AS BIGINT)) AS ends
           FROM d),
         f AS (SELECT doc_id, text, cues, starts, ends,
             CAST(COALESCE(list_sum(list_transform(range(len(cues)),
               i -> ends[i + 1] - starts[i + 1])), 0) AS BIGINT) AS speech,
             CAST(length(text) - 29 * len(cues) AS BIGINT) AS txtchars
           FROM e)
         SELECT doc_id, CAST(len(cues) AS INTEGER) AS n_cues,
           CASE WHEN len(cues) > 0 THEN list_min(starts) END AS first_ms,
           CASE WHEN len(cues) > 0 THEN list_max(ends) END AS last_ms,
           CASE WHEN len(cues) > 0 THEN speech END AS speech_ms,
           CASE WHEN len(cues) > 0 AND speech > 0 THEN
             CAST(CAST((CAST(txtchars * 1000 AS HUGEINT) * 200 + speech)
               // (2 * CAST(speech AS HUGEINT)) AS BIGINT) AS DOUBLE)
               / 100.0
           END AS cps
         FROM f ORDER BY doc_id""",
    // t33: plant replay + the generated romanize chain and the
    // Cyrillic-codepoint count
    "t33_romanize" ->
      s"""WITH aug AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 6 = 1 THEN ' привет мир' ELSE '' END ||
             CASE WHEN doc_id % 9 = 2
               THEN ' машинное обучение' ELSE '' END ||
             CASE WHEN doc_id % 12 = 7
               THEN ' жёлтый хлеб объём' ELSE '' END AS text
           FROM documents)
         SELECT doc_id, ${romanizeSqlOf("text")} AS roman_text,
           CAST(length(text) - length(translate(text, '$allCyrSql', ''))
             AS INTEGER) AS n_cyr
         FROM aug ORDER BY doc_id""",
    // d29: the twin plant + the same chain, then d1's md5 group algebra
    // over the ROMANIZED text
    "d29_translit_dedup" ->
      s"""WITH aug AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 1000000,
             translate(text, 'aeoskmtvdnilpgbzuf', 'аеоскмтвднилпгбзуф')
           FROM documents WHERE doc_id % 17 = 4),
         r AS (SELECT doc_id, ${romanizeSqlOf("text")} AS rt FROM aug)
         SELECT min(doc_id) AS doc_id, count(*) AS dup_count
         FROM r GROUP BY md5(rt) ORDER BY 1""",
    // t32: plant replay, the same rejoin rewrite (\1\2 vs $1$2 — same
    // semantics), then the token signals over the REPAIRED text and
    // the integer-threshold flag
    "t32_ocr_repair" ->
      s"""WITH aug AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 5 = 3
               THEN ' exam- ple qual- ity data' ELSE '' END ||
             CASE WHEN doc_id % 8 = 5
               THEN ' a b c d e f g h' ELSE '' END ||
             CASE WHEN doc_id % 11 = 7
               THEN ' w0rd m1xed t3xt perf0rm' ELSE '' END AS text
           FROM documents),
         r AS (SELECT doc_id,
             CAST(len(regexp_extract_all(text, '([a-z])- ([a-z])', 0))
               AS INTEGER) AS n_joins,
             regexp_replace(text, '([a-z])- ([a-z])', '\\1\\2', 'g')
               AS clean_text
           FROM aug),
         d AS (SELECT doc_id, n_joins, clean_text,
             ${toksOf("clean_text")} AS t FROM r)
         SELECT doc_id, clean_text, n_joins,
           CAST(len(t) AS INTEGER) AS n_tokens,
           CAST(len(list_filter(t, x -> regexp_matches(x, '^[a-z]$$')))
             AS INTEGER) AS n_spray,
           CAST(len(list_filter(t, x -> regexp_matches(x,
             '^[a-z]*[0-9][a-z]+$$|^[a-z]+[0-9][a-z]*$$')))
             AS INTEGER) AS n_mixed,
           CASE WHEN len(t) > 0 THEN
             CAST(CAST((CAST(len(list_filter(t,
                 x -> regexp_matches(x, '^[a-z]$$'))) AS HUGEINT)
                 * 2000000 + len(t))
               // (2 * CAST(len(t) AS HUGEINT)) AS BIGINT) AS DOUBLE)
               / 1000000.0
           END AS spray_share,
           CASE WHEN len(list_filter(t, x -> regexp_matches(x, '^[a-z]$$')))
                  * 5 > len(t)
                 OR n_joins >= 2
                 OR len(list_filter(t, x -> regexp_matches(x,
                   '^[a-z]*[0-9][a-z]+$$|^[a-z]+[0-9][a-z]*$$'))) >= 3
             THEN 1 ELSE 0 END AS is_suspect
         FROM d ORDER BY doc_id""",
    // t31: plant replay (printf/list-index date building), then the
    // same three patterns with per-match group rebuilds — ISO strings
    // order lexicographically = chronologically, so list_min/list_max
    // replay array_min/array_max
    "t31_dates" ->
      """WITH aug AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 6 = 1 THEN ' published ' ||
               printf('%04d-%02d-%02d', 2000 + doc_id % 20,
                 1 + doc_id % 12, 1 + doc_id % 28) ELSE '' END ||
             CASE WHEN doc_id % 7 = 2 THEN ' updated on ' ||
               CAST(1 + doc_id % 12 AS VARCHAR) || '/' ||
               CAST(1 + doc_id % 28 AS VARCHAR) || '/' ||
               CAST(1980 + doc_id % 40 AS VARCHAR) ELSE '' END ||
             CASE WHEN doc_id % 9 = 5 THEN ' Posted ' ||
               ['January','February','March','April','May','June','July',
                'August','September','October','November','December']
                 [CAST(1 + doc_id % 12 AS INT)] || ' ' ||
               CAST(1 + doc_id % 28 AS VARCHAR) || ', ' ||
               CAST(1990 + doc_id % 30 AS VARCHAR) ELSE '' END AS text
           FROM documents),
         d AS (SELECT doc_id,
             regexp_extract_all(text,
               '\b(19|20)\d{2}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])\b',
               0) ||
             list_transform(regexp_extract_all(text,
                 '\b(0?[1-9]|1[0-2])/(0?[1-9]|[12]\d|3[01])/((19|20)\d{2})\b',
                 0),
               x -> regexp_extract(x,
                 '\b(0?[1-9]|1[0-2])/(0?[1-9]|[12]\d|3[01])/((19|20)\d{2})\b',
                 3) || '-' || lpad(regexp_extract(x,
                 '\b(0?[1-9]|1[0-2])/(0?[1-9]|[12]\d|3[01])/((19|20)\d{2})\b',
                 1), 2, '0') || '-' || lpad(regexp_extract(x,
                 '\b(0?[1-9]|1[0-2])/(0?[1-9]|[12]\d|3[01])/((19|20)\d{2})\b',
                 2), 2, '0')) ||
             list_transform(regexp_extract_all(text,
                 '(?i)\b(january|february|march|april|may|june|july|august|september|october|november|december) (0?[1-9]|[12]\d|3[01]), ((19|20)\d{2})\b',
                 0),
               x -> regexp_extract(x,
                 '(?i)\b(january|february|march|april|may|june|july|august|september|october|november|december) (0?[1-9]|[12]\d|3[01]), ((19|20)\d{2})\b',
                 3) || '-' ||
                 CASE lower(regexp_extract(x,
                   '(?i)\b(january|february|march|april|may|june|july|august|september|october|november|december) (0?[1-9]|[12]\d|3[01]), ((19|20)\d{2})\b',
                   1))
                   WHEN 'january' THEN '01' WHEN 'february' THEN '02'
                   WHEN 'march' THEN '03' WHEN 'april' THEN '04'
                   WHEN 'may' THEN '05' WHEN 'june' THEN '06'
                   WHEN 'july' THEN '07' WHEN 'august' THEN '08'
                   WHEN 'september' THEN '09' WHEN 'october' THEN '10'
                   WHEN 'november' THEN '11' WHEN 'december' THEN '12'
                 END || '-' || lpad(regexp_extract(x,
                 '(?i)\b(january|february|march|april|may|june|july|august|september|october|november|december) (0?[1-9]|[12]\d|3[01]), ((19|20)\d{2})\b',
                 2), 2, '0')) AS ds
           FROM aug)
         SELECT doc_id, CAST(len(ds) AS INTEGER) AS n_dates,
           list_min(ds) AS first_date, list_max(ds) AS last_date
         FROM d ORDER BY doc_id""",
    // t30: plant replay + the same translate fold and mixed-script
    // token filter (visible UTF-8 literals in both engines)
    "t30_confusables" ->
      s"""WITH aug AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 6 = 1
               THEN ' frее dаtа dоwnlоаd' ELSE '' END ||
             CASE WHEN doc_id % 8 = 3
               THEN ' сlісk hеrе nоw' ELSE '' END ||
             CASE WHEN doc_id % 10 = 7
               THEN ' привет мир' ELSE '' END
             AS text FROM documents),
         d AS (SELECT doc_id, text, $toks AS t FROM aug)
         SELECT doc_id,
           translate(text, 'аеорсхуіѕοι', 'aeopcxyisoi') AS skeleton,
           CAST(length(text) - length(translate(text, 'аеорсхуіѕοι', ''))
             AS INTEGER) AS n_confusable,
           CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')
               AND regexp_matches(x, '[аеорсхуіѕοι]')))
             AS INTEGER) AS n_spoof_words,
           CASE WHEN len(list_filter(t, x -> regexp_matches(x, '[a-z]')
               AND regexp_matches(x, '[аеорсхуіѕοι]'))) > 0
             THEN 1 ELSE 0 END AS spoofed
         FROM d ORDER BY doc_id""",
    // t23: plant replay, then each signal relationally — trimmed
    // nonempty line counts, 2-gram argmax by (count DESC, gram) with
    // chars = len(g) − 1 a pure function of the gram, 5-gram coverage
    // as a DISTINCT position union (the c35 idiom), token-char masses,
    // HUGEINT exact rationals throughout
    "t23_rep_signals" ->
      s"""WITH aug AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 4 = 1
               THEN chr(10) || 'repeat me exactly once more' ||
                    chr(10) || 'repeat me exactly once more' ELSE '' END ||
             CASE WHEN doc_id % 5 = 2
               THEN ' spark spark spark spark spark spark' ELSE '' END ||
             CASE WHEN doc_id % 7 = 3
               THEN ' alpha beta gamma delta epsilon alpha beta gamma delta epsilon'
               ELSE '' END AS text FROM documents),
         bs AS (SELECT doc_id, text, $toks AS t FROM aug),
         bn AS (SELECT doc_id, text, t, len(t) AS n FROM bs WHERE len(t) > 0),
         tc AS (SELECT doc_id,
                  CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT)
                    AS tok_chars FROM bn),
         ln AS (SELECT doc_id, trim(l) AS line FROM
                  (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
                   FROM bn)
                WHERE trim(l) <> ''),
         lc AS (SELECT doc_id, line, count(*) AS c FROM ln GROUP BY 1, 2),
         ls AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
                  CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
                    AS n_dup_lines,
                  CAST(sum(length(line) * c) AS BIGINT) AS line_chars,
                  CAST(sum(CASE WHEN c >= 2 THEN length(line) * c ELSE 0 END)
                    AS BIGINT) AS dup_line_chars
                FROM lc GROUP BY 1),
         g2 AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g,
                  length(t[i]) + length(t[i+1]) AS chars
                FROM bn, unnest(generate_series(1, n - 1)) AS u(i)
                WHERE n >= 2),
         g2c AS (SELECT doc_id, g, count(*) AS c, max(chars) AS chars
                 FROM g2 GROUP BY 1, 2),
         t2 AS (SELECT doc_id, CAST(c * chars AS BIGINT) AS top2_chars FROM
                (SELECT *, row_number() OVER
                   (PARTITION BY doc_id ORDER BY c DESC, g) AS rk FROM g2c)
                WHERE rk = 1),
         o5 AS (SELECT doc_id, i AS p, array_to_string(t[i:i+4], ' ') AS g
                FROM bn, unnest(generate_series(1, n - 4)) AS u(i)
                WHERE n >= 5),
         d5 AS (SELECT doc_id, g FROM o5 GROUP BY doc_id, g
                HAVING count(*) >= 2),
         cv AS (SELECT DISTINCT o5.doc_id, u.cp
                FROM o5 JOIN d5 ON d5.doc_id = o5.doc_id AND d5.g = o5.g,
                  unnest(generate_series(o5.p, o5.p + 4)) AS u(cp)),
         tp AS (SELECT doc_id, i AS cp, length(t[i]) AS len
                FROM bn, unnest(generate_series(1, n)) AS u(i)),
         d5c AS (SELECT cv.doc_id, CAST(sum(tp.len) AS BIGINT) AS dup5_chars
                 FROM cv JOIN tp ON tp.doc_id = cv.doc_id AND tp.cp = cv.cp
                 GROUP BY 1)
         SELECT bn.doc_id, CAST(bn.n AS BIGINT) AS n_tokens,
           CAST(ls.n_lines AS INTEGER) AS n_lines,
           CAST(CAST((CAST(ls.n_dup_lines AS HUGEINT) * 2000000 + ls.n_lines)
                // (2 * CAST(ls.n_lines AS HUGEINT)) AS BIGINT) AS DOUBLE)
              / 1000000.0 AS dup_line_frac,
           CAST(CAST((CAST(ls.dup_line_chars AS HUGEINT) * 2000000 + ls.line_chars)
                // (2 * CAST(ls.line_chars AS HUGEINT)) AS BIGINT) AS DOUBLE)
              / 1000000.0 AS dup_line_char_frac,
           CASE WHEN t2.top2_chars IS NOT NULL THEN
             CAST(CAST((CAST(t2.top2_chars AS HUGEINT) * 2000000 + tc.tok_chars)
                // (2 * CAST(tc.tok_chars AS HUGEINT)) AS BIGINT) AS DOUBLE)
              / 1000000.0 END AS top2_char_frac,
           CAST(CAST((CAST(coalesce(d5c.dup5_chars, 0) AS HUGEINT) * 2000000 + tc.tok_chars)
                // (2 * CAST(tc.tok_chars AS HUGEINT)) AS BIGINT) AS DOUBLE)
              / 1000000.0
             AS dup5_char_frac
         FROM bn JOIN tc ON tc.doc_id = bn.doc_id
         JOIN ls ON ls.doc_id = bn.doc_id
         LEFT JOIN t2 ON t2.doc_id = bn.doc_id
         LEFT JOIN d5c ON d5c.doc_id = bn.doc_id
         ORDER BY bn.doc_id""",
    // t20: plant replay, RE2 candidate extraction, Luhn replayed as
    // pure integer arithmetic per candidate (double-every-second from
    // the right, subtract 9 over 9), sorted-distinct literal fold
    "t20_card_scrub" ->
      """WITH aug AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 6 = 1 THEN ' card 4539 1488 0343 6467 on file' ELSE '' END ||
             CASE WHEN doc_id % 6 = 3 THEN ' pay 5555-5555-5555-4444 now' ELSE '' END ||
             CASE WHEN doc_id % 6 = 4 THEN ' ref 4539 1488 0343 6468 code' ELSE '' END
               AS text FROM documents),
         cd AS (SELECT doc_id, text,
                regexp_extract_all(text, '\b\d(?:[ -]?\d){12,18}\b') AS cs
                FROM aug),
         ex AS (SELECT doc_id, unnest(cs) AS c FROM cd),
         dg AS (SELECT doc_id, c,
                replace(replace(c, ' ', ''), '-', '') AS d FROM ex),
         ok AS (SELECT doc_id, c FROM dg WHERE
                list_sum([CASE WHEN (length(d) - i) % 2 = 1 THEN
                    CASE WHEN 2 * CAST(d[i] AS INTEGER) > 9
                         THEN 2 * CAST(d[i] AS INTEGER) - 9
                         ELSE 2 * CAST(d[i] AS INTEGER) END
                  ELSE CAST(d[i] AS INTEGER) END
                  for i in generate_series(1, length(d))]) % 10 = 0),
         okl AS (SELECT doc_id, list_sort(list_distinct(list(c))) AS oks,
                 count(*) AS n_cards FROM ok GROUP BY 1),
         cnt AS (SELECT doc_id, count(*) AS n_candidates FROM ex GROUP BY 1)
         SELECT cd.doc_id,
           CASE WHEN okl.oks IS NULL THEN cd.text
                ELSE list_reduce(list_prepend(cd.text, okl.oks),
                       (a, b) -> replace(a, b, '<CARD>')) END AS scrubbed,
           CAST(coalesce(cnt.n_candidates, 0) AS INTEGER) AS n_candidates,
           CAST(coalesce(okl.n_cards, 0) AS INTEGER) AS n_cards
         FROM cd LEFT JOIN cnt ON cnt.doc_id = cd.doc_id
         LEFT JOIN okl ON okl.doc_id = cd.doc_id
         ORDER BY cd.doc_id""",
    "t12_pii_scrub" ->
      """WITH aug AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
             CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
           CASE WHEN doc_id % 4 < 2 THEN ' see https://data.example.org/doc/' ||
             CAST(doc_id AS VARCHAR) || ' end' ELSE '' END ||
           CASE WHEN doc_id % 5 = 0 THEN ' call 555-0100 or 555-0199' ELSE '' END
           AS t0 FROM documents),
         s1 AS (SELECT doc_id,
           CAST(len(regexp_extract_all(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
           regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g') AS t1 FROM aug),
         s2 AS (SELECT doc_id, n_email,
           CAST(len(regexp_extract_all(t1, 'https?://\S+')) AS INTEGER) AS n_url,
           regexp_replace(t1, 'https?://\S+', '<URL>', 'g') AS t2 FROM s1),
         s3 AS (SELECT doc_id, n_email, n_url,
           CAST(len(regexp_extract_all(t2, '\b\d{3}-\d{4}\b')) AS INTEGER) AS n_phone,
           regexp_replace(t2, '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS t3 FROM s2)
         SELECT doc_id, t3 AS scrubbed, n_email, n_url, n_phone
         FROM s3 ORDER BY doc_id""",
    // t14: the ENTIRE Cavnar–Trenkle pipeline replayed relationally —
    // per-lang trigram counts, deterministic rank cut, rank-weighted
    // occurrence scoring, the shared langOrder tie-break CASE
    "t14_lang_ngram" -> {
      val scoreCols = TextOps.langOrder.map(l =>
        s"coalesce(max(CASE WHEN sc.lang = '$l' THEN s END), 0) AS ng_score_$l")
        .mkString(",\n           ")
      s"""WITH d AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
         g AS (SELECT doc_id, lang, CASE WHEN length(t) >= 3 THEN
             [substr(t, i, 3) for i in generate_series(1, length(t) - 2)]
             ELSE [] END AS gs FROM d),
         pc AS (SELECT lang, gram, count(*) AS cnt
                FROM (SELECT lang, unnest(gs) AS gram FROM g) GROUP BY 1, 2),
         prof AS (SELECT lang, gram, 41 - rn AS wt FROM (
                SELECT lang, gram, row_number() OVER
                  (PARTITION BY lang ORDER BY cnt DESC, gram) AS rn FROM pc)
                WHERE rn <= 40),
         dg AS (SELECT doc_id, unnest(gs) AS gram FROM g),
         sc AS (SELECT dg.doc_id, prof.lang, CAST(sum(prof.wt) AS INTEGER) AS s
                FROM dg JOIN prof ON dg.gram = prof.gram GROUP BY 1, 2),
         p AS (SELECT d.doc_id,
           $scoreCols
           FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id GROUP BY 1)
         SELECT doc_id, ${TextOps.langOrder.map(l => s"ng_score_$l").mkString(", ")},
           ${predCaseOver("ng_score_")} AS pred_lang
         FROM p ORDER BY doc_id"""
    },
    // c24: same planted decorations as the Spark gate, then the Gopher
    // rule algebra — every ratio an int/int single IEEE division
    "c24_quality_rules" -> qualityRulesSql,
    // st13 is the SAME computation driven through a file stream with
    // cross-batch ingestion — the gate is c24's oracle verbatim
    "st13_quality_stream" -> qualityRulesSql,
    "q26_small_qty" ->
      s"""SELECT ${dsum("l_extendedprice")} AS total_price, count(*) AS n_items
          FROM lineitem l JOIN (SELECT l_partkey AS pk, ${davg("l_quantity")} AS avg_qty
                                FROM lineitem GROUP BY 1) p
            ON l.l_partkey = p.pk
          WHERE l.l_quantity < 0.5 * p.avg_qty""",
    "q27_salted_join" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders, ${dsum("o_totalprice")} AS sum_price
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1 ORDER BY 1""",
    "q28_latest_event" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS se FROM events),
         r AS (SELECT *, row_number() OVER
           (PARTITION BY user_id ORDER BY se DESC, event_id DESC) AS rn FROM e)
         SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           se AS last_sec, value AS last_value
         FROM r WHERE rn = 1 ORDER BY user_id""",
    // st5: the watermarked stream-stream interval join must emit exactly
    // the batch interval-join pairs. CAST(ts AS TIMESTAMP) truncates
    // DuckDB's nanosecond timestamps to the microseconds Spark compares.
    "st5_interval_join_stream" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'purchase'),
         s AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'signup')
         SELECT p.event_id AS l_id, s.event_id AS r_id, p.user_id
         FROM p JOIN s ON p.user_id = s.user_id
           AND s.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
           AND p.event_id != s.event_id
         ORDER BY 1, 2""",
    // st8: the LEFT-OUTER half of st5 — unmatched purchases must
    // null-emit exactly once via watermark eviction. NULLS FIRST matches
    // Spark's ascending null ordering (DuckDB defaults to NULLS LAST).
    "st8_interval_outer_stream" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'purchase'),
         s AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'signup')
         SELECT p.event_id AS l_id, s.event_id AS r_id, p.user_id
         FROM p LEFT JOIN s ON p.user_id = s.user_id
           AND s.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
           AND p.event_id != s.event_id
         ORDER BY 1, 2 NULLS FIRST""",
    // q39: the z-ordered round trip must read back exactly the raw-table
    // filter result (layout changes bytes read, never rows returned)
    "q39_zorder_read" ->
      """SELECT event_id, user_id, value FROM events
         WHERE user_id BETWEEN 3 AND 7 AND value BETWEEN 20.0 AND 80.0
         ORDER BY 1""",
    // st9: d12's incremental ingest dedup through the streaming path.
    // The driver stages every surviving document TWICE (cross-batch
    // update-mode state), hence the 2× on the count — the only way the
    // staged duplication is visible in the final state.
    "st9_ingest_dedup_stream" ->
      """WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         c AS (SELECT text FROM documents WHERE doc_id % 2 = 1)
         SELECT min(doc_id) AS doc_id, CAST(2 * count(*) AS BIGINT) AS dup_count
         FROM b WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.text = b.text)
         GROUP BY text ORDER BY 1""",
    // st4 = the q28 oracle verbatim: streaming keyed latest-state must
    // drain to exactly the batch latest-event table.
    "st4_latest_stream" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS se FROM events),
         r AS (SELECT *, row_number() OVER
           (PARTITION BY user_id ORDER BY se DESC, event_id DESC) AS rn FROM e)
         SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           se AS last_sec, value AS last_value
         FROM r WHERE rn = 1 ORDER BY user_id""",
    "c11_shards" ->
      """SELECT ((doc_id % 1000003) * 3266489917 + 104729) % 8 AS shard,
         count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY 1 ORDER BY 1""",
    "c12_contamination" -> contaminationSql,
    // st15 is the SAME computation driven through a file stream in
    // doc-disjoint micro-batches — the gate is c12's oracle verbatim
    "st15_contamination_stream" -> contaminationSql,
    "t9_stop_strip" ->
      s"""WITH tk AS (SELECT unnest($toks) AS term FROM documents),
          top AS (SELECT term FROM tk GROUP BY term
                  ORDER BY count(*) DESC, term LIMIT 20),
          tl AS (SELECT list(term) AS topk FROM top)
          SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens_raw,
            CAST(len(f) AS INTEGER) AS n_tokens_kept,
            -- DuckDB's array_to_string([]) is NULL; Spark's array_join is ''
            coalesce(array_to_string(f, ' '), '') AS stripped_text
          FROM (SELECT doc_id, t,
                list_filter(t, x -> NOT list_contains(topk, x)) AS f
                FROM (SELECT doc_id, $toks AS t FROM documents), tl)
          ORDER BY doc_id""",
    "c14_percentile_gate" ->
      """WITH b AS (SELECT quantile_cont(n_chars, 0.1) AS p_lo,
                    quantile_cont(n_chars, 0.9) AS p_hi FROM documents)
         SELECT source, count(*) AS n_kept, min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
         FROM documents, b
         WHERE n_chars >= CAST(p_lo AS DECIMAL(38,6))
           AND n_chars <= CAST(p_hi AS DECIMAL(38,6))
         GROUP BY 1 ORDER BY 1""",
    "c15_token_packing" ->
      """WITH t AS (SELECT ((doc_id % 1000003) * 3266489917 + 104729) % 8 AS shard,
             doc_id, CAST(ceil(CAST(n_chars AS DOUBLE) / 4) AS BIGINT) AS tok
             FROM documents),
         c AS (SELECT shard, doc_id, tok,
             CAST(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             FROM t)
         SELECT shard, (cum - tok) // 2048 AS pack_id, count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS sum_tokens
         FROM c GROUP BY 1, 2 ORDER BY 1, 2""",
    // st12: the drained streaming per-source totals must equal the batch
    // aggregate over the staged per-doc counts
    "st12_token_budget_stream" ->
      """SELECT source, CAST(sum(n_bpe_tokens) AS BIGINT) AS total_tokens,
         count(*) AS n_docs
         FROM read_parquet('__GRAFT_STAGE__/st12_counts/*.parquet')
         GROUP BY 1 ORDER BY 1""",
    // c23: c15's packing algebra over the STAGED real BPE counts (the
    // gate writes them; Verify rewrites __GRAFT_STAGE__ to the per-sfDir
    // stage path when dumping oracle_sql.json)
    // t11: the staged word→segmentation model (the one non-ANSI step —
    // learn loop + greedy merges, a pure per-word function) joins back
    // onto the corpus relationally: ordered token positions via a struct
    // comprehension, subword counts summed, bpe_text re-assembled with an
    // ORDER BY position string_agg; token-less docs survive the LEFT JOIN
    // c46: staged per-doc BPE counts joined back for lang + raw bytes,
    // ratios in the HUGEINT rational form, zero-denominator langs null
    "c46_fertility" ->
      """WITH c AS (SELECT doc_id, n_words, n_bpe_tokens
             FROM read_parquet('__GRAFT_STAGE__/c46_counts/*.parquet')),
         j AS (SELECT d.lang, c.n_words, c.n_bpe_tokens,
               octet_length(encode(d.text)) AS nb
             FROM documents d JOIN c ON c.doc_id = d.doc_id),
         ag AS (SELECT lang, count(*) AS n_docs,
               CAST(sum(n_words) AS BIGINT) AS n_words,
               CAST(sum(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
               CAST(sum(nb) AS BIGINT) AS n_bytes
             FROM j GROUP BY 1)
         SELECT lang, n_docs, n_words, n_bpe_tokens, n_bytes,
           CASE WHEN n_words > 0 THEN
             CAST(CAST((CAST(n_bpe_tokens AS HUGEINT) * 2000000 + n_words)
               // (2 * CAST(n_words AS HUGEINT)) AS BIGINT) AS DOUBLE)
               / 1000000.0 END AS fertility,
           CASE WHEN n_bpe_tokens > 0 THEN
             CAST(CAST((CAST(n_bytes AS HUGEINT) * 2000000 + n_bpe_tokens)
               // (2 * CAST(n_bpe_tokens AS HUGEINT)) AS BIGINT) AS DOUBLE)
               / 1000000.0 END AS bytes_per_token
         FROM ag ORDER BY lang""",
    "t11_bpe_tokens" ->
      s"""WITH d AS (SELECT doc_id, $toks AS a FROM documents),
          w AS (SELECT doc_id, unnest([{'i': i, 'w': a[i]}
                  for i in generate_series(1, len(a))], recursive := true)
                FROM d),
          j AS (SELECT w.doc_id, w.i, s.seg, s.n_sub
                FROM w JOIN read_parquet('__GRAFT_STAGE__/t11_wordseg/*.parquet') s
                  ON w.w = s.word),
          agg AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_words,
                  CAST(sum(n_sub) AS INTEGER) AS n_bpe_tokens,
                  string_agg(seg, ' ' ORDER BY i) AS bpe_text
                  FROM j GROUP BY 1)
          SELECT d0.doc_id, coalesce(agg.n_words, 0) AS n_words,
            coalesce(agg.n_bpe_tokens, 0) AS n_bpe_tokens,
            coalesce(agg.bpe_text, '') AS bpe_text
          FROM documents d0 LEFT JOIN agg ON d0.doc_id = agg.doc_id
          ORDER BY d0.doc_id""",
    // t35: t11's oracle shape over the unigram staged word table
    // c63: corpus word counts recomputed from documents, weighted
    // against the staged per-word segment counts, rolled up per family
    "c63_tokenizer_eval" ->
      s"""WITH tk AS (SELECT unnest($toks) AS word FROM documents),
          wc AS (SELECT word, count(*) AS cnt FROM tk GROUP BY 1),
          j AS (SELECT wc.cnt, s.n_bpe, s.n_ug, s.n_wp, s.n_unk_wp
                FROM wc JOIN read_parquet('__GRAFT_STAGE__/c63_wordsegs/*.parquet') s
                  USING (word)),
          tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS nw,
                  CAST(sum(cnt * n_bpe) AS BIGINT) AS tb,
                  CAST(sum(cnt * n_ug) AS BIGINT) AS tu,
                  CAST(sum(cnt * n_wp) AS BIGINT) AS tw,
                  CAST(sum(cnt * n_unk_wp) AS BIGINT) AS tunk FROM j)
          SELECT * FROM (
            SELECT 'bpe' AS family, nw AS n_words, tb AS n_subwords,
              CAST((tb * 1000000) // nw AS BIGINT) AS fertility_e6,
              CAST(0 AS BIGINT) AS n_unk_words FROM tot
            UNION ALL
            SELECT 'unigram', nw, tu, CAST((tu * 1000000) // nw AS BIGINT),
              CAST(0 AS BIGINT) FROM tot
            UNION ALL
            SELECT 'wordpiece', nw, tw, CAST((tw * 1000000) // nw AS BIGINT),
              tunk FROM tot)
          ORDER BY family""",
    // t37: t35's staged-word-segmentation replay with the WordPiece
    // columns (+ the [UNK] coverage count summed from the word table)
    "t37_wordpiece_tokens" ->
      s"""WITH d AS (SELECT doc_id, $toks AS a FROM documents),
          w AS (SELECT doc_id, unnest([{'i': i, 'w': a[i]}
                  for i in generate_series(1, len(a))], recursive := true)
                FROM d),
          j AS (SELECT w.doc_id, w.i, s.seg, s.n_sub, s.n_unk_w
                FROM w JOIN read_parquet('__GRAFT_STAGE__/t37_wordseg/*.parquet') s
                  ON w.w = s.word),
          agg AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_words,
                  CAST(sum(n_sub) AS INTEGER) AS n_wp_tokens,
                  CAST(sum(n_unk_w) AS INTEGER) AS n_unk,
                  string_agg(seg, ' ' ORDER BY i) AS wp_text
                  FROM j GROUP BY 1)
          SELECT d0.doc_id, coalesce(agg.n_words, 0) AS n_words,
            coalesce(agg.n_wp_tokens, 0) AS n_wp_tokens,
            coalesce(agg.n_unk, 0) AS n_unk,
            coalesce(agg.wp_text, '') AS wp_text
          FROM documents d0 LEFT JOIN agg ON d0.doc_id = agg.doc_id
          ORDER BY d0.doc_id""",
    "t35_unigram_tokens" ->
      s"""WITH d AS (SELECT doc_id, $toks AS a FROM documents),
          w AS (SELECT doc_id, unnest([{'i': i, 'w': a[i]}
                  for i in generate_series(1, len(a))], recursive := true)
                FROM d),
          j AS (SELECT w.doc_id, w.i, s.seg, s.n_sub
                FROM w JOIN read_parquet('__GRAFT_STAGE__/t35_wordseg/*.parquet') s
                  ON w.w = s.word),
          agg AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_words,
                  CAST(sum(n_sub) AS INTEGER) AS n_unigram_tokens,
                  string_agg(seg, ' ' ORDER BY i) AS unigram_text
                  FROM j GROUP BY 1)
          SELECT d0.doc_id, coalesce(agg.n_words, 0) AS n_words,
            coalesce(agg.n_unigram_tokens, 0) AS n_unigram_tokens,
            coalesce(agg.unigram_text, '') AS unigram_text
          FROM documents d0 LEFT JOIN agg ON d0.doc_id = agg.doc_id
          ORDER BY d0.doc_id""",
    "c23_bpe_packing" ->
      """WITH t AS (SELECT ((doc_id % 1000003) * 3266489917 + 104729) % 8 AS shard,
             doc_id, CAST(n_bpe_tokens AS BIGINT) AS tok
             FROM read_parquet('__GRAFT_STAGE__/c23_bpe_counts/*.parquet')),
         c AS (SELECT shard, doc_id, tok,
             CAST(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             FROM t)
         SELECT shard, (cum - tok) // 2048 AS pack_id, count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS sum_tokens
         FROM c GROUP BY 1, 2 ORDER BY 1, 2""",
    "t8_importance" ->
      s"""WITH tk AS (SELECT doc_id, source, unnest($toks) AS term FROM documents),
          tf AS (SELECT term, count(*) AS ctf,
                 CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ttf
                 FROM tk GROUP BY 1),
          tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS ctot,
                  CAST(sum(ttf) AS BIGINT) AS ttot, count(*) AS vocab FROM tf)
          SELECT tk.doc_id, count(*) AS n_tokens,
            CAST(CAST(CAST(sum(CAST(CAST(
                ln(CAST(tf.ttf + 1 AS DOUBLE) / (tot.ttot + tot.vocab)) -
                ln(CAST(tf.ctf + 1 AS DOUBLE) / (tot.ctot + tot.vocab))
              AS DECIMAL(38,6)) AS DECIMAL(28,6))) AS DOUBLE) / count(*)
              AS DECIMAL(38,4)) AS DOUBLE) AS importance
          FROM tk JOIN tf ON tk.term = tf.term, tot
          GROUP BY tk.doc_id ORDER BY tk.doc_id""",
    "q29_deciles" ->
      """SELECT o_orderpriority, CAST(decile AS INTEGER) AS decile, count(*) AS n,
         min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         FROM (SELECT o_orderpriority, o_totalprice, o_orderkey,
               ntile(10) OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey) AS decile
               FROM orders)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "c9_source_mix" ->
      """SELECT source, count(*) AS n_kept FROM documents
         WHERE ((doc_id % 1000003) * 2246822519 + 104729) % 1000 <
           CASE WHEN source = 'src0' THEN 1000
                WHEN source = 'src1' THEN 250
                WHEN source = 'src2' THEN 0
                ELSE 500 END
         GROUP BY 1 ORDER BY 1""",
    // nfc_normalize mirrors the Spark side's NFKC step on the NFC-visible
    // subset (identical on NFC-normalized text, which includes all of
    // ASCII); NFKC-only cases are spec-gated, not oracle-gated
    "t6_normalize" ->
      """WITH n AS (SELECT doc_id, text, nfc_normalize(text) AS nt FROM documents)
         SELECT doc_id,
         regexp_replace(regexp_replace(lower(trim(nt)), '[.,!?;:]', '', 'g'),
                        '\s+', ' ', 'g') AS norm_text,
         CAST(length(text) AS INTEGER) AS n_chars_raw,
         CAST(length(regexp_replace(regexp_replace(lower(trim(nt)), '[.,!?;:]', '', 'g'),
                     '\s+', ' ', 'g')) AS INTEGER) AS n_chars_norm
         FROM n ORDER BY doc_id""",
    "q30_cume_users" ->
      """WITH fd AS (SELECT user_id, min(strftime(date_trunc('day', ts), '%Y-%m-%d')) AS day
           FROM events GROUP BY 1),
         pd AS (SELECT day, count(*) AS new_users FROM fd GROUP BY 1)
         SELECT day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cume_users
         FROM pd ORDER BY day""",
    "q31_histogram" ->
      """SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                WHEN o_totalprice >= 600000.0 THEN 13
                ELSE CAST(floor((o_totalprice - 0.0) / 50000.0) AS INTEGER) + 1
           END AS bucket,
         count(*) AS n, min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q32_transitions" ->
      """WITH e AS (SELECT user_id, event_type,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS se, event_id FROM events),
         f AS (SELECT event_type, lead(event_type) OVER
           (PARTITION BY user_id ORDER BY se, event_id) AS next_type FROM e)
         SELECT event_type, next_type, count(*) AS n FROM f
         WHERE next_type IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""",
    "q33_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
         SELECT strftime(day - k * INTERVAL '1 day', '%Y-%m-%d') AS window_start,
           count(DISTINCT user_id) AS wau
         FROM ud, unnest(generate_series(0, 6)) AS t(k)
         GROUP BY 1 ORDER BY 1""",
    "q34_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events),
         c AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1)
         SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', c.cohort_week, uw.week) // 7 AS INTEGER) AS week_offset,
           count(DISTINCT uw.user_id) AS n_users
         FROM uw JOIN c ON uw.user_id = c.user_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "t7_unigram_ll" ->
      s"""WITH tk AS (SELECT doc_id, unnest($toks) AS term FROM documents),
          tf AS (SELECT term, count(*) AS tf FROM tk GROUP BY 1),
          tot AS (SELECT count(*) AS total FROM tk)
          SELECT doc_id, count(*) AS n_tokens,
            CAST(CAST(CAST(sum(CAST(CAST(ln(CAST(tf.tf AS DOUBLE) / tot.total)
                 AS DECIMAL(38,6)) AS DECIMAL(28,6))) AS DOUBLE) / count(*)
                 AS DECIMAL(38,4)) AS DOUBLE) AS avg_ll
          FROM tk JOIN tf ON tk.term = tf.term, tot
          GROUP BY doc_id ORDER BY doc_id""",
    // t38: the whole fit replays — bucket assignment (integer div on
    // max+1), per-bucket token/new-vocab counts, the cumulative curve,
    // decimal-6 ln, exact decimal moment sums, and the fixed-shape
    // double β/lnK expressions. A wrong bucket rule, first-occurrence
    // min, or regression term hash-fails.
    "t38_heaps_fit" ->
      s"""WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
          tk0 AS (SELECT (doc_id * 32) // m AS g, unnest(CASE WHEN len(t) >= 2
                THEN [t[i] || ' ' || t[i+1] for i in generate_series(1, len(t)-1)]
                ELSE [array_to_string(t, ' ')] END) AS term
              FROM (SELECT doc_id, $toks AS t FROM documents), mx),
          tk AS (SELECT g, count(*) AS tk FROM tk0 GROUP BY 1),
          nv AS (SELECT g, count(*) AS nv FROM
                   (SELECT term, min(g) AS g FROM tk0 GROUP BY 1) GROUP BY 1),
          curve AS (SELECT tk.g, sum(tk.tk) OVER w AS cum_t,
              sum(coalesce(nv.nv, 0)) OVER w AS cum_v
            FROM tk LEFT JOIN nv USING (g)
            WINDOW w AS (ORDER BY tk.g
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          xy AS (SELECT cum_t, cum_v,
              CAST(ln(CAST(cum_t AS DOUBLE)) AS DECIMAL(18,6)) AS x,
              CAST(ln(CAST(cum_v AS DOUBLE)) AS DECIMAL(18,6)) AS y
            FROM curve),
          mo AS (SELECT count(*) AS n_points,
              CAST(max(cum_t) AS BIGINT) AS total_tokens,
              CAST(max(cum_v) AS BIGINT) AS total_vocab,
              CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
              CAST(sum(x * y) AS DOUBLE) AS sxy,
              CAST(sum(x * x) AS DOUBLE) AS sxx
            FROM xy),
          b AS (SELECT *, CAST(CAST((n_points * sxy - sx * sy) /
              (n_points * sxx - sx * sx) AS DECIMAL(38,6)) AS DOUBLE) AS beta
            FROM mo)
          SELECT n_points, total_tokens, total_vocab, beta,
            CAST(CAST((sy - beta * sx) / n_points AS DECIMAL(38,6)) AS DOUBLE)
              AS ln_k
          FROM b""",
    // c68: the shared 3-shingle replay + the first-occurrence algebra —
    // per-shingle min(doc_id) grouped by first doc, left-joined to the
    // per-doc shingle counts; int/int novelty division
    "c68_novelty" ->
      s"""WITH sh AS (SELECT doc_id, unnest(sh) AS s FROM ($shingleTok)),
          pd AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
          nv AS (SELECT doc_id, count(*) AS n_novel FROM
            (SELECT s, min(doc_id) AS doc_id FROM sh GROUP BY 1) GROUP BY 1)
          SELECT pd.doc_id, pd.n_shingles,
            coalesce(nv.n_novel, 0) AS n_novel,
            CAST(coalesce(nv.n_novel, 0) AS DOUBLE) / pd.n_shingles AS novelty
          FROM pd LEFT JOIN nv USING (doc_id) ORDER BY 1""",
    "c27_perplexity_gate" -> perplexitySql,
    // c34: s1's dense cosine list at k=10 ∪ the BM25-vs-query-doc
    // sparse list (c25's scoring algebra per (q,doc) with the decimal-6
    // round → exact decimal sum discipline), FULL OUTER on (q_id,
    // doc_id), RRF = Σ 1/(60+rank) with missing lists contributing 0,
    // decimal-6, re-ranked with the id tie-break
    "c34_hybrid_rrf" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          dp AS (SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
                list_cosine_similarity(q.v, c.v) AS cos
                FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
          da AS (SELECT q_id, doc_id, rank_a FROM (
                SELECT q_id, doc_id, CAST(row_number() OVER
                  (PARTITION BY q_id ORDER BY CAST(cos AS DECIMAL(38,6)) DESC,
                   doc_id) AS INTEGER) AS rank_a FROM dp)
                WHERE rank_a <= 10),
          terms AS (SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest($toks) AS term FROM documents)
            GROUP BY 1, 2),
          dfreq AS (SELECT term, count(*) AS df FROM terms GROUP BY 1),
          dlen AS (SELECT doc_id, sum(tf) AS dl FROM terms GROUP BY 1),
          st AS (SELECT (SELECT count(*) FROM documents) AS n,
                        (SELECT sum(tf) FROM terms) AS tt),
          qt AS (SELECT doc_id AS q_id, term AS qterm FROM terms
                 WHERE doc_id < 10),
          sp AS (SELECT qt.q_id, t.doc_id,
                 CAST(CAST((ln(CAST(1 AS DOUBLE) +
                        ((CAST(st.n AS DOUBLE) - dfreq.df) + CAST(0.5 AS DOUBLE))
                        / (dfreq.df + CAST(0.5 AS DOUBLE)))
                      * (t.tf * (CAST(1.2 AS DOUBLE) + CAST(1 AS DOUBLE))))
                   / (t.tf + CAST(1.2 AS DOUBLE) *
                      ((CAST(1 AS DOUBLE) - CAST(0.75 AS DOUBLE)) +
                       (CAST(0.75 AS DOUBLE) * d.dl) /
                       (CAST(st.tt AS DOUBLE) / CAST(st.n AS DOUBLE))))
                 AS DECIMAL(38,6)) AS DECIMAL(28,6)) AS c
                 FROM terms t
                 JOIN qt ON t.term = qt.qterm AND t.doc_id <> qt.q_id
                 JOIN dfreq ON t.term = dfreq.term
                 JOIN dlen d ON d.doc_id = t.doc_id CROSS JOIN st),
          sb AS (SELECT q_id, doc_id, CAST(sum(c) AS DOUBLE) AS score
                 FROM sp GROUP BY 1, 2),
          db AS (SELECT q_id, doc_id, rank_b FROM (
                SELECT q_id, doc_id, CAST(row_number() OVER
                  (PARTITION BY q_id ORDER BY score DESC, doc_id)
                  AS INTEGER) AS rank_b FROM sb)
                WHERE rank_b <= 10),
          fu AS (SELECT q_id, doc_id,
                CAST(CAST(
                  coalesce(CAST(1 AS DOUBLE) / (60 + rank_a), CAST(0 AS DOUBLE)) +
                  coalesce(CAST(1 AS DOUBLE) / (60 + rank_b), CAST(0 AS DOUBLE))
                  AS DECIMAL(38,6)) AS DOUBLE) AS rrf_score
                FROM da FULL OUTER JOIN db USING (q_id, doc_id)),
          fr AS (SELECT q_id, doc_id, rrf_score, CAST(row_number() OVER
                  (PARTITION BY q_id ORDER BY rrf_score DESC, doc_id)
                  AS INTEGER) AS rank FROM fu)
          SELECT q_id, doc_id, rrf_score, rank FROM fr WHERE rank <= 10
          ORDER BY q_id, rank""",
    // c33: plantUrls CASE replay → scheme/host regex parse + lowercase +
    // www-strip → list-sliced registered domain with the two-label-TLD
    // table → blocklist flag → per-domain count + c22's decimal-6 rate
    // and mod-hash gate
    "c33_url_gate" -> urlGateSql,
    // st19: the streamed union over doc-disjoint batches against the
    // static rate table equals the batch gate — same SQL
    "st19_url_stream" -> urlGateSql,
    // st20: same argument against the static reference LM
    "st20_paragraph_stream" -> paragraphGateSql,
    // q56: the same single-pass statistics + four-branch unpivot
    "q56_profile" ->
      """WITH aug AS (SELECT doc_id,
            CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
            source, n_chars FROM documents),
          a AS (SELECT count(*) AS n,
            count(doc_id) AS c1, count(DISTINCT doc_id) AS d1,
            CAST(min(doc_id) AS VARCHAR) AS m1,
            CAST(max(doc_id) AS VARCHAR) AS x1,
            count(lang) AS c2, count(DISTINCT lang) AS d2,
            CAST(min(lang) AS VARCHAR) AS m2,
            CAST(max(lang) AS VARCHAR) AS x2,
            count(source) AS c3, count(DISTINCT source) AS d3,
            CAST(min(source) AS VARCHAR) AS m3,
            CAST(max(source) AS VARCHAR) AS x3,
            count(n_chars) AS c4, count(DISTINCT n_chars) AS d4,
            CAST(min(n_chars) AS VARCHAR) AS m4,
            CAST(max(n_chars) AS VARCHAR) AS x4
          FROM aug)
          SELECT col_name, n_rows, n_nulls, n_distinct, min_val, max_val
          FROM (
            SELECT 'doc_id' AS col_name, n AS n_rows, n - c1 AS n_nulls,
              d1 AS n_distinct, m1 AS min_val, x1 AS max_val FROM a
            UNION ALL SELECT 'lang', n, n - c2, d2, m2, x2 FROM a
            UNION ALL SELECT 'source', n, n - c3, d3, m3, x3 FROM a
            UNION ALL SELECT 'n_chars', n, n - c4, d4, m4, x4 FROM a)
          ORDER BY col_name""",
    // t28: plant replay + the same seven-stage chain (DuckDB backrefs
    // are \1 where java.util.regex uses $1 — same semantics); counts
    // from the RAW text, links = bracket matches minus image matches
    // (RE2 has no lookbehind — the subtraction IS the contract)
    "t28_markdown" ->
      """WITH aug AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN
            '# Doc ' || CAST(doc_id AS VARCHAR) ||
            E'\n\n**Summary** with `inline code` here\n\n```\nval x = ' ||
            CAST(doc_id AS VARCHAR) || E'\n```\n\n' || text ||
            E'\n\n[read more](https://more.example/' ||
            CAST(doc_id AS VARCHAR) || E') ![fig](https://img.example/' ||
            CAST(doc_id AS VARCHAR) || E'.png)\n\n> quoted line'
            ELSE text END AS text FROM documents),
          s1 AS (SELECT doc_id, text AS raw,
            regexp_replace(text, '(?s)```.*?```', ' ', 'g') AS t FROM aug),
          s2 AS (SELECT doc_id, raw,
            regexp_replace(t, '`([^`]*)`', '\1', 'g') AS t FROM s1),
          s3 AS (SELECT doc_id, raw,
            regexp_replace(t, '!\[([^\]]*)\]\(([^)]*)\)', '\1', 'g') AS t
            FROM s2),
          s4 AS (SELECT doc_id, raw,
            regexp_replace(t, '\[([^\]]*)\]\(([^)]*)\)', '\1', 'g') AS t
            FROM s3),
          s5 AS (SELECT doc_id, raw,
            regexp_replace(t, '(\*\*|__|\*)', '', 'g') AS t FROM s4),
          s6 AS (SELECT doc_id, raw,
            regexp_replace(t, '(?m)^#{1,6} ', '', 'g') AS t FROM s5),
          s7 AS (SELECT doc_id, raw,
            regexp_replace(t, '(?m)^> ', '', 'g') AS t FROM s6),
          s8 AS (SELECT doc_id, raw,
            trim(regexp_replace(t, '[\s　]+', ' ', 'g')) AS t FROM s7)
          SELECT doc_id, t AS clean_text,
            CAST(length(t) AS INTEGER) AS n_chars,
            CAST(len(regexp_extract_all(raw, '(?s)```.*?```')) AS INTEGER)
              AS n_code_blocks,
            CAST(len(regexp_extract_all(raw,
                   '\[([^\]]*)\]\(([^)]*)\)')) -
                 len(regexp_extract_all(raw,
                   '!\[([^\]]*)\]\(([^)]*)\)')) AS INTEGER) AS n_links
          FROM s8 ORDER BY doc_id""",
    // c56: the two integer hashes + per-(epoch, shard) row_number
    // replayed verbatim — every term fits a BIGINT (1000003 * 2^32-ish
    // products stay < 2^63), so both engines compute identical keys
    "c56_epoch_order" ->
      """WITH e AS (SELECT doc_id, unnest(range(2)) AS epoch
             FROM documents),
          k AS (SELECT doc_id, epoch,
            ((doc_id % 1000003) * 3266489917 + 104729) % 8 AS shard,
            (((doc_id + epoch * 7919) % 1000003) * 2654435761 + 104729)
              % 999999937 AS okey FROM e)
          SELECT CAST(epoch AS INTEGER) AS epoch,
            CAST(shard AS INTEGER) AS shard,
            CAST(row_number() OVER (PARTITION BY epoch, shard
              ORDER BY okey, doc_id) AS INTEGER) AS pos,
            doc_id
          FROM k ORDER BY epoch, shard, pos""",
    // t27: plant replay, the same two-group pattern extracted twice
    // (group 1 hrefs, group 2 texts) and zipped positionally via
    // parallel unnest + range — the kmeansCtes vx idiom
    // d30: pure relational rollup over the staged banded rows — the
    // pair mass in HUGEINT, everything else combinable counts
    "d30_lsh_stats" ->
      """WITH b AS (SELECT band, bh, count(*) AS b FROM
             read_parquet('__GRAFT_STAGE__/d30_banded/*.parquet')
           GROUP BY 1, 2)
         SELECT CAST(band AS INTEGER) AS band,
           count(*) AS n_buckets,
           CAST(sum(b) AS BIGINT) AS n_rows,
           CAST(max(b) AS BIGINT) AS max_bucket,
           CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singletons,
           CAST(sum(CAST(b AS HUGEINT) * (b - 1)) // 2 AS BIGINT)
             AS n_cand_pairs,
           CAST(sum(CASE WHEN b > 32 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_capped
         FROM b GROUP BY band ORDER BY band""",
    // c60: the t27 extraction CTEs + absolute filter + per-target
    // aggregation with ORDER BY inside string_agg (Spark's sorted
    // collect_list is the same contract)
    "c60_anchor_corpus" ->
      """WITH aug AS (SELECT doc_id, '<p>' || text || '</p>' ||
            CASE WHEN doc_id % 3 = 1
              THEN '<a href="https://ref' || CAST(doc_id % 9 AS VARCHAR) ||
                   '.example.com/a">data  pipeline docs</a><a href="/rel/' ||
                   CAST(doc_id AS VARCHAR) || '">local link</a>'
              ELSE '' END ||
            CASE WHEN doc_id % 7 = 2
              THEN '<a class="x" href="https://w' ||
                   CAST(doc_id % 5 AS VARCHAR) ||
                   '.example.org/b?q=1">engine internals</a>'
              ELSE '' END AS html FROM documents),
          ex AS (SELECT doc_id,
            regexp_extract_all(html,
              '<a [^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 1) AS h,
            regexp_extract_all(html,
              '<a [^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 2) AS t2
            FROM aug),
          u AS (SELECT doc_id, unnest(h) AS href, unnest(t2) AS atext
            FROM ex),
          l AS (SELECT doc_id, href,
            trim(regexp_replace(atext, '[\s　]+', ' ', 'g')) AS anchor_text
            FROM u
            WHERE href LIKE 'http://%' OR href LIKE 'https://%')
          SELECT href AS target, count(*) AS n_refs,
            count(DISTINCT doc_id) AS n_docs,
            string_agg(anchor_text, ' ' ORDER BY anchor_text) AS anchor_doc
          FROM l GROUP BY href ORDER BY target""",
    // c61: the copy plant + d1's group algebra + the multiplicity
    // class table with HUGEINT excess rate
    "c61_dup_profile" ->
      """WITH aug AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 2000000, text FROM documents
             WHERE doc_id % 23 = 5
           UNION ALL SELECT doc_id + 3000000, text FROM documents
             WHERE doc_id % 46 = 28),
         g AS (SELECT min(doc_id) AS doc_id, count(*) AS dup_count
           FROM aug GROUP BY md5(text)),
         cl AS (SELECT dup_count, count(*) AS n_groups,
             CAST(sum(dup_count) AS BIGINT) AS n_docs
           FROM g GROUP BY dup_count),
         tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
             CAST(sum(n_groups) AS BIGINT) AS total_groups FROM cl)
         SELECT dup_count, n_groups, n_docs, total_docs, total_groups,
           CAST(CAST(((total_docs - total_groups) * 1000 * 20000
               + total_docs)
             // (2 * CAST(total_docs AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 10000.0 AS excess_pm
         FROM cl, tt ORDER BY dup_count""",
    "t27_links" ->
      """WITH aug AS (SELECT doc_id, '<p>' || text || '</p>' ||
            CASE WHEN doc_id % 3 = 1
              THEN '<a href="https://ref' || CAST(doc_id % 9 AS VARCHAR) ||
                   '.example.com/a">data  pipeline docs</a><a href="/rel/' ||
                   CAST(doc_id AS VARCHAR) || '">local link</a>'
              ELSE '' END ||
            CASE WHEN doc_id % 7 = 2
              THEN '<a class="x" href="https://w' ||
                   CAST(doc_id % 5 AS VARCHAR) ||
                   '.example.org/b?q=1">engine internals</a>'
              ELSE '' END AS html FROM documents),
          ex AS (SELECT doc_id,
            regexp_extract_all(html,
              '<a [^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 1) AS h,
            regexp_extract_all(html,
              '<a [^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 2) AS t2
            FROM aug),
          u AS (SELECT doc_id, unnest(range(len(h))) AS link_idx,
            unnest(h) AS href, unnest(t2) AS atext FROM ex)
          SELECT doc_id, CAST(link_idx AS INTEGER) AS link_idx, href,
            trim(regexp_replace(atext, '[\s　]+', ' ', 'g')) AS anchor_text,
            CASE WHEN href LIKE 'http://%' OR href LIKE 'https://%'
              THEN 1 ELSE 0 END AS is_absolute
          FROM u ORDER BY doc_id, link_idx""",
    // c54: the two-channel plant replayed, the same case-insensitive
    // extracts, list merge/dedup/sort, and flag algebra (none expands
    // to noindex+nofollow; eligibility excludes noindex/none/noai)
    "c54_robots_gate" -> robotsGateSql,
    // st25: the streamed union over doc-disjoint batches against the
    // zero-state gate equals batch c54 — same SQL
    "st25_robots_stream" -> robotsGateSql,
    // c53: the plantHtmlBlocks concatenation, the same closing-tag
    // block split (parallel unnest+range for ordinals), per-block
    // anchor-text mass + tag-strip + whitespace collapse, the identical
    // integer classification cascade, and ordered string_agg re-assembly
    "c53_main_content" -> mainContentSql,
    // st27: the SAME SQL — block classification is a pure function of
    // each doc's own markup, so the streamed union equals the batch run
    "st27_content_stream" -> mainContentSql,
    // t16: the plantHtml concatenation, then the same four extractor
    // stages — lazy dot-all script/style drop (RE2 and java.util.regex
    // agree on (?is) + lazy quantifiers), tag→space, the six plain
    // replaces with &amp; last, whitespace collapse
    // t36: the planted XML envelope was built from raw columns, so the
    // oracle recomputes every extracted value directly — id attribute,
    // lang enum, the exact N.5 score, entity-DECODED body suffix, the
    // repeated-tag array as csv + count, and the optional note
    "t36_xml_extract" ->
      """SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'es'
             ELSE 'de' END AS lang,
           (doc_id % 97) + 0.5 AS score,
           text || CASE WHEN doc_id % 3 = 0 THEN ' x & y <z>'
             ELSE '' END AS body,
           CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN 'alpha'
             ELSE 'alpha,beta' END AS tags,
           CAST(CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END
             AS INTEGER) AS n_tags,
           CASE WHEN doc_id % 5 = 0 THEN 'n&m' ELSE '' END AS note
         FROM documents ORDER BY doc_id""",
    "t16_html_extract" ->
      """WITH aug AS (SELECT doc_id,
            '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
            '</title><style>p { color: red; }</style></head><body><p>' ||
            text || '</p><br/>' ||
            CASE WHEN doc_id % 3 = 0
              THEN '<script type="text/javascript">var x = 1 &amp;&amp; 2; if (x &lt; 3) { x = 4; }</script>'
              ELSE '' END ||
            CASE WHEN doc_id % 4 = 0
              THEN '<div class="note">extra &amp; more &lt;tags&gt; &quot;quoted&quot; &#39;tick&#39; a&nbsp;b</div>'
              ELSE '' END ||
            '</body></html>' AS text
            FROM documents),
          s1 AS (SELECT doc_id,
            regexp_replace(text, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t
            FROM aug),
          s2 AS (SELECT doc_id,
            regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t
            FROM s1),
          s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t
            FROM s2),
          s4 AS (SELECT doc_id,
            replace(replace(replace(replace(replace(replace(t,
              '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
              '&nbsp;', ' '), '&amp;', '&') AS t
            FROM s3),
          s5 AS (SELECT doc_id,
            trim(regexp_replace(t, '[\s　]+', ' ', 'g')) AS t FROM s4)
          SELECT doc_id, t AS clean_text,
            CAST(length(t) AS INTEGER) AS n_chars
          FROM s5 ORDER BY doc_id""",
    // per-paragraph stopword-argmax language (the t1 fragments over the
    // paragraph's tokens) + per-paragraph cross-entropy (c27's decimal
    // chain at (doc, par) grain against the UNPLANTED src0 LM), keep =
    // lang match AND ce <= 6.0, ordered FILTERed list re-assembly
    "c32_paragraph_gate" -> paragraphGateSql,
    // st16 is the SAME scoring driven per micro-batch against the static
    // reference LM — the batch oracle gates the streamed union verbatim
    "st16_perplexity_stream" -> perplexitySql,
    // c20: the ES clock replayed exactly — same integer hash, same IEEE
    // double into ln, decimal-6 rounded clock, (clock, doc_id) ranking
    "c20_weighted_sample" ->
      """WITH c AS (SELECT lang, doc_id, n_chars,
           CAST(CAST(-ln(CAST(((doc_id % 1000003) * 2246822519 +
                 ((doc_id // 1000003) % 1000003) * 2654435761 + 15485863) % 1000000 + 1
                 AS DOUBLE) / 1000000.0)
               / greatest(n_chars, 1) AS DECIMAL(38,6)) AS DOUBLE) AS clock
           FROM documents),
         r AS (SELECT lang, doc_id, n_chars,
           row_number() OVER (PARTITION BY lang ORDER BY clock, doc_id) AS rn FROM c)
         SELECT lang, CAST(rn AS INTEGER) AS rn, doc_id, n_chars
         FROM r WHERE rn <= 50 ORDER BY lang, rn""",
    "c22_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         w AS (SELECT CAST(sum(CAST(sqrt(n) AS DECIMAL(28,12))) AS DOUBLE) AS wsum FROM c),
         r AS (SELECT source, n,
             CAST(CAST(least(1.0, 300 * sqrt(n) / (wsum * n)) AS DECIMAL(38,6)) AS DOUBLE)
               AS rate
           FROM c, w)
         SELECT d.source, max(r.n) AS n_docs, max(r.rate) AS rate,
           count(*) FILTER (WHERE
             ((d.doc_id % 1000003) * 2246822519 + 104729) % 1000000
               < CAST(floor(r.rate * 1000000.0) AS BIGINT)) AS n_kept
         FROM documents d JOIN r ON d.source = r.source
         GROUP BY 1 ORDER BY 1""",
    "t10_vocab_coverage" ->
      s"""WITH tk AS (SELECT unnest($toks) AS term FROM documents),
          counts AS (SELECT term, count(*) AS n FROM tk GROUP BY 1),
          classes AS (
            SELECT n, count(*) AS nterms, n * count(*) AS class_tokens
            FROM counts GROUP BY 1),
          cum AS (
            SELECT n, nterms, class_tokens,
              sum(class_tokens) OVER (ORDER BY n DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_after,
              coalesce(sum(nterms) OVER (ORDER BY n DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS terms_before
            FROM classes),
          tot AS (SELECT sum(n) AS total FROM counts),
          tgt AS (SELECT unnest([50, 90, 95, 99]) AS pct)
          SELECT pct, CAST((total * pct + 99) // 100 AS BIGINT) AS need_tokens,
            CAST(terms_before + ((total * pct + 99) // 100 - (cum_after - class_tokens) + n - 1) // n
              AS BIGINT) AS vocab_size,
            CAST(total AS BIGINT) AS total_tokens
          FROM cum, tot, tgt
          WHERE (cum_after - class_tokens) < (total * pct + 99) // 100
            AND cum_after >= (total * pct + 99) // 100
          ORDER BY pct""",
    "c21_bigram_ll" ->
      s"""WITH toked AS (SELECT doc_id, $toks AS t FROM documents),
          bg AS (SELECT doc_id,
                   unnest([t[i] || ' ' || t[i+1] for i in generate_series(1, len(t)-1)]) AS bigram,
                   unnest([t[i] for i in generate_series(1, len(t)-1)]) AS w1
                 FROM toked WHERE len(t) >= 2),
          bc AS (SELECT bigram, count(*) AS bc FROM bg GROUP BY 1),
          pc AS (SELECT w1, count(*) AS pc FROM bg GROUP BY 1),
          vv AS (SELECT count(DISTINCT term) AS v FROM
                  (SELECT unnest(t) AS term FROM toked))
          SELECT doc_id, count(*) AS n_bigrams,
            CAST(CAST(CAST(sum(CAST(CAST(ln(CAST(bc.bc + 1 AS DOUBLE) / (pc.pc + vv.v))
                 AS DECIMAL(38,6)) AS DECIMAL(28,6))) AS DOUBLE) / count(*)
                 AS DECIMAL(38,4)) AS DOUBLE) AS avg_ll
          FROM bg JOIN bc USING (bigram) JOIN pc USING (w1), vv
          GROUP BY doc_id ORDER BY doc_id""",
    "d7_canonical" ->
      s"""WITH q AS ($qualityScoreSql),
          j AS (SELECT d.doc_id, d.text, q.quality_score
                FROM documents d JOIN q ON d.doc_id = q.doc_id),
          r AS (SELECT doc_id, quality_score,
                CAST(row_number() OVER (PARTITION BY md5(text)
                  ORDER BY quality_score DESC, doc_id) AS INTEGER) AS rn,
                count(*) OVER (PARTITION BY md5(text)) AS dup_count FROM j)
          SELECT doc_id, quality_score, CAST(dup_count AS BIGINT) AS dup_count
          FROM r WHERE rn = 1 ORDER BY doc_id""",
    "c10_funnel" ->
      s"""WITH L AS ($predLangSql),
          Q AS ($qualityScoreSql),
          f AS (SELECT d.doc_id, d.text, d.n_chars,
                (L.pred_lang = 'en') AS f1, (Q.quality_score >= 2) AS f2,
                (d.n_chars BETWEEN 100 AND 2000) AS f3
                FROM documents d JOIN L ON d.doc_id = L.doc_id
                                 JOIN Q ON d.doc_id = Q.doc_id),
          a AS (SELECT count(*) AS n_all,
                CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
                CAST(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
                CAST(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS n_length,
                count(DISTINCT CASE WHEN f1 AND f2 AND f3 THEN text END) AS n_dedup FROM f)
          SELECT '0_all' AS stage, n_all AS n_docs FROM a
          UNION ALL SELECT '1_lang', n_lang FROM a
          UNION ALL SELECT '2_quality', n_quality FROM a
          UNION ALL SELECT '3_length', n_length FROM a
          UNION ALL SELECT '4_dedup', n_dedup FROM a
          ORDER BY 1""",
    "g1_entry" ->
      s"""SELECT r_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
          ${dprod("l_extendedprice", "1 - l_discount")} AS revenue,
          count(DISTINCT o_orderkey) AS n_orders
          FROM region, nation, customer, orders, lineitem
          WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
            AND o_custkey = c_custkey AND l_orderkey = o_orderkey
          GROUP BY 1, 2 ORDER BY 1, 2"""
  )
}
