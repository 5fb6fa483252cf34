package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.StaticSQLConf

/** Loads the star-schema test tables from a scale-factor directory.
  *
  * All operators in graft take DataFrames; this is the only place that
  * knows about paths. At cluster scale the same operators run against
  * catalog tables — nothing else changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // Parquet TIMESTAMP(NANOS) isn't a Spark type: with nanosAsLong (set in
    // tune) it arrives as raw nanos — normalize to a microsecond timestamp.
    df.schema.fields.find(f => f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType)
      .map(_ => df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)")))
      .getOrElse(df)
  }

  /** Capacity of Spark's generated-code cache (`CodeGenerator`), an LRU
    * keyed by (class loader, source) that holds 100 entries by default.
    * A whole-stage stage takes two entries: planning compiles it once as
    * a size check under the app loader, and its tasks compile it again
    * under the session's executor loader. An evicted entry is compiled
    * again on its next use, into a new class that starts interpreted and
    * has to be JIT-compiled again.
    *
    * Working sets, counted as compiles with an unbounded cache:
    *  - perfbench `batch` (9 keys, sf0.1): 132 entries. At 100, every
    *    re-run of the nine keys in listed order recompiled 115 of them.
    *  - perfbench `commit_loop` (2 keys, sf0.1): 51 entries, which fit.
    *  - the 347-key Verify sweep (sf0.001): 4925 entries. It compiles
    *    9374 classes at 100 and 6032 at 1000. Metaspace in use after the
    *    sweep and a full GC is 210 MB at 100, 218 MB at 1000 and 250 MB
    *    unbounded.
    * 1000 holds the re-run working sets several times over for 8 MB of
    * metaspace.
    */
  private val CodegenCacheEntries = 1000

  /** Session defaults graft's operators assume: AQE, UTC, the timestamp
    * reading rules of the test tables, graft's native functions and
    * planner rules, and the generated-code cache capacity.
    *
    * Call it right after `getOrCreate` and before the session runs
    * anything. The cache capacity is a static conf that `CodeGenerator`
    * reads once, when the JVM's first query compiles; set after that,
    * it has no effect.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.sessionState.conf.setConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES, CodegenCacheEntries)
    val c = spark.conf
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    c.set("spark.sql.session.timeZone", "UTC")
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The synthetic tables have carried timestamps as INT64 TIMESTAMP(NANOS)
    // (handled via nanosAsLong + the ts re-cast in load) and, since the
    // 2026-08-13 regeneration, as UNTAGGED TIMESTAMP(MICROS). Untagged micros
    // infer TIMESTAMP_NTZ on Spark 4 — a type whose collected rows are
    // LocalDateTime (breaking Row.getTimestamp consumers) and whose watermark
    // arithmetic diverges from the operators' assumptions. With the session
    // timezone pinned to UTC, classic TIMESTAMP reads the same wall-clock
    // values the file stores and DuckDB's naive reads agree — so disable the
    // inference and keep one timestamp type across every source vintage.
    c.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // Constraint propagation infers isnotnull(...) filters by INLINING the
    // full defining expression of every referenced alias. On expression-
    // heavy pipelines (shingling, hashing) those inferred per-row filters
    // re-evaluate the pipeline — measured 11× on the near-dup benchmark.
    // The useful inferred filters here are join-key isnotnulls, which the
    // operators already state explicitly.
    c.set("spark.sql.constraintPropagation.enabled", "false")
    org.apache.spark.sql.graftx.GraftFunctions.register(spark)
    // HOF dot-product → native graft_dot. APPEND (idempotently) rather
    // than assign: tune() must not clobber optimizer rules the caller
    // registered on the session. (GraftExtensions-built sessions get the
    // same rule via injectOptimizerRule.)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.NativeVectorRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.NativeVectorRewrite
    // whole-operator as-of join (same append-idempotently discipline)
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    spark
  }
}
