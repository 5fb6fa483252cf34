package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftx.GraftDataset
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.types.StructType

/** Loads the star-schema test tables from a scale-factor directory.
  *
  * All operators in graft take DataFrames; this is the only place that
  * knows about paths. At cluster scale the same operators run against
  * catalog tables — nothing else changes.
  *
  * A catalog table stores its schema; a bare Parquet path does not, and
  * reading one without a schema makes Spark infer it from the footer in a
  * one-task Spark job, on every read. `load` therefore memoizes each
  * file's inferred schema for the JVM and reads with it, so a table costs
  * one inference job per JVM instead of one per load. The memo is keyed
  * on everything the inferred schema depends on:
  *  - the file's qualified path, length and modification time, from one
  *    `getFileStatus` call (no Spark job), so a file rewritten in place
  *    is inferred again;
  *  - the session's Parquet type-mapping confs that `tune` pins,
  *    `spark.sql.legacy.parquet.nanosAsLong` and
  *    `spark.sql.parquet.inferTimestampNTZ.enabled`.
  * A directory (a Spark-written dataset) can change under any of its
  * files without changing its own status, so it is inferred on every
  * load. A miss infers outside any lock; two loads racing on
  * one miss both infer the same schema.
  *
  * Beside the schema, the memo keeps the resolved file relation of the
  * last session that loaded the file under that stamp. Resolving it
  * again costs a data-source lookup, a new file index and copies of
  * the Hadoop conf on every load; a warm load of the same session
  * instead hands out a new instance of the memoized relation. Every
  * load gets fresh attribute ids, so a table joined with itself still
  * resolves, and another session resolves a relation of its own.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** What an inferred schema was read under: file length, modification
    * time and the two Parquet type-mapping confs. */
  private type Stamp = (Long, Long, Boolean, Boolean)

  /** A file's inferred schema under `stamp`, and the relation the last
    * session to load it resolved. */
  private final case class Memo(stamp: Stamp, schema: StructType, rel: Option[LogicalRelation])
  private val memos = new ConcurrentHashMap[String, Memo]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = read(spark, s"$sfDir/$name.parquet")
    // Parquet TIMESTAMP(NANOS) isn't a Spark type: with nanosAsLong (set in
    // tune) it arrives as raw nanos — normalize to a microsecond timestamp.
    df.schema.fields.find(f => f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType)
      .map(_ => df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)")))
      .getOrElse(df)
  }

  /** `spark.read.parquet(path)`, with the schema from the memo when the
    * file and the confs are those it was inferred under, and with the
    * memoized relation when `spark` also resolved it. A path that is
    * missing or not a plain file is read without a schema, so Spark
    * reports its errors. */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    Try(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      .toOption.filter(_.isFile) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val conf = spark.sessionState.conf
        val stamp: Stamp = (st.getLen, st.getModificationTime,
          conf.legacyParquetNanosAsLong, conf.parquetInferTimestampNTZEnabled)
        val key = st.getPath.toString
        Option(memos.get(key)).filter(_.stamp == stamp) match {
          case Some(Memo(_, _, Some(rel))) if rel.relation.sqlContext.sparkSession eq spark =>
            GraftDataset.ofRows(spark, rel.newInstance())
          case hit =>
            val df = hit.fold(spark.read.parquet(path))(m => spark.read.schema(m.schema).parquet(path))
            val rel = Some(df.queryExecution.analyzed).collect { case r: LogicalRelation => r }
            memos.put(key, Memo(stamp, df.schema, rel))
            df
        }
    }
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
