package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` memoizes each file's inferred Parquet schema and its
  * session's resolved relation: a repeated load starts no schema-inference
  * job and resolves no new file index, a file rewritten in place or read
  * under another type-mapping conf is inferred again, and the memoized
  * read equals an inferring one. */
class TablesSpec extends AnyFunSuite with SharedSpark {

  /** Writes `df` as the single Parquet file `<dir>/<name>.parquet`,
    * replacing any file already there. */
  private def writeFile(df: DataFrame, dir: java.nio.file.Path, name: String): Unit = {
    val out = tempDir("tables-spec-out")
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.copy(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second load of the same table starts no Spark job") {
    table("nation")
    val jobs = jobsStartedBy(table("nation"))
    assert(jobs === 0, s"the second load started $jobs Spark job(s)")
  }

  test("a file rewritten in place is inferred again") {
    val dir = tempDir("tables-spec")
    writeFile(spark.range(3).toDF("id"), dir, "x")
    assert(Tables.load(spark, dir.toString, "x").columns.toSeq === Seq("id"))
    writeFile(spark.range(3).toDF("id").withColumn("extra", lit("e")), dir, "x")
    val again = Tables.load(spark, dir.toString, "x")
    assert(again.columns.toSeq === Seq("id", "extra"))
    assert(again.orderBy("id").collect().map(_.getString(1)).toSeq === Seq("e", "e", "e"))
  }

  test("a change of a Parquet type-mapping conf is inferred again") {
    // orders stores untagged TIMESTAMP(MICROS): NTZ inference decides its type
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert(table("orders").schema("o_orderdate").dataType === TimestampType)
    spark.conf.set(key, "true")
    try assert(table("orders").schema("o_orderdate").dataType === TimestampNTZType)
    finally spark.conf.set(key, "false")
    assert(table("orders").schema("o_orderdate").dataType === TimestampType)
  }

  test("every table: the memoized read has the inferring read's schema and rows") {
    Tables.names.foreach { name =>
      Tables.load(spark, SharedSpark.sfDir, name)
      val memo = Tables.load(spark, SharedSpark.sfDir, name)
      val raw = spark.read.parquet(s"${SharedSpark.sfDir}/$name.parquet")
      // the ts rule: raw nanos (nanosAsLong) become a microsecond timestamp
      val inferred =
        if (raw.schema.exists(f => f.name == "ts" && f.dataType == LongType))
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        else raw
      assert(memo.schema === inferred.schema, name)
      val rows = memo.toJSON.collect().sorted.toSeq
      assert(rows.nonEmpty, name)
      assert(rows === inferred.toJSON.collect().sorted.toSeq, name)
    }
    assert(table("events").schema("ts").dataType === TimestampType)
  }

  test("a warm load reuses the resolved relation; another session resolves its own") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def relation(df: DataFrame): LogicalRelation =
      df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r }.get
    def index(df: DataFrame) = relation(df).relation.asInstanceOf[HadoopFsRelation].location
    val a = table("supplier")
    val b = table("supplier")
    assert(index(a) eq index(b), "a warm load resolved its file index again")
    assert(relation(a).output.map(_.exprId).intersect(relation(b).output.map(_.exprId)).isEmpty)
    assert(b.collect().toSeq === a.collect().toSeq)
    val other = spark.newSession()
    val c = Tables.load(other, SharedSpark.sfDir, "supplier")
    val fs = relation(c).relation.asInstanceOf[HadoopFsRelation]
    assert(fs.sparkSession eq other)
    assert(!(fs.location eq index(a)))
    assert(index(Tables.load(other, SharedSpark.sfDir, "supplier")) eq fs.location)
    assert(c.count() === a.count())
  }

  test("two loads of one table have distinct attributes, so a self-join resolves") {
    val a = table("nation")
    val b = table("nation")
    def ids(df: DataFrame) = df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val perRegion = a.groupBy("n_regionkey").count().collect().map(_.getLong(1))
    assert(a.join(b, a("n_regionkey") === b("n_regionkey")).count() === perRegion.map(n => n * n).sum)
  }
}
