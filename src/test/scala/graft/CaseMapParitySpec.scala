package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{InitCap, Lower, Upper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ColumnFns
import graft.operators.{Curation, Dedup, Multimodal, Relational, TextOps}

/** `graft_lower`/`graft_upper` ([[graft.functions.CaseMap]]) must equal
  * Spark's `lower`/`upper` byte for byte, with ICU case mappings on (the
  * default) and off. Every comparison runs over a local relation (the
  * optimizer folds the projection, so the interpreted `eval` runs) and
  * over a repartitioned frame (generated code). */
class CaseMapParitySpec extends AnyFunSuite with SharedSpark {

  private val IcuConf = "spark.sql.icu.caseMappings.enabled"

  private val corpus: Seq[String] = Seq(
    "Hello, World! 123", "already lower", "MIXED case\tTabs",   // ASCII
    "Ça va? Àéîõü ÿ ÀÉÎÕÜ Ø ß",                                  // Latin-1
    "ΟΔΥΣΣΕΥΣ ΑΣ ΒΑΣΙΣ", "σοφός",                               // Greek final sigma
    "straße", "İstanbul ISTANBUL ıi",                             // ß → SS, İ/I
    "Ⱟ ⱟ Ꟁ ꟁ",                                // cased after Unicode 13
    "𐐀𐐨 Deseret",                           // U+10400/U+10428
    "", " \t\n ", "　")                                          // empty, whitespace

  /** (id, text) frames, the interpreted one first; id 100 holds invalid
    * UTF-8 (`C3 28`, `FF 41`) that `toValidString` replaces, id 101 null.
    * The text is cast from bytes, so both frames hold the same strings. */
  private def frames(): Seq[DataFrame] = {
    import spark.implicits._
    val bytes = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t.getBytes("UTF-8")) } ++
      Seq((100L, Array(0xC3, 0x28, 0xFF, 0x41).map(_.toByte)), (101L, null: Array[Byte]))
    val local = bytes.toDF("id", "b").select(col("id"), col("b").cast("string").as("text"))
    Seq(local, local.repartition(2))
  }

  /** Spark's mapping vs the kernel, as bytes, per id. */
  private def compare(sparkFn: String, graftFn: String): Map[Long, Option[Seq[Byte]]] =
    frames().map { df =>
      val rows = df.select(col("id"),
          call_function(sparkFn, col("text")).cast("binary"),
          call_function(graftFn, col("text")).cast("binary"))
        .collect()
      assert(rows.length === corpus.size + 2)
      rows.map { r =>
        val want = Option(r.getAs[Array[Byte]](1)).map(_.toSeq)
        val got = Option(r.getAs[Array[Byte]](2)).map(_.toSeq)
        assert(got === want, s"$graftFn != $sparkFn on id ${r.getLong(0)}")
        r.getLong(0) -> got
      }.toMap
    }.reduce { (a, b) => assert(a === b); a }

  private def withIcu[A](on: Boolean)(body: => A): A = {
    val old = spark.conf.get(IcuConf)
    spark.conf.set(IcuConf, on.toString)
    try body finally spark.conf.set(IcuConf, old)
  }

  test("graft_lower and graft_upper equal lower and upper, ICU case mappings on and off") {
    val on = Seq(true, false).map { icu =>
      withIcu(icu) {
        (compare("lower", "graft_lower"), compare("upper", "graft_upper"))
      }
    }
    val ((lowerIcu, upperIcu), (lowerJdk, _)) = (on(0), on(1))
    def str(m: Map[Long, Option[Seq[Byte]]], id: Long) =
      m(id).map(b => new String(b.toArray, "UTF-8")).orNull
    // non-vacuous: the corpus reaches every branch
    assert(str(lowerIcu, 0) === "hello, world! 123")
    assert(str(upperIcu, 6) === "STRASSE")
    assert(str(lowerIcu, 4).startsWith("\u03bf\u03b4\u03c5\u03c3\u03c3\u03b5\u03c5\u03c2 "),
      "final sigma")
    assert(str(lowerIcu, 100) === "\ufffd(\ufffda")
    assert(lowerIcu(101L).isEmpty)
    // the conf is honoured: ICU lowers U+2C2F, the JDK 17 tables do not
    assert(str(lowerIcu, 8).startsWith("ⱟ"))
    assert(str(lowerJdk, 8).startsWith("Ⱟ"))
  }

  test("only UTF8_BINARY strings pass analysis") {
    import spark.implicits._
    val df = Seq((1L, "A")).toDF("id", "text")
    Seq("graft_lower", "graft_upper").foreach { f =>
      intercept[AnalysisException](df.select(call_function(f, col("id"))))
      intercept[AnalysisException](
        df.select(call_function(f, collate(col("text"), "UTF8_LCASE"))))
    }
  }

  /** Every Spark case-mapping expression in `p`, subqueries included. */
  private def caseMaps(p: LogicalPlan): Seq[String] =
    p.collectWithSubqueries { case n =>
      n.expressions.flatMap(_.collect {
        case e @ (_: Lower | _: Upper | _: InitCap) => e.prettyName
      })
    }.flatten

  private def kernels(p: LogicalPlan): Int =
    p.collectWithSubqueries { case n =>
      n.expressions.map(_.collect {
        case e: graft.functions.GraftLower => e
        case e: graft.functions.GraftUpper => e
      }.size).sum
    }.sum

  test("operators case-map through the kernels, never Spark's lower/upper/initcap") {
    val docs = table("documents")
      .withColumn("url", col("text"))
      .withColumn("html", col("text"))
      .withColumn("http_headers", col("text"))
    // charNgramProfiles returns a driver-side map: audit the plans it runs
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val profiles =
      try { TextOps.charNgramProfiles(docs) }
      finally {
        org.apache.spark.graftx.ListenerBridge.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    assert(profiles.nonEmpty && !seen.isEmpty)
    import scala.jdk.CollectionConverters._
    def opt(df: DataFrame) = Seq(df.queryExecution.optimizedPlan)
    val withKernel: Seq[(String, Seq[LogicalPlan])] = Seq(
      "charNgramProfiles" -> seen.asScala.toSeq,
      "langIdNgram" -> opt(TextOps.langIdNgram(docs, profiles)),
      "tokenCounts" -> opt(TextOps.tokenCounts(docs)),
      "normalize" -> opt(TextOps.normalize(docs)),
      "dateExtract" -> opt(TextOps.dateExtract(docs)),
      "urlDedup" -> opt(Dedup.urlDedup(docs)),
      "urlDomainGate" -> opt(Curation.urlDomainGate(docs)),
      "robotsGate" -> opt(Curation.robotsGate(docs)),
      "stringFuncs" -> opt(Relational.stringFuncs(table("part"))))
    (withKernel :+ ("mediaMeta" -> opt(Multimodal.mediaMeta(docs)))).foreach {
      case (k, ps) =>
        ps.foreach(p => assert(caseMaps(p).isEmpty, s"$k plans Spark's ${caseMaps(p)}:\n$p"))
    }
    // non-vacuous: the kernels survive optimization in every moved operator
    withKernel.foreach { case (k, ps) =>
      assert(ps.map(kernels).sum > 0, s"$k plans no graft_lower/graft_upper")
    }
    // the reference form stays on Spark's lower()
    assert(caseMaps(docs.select(ColumnFns.tokensAlgebra(col("text")))
      .queryExecution.optimizedPlan) === Seq("lower"))
  }
}
