package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Re-running the same plans in one session reuses their generated code.
  * `Tables.tune` sizes Spark's generated-code cache to hold graft's
  * working set; at Spark's default of 100 entries these nine keys (the
  * perfbench `batch` workload, one or more per operator module) evict
  * each other's classes, and every pass recompiles them. */
class CodegenReuseSpec extends AnyFunSuite with SharedSpark {

  private val keys = Seq("q5_nation_revenue", "q16_asof_join", "s1_ann_brute",
    "s2_ann_lsh", "s3_ann_ivf", "d1_dedup_exact", "t6_normalize",
    "c48_license_gate", "m9_image_phash")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs every key into the `noop` sink; returns the classes compiled. */
  private def pass(): Long = {
    val before = compiles
    keys.foreach { k =>
      SparkEntry.queries(k)(spark, SharedSpark.sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    compiles - before
  }

  test("a second pass over the batch keys compiles no new classes") {
    pass()
    assert(compiles > 0, "the compile counter must be live")
    val again = pass()
    assert(again === 0L, s"the second pass recompiled $again generated classes")
  }
}
