package org.apache.spark.sql.graftx

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import graft.functions.NativeFunctions

/** Session-registry bridge (lives under org.apache.spark.sql to reach the
  * private[sql] session internals — the standard library-extension
  * pattern, cf. Qbeast's DatasetFactory / Spark's own sql package object).
  */
object GraftFunctions {

  /** Idempotently registers graft's native expressions
    * ([[graft.functions.NativeFunctions]]) as temp functions so Column
    * code can reach them via `functions.call_function`. All builders are
    * arity-guarded (FnArity): a wrong-arity SQL call gets a
    * WRONG_NUM_ARGS analysis error, not IndexOutOfBoundsException. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[ClassicSession].sessionState.functionRegistry
    NativeFunctions.all.foreach(f =>
      registry.createOrReplaceTempFunction(f.name, f.builder, "built-in"))
  }
}
