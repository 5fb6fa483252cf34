package graft.functions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Case mapping of UTF8_BINARY strings, equal value for value to Spark's
  * `lower()`/`upper()` but without loading their helper class.
  *
  * Under the default `spark.sql.icu.caseMappings.enabled=true`, Spark's
  * `Lower`/`Upper` on a UTF8_BINARY string call
  * `CollationAwareUTF8String.toLowerCase`/`toUpperCase`. That class's
  * static initializer builds `codepointOneToManyTitleCaseLookupTable`
  * by calling ICU `UCharacter.toTitleCase` on all 1,114,112 code
  * points, a table only `initcap` reads. So the first `lower()` a JVM
  * evaluates costs 0.94–1.05 s of CPU and about 3 GB of allocation
  * (measured on a 4-vCPU host, Spark 4.1.2); every executor JVM pays it
  * on its first text task.
  *
  * [[lower]] and [[upper]] are the bodies of those two Spark methods:
  * a full-ASCII string maps with `toLowerCaseAscii`/`toUpperCaseAscii`,
  * any other string with ICU's `UCharacter.toLowerCase`/`toUpperCase`
  * over `toValidString` (invalid UTF-8 bytes become U+FFFD first). ICU's
  * one-argument forms use the JVM default locale, as Spark's do: with
  * `-Duser.language=tr`, `lower('Iñ')` is `ıñ`. With ICU case mappings
  * off, the expressions below fall back to `UTF8String.toLowerCase`/
  * `toUpperCase` (the JDK's tables), which is Spark's other branch. */
object CaseMap {

  def lower(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  def upper(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toUpperCaseAscii
    else UTF8String.fromString(UCharacter.toUpperCase(s.toValidString))
}

/** The shared shape of `graft_lower`/`graft_upper`. `useIcu` is read
  * from the session's conf once, when the expression is built, so each
  * one equals its Spark counterpart in every session. Serializable
  * itself: Java deserialization of the case classes below needs every
  * superclass with constructor arguments to be. */
sealed abstract class CaseMapExpr(toLower: Boolean)
    extends UnaryExpression with Serializable {

  private val useIcu: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got $t")
  }
  override def dataType: DataType = StringType

  override protected def nullSafeEval(in: Any): Any = {
    val s = in.asInstanceOf[UTF8String]
    if (toLower) { if (useIcu) CaseMap.lower(s) else s.toLowerCase }
    else if (useIcu) CaseMap.upper(s) else s.toUpperCase
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (icu, jdk) = if (toLower) ("lower", "toLowerCase") else ("upper", "toUpperCase")
    nullSafeCodeGen(ctx, ev, in =>
      if (useIcu) s"${ev.value} = graft.functions.CaseMap.$icu($in);"
      else s"${ev.value} = $in.$jdk();")
  }
}

/** `graft_lower(text)` ≡ `lower(text)` on UTF8_BINARY strings. */
case class GraftLower(child: Expression) extends CaseMapExpr(toLower = true) {
  override def prettyName: String = "graft_lower"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `graft_upper(text)` ≡ `upper(text)` on UTF8_BINARY strings. */
case class GraftUpper(child: Expression) extends CaseMapExpr(toLower = false) {
  override def prettyName: String = "graft_upper"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
