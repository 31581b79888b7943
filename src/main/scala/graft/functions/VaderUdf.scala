package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.when
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.rules.Vader

/**
 * Spark exposure of the VADER compound scorer (SURVEY.md §2.4 X1).
 *
 * [[VaderExpr]] is a native Catalyst expression over the pure
 * [[Vader.compound]] function: it codegens to one static call, so the
 * scorer runs inside whole-stage codegen with no UDF converters and no
 * boxed result. The lexicon is a JVM-static immutable table, so
 * executors share one copy per JVM (no broadcast needed).
 * Deterministic, so Catalyst may reorder/CSE it freely.
 */
object VaderUdf {

  /** `vader_compound(text)`: the compound score, 0.0 for a NULL text. */
  def compound(c: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(VaderExpr(GraftBridge.expression(c)))
  }

  /** Codegen entry point (static forwarder): NULL scores 0.0, as
    * [[Vader.compound]] scores a null String. */
  def compoundUtf8(text: UTF8String): Double =
    Vader.compound(if (text == null) null else text.toString)

  /** X2 (sentiment.py:325-337): ==0 neutral, >0 happy, <0 sad.
    * (Emoji in the reference UI; stable ASCII labels here.) */
  def label(score: Column): Column =
    when(score === 0.0, "neutral").when(score > 0.0, "happy").otherwise("sad")
}

/** Catalyst form of [[VaderUdf.compound]]: never NULL, because a NULL
  * text scores 0.0. */
case class VaderExpr(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[StringType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    VaderUdf.compoundUtf8(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      double ${ev.value} = graft.functions.VaderUdf.compoundUtf8(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): VaderExpr =
    copy(child = newChild)

  override def prettyName: String = "vader_compound"
}
