package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Python-text primitives: `str.split()` whitespace semantics as a
 * single-pass character scan. Java regex pays a 7-10x penalty for a
 * unicode-whitespace character class (vs ASCII `\s+`), so the hot clean
 * path uses this expression; the DuckDB oracle keeps the equivalent RE2
 * class (fast there), and equality is covered by the clean golden suite
 * and the oracle gate.
 */
object PyText {

  /** Python str.split() whitespace (== Clean.PyWhitespaceClass):
    * TAB..CR, space, FS..US, NEL, NBSP, ogham, en/em/etc spaces,
    * LS, PS, NNBSP, MMSP, ideographic space. */
  def isPyWs(c: Char): Boolean =
    (c >= '\u0009' && c <= '\u000d') || c == ' ' ||
      (c >= '\u001c' && c <= '\u001f') || c == '\u0085' || c == '\u00a0' ||
      c == '\u1680' || (c >= '\u2000' && c <= '\u200a') ||
      c == '\u2028' || c == '\u2029' || c == '\u202f' || c == '\u205f' ||
      c == '\u3000'

  /** `' '.join(s.split())`: collapse every whitespace run to one ASCII
    * space and trim both ends — one pass, no regex. */
  def collapseTrim(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var pendingSpace = false
    while (i < n) {
      val c = s.charAt(i)
      if (isPyWs(c)) pendingSpace = true
      else {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        sb.append(c)
        pendingSpace = false
      }
      i += 1
    }
    // NOTE: no same-length fast path — a lone exotic whitespace char maps
    // 1→1 onto ' ' and would defeat a length-based "unchanged" check
    sb.toString
  }

  /** Python s.split() (no empty tokens, unicode whitespace). */
  def split(s: String): Array[String] = {
    var out = new Array[String](16)
    var m = 0
    val n = s.length
    var i = 0
    var start = -1
    while (i <= n) {
      if (i == n || isPyWs(s.charAt(i))) {
        if (start >= 0) {
          if (m == out.length) out = java.util.Arrays.copyOf(out, m * 2)
          out(m) = s.substring(start, i); m += 1; start = -1
        }
      } else if (start < 0) start = i
      i += 1
    }
    java.util.Arrays.copyOf(out, m)
  }

  /** Codegen entry point (static forwarder): UTF8String in/out. */
  def collapseTrimUtf8(s: UTF8String): UTF8String =
    UTF8String.fromString(collapseTrim(s.toString))

  def collapseTrimCol(c: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(PyCollapseTrim(GraftBridge.expression(c)))
  }
}

/** Catalyst wrapper for [[PyText.collapseTrim]] — codegens to a direct
  * static call so the clean chain stays inside whole-stage codegen. */
case class PyCollapseTrim(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    PyText.collapseTrimUtf8(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PyText.collapseTrimUtf8($c)")
  override protected def withNewChildInternal(newChild: Expression): PyCollapseTrim =
    copy(child = newChild)
  override def prettyName: String = "py_collapse_trim"
}
