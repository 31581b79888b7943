package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{AcAnyExpr, AcScrubExpr, CosineExpr, CosineFDExpr,
  FingerprintMinExpr, MinHashSigExpr, PiiScanExpr, PyCollapseTrim, SimHashExpr, VaderExpr}

/**
 * Session extensions: registers the engine's custom Catalyst
 * expressions for SQL callers —
 *
 *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
 *   SELECT pii_scan(text), cosine(a.embedding, b.embedding),
 *          minhash_sig(shingles), simhash(tokens, 8),
 *          fingerprint_min(text), py_collapse_trim(text),
 *          vader_compound(text) …
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, cls, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        // each function's own expression class, so DESCRIBE FUNCTION
        // metadata points at the real implementation
        new ExpressionInfo(cls.getName, name),
        builder))
    }
}

object GraftExtensions {

  private def litInt(e: Expression, what: String): Int = e.eval() match {
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  // every builder validates arity up front: a caller passing the wrong
  // argument count gets a usage message naming the expected signature,
  // not a positional IndexOutOfBoundsException from c(1)
  private def fn(name: String, cls: Class[_], sig: String)
                (build: Seq[Expression] => Expression): (String, Class[_], Seq[Expression] => Expression) =
    (name, cls, (c: Seq[Expression]) => {
      val expected = sig.split(",").length
      if (c.length != expected)
        throw new IllegalArgumentException(
          s"wrong argument count for $name: usage $name($sig) takes $expected argument(s), got ${c.length}")
      build(c)
    })

  private[graft] val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    fn("pii_scan", classOf[PiiScanExpr], "text")(c => PiiScanExpr(c.head)),
    fn("py_collapse_trim", classOf[PyCollapseTrim], "text")(c => PyCollapseTrim(c.head)),
    fn("vader_compound", classOf[VaderExpr], "text")(c => VaderExpr(c.head)),
    fn("minhash_sig", classOf[MinHashSigExpr], "text")(c => MinHashSigExpr(c.head)),
    fn("cosine", classOf[CosineExpr], "vec_a, vec_b")(c => CosineExpr(c.head, c(1))),
    fn("simhash", classOf[SimHashExpr], "tokens, hex_len")(c =>
      SimHashExpr(c.head, litInt(c(1), "simhash hex_len"))),
    fn("fingerprint_min", classOf[FingerprintMinExpr], "text")(c => FingerprintMinExpr(c.head)),
    fn("cosine_fd", classOf[CosineFDExpr], "vec_a, vec_b")(c => CosineFDExpr(c.head, c(1))),
    // context keywords are the engine's fixed set; SQL callers get the
    // same automaton the fused scanner uses
    fn("ac_any", classOf[AcAnyExpr], "text")(c =>
      AcAnyExpr(c.head, graft.rules.PiiRules.ContextKeywords)),
    fn("ac_scrub", classOf[AcScrubExpr], "text, mask")(c =>
      AcScrubExpr(c.head, graft.rules.PiiRules.ContextKeywords,
        litStr(c(1), "ac_scrub mask")))
  )

  private def litStr(e: Expression, what: String): String = e.eval() match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  /** Same registration against an already-built session (extensions
    * only apply at builder time). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
