package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.GopherQuality

/** Known-answer tests for the Gopher repetition metrics (hand-computed
  * fractions, including the overlap-union subtlety of dup5). */
class GopherQualitySpec extends AnyFunSuite with Matchers with SparkTestBase {

  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("gopher").toString
    Seq(
      // doc 0: "x y z w v" twice, disjoint spans -> dup5 = 18/19
      (0L, "x y z w v x y z w v"),
      // doc 1: alternating -> every 5-gram duplicated, spans overlap;
      // union must cover the whole text exactly once -> dup5 = 1.0
      (1L, "a b a b a b a b"),
      // doc 2: no repetition at all
      (2L, "one two three four five six"),
      // doc 3: shorter than a 5-gram -> no dup5 row, coalesced to 0;
      // top2 = "q q" count 2 * len 3 / 5 (overlap-counting, like the
      // public datatrove/NeMo implementations)
      (3L, "q q q"),
      // doc 4: a 7-gram repeated with a spacer -> dup5/6/7 fire, dup8+
      // don't. Text len 29; "a b c d e f g" spans [0,13) and [16,29)
      (4L, "a b c d e f g X a b c d e f g")
    ).toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    d
  }

  test("dup5: union-of-spans counts overlapping duplicate chars once") {
    val rows = GopherQuality.quality(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    rows(0L).getAs[Double]("dup5_frac") shouldBe 18.0 / 19.0 +- 1e-6
    rows(1L).getAs[Double]("dup5_frac") shouldBe 1.0
    rows(2L).getAs[Double]("dup5_frac") shouldBe 0.0
    rows(3L).getAs[Double]("dup5_frac") shouldBe 0.0
  }

  test("fused single-scan default is result-identical to the per-leg proof shape") {
    val fused = GopherQuality.quality(spark, dir)
    val perLeg = GopherQuality.qualityPerLeg(spark, dir)
    fused.schema.map(f => (f.name, f.dataType)) shouldBe
      perLeg.schema.map(f => (f.name, f.dataType))
    fused.collect().sortBy(_.getLong(0)).map(_.toString) shouldBe
      perLeg.collect().sortBy(_.getLong(0)).map(_.toString)
  }

  test("dup-n family n=6..10: hand-computed doc-4 fractions at the published thresholds") {
    val rows = GopherQuality.quality(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the repeated 7-gram covers [0,13) + [16,29) = 26 of 29 chars; its
    // 5- and 6-gram sub-windows are duplicated too and their span
    // unions cover the same 26 chars; no 8-gram repeats (the X spacer)
    rows(4L).getAs[Double]("dup5_frac") shouldBe 26.0 / 29.0 +- 1e-6
    rows(4L).getAs[Double]("dup6_frac") shouldBe 26.0 / 29.0 +- 1e-6
    rows(4L).getAs[Double]("dup7_frac") shouldBe 26.0 / 29.0 +- 1e-6
    rows(4L).getAs[Double]("dup8_frac") shouldBe 0.0
    rows(4L).getAs[Double]("dup9_frac") shouldBe 0.0
    rows(4L).getAs[Double]("dup10_frac") shouldBe 0.0
    rows(4L).getAs[Boolean]("gopher_keep") shouldBe false // 26/29 > 0.15
    // a clean doc passes every member of the widened family
    rows(2L).getAs[Double]("dup10_frac") shouldBe 0.0
  }

  test("pathological mega-doc (100k tokens): per-doc windows stay correct at the stated bound") {
    // the char_start running sum and the dup-span windows serialize per
    // doc (Scaladoc-stated bound ≲ 10^6 tokens); pin correctness at a
    // 100k-token doc: all tokens identical -> every n-gram duplicated,
    // span union covers the full text exactly -> dup_n = 1.0 for all n
    import spark.implicits._
    val d = Files.createTempDirectory("gopher_mega").toString
    val mega = Seq.fill(100000)("w").mkString(" ") // len 199,999
    Seq((0L, mega), (1L, "one two three four five six"))
      .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val rows = GopherQuality.quality(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    rows(0L).getAs[Double]("dup5_frac") shouldBe 1.0
    rows(0L).getAs[Double]("dup10_frac") shouldBe 1.0
    // top2 uses overlap counting: 99,999 bigrams x 3 chars / 199,999
    rows(0L).getAs[Double]("top2_frac") shouldBe 99999 * 3.0 / 199999 +- 1e-4
    rows(0L).getAs[Boolean]("gopher_keep") shouldBe false
    rows(1L).getAs[Boolean]("gopher_keep") shouldBe false // tie-break top2 8/27
  }

  test("blocked variant is row-identical to the default with blocking forced on") {
    // threshold 3 tokens / 4 blocks: every fixture doc is "heavy", bw
    // clamps to maxLead = 9, and doc 0/1/4 exercise the ghost-row path
    val a = GopherQuality.quality(spark, dir).collect()
      .sortBy(_.getLong(0)).map(_.toString)
    val b = GopherQuality.qualityBlocked(spark, dir, numBlocks = 4, heavyThreshold = 3)
      .collect().sortBy(_.getLong(0)).map(_.toString)
    b shouldBe a
    // and with nothing heavy, the blocked plan degenerates to blk = 0
    val c = GopherQuality.qualityBlocked(spark, dir).collect()
      .sortBy(_.getLong(0)).map(_.toString)
    c shouldBe a
  }

  test("quality() auto-dispatches to the blocked plan when a doc can exceed the token bound") {
    // tiny threshold: every fixture doc passes the n_chars/length screen,
    // so quality() takes the blocked path — rows must be identical to the
    // fused default (which the tiny-threshold screen rejects here)
    val fused = GopherQuality.quality(spark, dir).collect()
      .sortBy(_.getLong(0)).map(_.toString)
    val dispatched = GopherQuality.quality(spark, dir,
        numBlocks = 4, heavyThreshold = 3).collect()
      .sortBy(_.getLong(0)).map(_.toString)
    dispatched shouldBe fused
  }

  test("quality() screens space-run docs by chars: empty tokens still count toward the bound") {
    // split(text, " ") keeps the empty tokens of a space run, so this
    // 63-char doc has 61 tokens — over a 40-token threshold although it
    // is shorter than 2·40+1 chars; the screen must still send it to the
    // blocked plan, whose rows equal the fused plan's
    import spark.implicits._
    val d = Files.createTempDirectory("gopher_spaces").toString
    val spaces = "x" + " " * 30 + "y" + " " * 30 + "z"
    Seq((0L, spaces), (1L, "one two three four five six"))
      .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val dispatched = GopherQuality.quality(spark, d, numBlocks = 4, heavyThreshold = 40)
    dispatched.queryExecution.executedPlan.toString should include("blk")
    val fused = GopherQuality.quality(spark, d)
    fused.queryExecution.executedPlan.toString should not include "blk"
    dispatched.collect().sortBy(_.getLong(0)).map(_.toString) shouldBe
      fused.collect().sortBy(_.getLong(0)).map(_.toString)
  }

  test("blocked variant on a pathological mega-doc: spans crossing block boundaries merge exactly") {
    import spark.implicits._
    val d = Files.createTempDirectory("gopher_mega_blk").toString
    // doc 0: 20k identical tokens -> one island covering the whole doc,
    // crossing every block boundary; doc 1: a repeated 7-gram whose
    // second occurrence sits far from the first (islands in different
    // blocks, no cross-boundary merge); doc 2: light control
    val mega = Seq.fill(20000)("w").mkString(" ")
    // distinct filler tokens — no accidental duplicated n-grams between
    // the two occurrences of the 7-gram
    val spaced = (Seq("a b c d e f g") ++ (0 until 300).map(i => s"u$i") ++
      Seq("a b c d e f g")).mkString(" ")
    Seq((0L, mega), (1L, spaced), (2L, "one two three four five six"))
      .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val base = GopherQuality.quality(spark, d).collect()
      .sortBy(_.getLong(0)).map(_.toString)
    val blk = GopherQuality.qualityBlocked(spark, d, numBlocks = 16, heavyThreshold = 100)
      .collect().sortBy(_.getLong(0)).map(_.toString)
    blk shouldBe base
    val rows = GopherQuality.qualityBlocked(spark, d, numBlocks = 16, heavyThreshold = 100)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    rows(0L).getAs[Double]("dup5_frac") shouldBe 1.0
    rows(0L).getAs[Double]("dup10_frac") shouldBe 1.0
    rows(1L).getAs[Double]("dup7_frac") shouldBe 26.0 / spaced.length +- 1e-6
    rows(1L).getAs[Double]("dup8_frac") shouldBe 0.0
  }

  test("top-n fractions and the published-threshold keep decision") {
    val rows = GopherQuality.quality(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    rows(3L).getAs[Double]("top2_frac") shouldBe 2 * 3.0 / 5.0 +- 1e-6
    // all doc-2 bigrams tie at count 1; the deterministic tiebreak picks
    // the lexicographically smallest, "five six" (8 chars of 27)
    rows(2L).getAs[Double]("top2_frac") shouldBe 8.0 / 27.0 +- 1e-6
    rows(2L).getAs[Boolean]("gopher_keep") shouldBe false // 8/27 > 0.20
    rows(0L).getAs[Boolean]("gopher_keep") shouldBe false // dup5 0.947 > 0.15
  }
}
