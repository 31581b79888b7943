package graft

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.functions.VaderUdf
import graft.rules.Vader

/**
 * Golden suite for the VADER reimplementation. Expected values come from
 * an independently-written Python replica of the algorithm the reference
 * uses (nltk.sentiment.vader), run with the same curated lexicon; on
 * every sentence whose words are in the published lexicon the replica
 * reproduces the PUBLISHED reference compounds exactly (0.4404, 0.3832,
 * 0.431, 0.8316, -0.7424, -0.5461, 0.5672 …), pinning both algorithm
 * and lexicon values.
 */
class VaderSpec extends AnyFunSuite with Matchers with SparkTestBase {

  // (text, compound, pos, neg, neu)
  private val golden: Seq[(String, Double, Double, Double, Double)] = Seq(
    ("The book was good.", 0.4404, 0.492, 0.0, 0.508),
    ("The book was very good.", 0.4927, 0.444, 0.0, 0.556),
    ("The book was VERY GOOD!", 0.7141, 0.553, 0.0, 0.447),
    ("The book was VERY GOOD!!!", 0.7604, 0.58, 0.0, 0.42),
    ("The book was kind of good.", 0.3832, 0.343, 0.0, 0.657),
    ("The book was not good.", -0.3412, 0.0, 0.376, 0.624),
    ("At least it isn't a horrible book.", 0.431, 0.363, 0.0, 0.637),
    ("This is smart, handsome, and funny.", 0.8316, 0.746, 0.0, 0.254),
    ("This is really smart, uber handsome, and FRIGGIN FUNNY!!!", 0.9229, 0.672, 0.0, 0.328),
    ("This is not smart, handsome, nor funny.", -0.7424, 0.0, 0.646, 0.354),
    ("Today SUX!", -0.5461, 0.0, 0.779, 0.221),
    ("Today sux", -0.3612, 0.0, 0.714, 0.286),
    ("Today sux!", -0.4199, 0.0, 0.736, 0.264),
    // 'sure' entered the bundled lexicon in round 6 (it IS in the published
    // lexicon at 1.3) — the former 0.3802 golden encoded the subset
    // boundary. ':D' scores 0 under nltk 3.8.1 semantics: the lexicon's
    // uppercase-emoticon entries are unreachable through the lowercased
    // lookup (sentiment_valence's item.lower()), so the published README's
    // 0.8633 (older vaderSentiment) is not the nltk-pinned value.
    ("Make sure you :) or :D today!", 0.5983, 0.495, 0.0, 0.505),
    ("Not bad at all", 0.431, 0.487, 0.0, 0.513),
    ("The plot was good, but the characters are uncompelling and the dialog is bad.",
      -0.5859, 0.104, 0.254, 0.642),
    ("sentiment analysis has never been good.", -0.3412, 0.0, 0.325, 0.675),
    ("sentiment analysis has never been this good!", 0.5672, 0.379, 0.0, 0.621),
    ("It was a great great day", 0.8481, 0.732, 0.0, 0.268),   // duplicate-token index quirk
    ("really really good", 0.5379, 0.634, 0.0, 0.366),
    ("good good good but bad", -0.2263, 0.504, 0.409, 0.086),  // but-check first-index quirk
    ("hardly great", 0.5868, 0.792, 0.0, 0.208),
    ("barely any issues, mostly works", -0.2315, 0.0, 0.325, 0.675),
    ("terrible??", -0.5803, 0.0, 1.0, 0.0),
    ("terrible???? what were they thinking", 0.0, 0.0, 0.0, 1.0), // "????" not strippable — misses lexicon
    ("no", -0.296, 0.0, 1.0, 0.0),
    ("ok", 0.296, 1.0, 0.0, 0.0),
    ("I guess that's a good one to add lol.", 0.6705, 0.524, 0.0, 0.476),
    ("Looks sick!", -0.5093, 0.0, 0.767, 0.233),
    // 'healthy' entered the bundled lexicon in round 3 (it IS in the
    // published lexicon) — the former 0.0 golden encoded the old
    // 870-entry subset boundary, not real VADER behavior
    ("the deployment finished and the dashboards look healthy", 0.4215, 0.286, 0.0, 0.714),
    ("thanks for the update, that all sounds right to me", 0.4404, 0.244, 0.0, 0.756),
    ("WOW so great!!", 0.8888, 0.905, 0.0, 0.095),
    ("least favorite movie", -0.357, 0.0, 0.554, 0.446),
    ("at least it works", 0.0, 0.0, 0.0, 1.0),
    ("this is the shit", 0.6124, 0.571, 0.0, 0.429),            // special-case idiom
    // 'yeah' (1.2) and 'sure' (1.3) entered the lexicon in round 6. The
    // "yeah right" idiom (-2) deliberately does NOT fire here: nltk only
    // consults SPECIAL_CASE_IDIOMS while scoring a lexicon word at least
    // 3 tokens past the idiom start (start_i == 2 requires i > 2 and the
    // word at i-3 out-of-lexicon), and no scored word sits there.
    ("yeah right, sure it works", 0.5423, 0.6, 0.0, 0.4),
    ("", 0.0, 0.0, 0.0, 0.0),
    ("a", 0.0, 0.0, 0.0, 0.0),
    ("?? !!", 0.0, 0.0, 0.0, 1.0)
  )

  golden.foreach { case (text, c, p, n, u) =>
    test(s"golden: '${text.take(48)}'") {
      val s = Vader.polarityScores(text)
      s.compound shouldBe c +- 1e-9
      s.pos shouldBe p +- 1e-9
      s.neg shouldBe n +- 1e-9
      s.neu shouldBe u +- 1e-9
    }
  }

  test("compound is always within [-1, 1]") {
    val stress = Seq(
      "love love love love love love love love love!!!!",
      "hate hate hate hate hate hate hate hate hate????",
      "GREAT GREAT GREAT GREAT GREAT GREAT GREAT",
      List.fill(200)("best").mkString(" "))
    stress.foreach { t =>
      val c = Vader.compound(t)
      c should (be >= -1.0 and be <= 1.0)
    }
  }

  test("null-safe") { Vader.compound(null) shouldBe 0.0 }

  test("label thresholds match the reference (sentiment.py:325-337)") {
    // compound == 0 → neutral, > 0 → happy, < 0 → sad
    Vader.compound("the deployment finished") shouldBe 0.0
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** vader_compound over the golden texts plus a NULL, with codegen
    * forced on or off; returns the (text, score) rows, the executed
    * whole-stage codegen stages and the schema. */
  private def scored(codegen: Boolean) = {
    import spark.implicits._
    val conf = Map(
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.wholeStage" -> codegen.toString)
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // repartition keeps the projection out of the optimizer's
      // LocalRelation folding, so it runs in the physical plan
      val df = (golden.map(g => Option(g._1)) :+ None).toDF("t").repartition(2)
        .select(col("t"), VaderUdf.compound(col("t")).as("v"))
      val rows = df.collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
      val codegenStages = Plans.collect(df.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec => w.toString
      }
      (rows, codegenStages, df.schema)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("vader_compound: codegen and interpreted output are equal and match the goldens") {
    val (gen, genStages, _) = scored(codegen = true)
    val (interp, interpStages, _) = scored(codegen = false)
    genStages.exists(_.contains("vader_compound")) shouldBe true
    interpStages shouldBe empty
    gen shouldBe interp
    golden.foreach { case (text, c, _, _, _) =>
      withClue(s"text: '$text'") { gen(Some(text)) shouldBe c }
    }
  }

  test("vader_compound(NULL) is 0.0, as the UDF scored it, and the column is not nullable") {
    Seq(true, false).foreach { codegen =>
      val (rows, _, schema) = scored(codegen)
      rows(None) shouldBe 0.0
      schema("v").nullable shouldBe false
    }
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT vader_compound(NULL) AS v")
    r.head().getDouble(0) shouldBe 0.0
    r.schema("v").nullable shouldBe false
  }
}
