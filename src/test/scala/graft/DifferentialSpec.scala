package graft

import scala.io.Source
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions.col
import graft.functions.{PiiScan, VaderUdf}
import graft.rules.{PiiRules, Vader}

/**
 * Differential golden corpora: thousands of randomized cases executed
 * through an EXACT replica of the reference's Python logic
 * (pii_detector.py / nltk vader), committed as jsonl resources. The
 * engine must agree on every case — this is the direct keep/drop-label
 * F1 evidence (agreement rate 1.0 ⇒ F1 = 1.0 vs reference labels on
 * this corpus).
 */
class DifferentialSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private def lines(res: String): Seq[String] =
    Source.fromInputStream(getClass.getResourceAsStream(res), "UTF-8")
      .getLines().toList

  private def jstr(s: String): String = {
    // minimal JSON string unescape for our generated content
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/' => sb.append('/'); i += 2
          case 'u' =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private val field = """"(\w+)":\s*("(?:[^"\\]|\\.)*"|\[[^\]]*\]|-?[\d.eE+-]+)""".r

  private def parseLine(line: String): Map[String, String] =
    field.findAllMatchIn(line).map(m => m.group(1) -> m.group(2)).toMap

  test("PII scan agrees with the reference replica on all 5000 differential cases") {
    var checked = 0
    lines("/pii_differential.jsonl").foreach { line =>
      val kv = parseLine(line)
      val text = jstr(kv("text").stripPrefix("\"").stripSuffix("\""))
      val expRisk = kv("risk").toDouble
      val expMatches = """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(kv("matches"))
        .map(m => jstr(m.group(1))).toList
      val got = PiiScan.scan(text).map { r =>
        (r.getUTF8String(0).toString, r.getUTF8String(1).toString, r.getDouble(2))
      }
      withClue(s"text: '$text'") {
        got.map { case (t, v, c) => s"$t|$v|${BigDecimal(c).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).underlying.stripTrailingZeros.toPlainString}" }
          .map(normNum).toList shouldBe expMatches.map(normNum)
        val risk =
          if (got.isEmpty) 0.0
          else {
            val tw = got.map(m => PiiRules.TypeWeights.getOrElse(m._1, 1.0)).sum
            val ws = got.map(m => m._3 * PiiRules.TypeWeights.getOrElse(m._1, 1.0)).sum
            math.min(1.0, ws / tw)
          }
        risk shouldBe expRisk +- 1e-9
        checked += 1
      }
    }
    checked shouldBe 5000
  }

  /** normalize trailing-zero float rendering differences ("0.8" vs "0.80"). */
  private def normNum(s: String): String = {
    val parts = s.split("\\|")
    if (parts.length == 3)
      parts(0) + "|" + parts(1) + "|" + parts(2).toDouble.toString
    else s
  }

  /** (text, compound, pos, neg, neu) of one VADER corpus. */
  private def vaderCases(res: String): Seq[(String, Double, Double, Double, Double)] =
    lines(res).map { line =>
      val kv = parseLine(line)
      (jstr(kv("text").stripPrefix("\"").stripSuffix("\"")), kv("compound").toDouble,
        kv("pos").toDouble, kv("neg").toDouble, kv("neu").toDouble)
    }

  private val vaderCorpora = Seq(
    ("/vader_differential.jsonl", 3000, "differential"),
    ("/vader_differential_long.jsonl", 2000, "long differential"))

  vaderCorpora.foreach { case (res, size, name) =>
    test(s"VADER agrees with the reference replica on all $size $name cases") {
      val cases = vaderCases(res)
      cases.foreach { case (text, c, p, n, u) =>
        val s = Vader.polarityScores(text)
        withClue(s"text: '$text'") {
          s.compound shouldBe c +- 1e-9
          s.pos shouldBe p +- 1e-9
          s.neg shouldBe n +- 1e-9
          s.neu shouldBe u +- 1e-9
          Vader.compound(text) shouldBe s.compound
        }
      }
      cases.size shouldBe size
    }

    test(s"vader_compound through Spark equals Vader.compound on the $size $name cases") {
      import spark.implicits._
      val cases = vaderCases(res)
      val got = cases.map(_._1).toDF("text").repartition(4)
        .select(col("text"), VaderUdf.compound(col("text"))).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      cases.foreach { case (text, _, _, _, _) =>
        withClue(s"text: '$text'") { got(text) shouldBe Vader.compound(text) }
      }
    }
  }
}
