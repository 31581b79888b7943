package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.model.Turn
import graft.pipeline.Verdict

/** Library API boundary: the typed Dataset transform and the SQL
  * extension registration. */
class ApiSpec extends AnyFunSuite with Matchers with SparkTestBase {

  test("typed pipeline: Dataset[Turn] -> Dataset[TurnVerdict]") {
    import spark.implicits._
    val ds = Seq(
      Turn("c0", 0, "user", "reach me at a@b.io", "", new Timestamp(0L)),
      Turn("c0", 1, "assistant", "all good here", "", new Timestamp(1000L))).toDS()
    val out = Verdict.typed(ds).collect().sortBy(_.turn_idx)
    out(0).keep shouldBe false
    out(0).pii_matches.head.`type` shouldBe "email"
    out(0).scrubbed_text shouldBe graft.rules.PiiRules.RedactionMessage
    out(1).keep shouldBe true
    out(1).scrubbed_text shouldBe "all good here"
  }

  test("ScrubJob config file provides job params; CLI flags override (K4)") {
    val conf = java.nio.file.Files.createTempFile("job", ".properties")
    java.nio.file.Files.writeString(conf,
      "input=/data/in.parquet\noutput=/data/out\nbuckets=128\nparallelism=8\n")
    val fromFile = graft.jobs.ScrubJob.resolve(
      Array("--config", conf.toString))
    fromFile("input") shouldBe "/data/in.parquet"
    fromFile("buckets") shouldBe "128"
    fromFile("parallelism") shouldBe "8"
    val overridden = graft.jobs.ScrubJob.resolve(
      Array("--config", conf.toString, "--buckets", "4096"))
    overridden("buckets") shouldBe "4096" // flag wins
    overridden("output") shouldBe "/data/out" // file fills the rest
  }

  test("CurateJob writes the shard-partitioned packed layout, same rows as the query") {
    val out = java.nio.file.Files.createTempDirectory("graft_curate").toString
    // stage arg exactly as main() defaults it: the SIBLING <output>_stage
    val n = graft.jobs.CurateJob.run(spark, "/root/testdata/sf0.001",
      s"$out/packed", s"$out/packed_stage")
    n should be >= 1L
    val packed = spark.read.parquet(s"$out/packed")
    // shard survives as a partition column; rows match the pipeline query
    packed.columns should contain("shard")
    val direct = graft.operators.Curation.curatePipeline(spark, "/root/testdata/sf0.001")
    packed.count() shouldBe direct.count()
    packed.selectExpr("doc_id", "seq_id", "seq_offset")
      .exceptAll(direct.selectExpr("doc_id", "seq_id", "seq_offset"))
      .count() shouldBe 0L
  }

  test("CurateJob rejects a stage dir at or under the output (overwrite would eat it)") {
    val out = java.nio.file.Files.createTempDirectory("graft_curate_guard").toString
    val e1 = intercept[IllegalArgumentException](graft.jobs.CurateJob.run(
      spark, "/root/testdata/sf0.001", s"$out/packed", s"$out/packed/_stage"))
    e1.getMessage should include("must not be the output or under it")
    val e2 = intercept[IllegalArgumentException](graft.jobs.CurateJob.run(
      spark, "/root/testdata/sf0.001", s"$out/packed/", s"$out/packed"))
    e2.getMessage should include("must not be the output or under it")
  }

  test("CurateJob deployment knobs: --shards resizes packing, --eval redirects decontamination") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_curate_knobs").toString
    // benchmark file with no 13-gram overlap: the held-out-split docs
    // are no longer dropped as eval, so the packed corpus can only grow
    val evalPath = s"$out/bench.parquet"
    Seq("completely unrelated benchmark prompt text with nothing shared")
      .toDF("text").write.parquet(evalPath)
    val n = graft.jobs.CurateJob.run(spark, "/root/testdata/sf0.001",
      s"$out/packed", s"$out/packed_stage", shards = 5, evalPath = Some(evalPath))
    val packed = spark.read.parquet(s"$out/packed")
    packed.selectExpr("CAST(shard AS INT) AS s").distinct().collect()
      .map(_.getInt(0)).foreach(s => s should (be >= 0 and be < 5))
    val defaultN = graft.operators.Curation
      .curatePipeline(spark, "/root/testdata/sf0.001").count()
    n should be >= defaultN
  }

  test("CurateJob --resume reuses every committed stage on a re-run") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val out = java.nio.file.Files.createTempDirectory("graft_curate_resume").toString
    val n1 = graft.jobs.CurateJob.run(spark, "/root/testdata/sf0.001",
      s"$out/packed", s"$out/stage", resume = true)
    // the whole staged surface: 9 leg tables + the surviving corpus
    def listing(rel: String): Map[String, Long] =
      Files.list(Paths.get(s"$out/stage/$rel")).iterator().asScala
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
    val stages = Seq("kept") ++ Seq("quality", "langid", "keeplist", "gopher",
      "pages", "gopherdoc", "c4", "toxicity", "decontam").map(l => s"legs/$l")
    val before = stages.map(s => s -> listing(s)).toMap
    val n2 = graft.jobs.CurateJob.run(spark, "/root/testdata/sf0.001",
      s"$out/packed", s"$out/stage", resume = true)
    n2 shouldBe n1
    stages.foreach { s =>
      withClue(s"committed stage $s must not be rewritten on resume: ") {
        listing(s) shouldBe before(s)
      }
    }
    // output still matches the declarative pipeline
    val direct = graft.operators.Curation.curatePipeline(spark, "/root/testdata/sf0.001")
    spark.read.parquet(s"$out/packed").selectExpr("doc_id", "seq_id", "seq_offset")
      .exceptAll(direct.selectExpr("doc_id", "seq_id", "seq_offset"))
      .count() shouldBe 0L
  }

  test("CurateJob --resume recovers a TORN kept stage (job-level kill window)") {
    // The job-level failure window the operator-level TrainFilterSpec
    // torn-leg case does not cover: the kill lands AFTER the legs commit
    // but DURING the kept-corpus stage write. Resume must rewrite exactly
    // the kept stage (no _SUCCESS => torn), reuse every committed leg
    // untouched, and produce the identical packed output.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val out = java.nio.file.Files.createTempDirectory("graft_curate_torn").toString
    val n1 = graft.jobs.CurateJob.run(spark, "/root/testdata/sf0.001",
      s"$out/packed", s"$out/stage", resume = true)
    val packed1 = spark.read.parquet(s"$out/packed")
      .selectExpr("doc_id", "shard", "n_tok", "cum_tok", "seq_id", "seq_offset", "n_seqs")
      .collect().map(_.toString).sorted
    // tear the kept stage: drop the commit marker and one data file —
    // what an interrupted write leaves behind
    val keptDir = Paths.get(s"$out/stage/kept")
    Files.delete(keptDir.resolve("_SUCCESS"))
    Files.list(keptDir).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).foreach(Files.delete)
    def listing(rel: String): Map[String, Long] =
      Files.list(Paths.get(s"$out/stage/$rel")).iterator().asScala
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
    val legs = Seq("quality", "langid", "keeplist", "gopher",
      "pages", "gopherdoc", "c4", "toxicity", "decontam").map(l => s"legs/$l")
    val legsBefore = legs.map(s => s -> listing(s)).toMap
    val n2 = graft.jobs.CurateJob.run(spark, "/root/testdata/sf0.001",
      s"$out/packed", s"$out/stage", resume = true)
    n2 shouldBe n1
    // the kept stage was recomputed (marker back, data complete) ...
    Files.exists(keptDir.resolve("_SUCCESS")) shouldBe true
    // ... the committed legs were NOT rewritten ...
    legs.foreach { s =>
      withClue(s"committed leg $s must not be rewritten on torn-kept resume: ") {
        listing(s) shouldBe legsBefore(s)
      }
    }
    // ... and the packed output is identical to the uninterrupted run's
    val packed2 = spark.read.parquet(s"$out/packed")
      .selectExpr("doc_id", "shard", "n_tok", "cum_tok", "seq_id", "seq_offset", "n_seqs")
      .collect().map(_.toString).sorted
    packed2 shouldBe packed1
  }

  test("pii_scan and vader_compound are callable from SQL after registration") {
    GraftExtensions.register(spark)
    val rows = spark.sql(
      "SELECT pii_scan('reach me at a@b.io') AS m, vader_compound('The book was good.') AS v").collect()
    rows.head.getSeq[org.apache.spark.sql.Row](0).head.getString(0) shouldBe "email"
    rows.head.getSeq[org.apache.spark.sql.Row](0).head.getDouble(2) shouldBe 1.0 // .95 + boost
    rows.head.getDouble(1) shouldBe 0.4404
  }

  test("the session extension registers vader_compound") {
    GraftExtensions.builders.map(_._1) should contain("vader_compound")
  }

  test("the fused kernel expressions are callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT
        |  size(minhash_sig(array('a b c', 'b c d'))) AS mh,
        |  cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |         array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cos,
        |  simhash(array('tok1', 'tok2'), 4) AS sh,
        |  fingerprint_min('some text long enough') AS fp,
        |  py_collapse_trim('  a   b ') AS ct,
        |  ac_any('please CALL ME today') AS aa,
        |  ac_scrub('my ssn and phone', '[X]') AS asr,
        |  cosine_fd(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |            array(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE))) AS cfd""".stripMargin).head()
    r.getInt(0) shouldBe 32
    r.getDouble(1) shouldBe 1.0 +- 1e-12
    r.getLong(2) should (be >= 0L and be < 65536L)
    r.getString(3).length shouldBe 16
    r.getString(4) shouldBe "a b"
    r.getBoolean(5) shouldBe true
    r.getString(6) shouldBe "my [X] and [X]"
    r.getDouble(7) shouldBe 1.0 +- 1e-12
  }

  test("SQL functions reject wrong arity with a usage message, not an index error") {
    GraftExtensions.register(spark)
    val e1 = intercept[Exception](spark.sql("SELECT ac_scrub('text only')").collect())
    e1.getMessage should include("ac_scrub(text, mask)")
    val e2 = intercept[Exception](spark.sql("SELECT cosine(array(CAST(1.0 AS FLOAT)))").collect())
    e2.getMessage should include("cosine(vec_a, vec_b)")
    val e3 = intercept[Exception](spark.sql("SELECT pii_scan('a', 'b')").collect())
    e3.getMessage should include("pii_scan(text)")
  }
}
