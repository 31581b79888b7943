package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
  private lazy val tmp = Files.createTempDirectory("perfbench-spec")

  override def afterAll(): Unit = {
    spark.stop()
    Harness.delete(tmp.toString)
  }

  /** Part files' bytes in part-number order (their names carry a per-write id). */
  private def partBytes(dir: String): Seq[Seq[Byte]] = {
    val ls = Files.list(Path.of(dir))
    try ls.toArray.map(_.asInstanceOf[Path]).filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString.take(10)).map(p => Files.readAllBytes(p).toSeq).toSeq
    finally ls.close()
  }

  private def written(name: String, df: => org.apache.spark.sql.DataFrame): (Seq[Seq[Byte]], String) = {
    val dir = tmp.resolve(name).toString
    df.write.parquet(dir)
    val back = spark.read.parquet(dir)
    (partBytes(dir), back.agg(Harness.digest(back)).head().getString(0))
  }

  test("the same seed gives the same transcript bytes and digest; another seed does not") {
    val (b1, d1) = written("t1", Gen.transcripts(spark, 3000, 7, 2))
    val (b2, d2) = written("t2", Gen.transcripts(spark, 3000, 7, 2))
    val (b3, d3) = written("t3", Gen.transcripts(spark, 3000, 8, 2))
    assert(b1.size == 2)
    assert(b1 == b2)
    assert(d1 == d2)
    assert(b1 != b3)
    assert(d1 != d3)
  }

  /** A small documents table shaped like the engine's: distinct bodies,
    * an exact copy of doc 0, a near-duplicate of doc 1 and one of that. */
  private lazy val base: String = {
    import spark.implicits._
    val dir = tmp.resolve("base").toString
    val bodies = (0 until 40).map(i => Seq.tabulate(10 + i % 7)(j => s"w${(i * 7 + j * 3) % 30}").mkString(" "))
    val texts = bodies ++ Seq(bodies(0), bodies(1) + " dup", bodies(1) + " dup dup")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, if (i % 2 == 0) "en" else "fr", s"src${i % 20}") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(dir)
    dir
  }

  test("the same seed gives the same document bytes and digest; another seed does not") {
    val (b1, d1) = written("d1", Gen.documents(spark, base, 2, 7))
    val (b2, d2) = written("d2", Gen.documents(spark, base, 2, 7))
    val (_, d3) = written("d3", Gen.documents(spark, base, 2, 8))
    assert(b1.size == 1)
    assert(b1 == b2)
    assert(d1 == d2)
    assert(d1 != d3)
  }

  test("document copies keep each row's words, length, language and duplicates; only word order moves") {
    val in = spark.read.parquet(base).collect().map(r => r.getLong(0) -> r).toMap
    val out = Gen.documents(spark, base, 2, 7).collect()
    val n = in.size
    assert(out.map(_.getLong(0)).toSeq == (0L until 2L * n))
    val text = out.map(r => r.getLong(0) -> r.getString(1)).toMap
    for (r <- out) {
      val src = in(r.getLong(0) % n)
      assert(r.getString(1).split(" ").sorted.toSeq == src.getString(1).split(" ").sorted.toSeq)
      assert(r.getLong(4) == src.getLong(4))
      assert((r.getString(2), r.getString(3)) == ((src.getString(2), src.getString(3))))
    }
    assert(text(0) != in(0L).getString(1))
    for (k <- 0 until 2; off = k.toLong * n) {
      assert(text(off + 40) == text(off + 0))
      assert(text(off + 41) == text(off + 1) + " dup")
      assert(text(off + 42) == text(off + 1) + " dup dup")
    }
    assert(text(n.toLong) != text(0))
  }

  test("the generator's labels predict the verdict's skipped and dropped counts") {
    val turns = Gen.transcripts(spark, 4000, 3, 2)
    val (n, skipped, dropped) = Gen.expectedVerdict(spark, 4000, 3)
    val r = graft.pipeline.Verdict(turns)
      .agg(count(lit(1)), sum(col("skipped").cast("long")), sum((!col("keep")).cast("long"))).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((n, skipped, dropped)))
    assert(skipped > 0 && dropped > 0)
  }

  test("the digest ignores row and column order") {
    val df = spark.range(0, 100).selectExpr("id", "id * 2 AS twice")
    val a = df.agg(Harness.digest(df)).head().getString(0)
    val shuffled = df.orderBy(col("id").desc).select("twice", "id")
    assert(shuffled.agg(Harness.digest(shuffled)).head().getString(0) == a)
    assert(a.startsWith("100:"))
  }

  test("a thrown iteration or a failed check counts as failed and keeps its time") {
    val run = new Run(spark, 2, 1, seconds = 0.0, trace = false, tmp.toString)
    var i = 0
    val timed = run.loop("probe", items = 10, warm = 1, min = 3) {
      i += 1
      if (i == 2) throw new RuntimeException("boom")
      Thread.sleep(20)
      i
    } { r => run.expect("value", true, r != 3) }
    assert(run.attempted == 4)
    assert(run.failed == 2)
    assert(run.failures.size == 2)
    assert(timed.size == 3)
    assert(timed.forall(_.seconds > 0))
    assert(timed.map(_.failed) == Seq(true, true, false))
    assert(run.checks.count(_("ok") == false) == 1)
  }

  test("median of an even count averages the middle pair") {
    assert(Harness.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Harness.median(Seq(5.0)) == 5.0)
  }
}
