package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.Similarity
import graft.pipeline.Verdict
import graft.sources.Transcripts

/**
 * Physical-plan audits: the properties that decide whether this engine
 * survives a 100x scale-up — filter pushdown reaching the parquet scan,
 * column pruning, shuffle counts, broadcast joins, partial aggregation —
 * asserted on `.explain`-level plans so regressions fail the build.
 */
class PlanSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  // plan-shape audits read the static plan: AQE's placeholder would hide
  // codegen/exchange structure until execution
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
  }
  override def afterAll(): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    super.afterAll()
  }

  private def executed(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def exchanges(df: DataFrame): Int =
    "Exchange".r.findAllIn(executed(df)).length

  test("verdict pipeline is shuffle-free (pure map; scales with input splits)") {
    exchanges(Verdict(Transcripts.fromDocuments(spark, dir))) shouldBe 0
  }

  test("fused LLM stage: one pass, no join, no shuffle") {
    // round 1 derived the llm frame from the verdict and equi-joined it
    // back (double pipeline + shuffle); the fused mapPartitions form must
    // stay join- and exchange-free
    val plan = executed(pipeline.Llm.withLlm(spark, Transcripts.fromDocuments(spark, dir)))
    plan should not include "Join"
    plan should not include "Exchange"
    plan should include("MapPartitions")
  }

  test("verdict pipeline runs inside WholeStageCodegen") {
    // codegen'd operators print with a "*(stageId)" prefix in toString
    executed(Verdict(Transcripts.fromDocuments(spark, dir))) should include regex "\\*\\(\\d+\\)"
  }

  test("predicate pushdown reaches the parquet scan") {
    val plan = executed(
      spark.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 100))
    plan should include("PushedFilters")
    plan should include("LessThan(doc_id,100)")
  }

  test("column pruning: projecting verdict keys reads only doc_id and text") {
    val df = Verdict(Transcripts.fromDocuments(spark, dir)).select("conv_id", "keep")
    val scan = executed(df)
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(scan).getOrElse("")
    readSchema should include("doc_id")
    readSchema should include("text")
    readSchema should not include "lang"
    readSchema should not include "n_chars"
  }

  test("global metrics is one partial+final aggregate (single 1-row shuffle)") {
    val m = pipeline.Metrics.summary(Verdict(Transcripts.fromDocuments(spark, dir)))
    val plan = executed(m)
    plan should include("HashAggregate")
    exchanges(m) shouldBe 1 // partial → single-partition final
  }

  test("ANN top-k broadcasts the single-row query side and uses TakeOrderedAndProject") {
    val plan = executed(Similarity.annTopK(spark, dir))
    plan should include("BroadcastNestedLoopJoin")
    plan should include("TakeOrderedAndProject")
  }

  test("hot/controversial ranking is a map-side score + top-k, no full sort") {
    for (q <- Seq("q_rank_hot", "q_rank_controversial")) {
      val plan = executed(SparkEntry.queries(q)(spark, dir))
      plan should include("TakeOrderedAndProject") // k rows per partition cross
      // no global sort: the only exchange allowed is Inputs.spread's
      // round-robin split fix for the single-row-group test parquet
      plan should not include "RangePartitioning"
      plan should not include "hashpartitioning"
    }
  }

  test("per-conversation rollup shuffles once on the group key") {
    val r = Verdict(Transcripts.fromDocuments(spark, dir))
      .groupBy("conv_id").agg(count(lit(1)))
    exchanges(r) shouldBe 1
  }

  test("IVF cells: broadcast centroids + max_by hash aggregate (no window, no sort)") {
    val plan = executed(Similarity.ivfCells(spark, dir))
    // the centroid side is keyless-broadcast (16 rows against every vec)
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "Window"
    plan should not include "SortAggregate"
    plan should include("partial_max_by") // map-side combine: 1 row/vec crosses the shuffle
  }

  test("batch ANN: fixed-k aggregate, no window — k rows per query per partition shuffle") {
    val plan = executed(Similarity.annTopKBatch(spark, dir))
    plan should not include "Window"
    plan should include("ObjectHashAggregate")
    plan should include("partial_topk_longs") // map-side reduction to k longs
  }

  test("top-V perplexity: every model join broadcasts (doc side never shuffles into it)") {
    val plan = executed(graft.operators.Perplexity.scoreTopV(spark, dir))
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("trigram stupid-backoff: all five model joins broadcast, no sort-merge, no window") {
    val plan = executed(graft.operators.Perplexity.scoreTrigramSB(spark, dir))
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "Window"
  }

  test("langid model: scoring joins the weight table broadcast-only, no sort agg") {
    val plan = executed(graft.operators.LangIdModel.predict(spark, dir))
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "Window"
    plan should not include "SortAggregate"
  }

  test("minhash pipeline runs the fused signature expression") {
    val plan = executed(graft.operators.Dedup.minhashSig(spark, dir))
    plan should include("minhash_sig")
  }

  test("decontamination: eval grams join broadcast-only, no corpus self-join") {
    val plan = executed(operators.Curation.decontaminate(spark, dir))
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("mix sampling: rate table joins broadcast-only; keep decision is map-side") {
    val plan = executed(operators.Curation.mixSample(spark, dir))
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("sequence packing shuffles once (by shard) for the per-shard window") {
    // raw read: the dir entry adds Inputs.spread's small-file repartition,
    // which vanishes at scale (splits >= cores) and isn't the operator
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    exchanges(operators.Curation.seqPackDocs(raw)) shouldBe 1
  }

  test("toxicity gate is shuffle-free: one fused codegen'd AC pass, no join") {
    val df = operators.Toxicity.toxicity(spark, dir)
    val plan = executed(df)
    plan should not include "Join"
    plan should include("ac_tox")
  }

  test("quality model: scoring joins the weight table broadcast-only") {
    val plan = executed(operators.QualityModel.distill(spark, dir))
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }
}
