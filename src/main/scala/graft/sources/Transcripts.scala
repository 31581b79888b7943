package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.rules.PiiRules

/**
 * The engine's input table: multi-turn conversation transcripts
 * (conv_id, turn_idx, role, text, tool, ts) per BASELINE.json input_hint.
 *
 * Two deterministic constructions:
 *
 *  - [[fromDocuments]]: derives transcripts from the driver-provided
 *    `documents.parquet`, injecting PII / cleaning / skip-marker cases by
 *    `doc_id` residue. The SAME derivation is expressed as a DuckDB CTE
 *    ([[oracleCte]]) so every transcript query has an exact SQL oracle.
 *
 *  - [[generate]]: a pure column-expression synthetic generator over
 *    `spark.range` — fully distributed (no driver-side loops), seeded by
 *    row id, with a configurable skewed mega-conversation for salting /
 *    AQE tests (ConversationSpec).
 */
object Transcripts {

  /** Injection fragments are keyed by doc_id % 11: residues 2/3/4 carry PII
    * forms that the reference's FP digit-gate provably nullifies (risk 0);
    * 0/1/7 yield real matches; 5 exercises the clean chain; 6 the skip
    * guard. Kept identical, character-for-character, in [[oracleCte]]. */
  def fromDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val id = col("doc_id")
    val inject = (id % 11).cast("int")
    val injected = concat(col("text"),
      when(inject === 0, concat(lit(" reach me at user"), id.cast("string"), lit("@example.com")))
        .when(inject === 1, lit(" Dr. John Smith will see you"))
        .when(inject === 2, lit(" my ssn is 123-45-6789"))
        .when(inject === 3, lit(" call me at (212) 555-1234"))
        .when(inject === 4, lit(" I live at 123 Main St today"))
        .when(inject === 5, lit(" <b>bold</b>  &amp;#x200B;  spaced   out"))
        .when(inject === 6, lit(" " + PiiRules.RedactionMessage))
        .when(inject === 7, lit(" contact me: Mrs. Anna Lee Smith"))
        .otherwise(lit("")))
    docs.select(
      concat(lit("c"), (id % 40).cast("string")).as("conv_id"),
      floor(id / 40.0).cast("int").as("turn_idx"),
      when(id % 3 === 0, "user").when(id % 3 === 1, "assistant").otherwise("tool").as("role"),
      injected.as("text"),
      when(id % 3 === 2, "search").otherwise("").as("tool"),
      timestamp_seconds(lit(1704067200L) + id).as("ts")
    )
  }

  /** DuckDB CTE mirroring [[fromDocuments]] (ts omitted — oracle queries
    * never project it; DuckDB/Spark timestamp literals differ). */
  val oracleCte: String =
    s"""WITH transcripts AS (
       |  SELECT
       |    'c' || CAST(doc_id % 40 AS VARCHAR) AS conv_id,
       |    CAST(floor(doc_id / 40.0) AS INT) AS turn_idx,
       |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
       |    text || CASE CAST(doc_id % 11 AS INT)
       |      WHEN 0 THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com'
       |      WHEN 1 THEN ' Dr. John Smith will see you'
       |      WHEN 2 THEN ' my ssn is 123-45-6789'
       |      WHEN 3 THEN ' call me at (212) 555-1234'
       |      WHEN 4 THEN ' I live at 123 Main St today'
       |      WHEN 5 THEN ' <b>bold</b>  &amp;#x200B;  spaced   out'
       |      WHEN 6 THEN ' ${PiiRules.RedactionMessage}'
       |      WHEN 7 THEN ' contact me: Mrs. Anna Lee Smith'
       |      ELSE '' END AS text,
       |    CASE WHEN doc_id % 3 = 2 THEN 'search' ELSE '' END AS tool
       |  FROM documents
       |)""".stripMargin

  /**
   * Distributed synthetic transcript generator: `n` turns, `nConvs`
   * conversations, deterministic in row id (seed-free but fixed), with a
   * skewed mega-conversation absorbing `skewPct` of all turns when
   * `skewPct > 0` — the shape that forces salting at 100 TB.
   *
   * Everything is a column expression over `spark.range(n)`: generation
   * parallelizes across all cores/executors and never materializes on the
   * driver. `numPartitions` controls initial parallelism.
   */
  def generate(spark: SparkSession, n: Long, nConvs: Long,
               skewPct: Int = 5, numPartitions: Int = 0): DataFrame = {
    val base = if (numPartitions > 0) spark.range(0, n, 1, numPartitions)
               else spark.range(n)
    val id = col("id")
    // deterministic pseudo-random stream from the row id (splitmix-style
    // xxhash64 keyed by purpose strings; stable across runs & partitioning)
    def h(purpose: String) = pmod(xxhash64(lit(purpose), id), lit(1000000L))
    val rawConv = pmod(xxhash64(lit("conv"), id), lit(nConvs))
    val convIdx = when(h("skew") < lit(skewPct * 10000L), lit(0L)).otherwise(rawConv)
    val sentences = array(
      lit("thanks for the update, that all sounds right to me"),
      lit("can you run the numbers again for the quarterly report"),
      lit("the deployment finished and the dashboards look healthy"),
      lit("let me check the logs and get back to you shortly"),
      lit("we should schedule a follow up to review the findings"),
      lit("the model output looks reasonable but needs another pass"),
      lit("I pushed the fix and the tests are green now"),
      lit("please summarize the document before the meeting")
    )
    val baseText = concat_ws(" ",
      element_at(sentences, (h("s1") % 8 + 1).cast("int")),
      element_at(sentences, (h("s2") % 8 + 1).cast("int")),
      element_at(sentences, (h("s3") % 8 + 1).cast("int")))
    val inject = (h("inj") % 20).cast("int")
    val text = concat(baseText,
      when(inject === 0, concat(lit(" reach me at agent"), id.cast("string"), lit("@example.com")))
        .when(inject === 1, lit(" Dr. John Smith will see you"))
        .when(inject === 2, lit(" my ssn is 123-45-6789"))
        .when(inject === 3, lit(" call me at (212) 555-1234"))
        .when(inject === 4, lit(" we bought 16 gb ram for 3 gpu nodes"))
        .when(inject === 5, lit(" <i>great</i> work &amp;#x200B;   team"))
        .when(inject === 6, lit(" " + PiiRules.RedactionMessage))
        .when(inject === 7, lit(" contact me: Mrs. Anna Lee Smith"))
        .otherwise(lit("")))
    base.select(
      concat(lit("conv"), convIdx.cast("string")).as("conv_id"),
      id.cast("int").as("turn_idx"), // unique + monotone per conv (dense not required)
      when(id % 3 === 0, "user").when(id % 3 === 1, "assistant").otherwise("tool").as("role"),
      text.as("text"),
      when(id % 3 === 2, "search").otherwise("").as("tool"),
      timestamp_seconds(lit(1704067200L) + id).as("ts")
    )
  }
}
