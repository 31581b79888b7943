package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.rules.{Pii, PiiRules}

/**
 * The flagship per-turn quality-filter pipeline: clean → skip-guard →
 * PII scan → risk score → keep/drop → scrub, with full lineage columns.
 *
 * Reference semantics (see SURVEY.md §2):
 *  - skip guard (F3, sentiment.py:208-211): rows already containing the
 *    redaction marker are never analyzed — they pass through with
 *    `skipped = true`, `keep = true`, text byte-identical (idempotence).
 *  - keep/drop (F5, utils/panels.py:306-311): drop iff
 *    `pii_risk_score > 0.5` (the llm term ORs in when the optional LLM
 *    stage is joined — see [[graft.pipeline.LlmJoin]]).
 *  - scrub (X8, api/reddit.py:286-292): whole-text replacement with the
 *    standard message; never a partial edit. Rows with `keep = true` emit
 *    text byte-identical to the cleaned input (BASELINE.json invariant).
 *
 * The whole thing is one narrow `select` chain with no shuffle, all of it
 * codegen'd expressions — the VADER scorer included
 * ([[graft.functions.VaderExpr]]) — so it scales linearly with input
 * splits and Catalyst pushes partition-pruning filters beneath it.
 */
object Verdict {

  /** Deterministic UUID-format scrub token (X8 `use_random_string` mode):
    * the reference uses `uuid.uuid4()` (nondeterministic); we derive a
    * version-4-shaped UUID from sha2(conv_id#turn_idx) so runs are
    * reproducible — deviation documented in SURVEY.md §7.4. */
  def deterministicUuid(convId: Column, turnIdx: Column): Column = {
    val h = sha2(concat(convId, lit("#"), turnIdx.cast("string")), 256)
    concat(
      substring(h, 1, 8), lit("-"),
      substring(h, 9, 4), lit("-4"),
      substring(h, 14, 3), lit("-a"),
      substring(h, 18, 3), lit("-"),
      substring(h, 21, 12))
  }

  /**
   * Adds the verdict columns to a transcript DataFrame
   * (conv_id, turn_idx, role, text, tool, ts).
   * Emitted columns: clean_text, skipped, pii_matches, pii_risk_score,
   * keep, scrubbed_text.
   */
  def apply(transcripts: DataFrame,
            skipText: String = PiiRules.RedactionMessage,
            useRandomString: Boolean = false,
            fused: Boolean = true): DataFrame = {
    val scanner: Column => Column =
      if (fused) graft.functions.PiiScan.apply // single-pass expr (proven ≡ chain), ~2x the chain's scan rate
      else Pii.piiMatches // built-in column chain: the oracle-comparable semantic baseline
    assemble(cleaned(transcripts, skipText), scanner(col("clean_text")), useRandomString)
  }

  /** Typed rendering of the pipeline — `Dataset[Turn] → Dataset[TurnVerdict]`
    * (compile-time field checks at the API boundary; the internals stay
    * Column expressions so Catalyst optimizes them identically). */
  def typed(turns: org.apache.spark.sql.Dataset[graft.model.Turn],
            skipText: String = PiiRules.RedactionMessage,
            useRandomString: Boolean = false): org.apache.spark.sql.Dataset[graft.model.TurnVerdict] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[graft.model.TurnVerdict]
    apply(turns.toDF(), skipText, useRandomString)
      .select(col("conv_id"), col("turn_idx"), col("role"),
        col("clean_text").as("text"), col("skipped"),
        col("sentiment_score"), col("sentiment_label"),
        col("pii_risk_score"), col("pii_matches"),
        col("keep"), col("scrubbed_text"))
      .as[graft.model.TurnVerdict]
  }

  /** Clean + F1 + skip-guard columns (shared with the conversation
    * layer's cross-turn variant so the chains can't drift). */
  private[pipeline] def cleaned(transcripts: DataFrame, skipText: String): DataFrame =
    transcripts
      // materialize scrape_clean as a column so the F1 filter and the
      // HTML strip share ONE evaluation of the collapse regex
      .withColumn("scrape_clean", Clean.scrapeClean(col("text")))
      .filter(Clean.nonEmpty(col("scrape_clean"))) // F1: pre-analysis empty drop
      .withColumn("clean_text", Clean.stripHtmlFast(col("scrape_clean")))
      .drop("scrape_clean")
      .withColumn("skipped", Clean.isSkipped(col("clean_text"), skipText))

  /** Verdict-column assembly over a [[cleaned]] frame, given the match
    * expression (plain scan, or the conversation layer's boosted scan). */
  private[pipeline] def assemble(withClean: DataFrame, matchesExpr: Column,
                                 useRandomString: Boolean): DataFrame = {
    val scrubToken =
      if (useRandomString) deterministicUuid(col("conv_id"), col("turn_idx"))
      else lit(PiiRules.RedactionMessage)
    withClean
      .withColumn("pii_matches",
        when(col("skipped"), array().cast(org.apache.spark.sql.types.ArrayType(Pii.piiMatchType)))
          .otherwise(matchesExpr))
      .withColumn("pii_risk_score",
        when(col("skipped"), lit(0.0)).otherwise(Pii.piiRiskScore(col("pii_matches"))))
      .withColumn("sentiment_score",
        when(col("skipped"), lit(0.0))
          .otherwise(graft.functions.VaderUdf.compound(col("clean_text"))))
      .withColumn("sentiment_label", graft.functions.VaderUdf.label(col("sentiment_score")))
      .withColumn("keep", col("skipped") || !(col("pii_risk_score") > PiiRules.DropThreshold))
      .withColumn("scrubbed_text", when(col("keep"), col("clean_text")).otherwise(scrubToken))
  }
}
