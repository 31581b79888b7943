package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.rules.{Pii, PiiRules}

/**
 * Conversation-level layer: all cross-turn logic runs under the stable
 * (conv_id, turn_idx) window ordering the north rule requires, so
 * results are reproducible under any input partitioning.
 *
 * Scale design:
 *  - the window shuffle is the pipeline's ONE required shuffle; we hash-
 *    partition by conv_id so the per-turn map work before/after stays
 *    pipelined in the same stage;
 *  - mega-conversations (single conv_id with ~10^8 turns) would serialize
 *    one window partition; [[runningStateSalted]] splits such a
 *    conversation into order-contiguous turn blocks and merges per-block
 *    offsets (combinable aggregates need no such step: their map-side
 *    partials already spread the skewed key).
 */
object Conversation {

  private def turnWindow = Window.partitionBy("conv_id").orderBy("turn_idx")

  /**
   * Cross-turn context boost — the conversation-aware extension of the
   * reference's per-text keyword boost (X5): a context keyword seen in
   * the PREVIOUS turn of the same conversation also boosts this turn's
   * match confidences (+0.15, cap 1.0). First turn has no predecessor.
   */
  def verdictWithCrossTurnBoost(transcripts: DataFrame): DataFrame = {
    val withBoost = Verdict.cleaned(transcripts, PiiRules.RedactionMessage)
      .withColumn("own_boost", Pii.hasContextBoost(col("clean_text")))
      .withColumn("prev_boost",
        coalesce(lag(col("own_boost"), 1).over(turnWindow), lit(false)))
      .withColumn("boost_any", col("own_boost") || col("prev_boost"))
    Verdict.assemble(withBoost,
      Pii.piiMatchesBoosted(col("clean_text"), col("boost_any")),
      useRandomString = false)
  }

  /** Per-conversation running state under stable turn order: dense row
    * number and cumulative dropped count (the reproducible-order probe). */
  def runningState(verdict: DataFrame): DataFrame =
    verdict.select(
      col("conv_id"), col("turn_idx"),
      row_number().over(turnWindow).as("rn"),
      sum(when(!col("keep"), 1L).otherwise(0L))
        .over(turnWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("cum_dropped"))

  /**
   * Distributed-prefix-scan equivalent of [[runningState]] for skewed
   * inputs. A mega-conversation makes the plain window a single
   * straggler: ALL its rows shuffle into one task, which sorts and scans
   * them alone while the rest of the cluster idles (map-side partials —
   * the thing that neutralizes skew for combinable aggregates — do not
   * exist for ordered windows). Fix: split heavy conversations
   * (> heavyThreshold turns; found with one cheap count-per-conv pass,
   * broadcast back) into `numBlocks` ORDER-CONTIGUOUS turn_idx ranges. Phase 1 computes within-block
   * running state under the (conv_id, blk) shuffle — the mega conv now
   * spreads over `numBlocks` tasks; phase 2 aggregates ONE row per block
   * (map-side combine), window-scans that tiny table for per-block
   * offsets, and broadcast-joins them back (offsets exist only for heavy
   * convs: numBlocks rows per mega-conversation, so the broadcast stays
   * tiny at any corpus scale).
   *
   * Result is row-identical to [[runningState]] on ANY input — same
   * oracle SQL — the blocks only reshape the shuffle: a partial/merge
   * split lifted to an ordered prefix scan. ConversationSpec pins the
   * row identity on a skewed corpus with the heavy path active; the
   * wall-clock win on such a corpus is not measured.
   */
  def runningStateSalted(verdict: DataFrame, numBlocks: Int = 32,
                         heavyThreshold: Long = 100000L): DataFrame = {
    val drop = when(!col("keep"), 1L).otherwise(0L)
    // heavy-conv extents: one partial-aggregated row per conversation,
    // filtered to the (few) heavy ones before the broadcast
    val extent = verdict.groupBy("conv_id")
      .agg(count(lit(1)).as("n_turns"), min("turn_idx").as("lo"), max("turn_idx").as("hi"))
      .filter(col("n_turns") > heavyThreshold)
      .withColumn("bw",
        greatest(ceil((col("hi") - col("lo") + lit(1)) / lit(numBlocks.toDouble)), lit(1.0)).cast("long"))
      .select("conv_id", "lo", "bw")
    val blocked = verdict.join(broadcast(extent), Seq("conv_id"), "left")
      .withColumn("blk", coalesce(floor((col("turn_idx") - col("lo")) / col("bw")), lit(0L)))
    val w1 = Window.partitionBy("conv_id", "blk").orderBy("turn_idx")
    val inBlock = blocked.select(
      col("conv_id"), col("blk"), col("turn_idx"), col("bw").isNotNull.as("heavy"),
      row_number().over(w1).as("rn_b"),
      sum(drop).over(w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum_b"))
    // per-block offsets, heavy convs only (light convs have a single
    // block with zero offset — left-join + coalesce below). Measured
    // trade (8M turns, local[32]): deriving the totals from phase 1's
    // window output (max rn_b/cum_b per block) looks like it saves a
    // scan, but the broadcast branch then replays the full
    // exchange→sort→window chain and the run went 3.8 s → 15.1 s;
    // aggregating the pre-window `blocked` stream instead partial-
    // aggregates map-side (one row per heavy block leaves each task)
    // and costs only a second column-pruned scan.
    val offW = Window.partitionBy("conv_id").orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = blocked.filter(col("bw").isNotNull)
      .groupBy("conv_id", "blk")
      .agg(count(lit(1)).as("b_rows"), sum(drop).as("b_dropped"))
      .select(col("conv_id"), col("blk"),
        coalesce(sum("b_rows").over(offW), lit(0L)).as("rows_before"),
        coalesce(sum("b_dropped").over(offW), lit(0L)).as("dropped_before"))
    inBlock.join(broadcast(offsets), Seq("conv_id", "blk"), "left")
      .select(col("conv_id"), col("turn_idx"),
        (coalesce(col("rows_before"), lit(0L)) + col("rn_b")).cast("int").as("rn"),
        (coalesce(col("dropped_before"), lit(0L)) + col("cum_b")).as("cum_dropped"))
  }
}
