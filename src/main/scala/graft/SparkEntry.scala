package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Metrics, Verdict}
import graft.rules.{Pii, PiiRules}
import graft.sources.Transcripts

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * One `queries` entry per implemented operator (SURVEY.md §2 ids in the
  * comments); `oracleSql` gives the DuckDB twin where SQL-expressible. */
object SparkEntry {

  /** Flagship: the full clean→PII→keep/drop→scrub verdict pipeline over
    * the documents-derived transcript table at sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Verdict(Transcripts.fromDocuments(spark, "/root/testdata/sf0.001"))

  private def transcripts(s: SparkSession, dir: String): DataFrame =
    Transcripts.fromDocuments(s, dir)

  /** Per-invocation nonce'd /tmp staging dir for the staged-shape
    * queries. The nonce keeps SIMULTANEOUS invocations (two
    * concurrent Verify runs, or a perfbench sweep next to one) from clobbering each other's
    * staging writes; every dir is registered for recursive deletion at
    * JVM exit so repeated sweeps don't accumulate staged corpus copies
    * in /tmp (r5 advice). Deletion can't happen earlier — the returned
    * query is lazy and reads the staged parquet when the CALLER runs
    * its action. */
  private val stageDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  sys.addShutdownHook {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    // per-dir try + try-with-resources on the walk stream: one pinned
    // file (e.g. held by a still-running executor thread) must not
    // leak every REMAINING dir, and the stream handle must not leak
    stageDirs.asScala.foreach { d =>
      try {
        val root = Path.of(d)
        if (Files.exists(root)) {
          val walk = Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
          finally walk.close()
        }
      } catch { case _: Exception => () }
    }
  }
  private def noncedStageDir(prefix: String, dir: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/${prefix}_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_") +
      s"_${java.util.UUID.randomUUID().toString.take(8)}"
    stageDirs.add(p)
    p
  }

  /** Verdict pipeline plus the diagnostic fp/boost flags and per-type
    * match counts the oracle checks. */
  private def scored(s: SparkSession, dir: String): DataFrame = {
    val v = Verdict(transcripts(s, dir))
    val counted = PiiRules.Patterns.foldLeft(v) { case (df, (t, _, _)) =>
      df.withColumn(s"n_$t",
        size(filter(col("pii_matches"), m => m.getField("type") === lit(t))))
    }
    counted
      .withColumn("fp", Pii.fpGate(col("clean_text")))
      .withColumn("boost", Pii.hasContextBoost(col("clean_text")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P2-P4 + F1: clean chain
    "q_clean" -> ((s, dir) =>
      transcripts(s, dir)
        .withColumn("clean_text", pipeline.Clean.cleanText(col("text")))
        .filter(pipeline.Clean.nonEmpty(pipeline.Clean.scrapeClean(col("text"))))
        .select("conv_id", "turn_idx", "role", "tool", "clean_text")),
    // X3-X6 + F7 + F3: per-turn PII scan & weighted risk
    "q_pii_risk" -> ((s, dir) =>
      scored(s, dir).select(
        Seq(col("conv_id"), col("turn_idx"), col("skipped"), col("fp"), col("boost")) ++
          PiiRules.Patterns.map { case (t, _, _) => col(s"n_$t") } :+
          round(col("pii_risk_score"), 6).as("pii_risk_score"): _*)),
    // F5 + X8: keep/drop decision + whole-text scrub
    "q_keep_drop" -> ((s, dir) =>
      Verdict(transcripts(s, dir))
        .select("conv_id", "turn_idx", "skipped", "keep", "scrubbed_text")),
    // X8 deterministic-UUID scrub mode
    "q_scrub_uuid" -> ((s, dir) =>
      Verdict(transcripts(s, dir), useRandomString = true)
        .select("conv_id", "turn_idx", "scrubbed_text")),
    // X1 + X2: VADER sentiment + label (no SQL oracle — rows-only check)
    "q_sentiment" -> ((s, dir) =>
      Verdict(transcripts(s, dir))
        .select("conv_id", "turn_idx", "sentiment_score", "sentiment_label")),
    // X1 fidelity metric: how much of THIS corpus' scored vocabulary the
    // bundled lexicon subset covers (pure SQL → real DuckDB twin), so
    // the residual VADER gap is measured per corpus instead of asserted
    "q_sentiment_coverage" -> ((s, dir) => {
      val toks = Verdict(transcripts(s, dir)).filter(!col("skipped"))
        .select(explode(expr("regexp_extract_all(lower(clean_text), '[a-z]+', 0)")).as("tok"))
        .filter(length(col("tok")) > 1)
      import s.implicits._
      val lex = rules.Vader.LexiconAlphaWords.toDF("tok").withColumn("in_lex", lit(1))
      toks.join(broadcast(lex), Seq("tok"), "left").agg(
        count(lit(1)).as("total_tokens"),
        sum(when(col("in_lex").isNotNull, 1L).otherwise(0L)).as("covered_tokens"),
        sum(when(col("in_lex").isNull, 1L).otherwise(0L)).as("zero_scored_tokens"),
        round(sum(when(col("in_lex").isNotNull, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("coverage"),
        countDistinct(col("tok")).as("distinct_tokens"),
        countDistinct(when(col("in_lex").isNotNull, col("tok"))).as("distinct_covered"))
    }),
    // A1 + A2: overall sentiment (banker's-rounded avg over processed rows)
    "q_sentiment_agg" -> ((s, dir) => {
      val v = Verdict(transcripts(s, dir)).filter(!col("skipped"))
      v.agg(bround(avg("sentiment_score"), 4).as("overall_sentiment"))
        .withColumn("overall_label", graft.functions.VaderUdf.label(col("overall_sentiment")))
    }),
    // F4: pii_only display filter
    "q_pii_only" -> ((s, dir) =>
      Verdict(transcripts(s, dir))
        .filter(!col("skipped") && col("pii_risk_score") > 0.0)
        .select(col("conv_id"), col("turn_idx"),
          round(col("pii_risk_score"), 6).as("pii_risk_score"))),
    // F6: risk band classification (both reference band schemes)
    "q_risk_band" -> ((s, dir) =>
      Verdict(transcripts(s, dir)).select(
        col("conv_id"), col("turn_idx"),
        when(col("pii_risk_score") > 0.7, "high")
          .when(col("pii_risk_score") > 0.4, "medium").otherwise("low").as("band_ui"),
        when(col("pii_risk_score") > 0.5, "red")
          .when(col("pii_risk_score") > 0.2, "yellow").otherwise("green").as("band_table"))),
    // O3: riskiest turn (deterministic argmax + 100-char preview)
    "q_top_risky" -> ((s, dir) =>
      Metrics.riskiest(Verdict(transcripts(s, dir)))
        .withColumn("pii_risk_score", round(col("pii_risk_score"), 6))),
    // F2: case-insensitive substring keep-filter
    "q_text_match" -> ((s, dir) =>
      Verdict(transcripts(s, dir))
        .filter(pipeline.Clean.textMatch(col("clean_text"), "Merge"))
        .select("conv_id", "turn_idx")),
    // X10: preview truncation
    "q_preview" -> ((s, dir) =>
      Verdict(transcripts(s, dir)).select(
        col("conv_id"), col("turn_idx"),
        when(length(col("clean_text")) > 70,
          concat(substring(col("clean_text"), 1, 67), lit("...")))
          .otherwise(col("clean_text")).as("preview"))),
    // A3/A5: global metrics row
    "q_metrics" -> ((s, dir) =>
      Metrics.summary(Verdict(transcripts(s, dir)))
        .select(col("total_turns"), col("skipped_turns"), col("processed_turns"),
          col("total_pii_turns"), col("dropped_turns"),
          round(col("max_risk_score"), 6).as("max_risk_score"))),
    // A6: displayed-rows average (VADER-valued: rows-only check)
    "q_displayed_avg" -> ((s, dir) =>
      Metrics.displayedAvgSentiment(Verdict(transcripts(s, dir)))),
    // A6 denominator alone — pure SQL, so it gets a real oracle
    "q_displayed_count" -> ((s, dir) =>
      Verdict(transcripts(s, dir))
        .filter(!col("skipped") && col("pii_risk_score") > 0.0)
        .agg(count(lit(1)).as("displayed_turns"))),
    // A7: per-conversation rollup (counts; one shuffled row per conv)
    "q_conv_rollup" -> ((s, dir) =>
      Verdict(transcripts(s, dir)).groupBy("conv_id").agg(
        count(lit(1)).as("turns"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("dropped"),
        sum(when(col("pii_risk_score") > 0.0, 1L).otherwise(0L)).as("pii_turns"),
        round(max("pii_risk_score"), 6).as("max_risk"))),
    // --- conversation layer: window-ordered cross-turn logic ---
    "q_conv_boost" -> ((s, dir) =>
      pipeline.Conversation.verdictWithCrossTurnBoost(transcripts(s, dir))
        .select(col("conv_id"), col("turn_idx"), col("boost_any"),
          round(col("pii_risk_score"), 6).as("pii_risk_score"), col("keep"))),
    "q_conv_running" -> ((s, dir) =>
      pipeline.Conversation.runningState(Verdict(transcripts(s, dir)))),
    // distributed prefix-scan variant of q_conv_running: low threshold /
    // few blocks so the salted path (heavy-conv blocking + offset merge)
    // actually executes on the small sf tables the oracle reads
    "q_conv_running_salted" -> ((s, dir) =>
      pipeline.Conversation.runningStateSalted(Verdict(transcripts(s, dir)),
        numBlocks = 4, heavyThreshold = 8)),
    // J1 + X7 + F5(full): stub-LLM micro-batch stage merged into verdict
    "q_llm_verdict" -> ((s, dir) =>
      pipeline.Llm.withLlm(s, transcripts(s, dir)).select(
        col("conv_id"), col("turn_idx"), col("llm_has_pii"),
        round(col("llm_confidence"), 6).as("llm_confidence"),
        round(col("pii_risk_merged"), 6).as("pii_risk_merged"), col("keep"))),
    // F4 with the LLM term live
    "q_llm_pii_only" -> ((s, dir) =>
      pipeline.Llm.withLlm(s, transcripts(s, dir))
        .filter(!col("skipped") &&
          (col("pii_risk_score") > 0.0 ||
            (col("llm_has_pii") && col("llm_confidence") > 0.0)))
        .select("conv_id", "turn_idx")),
    // X-rewrite (llm_detector.py:186-253): LLM-suggested PII-obscuring
    // rewrite for flagged rows; clean text passes through otherwise
    "q_llm_rewrite" -> ((s, dir) =>
      pipeline.Llm.rewritten(s, transcripts(s, dir))
        .select("conv_id", "turn_idx", "llm_has_pii", "rewritten_text")),
    // --- event-stream operators (batch twins of the streaming layer) ---
    "q_sessionize" -> (operators.Events.sessionize _),
    "q_session_stats" -> (operators.Events.sessionStats _),
    "q_tumbling" -> (operators.Events.tumbling _),
    "q_sliding" -> (operators.Events.sliding _),
    "q_session_window" -> (operators.Events.sessionWindow _),
    // --- training-data pipeline: dedup / similarity / text analysis ---
    "q_dedup_exact" -> (operators.Dedup.exact _),
    "q_minhash_sig" -> (operators.Dedup.minhashSig _),
    "q_minhash_pairs" -> (operators.Dedup.minhashPairs _),
    // recall accounting for the LSH bucket cap (metrics twin of the
    // observe() that rides the pair join)
    "q_lsh_dropped" -> (operators.Dedup.lshDroppedStats _),
    "q_dup_clusters" -> (operators.Dedup.dupClusters _),
    // the composed per-doc dedup decision: exact + near-dup clusters ->
    // keep/reason/canonical
    "q_dedup_keeplist" -> (operators.Dedup.keepList _),
    // quality x language x dedup composed into the per-doc curation flag
    "q_train_filter" -> (operators.TrainFilter.trainFilter _),
    // production shape: legs staged to parquet once, then joined
    // (nonce'd dir: see noncedStageDir)
    "q_train_filter_staged" -> ((s, dir) =>
      operators.TrainFilter.trainFilterStaged(s, dir,
        noncedStageDir("graft_stage", dir))),
    "q_sample_stratified" -> (operators.TextStats.sampleStratified _),
    "q_jaccard_adjacent" -> (operators.Dedup.jaccardAdjacent _),
    "q_simhash" -> (operators.Dedup.simhash _),
    "q_simhash_pairs" -> (operators.Dedup.simhashPairs _),
    "q_simhash_pairs64" -> (operators.Dedup.simhashPairs64 _),
    "q_cosine_adjacent" -> (operators.Similarity.cosineAdjacent _),
    "q_ann_topk" -> ((s, dir) => operators.Similarity.annTopK(s, dir)),
    "q_ann_topk_batch" -> ((s, dir) => operators.Similarity.annTopKBatch(s, dir)),
    "q_lsh_buckets" -> (operators.Similarity.lshBuckets _),
    "q_ann_lsh" -> ((s, dir) => operators.Similarity.annLsh(s, dir)),
    "q_embed_neardup" -> ((s, dir) => operators.Similarity.embedNearDup(s, dir)),
    // embedding dedup end to end: banded pairs -> big-star components
    "q_embed_dup_clusters" -> ((s, dir) => operators.Similarity.embedDupClusters(s, dir)),
    "q_embed_neardup_ivf" -> ((s, dir) => operators.Similarity.embedNearDupIvf(s, dir)),
    // int8 scalar quantization (faiss SQ8 shape) + quantized-cosine ANN
    "q_embed_quantize" -> (operators.Quantize.quantize _),
    "q_ann_quantized" -> ((s, dir) => operators.Quantize.annQuantized(s, dir)),
    "q_ivf_cells" -> (operators.Similarity.ivfCells _),
    "q_ann_ivf" -> ((s, dir) => operators.Similarity.annIvf(s, dir)),
    // same operator at 2 Lloyd passes — proves the iteration
    // parameterization cross-engine (the oracle CTE chain is generated
    // for the same iteration count)
    "q_ann_ivf2" -> ((s, dir) => operators.Similarity.annIvf(s, dir, iterations = 2)),
    // faiss IVFSQ composition: coarse cell probe + int8 fine scoring
    "q_ann_ivf_quantized" -> ((s, dir) => operators.Similarity.annIvfQuantized(s, dir)),
    // O1/O2: sort dispatch + limit (top-N: TakeOrderedAndProject)
    "q_recent_turns" -> ((s, dir) =>
      Verdict(transcripts(s, dir))
        .orderBy(desc("turn_idx"), asc("conv_id")).limit(20)
        .select("conv_id", "turn_idx", "keep")),
    // O1 completion: reddit's published hot/controversy rank formulas
    // (rules/Ranking, from the open-sourced _sorts.pyx) over
    // deterministic per-doc vote tallies — the client-side form of the
    // hot/controversial sort dispatch the reference delegates to the
    // API server. Map-side score + one TakeOrderedAndProject.
    "q_rank_hot" -> ((s, dir) => {
      val ups = (col("doc_id") * 13 % 201 - 50).cast("int")
      val downs = (col("doc_id") * 7 % 101).cast("int")
      operators.Inputs.documents(s, dir)
        .select(col("doc_id"), ups.as("ups"), downs.as("downs"),
          rules.Ranking.hotScore(ups, downs, lit(1704067200L) + col("doc_id")).as("hot"))
        .orderBy(desc("hot"), asc("doc_id")).limit(20)
    }),
    "q_rank_controversial" -> ((s, dir) => {
      val ups = (col("doc_id") * 13 % 201 - 50).cast("int")
      val downs = (col("doc_id") * 7 % 101).cast("int")
      operators.Inputs.documents(s, dir)
        .select(col("doc_id"), ups.as("ups"), downs.as("downs"),
          rules.Ranking.controversyScore(ups, downs).as("controversy"))
        .orderBy(desc("controversy"), asc("doc_id")).limit(20)
    }),
    "q_langid" -> (operators.TextStats.langId _),
    // fastText-shaped hashed char-trigram model: trained in one pass,
    // broadcast weight table, map-side scoring
    "q_langid_model" -> (operators.LangIdModel.predict _),
    "q_perplexity" -> (operators.Perplexity.score _),
    "q_perplexity_topv" -> ((s, dir) => operators.Perplexity.scoreTopV(s, dir)),
    // trigram stupid-backoff (Brants'07): train on the 90% split, score
    // all docs so held-out docs exercise the backoff chain
    "q_perplexity_trigram" -> ((s, dir) => operators.Perplexity.scoreTrigramSB(s, dir)),
    "q_quality" -> (operators.TextStats.quality _),
    // Gopher repetition rules (Rae'21 A1.1): top n-gram char fraction
    // + union-of-spans duplicate 5-gram fraction, published thresholds
    "q_gopher_quality" -> ((s, dir) => operators.GopherQuality.quality(s, dir)),
    // mega-doc blocked variant (every per-doc window two-phase blocked;
    // registered with blocking FORCED ON at test scale — threshold 32
    // tokens, 8 blocks — so the oracle exercises the blocked plan)
    "q_gopher_blocked" -> ((s, dir) => operators.GopherQuality
      .qualityBlocked(s, dir, numBlocks = 8, heavyThreshold = 32)),
    // C4 (Raffel'20 §2.2) line/page rules + corpus-wide 3-sentence-span
    // dedup, over the deterministic re-punctuated page view
    "q_c4_clean" -> (operators.C4Quality.clean _),
    "q_c4_span_dedup" -> (operators.C4Quality.spanDedup _),
    // Gopher DOCUMENT-quality rules (Rae'21 A1.1 non-repetition half)
    "q_gopher_doc" -> (operators.C4Quality.gopherDoc _),
    // FineWeb-Edu-shaped distilled quality classifier: averaged batch
    // perceptron over hashed trigrams, trained on the heuristic gate's
    // weak labels (90% split), scored with the broadcast summed weights
    "q_quality_model" -> (operators.QualityModel.distill _),
    // two-tier blocklist toxicity gate + AC scrub (C4-style drop rule
    // + density threshold), over the deterministic seeded view
    "q_toxicity" -> (operators.Toxicity.toxicity _),
    // benchmark decontamination (Brown'20 App.C): 13-gram overlap vs
    // the held-out split, eval grams broadcast
    "q_decontaminate" -> (operators.Curation.decontaminate _),
    // mixture weights -> per-domain sampling rates vs a token budget
    "q_mix_sample" -> (operators.Curation.mixSample _),
    // concat-and-chunk packing into fixed-length training sequences
    "q_seq_pack" -> (operators.Curation.seqPack _),
    // realized-mixture audit: kept tokens vs target rate per source
    "q_mix_audit" -> (operators.Curation.mixAudit _),
    // the capstone: 8-leg filter -> mixture sample -> sequence pack,
    // documents in, packed training sequences out, one nested oracle
    "q_curate_pipeline" -> (operators.Curation.curatePipeline _),
    // the capstone's PRODUCTION shape (what CurateJob runs at 100 TB):
    // filter legs + surviving corpus staged to parquet once, then
    // mixture sample + pack over the slim staged frames. Same rows,
    // same nested oracle — staging only changes where legs are paid for
    "q_curate_pipeline_staged" -> ((s, dir) =>
      operators.Curation.curatePipelineStaged(s, dir,
        noncedStageDir("graft_curate_stage", dir))),
    "q_token_count" -> (operators.TextStats.tokenCount _),
    // codegen'd multi-pattern Aho-Corasick keyword scrub
    "q_scrub_keywords" -> (operators.TextStats.scrubKeywords _),
    "q_fingerprint" -> (operators.TextStats.fingerprint _),
    // multimodal plumbing: the SQL-exact pieces (frame sampling, resize
    // metadata) over the deterministic generated media table
    "q_media_frames" -> (operators.Multimodal.framesQuery _),
    "q_media_resize" -> (operators.Multimodal.resizeQuery _),
    "q_media_audio_gate" -> (operators.Multimodal.audioGateQuery _),
    // REAL audio decode: in-engine RIFF/WAVE PCM bytes, chunk-walking
    // parser, hex-arithmetic oracle re-parsing the same header fields
    "q_media_wav" -> (operators.Multimodal.wavQuery _),
    // REAL image decode: in-engine 24bpp BMP bytes, header parser +
    // bottom-up padded pixel walk, hex-arithmetic oracle
    "q_media_bmp" -> (operators.Multimodal.bmpQuery _)
  )

  def oracleSql: Map[String, String] = Map(
    "q_clean" -> Oracle.cleanQuery,
    "q_pii_risk" -> Oracle.piiRiskQuery,
    "q_keep_drop" -> Oracle.keepDropQuery,
    "q_scrub_uuid" -> Oracle.scrubUuidQuery,
    "q_pii_only" -> Oracle.piiOnlyQuery,
    "q_risk_band" -> Oracle.riskBandQuery,
    "q_top_risky" -> Oracle.topRiskyQuery,
    "q_text_match" -> Oracle.textMatchQuery("Merge"),
    "q_preview" -> Oracle.previewQuery,
    "q_metrics" -> Oracle.metricsQuery,
    "q_conv_rollup" -> Oracle.convRollupQuery,
    "q_conv_boost" -> Oracle.convBoostQuery,
    "q_conv_running" -> Oracle.convRunningQuery,
    "q_conv_running_salted" -> Oracle.convRunningQuery, // identical to the direct window — blocks only reshape the shuffle
    "q_llm_verdict" -> Oracle.llmVerdictQuery,
    "q_llm_pii_only" -> Oracle.llmPiiOnlyQuery,
    "q_llm_rewrite" -> Oracle.llmRewriteQuery,
    "q_displayed_count" -> Oracle.displayedCountQuery,
    "q_sentiment_coverage" -> Oracle.sentimentCoverageQuery,
    "q_sessionize" -> operators.Events.sessionizeOracle,
    "q_session_stats" -> operators.Events.sessionStatsOracle,
    "q_tumbling" -> operators.Events.tumblingOracle,
    "q_sliding" -> operators.Events.slidingOracle,
    "q_session_window" -> operators.Events.sessionWindowOracle,
    "q_dedup_exact" -> operators.Dedup.exactOracle,
    "q_minhash_sig" -> operators.Dedup.minhashSigOracle,
    "q_minhash_pairs" -> operators.Dedup.minhashPairsOracle,
    "q_lsh_dropped" -> operators.Dedup.lshDroppedStatsOracle(),
    "q_dup_clusters" -> operators.Dedup.dupClustersOracle(),
    "q_dedup_keeplist" -> operators.Dedup.keepListOracle(),
    "q_train_filter" -> operators.TrainFilter.trainFilterOracle,
    "q_train_filter_staged" -> operators.TrainFilter.trainFilterOracle, // identical rows — staging only changes where legs are paid for
    "q_sample_stratified" -> operators.TextStats.sampleStratifiedOracle,
    "q_jaccard_adjacent" -> operators.Dedup.jaccardAdjacentOracle,
    "q_simhash" -> operators.Dedup.simhashOracle,
    "q_simhash_pairs" -> operators.Dedup.simhashPairsOracle,
    "q_simhash_pairs64" -> operators.Dedup.simhashPairs64Oracle,
    "q_cosine_adjacent" -> operators.Similarity.cosineAdjacentOracle,
    "q_ann_topk" -> operators.Similarity.annTopKOracle(),
    "q_ann_topk_batch" -> operators.Similarity.annTopKBatchOracle(),
    "q_lsh_buckets" -> operators.Similarity.lshBucketsOracle,
    "q_ann_lsh" -> operators.Similarity.annLshOracle(),
    "q_embed_neardup" -> operators.Similarity.embedNearDupOracle(),
    "q_embed_neardup_ivf" -> operators.Similarity.embedNearDupIvfOracle(),
    "q_ivf_cells" -> operators.Similarity.ivfCellsOracle,
    "q_ann_ivf" -> operators.Similarity.annIvfOracle(),
    "q_ann_ivf2" -> operators.Similarity.annIvfOracle(iterations = 2),
    "q_recent_turns" -> (Oracle.verdictCte +
      "\nSELECT conv_id, turn_idx, keep FROM verdict ORDER BY turn_idx DESC, conv_id ASC LIMIT 20"),
    "q_rank_hot" -> s"""WITH votes AS (
      |  SELECT doc_id, CAST(doc_id * 13 % 201 - 50 AS INT) AS ups,
      |    CAST(doc_id * 7 % 101 AS INT) AS downs
      |  FROM documents
      |)
      |SELECT doc_id, ups, downs,
      |  ${rules.Ranking.hotScoreSql("ups", "downs", "1704067200 + doc_id")} AS hot
      |FROM votes ORDER BY hot DESC, doc_id ASC LIMIT 20""".stripMargin,
    "q_rank_controversial" -> s"""WITH votes AS (
      |  SELECT doc_id, CAST(doc_id * 13 % 201 - 50 AS INT) AS ups,
      |    CAST(doc_id * 7 % 101 AS INT) AS downs
      |  FROM documents
      |)
      |SELECT doc_id, ups, downs,
      |  ${rules.Ranking.controversyScoreSql("ups", "downs")} AS controversy
      |FROM votes ORDER BY controversy DESC, doc_id ASC LIMIT 20""".stripMargin,
    "q_langid" -> operators.TextStats.langIdOracle,
    "q_langid_model" -> operators.LangIdModel.predictOracle,
    "q_perplexity" -> operators.Perplexity.oracle,
    "q_perplexity_topv" -> operators.Perplexity.topVOracle(),
    "q_perplexity_trigram" -> operators.Perplexity.trigramSBOracle(),
    "q_quality" -> operators.TextStats.qualityOracle,
    "q_gopher_quality" -> operators.GopherQuality.qualityOracle,
    "q_gopher_blocked" -> operators.GopherQuality.qualityOracle,
    "q_c4_clean" -> operators.C4Quality.cleanOracle,
    "q_c4_span_dedup" -> operators.C4Quality.spanDedupOracle,
    "q_gopher_doc" -> operators.C4Quality.gopherDocOracle,
    "q_embed_quantize" -> operators.Quantize.quantizeOracle,
    "q_ann_ivf_quantized" -> operators.Similarity.annIvfQuantizedOracle(),
    "q_embed_dup_clusters" -> operators.Similarity.embedDupClustersOracle(),
    "q_ann_quantized" -> operators.Quantize.annQuantizedOracle(),
    "q_quality_model" -> operators.QualityModel.distillOracle,
    "q_toxicity" -> operators.Toxicity.toxicityOracle,
    "q_decontaminate" -> operators.Curation.decontaminateOracle,
    "q_mix_sample" -> operators.Curation.mixSampleOracle,
    "q_seq_pack" -> operators.Curation.seqPackOracle,
    "q_mix_audit" -> operators.Curation.mixAuditOracle,
    "q_curate_pipeline" -> operators.Curation.curatePipelineOracle,
    "q_curate_pipeline_staged" -> operators.Curation.curatePipelineOracle, // identical rows — staging only changes where legs are paid for
    "q_token_count" -> operators.TextStats.tokenCountOracle,
    "q_scrub_keywords" -> operators.TextStats.scrubKeywordsOracle,
    "q_fingerprint" -> operators.TextStats.fingerprintOracle,
    "q_media_frames" -> operators.Multimodal.framesOracle,
    "q_media_resize" -> operators.Multimodal.resizeOracle,
    "q_media_audio_gate" -> operators.Multimodal.audioGateOracle,
    "q_media_wav" -> operators.Multimodal.wavOracle,
    "q_media_bmp" -> operators.Multimodal.bmpOracle
  )
}
