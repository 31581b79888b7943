package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded input generators owned by the benchmark. The engine receives only
 * the parquet these write, so a change to the engine cannot change the
 * benchmark's inputs. Every value is a pure function of the seed and a row
 * id, or of the seed and a row of the base documents table that the
 * benchmark carries in data/: the same seed and size give the same rows,
 * and with a fixed file count the same bytes.
 */
object Gen {

  /** The reddacted redaction marker. A turn carrying it must pass the
    * skip guard untouched. Kept here, not read from the engine, so the
    * input stays fixed when engine code changes. */
  val Marker =
    "This comment has been reddacted to preserve online privacy - see r/reddacted for more info"

  /** Injected fragments, one in [[InjectOneIn]] turns, with the verdict
    * each must produce: (fragment, skipped, dropped). Emails and
    * honorific names score above the 0.5 drop threshold; the SSN and
    * phone forms are the reference's digit-gated false positives (risk
    * 0); the rest exercise cleaning and the skip guard. */
  val Injections: Seq[(String, Boolean, Boolean)] = Seq(
    (" reach me at agent{id}@example.com", false, true),
    (" Dr. John Smith will see you", false, true),
    (" my ssn is 123-45-6789", false, false),
    (" call me at (212) 555-1234", false, false),
    (" we bought 16 gb ram for 3 gpu nodes", false, false),
    (" <i>great</i> work &amp;#x200B;   team", false, false),
    (" " + Marker, true, false),
    (" contact me: Mrs. Anna Lee Smith", false, true))
  val InjectOneIn = 20

  /** Turns that share the mega-conversation, in percent. */
  val SkewPct = 5

  private val Sentences = Seq(
    "thanks for the update, that all sounds right to me",
    "can you run the numbers again for the quarterly report",
    "the deployment finished and the dashboards look healthy",
    "let me check the logs and get back to you shortly",
    "we should schedule a follow up to review the findings",
    "the model output looks reasonable but needs another pass",
    "I pushed the fix and the tests are green now",
    "please summarize the document before the meeting",
    "this is really great work, I love how clean it is!",
    "the build is broken again and it is very frustrating",
    "not bad at all, though the latency is still terrible",
    "honestly the new dashboard is awful and nobody likes it",
    "good catch, that bug would have been a disaster",
    "I am not sure this is the right approach",
    "wow, the results are AMAZING :)",
    "sorry for the delay, the meeting ran long")

  /** Uniform draw in [0, 1e6) keyed by seed, purpose and `id`. */
  private def h(seed: Long, purpose: String, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(purpose), id), lit(1000000L))

  /** Injection kind per turn: an index into [[Injections]], or -1. */
  private def injectKind(seed: Long, id: Column): Column = {
    val r = pmod(xxhash64(lit(seed), lit("inj"), id), lit(InjectOneIn.toLong * Injections.size))
    when(r < Injections.size, r.cast("int")).otherwise(lit(-1))
  }

  /** `n` transcript turns (conv_id, turn_idx, role, text, tool, ts) in
    * `files` partitions: one to five sentences per turn, about n/50
    * conversations, [[SkewPct]]% of turns in conversation 0, and one turn
    * in [[InjectOneIn]] carrying an injection. */
  def transcripts(spark: SparkSession, n: Long, seed: Long, files: Int): DataFrame = {
    val id = col("id")
    val nConvs = math.max(1L, n / 50)
    val conv = when(h(seed, "skew", id) < SkewPct * 10000L, lit(0L))
      .otherwise(pmod(xxhash64(lit(seed), lit("conv"), id), lit(nConvs)))
    val pool = array(Sentences.map(lit): _*)
    val nSent = (h(seed, "len", id) % 5 + 1).cast("int")
    val body = concat_ws(" ", transform(sequence(lit(1), nSent), i =>
      element_at(pool, (pmod(xxhash64(lit(seed), lit("s"), id, i), lit(Sentences.size.toLong)) + 1).cast("int"))))
    val kind = injectKind(seed, id)
    val fragment = Injections.zipWithIndex.foldLeft(lit("")) { case (acc, ((frag, _, _), k)) =>
      val parts = frag.split("\\{id\\}", -1).toSeq.map(lit)
      val f = if (parts.size == 1) parts.head else concat(parts.head, id.cast("string"), parts(1))
      when(kind === k, f).otherwise(acc)
    }
    spark.range(0, n, 1, files).select(
      concat(lit("conv"), conv.cast("string")).as("conv_id"),
      id.cast("int").as("turn_idx"),
      when(id % 3 === 0, "user").when(id % 3 === 1, "assistant").otherwise("tool").as("role"),
      concat(body, fragment).as("text"),
      when(id % 3 === 2, "search").otherwise("").as("tool"),
      timestamp_seconds(lit(1704067200L) + id).as("ts"))
  }

  /** The verdict counts the corpus must produce, from the generator's own
    * labels: (turns, skipped, dropped). */
  def expectedVerdict(spark: SparkSession, n: Long, seed: Long): (Long, Long, Long) = {
    val kind = injectKind(seed, col("id"))
    def countOf(pred: ((String, Boolean, Boolean)) => Boolean) = {
      val ks = Injections.zipWithIndex.collect { case (inj, k) if pred(inj) => lit(k) }
      sum(when(kind.isin(ks: _*), 1L).otherwise(0L))
    }
    val r = spark.range(0, n).agg(count(lit(1)), countOf(_._2), countOf(_._3)).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** A document's trailing " dup" markers: the engine's documents table
    * makes a near-duplicate by appending " dup" to another document,
    * sometimes to a near-duplicate. */
  private val DupTail = "((?: dup)*)$"

  /**
   * `copies` copies of the base documents table at `base` (doc_id, text,
   * lang, source, n_chars), in one file ordered by doc_id. Copy k keeps
   * each row's language, source and words and gets doc_id k * rows +
   * doc_id; its words are put in a seeded order keyed on (seed, k, body).
   * Equal bodies get the same order, so exact duplicates stay exact and a
   * near-duplicate (body plus " dup") stays the near-duplicate of its
   * partner. Length, vocabulary and the duplicate structure are those of
   * the base; only the word order depends on the seed.
   */
  def documents(spark: SparkSession, base: String, copies: Int, seed: Long): DataFrame = {
    val b = spark.read.parquet(base)
    val rows = b.agg(max(col("doc_id")) + 1).head().getLong(0)
    val tail = regexp_extract(col("text"), DupTail, 1)
    val body = col("text").substr(lit(1), length(col("text")) - length(tail))
    // Each word is keyed on (seed, copy, body, position). The document's
    // key is repeated into the array rather than referenced inside the
    // lambda, where it would be recomputed for every word.
    val words = split(body, " ")
    val n = size(words)
    val key = array_repeat(xxhash64(lit(seed), col("copy"), body), n)
    val keyed = transform(arrays_zip(words.as("w"), key.as("k"), sequence(lit(1), n).as("i")),
      e => struct(xxhash64(e("k"), e("i")).as("k"), e("w").as("w")))
    val text = concat(array_join(transform(sort_array(keyed), _("w")), " "), tail)
    b.crossJoin(spark.range(0, copies, 1, 1).withColumnRenamed("id", "copy"))
      .select((col("copy") * rows + col("doc_id")).as("doc_id"), text.as("text"), col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1)
      .sortWithinPartitions("doc_id")
  }
}
