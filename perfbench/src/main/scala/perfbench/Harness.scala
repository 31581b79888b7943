package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.functions.{PiiScan, VaderUdf}
import graft.jobs.CurateJob
import graft.operators._
import graft.pipeline.{Checkpoint, Clean, Verdict}
import graft.rules.Pii

/** One measured iteration: seconds of work, items it processed, whether
  * it threw or failed its check, and the hypervisor steal (% of CPU time)
  * while it ran. */
final case class Sample(seconds: Double, items: Long, failed: Boolean, stealPct: Double,
                        warm: Boolean, traced: Boolean)

final class CheckFailed(msg: String) extends RuntimeException(msg)

/**
 * The JVM side of the benchmark: generates one workload's seeded inputs,
 * runs the workload through the engine's public entry points as a closed
 * loop with one client, checks every output, and writes the raw samples
 * (and, when traced, the layer metrics and the trace) as JSON. Statistics
 * are left to run.py.
 *
 *   --workload verdict|curate --seed N --seconds S --trace 0|1
 *   --docs FILE --work DIR --out FILE --trace-out FILE
 *
 * --docs is the base documents table the curate input is expanded from.
 */
object Harness {

  // Sizes keep one untraced run near 45 s on 4 cores.
  val VerdictTurns = 125000L
  val ScrubTurns = 50000L
  /** Files per transcript corpus. With splits capped at [[SplitBytes]]
    * each file is one scan task, four per core, so one slow core delays
    * a pass by a small task rather than a quarter of the corpus. */
  val TurnFiles = 16
  val SplitBytes = "1m"
  /** Copies of the base documents table in the curate input. */
  val CurateCopies = 1
  /** One file per core: each of the 64 bucket jobs scans every file. */
  val ScrubFiles = 4
  /** ScrubJob's defaults. */
  val ScrubBuckets = 64
  val ScrubInFlight = 4
  /** Set-up runs this many times per run; setup_s is their median. */
  val SetupReps = 3
  /** Measured rounds of the verdict chain prefixes in a traced run. */
  val PrefixReps = 3
  /** Probes of a traced run start only this long after the JVM started,
    * so that the run ends within 180 s; a later probe is skipped and
    * counts as a failed operation. */
  val ProbeBudgetS = 150.0
  /** The heaviest SparkEntry queries but the two curate pipelines, which
    * each cost about one CurateJob run; all read only documents. */
  val HeavyQueries = Seq("q_train_filter", "q_train_filter_staged", "q_gopher_blocked", "q_quality_model")

  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val work = o("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", SplitBytes)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, cores, o("seed").toLong, o("seconds").toDouble, o("trace") == "1", work)
    try o("workload") match {
      case "verdict" => run.verdict()
      case "curate" => run.curate(o("docs"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        run.failed += 1
        run.failures += s"workload: $e"
    }
    write(o("out"), Json.render(run.result(o("workload"))))
    if (run.tracer.enabled) write(o("trace-out"), Json.render(run.tracer.artifact()))
    spark.stop()
  }

  def write(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, s + "\n")
  }

  def delete(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  /** (bytes, data files) under a directory. */
  def du(path: String): (Long, Int) = {
    val walk = Files.walk(Paths.get(path))
    try {
      val files = walk.filter(p => Files.isRegularFile(p)).toArray.map(_.asInstanceOf[Path])
      (files.map(Files.size).sum, files.count(_.getFileName.toString.startsWith("part-")))
    } finally walk.close()
  }

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-independent digest of every column, taken in name order so
    * column order does not matter: "rows:sum of the row hashes' high
    * halves:sum of their low halves". Two long sums cost far less per
    * row than one decimal sum. */
  def digest(df: DataFrame): Column = {
    val h = xxhash64(df.columns.sorted.map(c => col(s"`$c`")): _*)
    concat_ws(":", count(lit(1)).cast("string"),
      sum(shiftrightunsigned(h, 32)).cast("string"), sum(h.bitwiseAND(0xffffffffL)).cast("string"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

final class Run(spark: SparkSession, cores: Int, seed: Long, seconds: Double,
                trace: Boolean, work: String) {
  import Harness._

  var tracer = new Tracer(spark.sparkContext, enabled = false)
  val setupS = mutable.ArrayBuffer.empty[Double]
  val samples = mutable.ArrayBuffer.empty[Sample]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val skipped = mutable.ArrayBuffer.empty[String]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val digests = mutable.LinkedHashMap.empty[String, String]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var inputs: Map[String, Any] = Map.empty
  var peakHeapMb = 0.0

  def expect(name: String, expected: Any, actual: Any): Unit = {
    val ok = expected == actual
    checks += Map("name" -> name, "expected" -> expected.toString, "actual" -> actual.toString, "ok" -> ok)
    if (!ok) throw new CheckFailed(s"$name: expected $expected, got $actual")
  }

  /** One checked operation. It counts as failed if it throws, and a
    * failed output check throws. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        e.printStackTrace()
        failed += 1
        failures += s"$name: $e"
        None
    }
  }

  private def late: Boolean =
    System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime >
      ProbeBudgetS * 1000

  /** A traced-run probe: an [[op]], unless the probe budget is spent. A
    * skipped probe counts as a failed operation and leaves its metrics
    * unset. */
  def probe[T](name: String)(body: => T): Option[T] =
    if (late) {
      attempted += 1
      failed += 1
      skipped += name
      failures += s"$name: skipped, started after ${ProbeBudgetS.toInt} s"
      None
    } else op(name)(body)

  /** Digest must match the first one recorded under `key` in this run. */
  def sameDigest(key: String, d: String): Unit =
    digests.get(key) match {
      case Some(ref) => expect(s"$key digest", ref, d)
      case None => digests(key) = d
    }

  private def cpu(): Array[Long] =
    try scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    catch { case NonFatal(_) => Array.empty }

  private def stealPct(a: Array[Long], b: Array[Long]): Double =
    if (a.length > 7 && b.length > 7 && b.sum > a.sum) 100.0 * (b(7) - a(7)) / (b.sum - a.sum) else 0.0

  /** Used heap after full GCs, repeated until it stops falling: each GC
    * lets Spark's context cleaner drop the blocks and broadcasts of
    * finished queries, which the next GC collects. */
  private def heapAfterGcMb(): Double = {
    val rt = Runtime.getRuntime
    def used() = { System.gc(); (rt.totalMemory - rt.freeMemory) / 1048576.0 }
    var prev = used()
    var cur = prev
    var rounds = 0
    do {
      prev = cur
      Thread.sleep(100)
      cur = used()
      rounds += 1
    } while (prev - cur > 1.0 && rounds < 10)
    cur
  }

  /**
   * A closed loop with one client: `warm` untimed-for-the-result
   * iterations, then timed iterations back to back until `seconds` of
   * loop time are used, at least `min`. Each iteration's work is timed
   * and its output checked afterwards; a failed iteration keeps its
   * elapsed time and is marked failed, so it counts as no items done.
   * Full GCs before each timed iteration give each the same starting
   * heap and yield the used heap after collection; a warm-up followed by
   * another warm-up skips them.
   */
  def loop[T](name: String, items: Long, warm: Int, min: Int)(work: => T)(check: T => Unit): Seq[Sample] = {
    val out = mutable.ArrayBuffer.empty[Sample]
    var timedStart = 0L
    var i = 0
    def timed = out.count(!_.warm)
    def more: Boolean = i < warm + min || {
      val used = (System.nanoTime() - timedStart) / 1e9
      used + used / timed <= seconds
    }
    while (more) {
      if (i == warm) timedStart = System.nanoTime()
      attempted += 1
      val c0 = cpu()
      val t0 = System.nanoTime()
      var s = -1.0
      var ok = false
      try {
        val r = tracer.span(if (i < warm) s"$name.warm" else name, i)(work)
        s = (System.nanoTime() - t0) / 1e9
        check(r)
        ok = true
      } catch {
        case NonFatal(e) =>
          if (s < 0) s = (System.nanoTime() - t0) / 1e9
          e.printStackTrace()
          failed += 1
          failures += s"$name[$i]: $e"
      }
      val c1 = cpu()
      if (i + 1 >= warm) {
        val heap = heapAfterGcMb()
        if (i >= warm) peakHeapMb = math.max(peakHeapMb, heap)
      }
      out += Sample(s, items, !ok, stealPct(c0, c1), i < warm, tracer.enabled)
      i += 1
    }
    samples ++= out
    out.toSeq.filter(!_.warm)
  }

  /** Writes the inputs [[SetupReps]] times into fresh directories, timing
    * each, keeps the first and reports its rows, bytes and files. */
  def setup(kind: String, rows: Long)(write: String => Unit): String = {
    val dirs = (0 until SetupReps).map { k =>
      val d = s"$work/$kind-$k"
      val t0 = System.nanoTime()
      write(d)
      setupS += (System.nanoTime() - t0) / 1e9
      d
    }
    dirs.tail.foreach(delete)
    val (bytes, files) = du(dirs.head)
    inputs = Map("kind" -> kind, "rows" -> rows, "bytes" -> bytes, "files" -> files)
    dirs.head
  }

  /** Switches tracing on for the rest of the run. */
  def startTracing(): Unit = tracer = new Tracer(spark.sparkContext, enabled = true)

  private def spanStats(name: String): Seq[(Span, JobTotals)] =
    tracer.named(name).map(s => s -> tracer.totals(s))

  private def coreUtil(st: Seq[(Span, JobTotals)]): Double =
    st.map(_._2.taskS).sum / (st.map(_._1.durS).sum * cores)

  // ---- verdict ---------------------------------------------------------

  private def cleaned(t: DataFrame): DataFrame =
    t.withColumn("scrape_clean", Clean.scrapeClean(col("text")))
      .filter(Clean.nonEmpty(col("scrape_clean")))
      .withColumn("clean_text", Clean.stripHtmlFast(col("scrape_clean")))
      .drop("scrape_clean")
      .withColumn("skipped", Clean.isSkipped(col("clean_text")))

  private def scanned(c: DataFrame, scanner: Column => Column): DataFrame =
    c.withColumn("pii_matches", scanner(col("clean_text")))
      .withColumn("pii_risk_score", Pii.piiRiskScore(col("pii_matches")))

  /** The fused verdict forced through the noop sink, with its counts and
    * digest observed on the same pass. */
  private def verdictPass(turns: DataFrame): Map[String, Any] = {
    val v = Verdict(turns)
    val obs = Observation()
    force(v.observe(obs, count(lit(1)).as("rows"),
      sum(col("skipped").cast("long")).as("skipped"),
      sum((!col("keep")).cast("long")).as("dropped"),
      digest(v).as("digest")))
    obs.get
  }

  private def checkVerdict(m: Map[String, Any], exp: (Long, Long, Long)): Unit = {
    expect("rows_out", exp._1, m("rows"))
    expect("skipped", exp._2, m("skipped"))
    expect("dropped", exp._3, m("dropped"))
    sameDigest("verdict", m("digest").toString)
  }

  def verdict(): Unit = {
    val in = setup("turns", VerdictTurns) { d =>
      Gen.transcripts(spark, VerdictTurns, seed, TurnFiles).write.parquet(d)
    }
    val exp = Gen.expectedVerdict(spark, VerdictTurns, seed)
    val turns = spark.read.parquet(in)
    var last: Map[String, Any] = Map.empty
    val untraced = loop("verdict.pass", VerdictTurns, warm = 8, min = 3)(verdictPass(turns)) { m =>
      checkVerdict(m, exp); last = m
    }
    if (!trace) return
    startTracing()
    val traced = loop("verdict.pass", VerdictTurns, warm = 0, min = 3)(verdictPass(turns))(checkVerdict(_, exp))
    // Traced samples' median over the untraced samples' median, minus 1.
    layers("trace.overhead_frac") = median(traced.map(_.seconds)) / median(untraced.map(_.seconds)) - 1
    val st = spanStats("verdict.pass")
    layers("verdict.tasks") = median(st.map(_._2.tasks.toDouble))
    layers("verdict.core_util") = coreUtil(st)
    layers("verdict.gc_s") = median(st.map(_._1.gcS))
    layers("verdict.rows_out") = last("rows").toString.toDouble
    layers("verdict.skipped") = last("skipped").toString.toDouble
    layers("verdict.dropped") = last("dropped").toString.toDouble

    // Each prefix of the chain forced on the same corpus; a layer's self
    // time is the difference between consecutive prefixes.
    val c = cleaned(turns)
    val fusedPii = scanned(c, PiiScan.apply)
    // The last prefix, "checked", is the timed pass itself: the fused
    // verdict with its counts and digest observed.
    val vader = fusedPii.withColumn("sentiment_score", VaderUdf.compound(col("clean_text")))
    val prefixes: Seq[(String, () => Any)] = Seq(
      "scan" -> (() => force(turns)),
      "clean" -> (() => force(c)),
      "pii" -> (() => force(fusedPii)),
      "vader" -> (() => force(vader)),
      "full" -> (() => force(Verdict(turns))),
      "checked" -> (() => checkVerdict(verdictPass(turns), exp)),
      "pii_chain" -> (() => force(scanned(c, Pii.piiMatches))))
    // Each prefix compiles to its own generated code, so round 0 only
    // warms the JIT and is left out of the medians.
    for (rep <- 0 to PrefixReps; (name, run) <- prefixes)
      probe(s"prefix $name")(tracer.span(s"verdict.prefix.$name${if (rep == 0) ".warm" else ""}", rep)(run()))
    val measured = prefixes.map { case (name, _) => name -> tracer.named(s"verdict.prefix.$name").map(_.durS) }
    if (measured.forall(_._2.nonEmpty)) {
      val t = measured.map { case (name, ds) => name -> median(ds) }.toMap
      layers("sources.scan_s") = t("scan")
      layers("pipeline.clean_s") = t("clean") - t("scan")
      layers("functions.pii_scan_s") = t("pii") - t("clean")
      layers("functions.vader_s") = t("vader") - t("pii")
      layers("pipeline.assemble_s") = t("full") - t("vader")
      layers("rules.pii_chain_s") = t("pii_chain") - t("clean")
      layers("verdict.chain_gap_frac") = t("checked") / median(traced.map(_.seconds)) - 1
    }
    probe("checkpoint")(checkpoint())
  }

  // ---- scrub -------------------------------------------------------------

  /** ScrubJob's body (Checkpoint.run with its default 64 buckets, 4 in
    * flight) on a smaller corpus from another seed, traced. The committed
    * buckets must hold exactly the rows of one unbucketed verdict pass. */
  private def checkpoint(): Unit = {
    val in = s"$work/scrub-turns"
    Gen.transcripts(spark, ScrubTurns, seed + 1, ScrubFiles).write.parquet(in)
    val exp = Gen.expectedVerdict(spark, ScrubTurns, seed + 1)
    val turns = spark.read.parquet(in)
    val cols = Seq("conv_id", "turn_idx", "role", "keep", "skipped", "pii_risk_score", "scrubbed_text")
    val ref = Verdict(turns).select(cols.map(col): _*)
    val refDigest = ref.agg(digest(ref)).head().getString(0)
    digests("scrub") = refDigest
    var iter = 0
    def body(): (String, Checkpoint.RunStats) = {
      val out = s"$work/scrub-out-$iter"
      iter += 1
      out -> Checkpoint.run(spark, spark.read.parquet(in), out, ScrubBuckets, parallelism = ScrubInFlight)
    }
    def check(r: (String, Checkpoint.RunStats)): Unit = {
      val (out, st) = r
      try {
        expect("buckets_committed", ScrubBuckets, st.bucketsCommitted)
        expect("rows_written", exp._1, st.rowsWritten)
        val o = Checkpoint.readOutput(spark, out, ScrubBuckets).select(cols.map(col): _*)
        val row = o.agg(count(lit(1)), sum(col("skipped").cast("long")),
          sum((!col("keep")).cast("long")), digest(o)).head()
        expect("rows_out", exp._1, row.getLong(0))
        expect("skipped", exp._2, row.getLong(1))
        expect("dropped", exp._3, row.getLong(2))
        expect("scrub digest vs verdict", refDigest, row.getString(3))
      } finally delete(out)
    }
    val runs = loop("checkpoint.run", ScrubTurns, warm = 0, min = 1)(body())(check)
    for (rep <- 0 until PrefixReps)
      probe("scrub corpus verdict pass")(tracer.span("checkpoint.verdict_pass", rep)(force(Verdict(turns))))
    val passes = tracer.named("checkpoint.verdict_pass").map(_.durS)
    if (passes.isEmpty) return
    val st = spanStats("checkpoint.run")
    val jobDur = st.flatMap(_._2.jobDurS)
    layers("checkpoint.overhead_s") = median(runs.map(_.seconds)) - median(passes)
    layers("checkpoint.jobs") = median(st.map(_._2.jobs.toDouble))
    layers("checkpoint.job_s_p50") = median(jobDur)
    layers("checkpoint.job_s_max") = if (jobDur.isEmpty) 0.0 else jobDur.max
    layers("checkpoint.read_amp") = median(st.map(_._2.inputRows.toDouble / ScrubTurns))
    layers("checkpoint.write_bytes") = median(st.map(_._2.outputBytes.toDouble))
    layers("checkpoint.core_util") = coreUtil(st)
    layers("checkpoint.gc_s") = median(st.map(_._1.gcS))
  }

  // ---- curate ------------------------------------------------------------

  def curate(base: String): Unit = {
    val docs = spark.read.parquet(base).count() * CurateCopies
    val dir = setup("docs", docs) { d =>
      Gen.documents(spark, base, CurateCopies, seed).write.parquet(s"$d/documents.parquet")
    }
    // Fresh output and stage directories per iteration. The last stage
    // is kept until the end: the traced probes read its legs.
    var iter = 0
    var stage = ""
    var packed = 0L
    def body(): (String, Long) = {
      val out = s"$work/curate-out-$iter"
      if (stage.nonEmpty) delete(stage)
      stage = s"$work/curate-stage-$iter"
      iter += 1
      out -> CurateJob.run(spark, dir, out, stage)
    }
    def check(r: (String, Long)): Unit = {
      val (out, n) = r
      try {
        val o = spark.read.parquet(out)
        val row = o.agg(count(lit(1)), digest(o)).head()
        expect("packed_rows", n, row.getLong(0))
        sameDigest("curate", row.getString(1))
        packed = n
      } finally delete(out)
    }
    // A traced run traces this same loop and repeats no untraced
    // iteration: one sample a side could not resolve the tracing
    // overhead, which is measured on verdict.
    if (trace) startTracing()
    val traced = loop("curate.run", docs, warm = 1, min = 1)(body())(check)
    if (!trace) return
    val st = spanStats("curate.run")
    layers("curate.jobs") = median(st.map(_._2.jobs.toDouble))
    layers("curate.shuffle_bytes") = median(st.map(_._2.shuffleBytes.toDouble))
    layers("curate.spill_bytes") = median(st.map(_._2.spillBytes.toDouble))
    layers("curate.stage_bytes") = du(stage)._1.toDouble
    layers("curate.core_util") = coreUtil(st)

    op("funnel") {
      val kept = spark.read.parquet(s"$stage/kept")
      val sampled = Curation.mixSampleDocs(kept).filter(col("keep")).count()
      layers("curate.docs_in") = docs.toDouble
      layers("curate.train_keep") = kept.count().toDouble
      layers("curate.sampled") = sampled.toDouble
      layers("curate.packed_rows") = packed.toDouble
      layers("curate.keep_ratio") = packed.toDouble / docs
      expect("packing keeps every sampled document", sampled, packed)
    }

    // Each leg's public builder called on its own, then forced. The page
    // legs read the staged page view, as they do inside CurateJob.
    lazy val pages = spark.read.parquet(s"$stage/legs/pages")
    val legs: Seq[(String, () => DataFrame)] = Seq(
      "quality" -> (() => TextStats.quality(spark, dir)),
      "langid" -> (() => LangIdModel.predict(spark, dir)),
      "keeplist" -> (() => Dedup.keepList(spark, dir)),
      "gopher" -> (() => GopherQuality.quality(spark, dir)),
      "pages" -> (() => C4Quality.pageView(spark, dir)),
      "gopherdoc" -> (() => C4Quality.gopherDocPages(pages)),
      "c4" -> (() => C4Quality.cleanPages(pages)),
      "toxicity" -> (() => Toxicity.toxicity(spark, dir)),
      "decontam" -> (() => Curation.decontaminateDocs(Inputs.documents(spark, dir))))
    for ((leg, build) <- legs) probe(s"leg $leg") {
      val df = tracer.span(s"operators.$leg.build")(build())
      tracer.span(s"operators.$leg.exec")(force(df))
      val b = tracer.named(s"operators.$leg.build").head
      val e = tracer.named(s"operators.$leg.exec").head
      layers(s"operators.$leg.build_s") = b.durS
      layers(s"operators.$leg.exec_s") = e.durS
      layers(s"operators.$leg.shuffle_bytes") = (tracer.totals(b).shuffleBytes + tracer.totals(e).shuffleBytes).toDouble
    }
    delete(stage)
    sweep(dir)
    // q_train_filter_staged is TrainFilter.trainFilterStaged forced: the
    // legs alone. The rest of a CurateJob run is mixing and packing.
    for (b <- layers.get("sweep.q_train_filter_staged.build_s");
         e <- layers.get("sweep.q_train_filter_staged.exec_s")) {
      layers("curate.legs_s") = b + e
      layers("curate.mixpack_s") = median(traced.map(_.seconds)) - (b + e)
    }
  }

  /** The heaviest SparkEntry queries on the curate corpus: build, plan
    * and execution timed apart, rows and digest observed on the forced
    * pass. The staged queries leave nonced directories in the temp dir;
    * they are removed after each query. */
  private def sweep(dir: String): Unit = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    def clearStages(): Unit = {
      val ls = Files.list(tmp)
      try ls.toArray.map(_.asInstanceOf[Path]).filter(_.getFileName.toString.startsWith("graft_"))
        .foreach(p => delete(p.toString))
      finally ls.close()
    }
    val qs = SparkEntry.queries
    var parts = Seq.empty[(Span, Span, Span)]
    for (q <- HeavyQueries) {
      probe(q) {
        try {
          val df = tracer.span(s"sweep.$q.build")(qs(q)(spark, dir))
          tracer.span(s"sweep.$q.plan")(df.queryExecution.executedPlan)
          val obs = Observation()
          tracer.span(s"sweep.$q.exec")(force(df.observe(obs, digest(df).as("digest"))))
          digests(s"sweep.$q") = obs.get("digest").toString
          val Seq(b, p, e) = Seq("build", "plan", "exec").map(k => tracer.named(s"sweep.$q.$k").head)
          parts :+= ((b, p, e))
          layers(s"sweep.$q.build_s") = b.durS
          layers(s"sweep.$q.exec_s") = e.durS
        } finally clearStages()
      }
    }
    // The staged and unstaged shapes must give the same rows.
    op("staged and unstaged queries agree") {
      for (da <- digests.get("sweep.q_train_filter"); db <- digests.get("sweep.q_train_filter_staged"))
        expect("sweep.q_train_filter_staged vs sweep.q_train_filter", da, db)
    }
    // Totals over all of them only: a query that failed or was skipped has
    // failed the run, and its totals are left unset rather than summed
    // over fewer queries.
    if (parts.size < HeavyQueries.size) return
    val all = parts.flatMap { case (b, p, e) => Seq(b, p, e) }
    val tot = all.map(s => tracer.totals(s))
    layers("sweep.build_s") = parts.map(_._1.durS).sum
    layers("sweep.plan_s") = parts.map(_._2.durS).sum
    layers("sweep.exec_s") = parts.map(_._3.durS).sum
    layers("sweep.build_jobs") = parts.map(p => tracer.totals(p._1).jobs).sum.toDouble
    layers("sweep.jobs") = tot.map(_.jobs).sum.toDouble
    layers("sweep.shuffle_bytes") = tot.map(_.shuffleBytes).sum.toDouble
    layers("sweep.core_util") = tot.map(_.taskS).sum / (all.map(_.durS).sum * cores)
    layers("sweep.gc_s") = all.map(_.gcS).sum
  }

  def result(workload: String): Map[String, Any] = Map(
    "workload" -> workload,
    "seed" -> seed,
    "trace" -> trace,
    "context" -> Map(
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "java_version" -> sys.props("java.version")),
    "inputs" -> inputs,
    "setup_s" -> setupS.toSeq,
    "samples" -> samples.map(s => Map("seconds" -> s.seconds, "items" -> s.items, "failed" -> s.failed,
      "steal_pct" -> s.stealPct, "warm" -> s.warm, "traced" -> s.traced)).toSeq,
    "attempted" -> attempted,
    "failed" -> failed,
    "failures" -> failures.toSeq,
    "skipped" -> skipped.toSeq,
    "checks" -> checks.toSeq,
    "digests" -> digests,
    "peak_heap_mb" -> peakHeapMb,
    "layers" -> layers)
}
