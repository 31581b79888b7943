package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region of benchmark code: the call into a layer. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
                      startMs: Long, startNs: Long, gcStartMs: Long,
                      var endMs: Long = -1L, var durS: Double = 0.0, var gcS: Double = 0.0)

/** Per-job totals gathered by [[JobListener]]. */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var taskS = 0.0
  var inputRows = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def durS: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1000.0
}

/** Attributes Spark jobs and their tasks to the job group that was set
  * when each job or stage was submitted. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobs(e.jobId) = new JobRec(e.jobId, group, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    lastEventMs = System.currentTimeMillis()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    lastEventMs = System.currentTimeMillis()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskS += m.executorRunTime / 1000.0
      j.inputRows += m.inputMetrics.recordsRead
      j.outputBytes += m.outputMetrics.bytesWritten
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    lastEventMs = System.currentTimeMillis()
  }

  /** Waits until every started job has ended and the bus has been quiet
    * for a moment, so totals read afterwards are complete. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def open = synchronized(jobs.values.exists(_.endMs < 0))
    while (System.currentTimeMillis() < deadline &&
           (open || System.currentTimeMillis() - lastEventMs < 200)) Thread.sleep(20)
  }
}

/** Totals over a set of jobs. */
final case class JobTotals(jobs: Int, tasks: Long, taskS: Double, inputRows: Long,
                           outputBytes: Long, shuffleBytes: Long, spillBytes: Long,
                           jobDurS: Seq[Double])

/**
 * Spans kept in memory, with each Spark job attributed to the innermost
 * span that encloses it. Spans set the job group, so jobs submitted from
 * the benchmark thread, or from threads it starts inside a span, carry
 * their span's id. A job from a thread that was started earlier (a shared
 * pool) carries no group and is attributed by start time instead. When
 * disabled, [[span]] only runs its body: untraced runs register no
 * listener and set no job group.
 */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  val listener = new JobListener
  if (enabled) sc.addSparkListener(listener)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def span[T](name: String, iter: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), iter,
        System.currentTimeMillis(), System.nanoTime(), gcMs())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"span-${s.id}", name)
      try body
      finally {
        s.durS = (System.nanoTime() - s.startNs) / 1e9
        s.endMs = System.currentTimeMillis()
        s.gcS = (gcMs() - s.gcStartMs) / 1000.0
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  private def descendants(root: Span): Set[Int] = {
    var ids = Set(root.id)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    ids
  }

  /** The span each job belongs to: its group's span, else the innermost
    * span whose interval holds the job's start. */
  private def owner(j: JobRec): Option[Int] = {
    def holds(s: Span) = s.startMs <= j.startMs && (s.endMs < 0 || j.startMs <= s.endMs)
    // a pool thread created inside an earlier span keeps that span's
    // group for life, so a group is trusted only if its span was open
    Option(j.group).filter(_.startsWith("span-")).map(_.drop(5).toInt)
      .filter(id => id < spans.size && holds(spans(id)))
      .orElse(spans.filter(holds).maxByOption(_.startNs).map(_.id))
  }

  /** Totals over the jobs of `s` and every span below it. */
  def totals(s: Span): JobTotals = {
    listener.settle()
    val ids = descendants(s)
    val js = listener.synchronized(listener.jobs.values.toList).filter(j => owner(j).exists(ids.contains))
    JobTotals(js.size, js.map(_.tasks).sum, js.map(_.taskS).sum, js.map(_.inputRows).sum,
      js.map(_.outputBytes).sum, js.map(_.shuffleWriteBytes).sum, js.map(_.spillBytes).sum,
      js.map(_.durS))
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Duration minus the part of it that child spans cover. */
  def selfS(s: Span): Double =
    s.durS - spans.filter(_.parent == s.id).map(_.durS).sum

  /** The trace artifact: every span with its self time and job totals,
    * then every job. */
  def artifact(): Any = {
    listener.settle()
    Map(
      "spans" -> spans.map { s =>
        val t = totals(s)
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "iter" -> s.iter,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durS,
          "self_s" -> selfS(s), "gc_s" -> s.gcS, "jobs" -> t.jobs, "tasks" -> t.tasks,
          "task_s" -> t.taskS, "shuffle_bytes" -> t.shuffleBytes, "spill_bytes" -> t.spillBytes,
          "input_rows" -> t.inputRows, "output_bytes" -> t.outputBytes)
      }.toSeq,
      "jobs" -> listener.synchronized(listener.jobs.values.toList).map { j =>
        Map("id" -> j.id, "span" -> owner(j).getOrElse(-1), "start_ms" -> j.startMs,
          "dur_s" -> j.durS, "tasks" -> j.tasks, "task_s" -> j.taskS,
          "shuffle_bytes" -> j.shuffleWriteBytes, "spill_bytes" -> j.spillBytes,
          "input_rows" -> j.inputRows, "output_bytes" -> j.outputBytes)
      })
  }
}
