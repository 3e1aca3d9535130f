package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One span around a call into a layer's public function. `iter` is the
  * workload iteration the call belongs to (-1 for set-up and probes).
  * Wall-clock milliseconds line spans up with Spark's job timestamps;
  * nanoseconds give their durations.
  */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
    startMs: Long, startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder kept in memory and written out when the run ends.
  *
  * Each span sets the Spark job group to its own id, so every job started
  * while it is the innermost open span is attributed to it by
  * [[JobListener]]. With `active` false, `span` only runs its body: the
  * untraced operations of a traced run pay nothing.
  */
final class Tracer(sc: SparkContext) {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var open: List[Span] = Nil
  var active: Boolean = false
  var iter: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val s = Span(spans.size + 1, name, open.headOption.map(_.id).getOrElse(0), iter,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      open = s :: open
      // the group id only: a job description would replace the call site
      // that Spark gives each SQL execution
      sc.setLocalProperty(Tracer.GroupKey, Tracer.group(s.id))
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(Tracer.GroupKey, open.headOption.map(p => Tracer.group(p.id)).orNull)
      }
    }

  /** Ids of `s` and of every span nested inside it. */
  def subtree(s: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(k => walk(k.id))
    walk(s.id).toSet
  }

  /** Span time minus the part of it that its direct children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).toSeq
    s.seconds - Tracer.covered(kids) / 1e9
  }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"

  def group(spanId: Int): String = s"bench-span-$spanId"

  def spanOf(group: String): Int =
    if (group != null && group.startsWith("bench-span-")) group.stripPrefix("bench-span-").toInt
    else 0

  /** Total length covered by a set of [start, end] intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Per-stage task totals, summed over every attempt of the stage. */
final class StageTotals {
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var recordsRead = 0L
  var recordsWritten = 0L
  val taskMs: ArrayBuffer[Long] = ArrayBuffer.empty
}

final case class JobRec(id: Int, span: Int, callSite: String, startMs: Long,
    stageIds: Seq[Int]) {
  var endMs: Long = -1L
}

/** Attaches each job and its stages' task metrics to the span that was
  * open when the job started (through the job group), and counts failed
  * tasks and retried stages for the whole run.
  */
final class JobListener extends SparkListener {
  val jobs: mutable.LinkedHashMap[Int, JobRec] = mutable.LinkedHashMap.empty
  // call site of each SQL execution: the jobs adaptive execution starts
  // from its own threads carry no call site of their own
  private val executionSites = mutable.HashMap.empty[String, String]
  val stages: mutable.HashMap[Int, StageTotals] = mutable.HashMap.empty
  var tasksFailed = 0L
  var stagesRetried = 0L
  private var markers = 0 // end events of drain() marker jobs

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val group = prop(Tracer.GroupKey).getOrElse("")
    if (group.startsWith("bench-drain-")) return
    // else the result stage is named after the job's call site
    val site = prop("spark.sql.execution.id").flatMap(executionSites.get).getOrElse(
      if (e.stageInfos.isEmpty) "unknown" else e.stageInfos.maxBy(_.stageId).name)
    jobs(e.jobId) = JobRec(e.jobId, Tracer.spanOf(group), site, e.time, e.stageIds)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(executionSites(x.executionId.toString) = x.description)
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId) match {
      case Some(j) => j.endMs = e.time
      case None => markers += 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.stageInfo.attemptNumber() > 0) stagesRetried += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    e.reason match {
      case org.apache.spark.Success => ()
      case _ => tasksFailed += 1
    }
    val m = e.taskMetrics
    if (m != null) {
      val t = stages.getOrElseUpdate(e.stageId, new StageTotals)
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.recordsRead += m.inputMetrics.recordsRead
      t.recordsWritten += m.outputMetrics.recordsWritten
      t.taskMs += e.taskInfo.duration
    }
  }

  /** Wait until the listener has seen every event posted so far: a tiny
    * marker job is queued behind them, and its end event arrives last.
    */
  def drain(sc: SparkContext): Unit = {
    val g = s"bench-drain-${System.nanoTime()}"
    sc.setLocalProperty(Tracer.GroupKey, g)
    val before = synchronized(markers)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Tracer.GroupKey, null)
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (synchronized(markers) == before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def jobsIn(spanIds: Set[Int]): Seq[JobRec] = synchronized {
    jobs.values.filter(j => spanIds.contains(j.span)).toSeq
  }
}

/** Stage and task totals over a set of jobs, the way a layer sees them. */
final case class JobTotals(jobs: Int, stages: Int, runS: Double, cpuS: Double, gcS: Double,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, recordsRead: Long,
    recordsWritten: Long, skew: Double, jobWindows: Seq[(Long, Long)])

object JobTotals {
  def of(jobs: Seq[JobRec], l: JobListener): JobTotals = l.synchronized {
    val stageIds = jobs.flatMap(_.stageIds).distinct.filter(l.stages.contains)
    val st = stageIds.map(l.stages)
    // skew of the stage that took the most executor time: max ÷ median task
    val skew =
      if (st.isEmpty) 0.0
      else {
        val big = st.maxBy(_.runMs).taskMs.sorted
        if (big.isEmpty) 0.0 else big.last.toDouble / math.max(1L, big(big.size / 2))
      }
    JobTotals(jobs.size, stageIds.size,
      st.map(_.runMs).sum / 1e3, st.map(_.cpuNs).sum / 1e9, st.map(_.gcMs).sum / 1e3,
      st.map(_.shuffleWrite).sum, st.map(_.shuffleRead).sum, st.map(_.spill).sum,
      st.map(_.recordsRead).sum, st.map(_.recordsWritten).sum, skew,
      jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)))
  }
}
