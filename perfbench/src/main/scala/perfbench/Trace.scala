package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Wall clock in epoch seconds with nanosecond resolution, so spans the
  * harness times line up with Spark listener events (epoch millis) and
  * with store file modification times. */
object Clock {
  private val epoch0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9
}

final case class Span(id: Int, parent: Int, kind: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** Spans kept in memory and written out once at the end. The tree is
  * workload → crawl → wave → job and workload → query → job; jobs are
  * attached to the innermost span that contains their start. */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]

  /** Spans are recorded only while on (the traced part of a run). */
  @volatile var on = false

  /** Record a span; returns its id, or 0 when tracing is off. */
  def add(parent: Int, kind: String, name: String, start: Double, end: Double): Int =
    if (!on) 0
    else synchronized {
      val id = buf.size + 1
      buf += Span(id, parent, kind, name, start, end)
      id
    }

  /** Set the end of a span recorded with a provisional one. */
  def close(id: Int, end: Double): Unit =
    if (id > 0) synchronized(buf(id - 1) = buf(id - 1).copy(end = end))

  def all: Seq[Span] = synchronized(buf.toList)

  /** Attach each job to the innermost non-job span holding its start. */
  def addJobs(jobs: Seq[JobRec]): Unit = {
    val hosts = all.filter(_.kind != "job")
    jobs.foreach { j =>
      val holder = hosts.filter(s => s.start <= j.start && j.start < s.end)
        .sortBy(_.dur).headOption
      holder.foreach(h => add(h.id, "job", s"job-${j.id}", j.start, j.end))
    }
  }

  /** Self time per span kind: each span's duration minus the part of
    * that interval its children cover. */
  def selfTimeByKind: Map[String, Double] = {
    val spans = all
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val covered = Spans.unionLength(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        s.dur - covered
      }.sum
    }
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val body = all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        s""""name":${Stats.jsonString(s.name)},"start":${s.start},"end":${s.end}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, body)
  }
}

object Spans {
  /** Total length of a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

final case class JobRec(id: Int, start: Double, end: Double, stages: Int)
final case class TaskRec(stage: Int, launch: Double, finish: Double,
                         runS: Double, cpuS: Double, gcS: Double,
                         shuffleWriteB: Long, shuffleReadB: Long)

/** Listener registered only in traced runs. Records every job and task
  * while `on`; the harness aggregates the records over the intervals of
  * its own spans afterwards. */
final class JobListener extends SparkListener {
  @volatile var on = false
  private val jobStarts = scala.collection.concurrent.TrieMap.empty[Int, (Double, Int)]
  private val jobs = ArrayBuffer.empty[JobRec]
  private val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (on) jobStarts.put(e.jobId, (e.time / 1e3, e.stageInfos.size))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.remove(e.jobId).foreach { case (t0, nStages) =>
      synchronized(jobs += JobRec(e.jobId, t0, e.time / 1e3, nStages))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && e.taskInfo != null) {
      val m = e.taskMetrics
      val rec =
        if (m == null) TaskRec(e.stageId, e.taskInfo.launchTime / 1e3,
          e.taskInfo.finishTime / 1e3, 0, 0, 0, 0, 0)
        else TaskRec(e.stageId, e.taskInfo.launchTime / 1e3,
          e.taskInfo.finishTime / 1e3, m.executorRunTime / 1e3,
          m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead)
      synchronized(tasks += rec)
    }

  def jobsIn(s: Double, e: Double): Seq[JobRec] =
    synchronized(jobs.toList).filter(j => j.start >= s && j.start < e)

  def tasksIn(s: Double, e: Double): Seq[TaskRec] =
    synchronized(tasks.toList).filter(t => t.launch >= s && t.launch < e)

  def allJobs: Seq[JobRec] = synchronized(jobs.toList)
}

/** Listener aggregates over one interval (a crawl or a query pass). */
object Layer {
  /** Wall time inside [s, e) during which no task was running. */
  def driverOnly(l: JobListener, s: Double, e: Double): Double =
    (e - s) - Spans.unionLength(l.tasksIn(s, e)
      .map(t => (math.max(t.launch, s), math.min(t.finish, e))))

  /** Largest per-stage ratio of the slowest task to the median task,
    * over stages with at least four tasks. */
  def stageSkewMax(ts: Seq[TaskRec]): Double = {
    val ratios = ts.groupBy(_.stage).values.filter(_.size >= 4).map { st =>
      val d = st.map(t => t.finish - t.launch)
      val med = Stats.median(d)
      if (med > 0) d.max / med else 1.0
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}
