package spatialbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span recorder. A span has a name, start, end, parent and the
  * id of the op it belongs to; nothing is written until [[write]]. */
final class Trace {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private val stack = mutable.Stack.empty[Int]

  /** Runs `body` (given the span's id) as a span under the innermost open
    * span. */
  def span[T](name: String, op: Int)(body: Int => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      stack.pop()
      spans += Span(id, parent, op, name, t0, System.nanoTime())
    }
  }

  /** Adds a finished span (listener jobs and stages arrive this way). */
  def add(name: String, op: Int, parent: Int, startNs: Long, endNs: Long): Int = {
    val id = nextId; nextId += 1
    spans += Span(id, parent, op, name, startNs, endNs)
    id
  }

  /** Self time per layer: a span's duration minus the part of its interval
    * its children cover, summed by layer (the name up to the first '.'). */
  def selfTimeByLayer: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.toSeq.groupMapReduce(_.name.takeWhile(_ != '.')) { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
      (s.endNs - s.startNs - Trace.unionLength(kids.toSeq)) / 1e9
    }(_ + _)
  }

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      w.println(Json.render(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        startNs: Long, endNs: Long)

  /** Length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(t => t._2 > t._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-op Spark totals, gathered by a listener from the jobs that ran under
  * the op's job group. */
final case class SparkTotals(jobs: Seq[(Int, Long, Long)], stages: Seq[(Int, Int, Long, Long)],
                             taskCpuS: Double, gcS: Double, shuffleWriteMb: Double,
                             shuffleReadMb: Double, fetchWaitS: Double, spillMb: Double,
                             recordsRead: Long, stragglerRatio: Double)

/** Listener the traced run registers. Event times are wall-clock ms, so
  * they are mapped to the nanoTime axis of [[Trace]] by a fixed offset. */
final class OpListener extends SparkListener {
  private final class StageAcc(val id: Int) {
    var cpuNs = 0L; var gcMs = 0L; var shW = 0L; var shR = 0L
    var fetchMs = 0L; var spill = 0L; var records = 0L
    var start = 0L; var end = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  private val groupOfJob = mutable.Map.empty[Int, String]
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val jobTimes = mutable.Map.empty[String, mutable.ArrayBuffer[(Int, Long, Long)]]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stagesByGroup = mutable.Map.empty[String, mutable.LinkedHashMap[Int, StageAcc]]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    if (g != null) {
      groupOfJob(e.jobId) = g
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach { s =>
        groupOfStage(s) = g
        if (!jobOfStage.contains(s)) jobOfStage(s) = e.jobId
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    groupOfJob.remove(e.jobId).foreach { g =>
      jobTimes.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += ((e.jobId, jobStartMs(e.jobId), e.time))
    }
  }

  private def acc(stage: Int): Option[StageAcc] =
    groupOfStage.get(stage).map { g =>
      stagesByGroup.getOrElseUpdate(g, mutable.LinkedHashMap.empty)
        .getOrElseUpdate(stage, new StageAcc(stage))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc(e.stageId).foreach { a =>
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.records += m.inputMetrics.recordsRead
      }
      a.taskMs += e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    acc(i.stageId).foreach { a =>
      a.start = i.submissionTime.getOrElse(0L); a.end = i.completionTime.getOrElse(0L)
    }
  }

  /** Totals of a job group; job and stage intervals as (job, start, end)
    * and (stage, job, start, end) on the nanoTime axis. */
  def totals(g: String, msToNs: Long => Long): SparkTotals = synchronized {
    val st = stagesByGroup.getOrElse(g, mutable.LinkedHashMap.empty).values.toSeq
    val longest = st.sortBy(a => -(a.end - a.start)).headOption
    val straggler = longest.filter(_.taskMs.nonEmpty).map { a =>
      val s = a.taskMs.sorted
      val med = math.max(1L, s(s.length / 2))
      s.last.toDouble / med
    }.getOrElse(1.0)
    val mb = 1024.0 * 1024.0
    val jobs = jobTimes.getOrElse(g, mutable.ArrayBuffer.empty).toSeq
    SparkTotals(
      jobs = jobs.map { case (j, s, e) => (j, msToNs(s), msToNs(e)) },
      stages = st.map(a => (a.id, jobOfStage.getOrElse(a.id, -1), msToNs(a.start), msToNs(a.end))),
      taskCpuS = st.map(_.cpuNs).sum / 1e9, gcS = st.map(_.gcMs).sum / 1e3,
      shuffleWriteMb = st.map(_.shW).sum / mb, shuffleReadMb = st.map(_.shR).sum / mb,
      fetchWaitS = st.map(_.fetchMs).sum / 1e3, spillMb = st.map(_.spill).sum / mb,
      recordsRead = st.map(_.records).sum, stragglerRatio = straggler)
  }
}
