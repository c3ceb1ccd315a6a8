package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** In-memory span recorder for the traced run. A span is (id, parent,
  * name, start, end, run id); spans nest by call order on the single
  * benchmark thread and are written out once, when the run ends. With
  * tracing off [[span]] is a plain call. */
final class Trace(val runId: String, val enabled: Boolean) {
  import Trace.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        open = open.tail
        done += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  /** Self time of every span: its duration minus the time its children
    * cover (children run sequentially on this thread, so they never
    * overlap). */
  def selfSeconds: Map[Int, Double] = {
    val childSum = done.groupBy(_.parent).view
      .mapValues(_.map(_.seconds).sum).toMap
    done.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }

  /** Summed self time per span name. */
  def selfByName: Map[String, Double] = {
    val self = selfSeconds
    done.groupBy(_.name).view.mapValues(_.map(s => self(s.id)).sum).toMap
  }

  def toJson: String = spans.map { s =>
    s"""{"run":${graft.Json.quote(runId)},"id":${s.id},"parent":${s.parent},""" +
      s""""name":${graft.Json.quote(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** Engine counters from a listener the benchmark registers for the
  * traced run only, guarded by its own lock. Read them with [[snapshot]],
  * which first drains the listener bus. */
final class EngineCounters extends SparkListener {
  private var jobs = 0L
  private var tasks = 0L
  private var busyMs = 0L
  private var cpuNs = 0L
  private var waitMs = 0L
  private var shuffleRead = 0L
  private var shuffleWrite = 0L
  private var spill = 0L
  private var gcMs = 0L
  private var inputBytes = 0L
  private var inputRows = 0L
  private val stageSubmitted = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitted(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    stageSubmitted.get(e.stageId).foreach(s =>
      waitMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      busyMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      inputRows += m.inputMetrics.recordsRead
    }
  }

  def snapshot(sc: SparkContext): Map[String, Double] = {
    org.apache.spark.ListenerBusDrain.drain(sc)
    synchronized {
      Map(
        "spark.jobs" -> jobs.toDouble, "spark.tasks" -> tasks.toDouble,
        "spark.task_busy_s" -> busyMs / 1e3, "spark.task_cpu_s" -> cpuNs / 1e9,
        "spark.task_wait_s" -> waitMs / 1e3,
        "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
        "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
        "spark.spill_bytes" -> spill.toDouble, "spark.gc_s" -> gcMs / 1e3,
        "input_bytes" -> inputBytes.toDouble, "input_rows" -> inputRows.toDouble)
    }
  }
}

object EngineCounters {
  /** Counter growth between two snapshots. */
  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
