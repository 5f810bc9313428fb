package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerFlush
import org.apache.spark.scheduler._

/** The dev harnesses' one SparkListener (Bench, PhaseProfile,
  * OpsScaleBench): scheduler and task counters accumulated between two
  * [[QueryTrace.take]] calls. The harnesses run one action at a time,
  * so everything in a window belongs to the region between the calls.
  * `take` drains the listener bus first (ListenerFlush), so every
  * finished task is in the window; call it outside the timed region.
  */
final class QueryTrace private (sc: SparkContext) extends SparkListener {
  import QueryTrace._

  private var w = Window.empty
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    w = w.copy(jobs = w.jobs + 1); jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(t0 =>
      w = w.copy(jobSpans = w.jobSpans :+ ((t0, e.time))))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      w = w.copy(stages = w.stages :+ Stage(i.stageId, i.numTasks,
        (i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)) / 1e3,
        m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
        m.executorDeserializeTime / 1e3, i.name))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      w = w.copy(tasks = w.tasks + 1,
        runMs = w.runMs + m.executorRunTime,
        cpuNs = w.cpuNs + m.executorCpuTime,
        gcMs = w.gcMs + m.jvmGCTime,
        spillBytes = w.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        shuffleReadBytes = w.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = w.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        peakTaskMs = math.max(w.peakTaskMs, m.executorRunTime))
    }
  }

  /** Everything since the previous take; starts the next window. */
  def take(): Window = {
    ListenerFlush.flush(sc)
    synchronized { val out = w; w = Window.empty; out }
  }
}

object QueryTrace {

  def attach(sc: SparkContext): QueryTrace = {
    val t = new QueryTrace(sc)
    sc.addSparkListener(t)
    t
  }

  /** One completed stage (seconds; `wallS` is submission→completion). */
  final case class Stage(id: Int, numTasks: Int, wallS: Double, runS: Double,
      cpuS: Double, deserS: Double, name: String)

  /** The work of one window. `jobSpans` are the [start, end] epoch-ms
    * wall intervals of the jobs that ended in it.
    */
  final case class Window(jobs: Int, stages: Vector[Stage], tasks: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, spillBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, peakTaskMs: Long,
      jobSpans: Vector[(Long, Long)]) {

    /** Milliseconds covered by at least one job: scheduled work. The
      * rest of a region's wall is driver-only glue (AQE replanning,
      * broadcast collects, codegen of the next fragment).
      */
    def inJobsMs: Long = {
      var covered = 0L
      var end = Long.MinValue
      jobSpans.sortBy(_._1).foreach { case (a, b) =>
        if (a > end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      covered
    }
  }

  object Window {
    val empty: Window = Window(0, Vector.empty, 0L, 0L, 0L, 0L, 0L, 0L, 0L,
      0L, Vector.empty)
  }
}
