package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerFlush
import org.apache.spark.scheduler._

/** Cumulative executor-side counters at one instant. Differences of
  * two snapshots attribute work to whatever ran between them: the
  * harness runs one action at a time, so nothing else is in flight.
  */
final case class Snap(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
    runMs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, inputBytes: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, runMs - o.runMs, gcMs - o.gcMs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, inputBytes - o.inputBytes)
  def cpuS: Double = cpuNs / 1e9
}

/** The benchmark's own SparkListener: task metrics summed since
  * start, plus every job's [start, end] wall interval so driver time
  * outside any job can be measured.
  */
final class Counters(sc: SparkContext) extends SparkListener {
  private var s = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  private val intervals = ArrayBuffer[(Long, Long)]()

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    s = s.copy(jobs = s.jobs + 1); jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => intervals += ((t0, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { s = s.copy(stages = s.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) s = Snap(s.jobs, s.stages, s.tasks + 1,
      s.cpuNs + m.executorCpuTime, s.runMs + m.executorRunTime,
      s.gcMs + m.jvmGCTime,
      s.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      s.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      s.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      s.inputBytes + m.inputMetrics.bytesRead)
  }

  /** Drains the listener bus first, so every finished task is in. */
  def snap(): Snap = { ListenerFlush.flush(sc); synchronized(s) }

  /** Milliseconds of [t0, t1] covered by at least one job. */
  def inJobsMs(t0: Long, t1: Long): Long = {
    ListenerFlush.flush(sc)
    val iv = synchronized(intervals.toList)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}

/** One traced region: a call into one layer, forced on its own. */
final case class Span(name: String, parent: Option[String], op: Int,
    startNs: Long, endNs: Long, work: Snap) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans stay in memory and are written out as JSON
  * once, when the run ends.
  */
final class Tracer(counters: Counters) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[String]
  var op = 0

  def span[T](name: String)(body: => T): T = {
    val w0 = counters.snap()
    val t0 = System.nanoTime()
    val parent = stack.headOption
    stack = name :: stack
    try body
    finally {
      stack = stack.tail
      val t1 = System.nanoTime()
      spans += Span(name, parent, op, t0, t1, counters.snap() - w0)
    }
  }

  def writeJson(path: String, extra: Map[String, Any]): Unit = {
    val rows = spans.map { s =>
      Map("name" -> s.name, "parent" -> s.parent.orNull, "op" -> s.op,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "jobs" -> s.work.jobs, "tasks" -> s.work.tasks,
        "cpu_s" -> s.work.cpuS, "input_bytes" -> s.work.inputBytes)
    }
    Json.write(path, extra + ("spans" -> rows.toSeq))
  }
}
