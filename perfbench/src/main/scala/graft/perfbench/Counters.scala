package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Scheduler and exchange work done between two points of a run. */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    spillBytes: Long = 0, inputBytes: Long = 0, outputBytes: Long = 0,
    peakExecMemBytes: Long = 0,
    /** time, within the measured interval, during which a job was active */
    jobBusySec: Double = 0,
    /** executor run time summed over tasks: the compute the tasks did */
    taskRunSec: Double = 0) {

  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes, spillBytes + o.spillBytes,
    inputBytes + o.inputBytes, outputBytes + o.outputBytes,
    math.max(peakExecMemBytes, o.peakExecMemBytes), jobBusySec + o.jobBusySec,
    taskRunSec + o.taskRunSec)
}

/** One `SparkListener`, registered by the benchmark (never by the engine),
  * that counts jobs, stages, tasks and task I/O. [[measure]] charges the
  * work done inside a block to that block.
  */
final class Counters(sc: SparkContext) extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var shuffleW, shuffleR, spill, input, output, taskRunMs = 0L
  private var peakMem = 0L
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val jobSpans = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      shuffleR += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      output += m.outputMetrics.bytesWritten
      taskRunMs += m.executorRunTime
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }

  private def snapshot(): Work = synchronized {
    Work(jobs, stages, tasks, shuffleW, shuffleR, spill, input, output,
      taskRunSec = taskRunMs / 1000.0)
  }

  /** Runs `body` and returns its result with the work it caused. */
  def measure[A](body: => A): (A, Work) = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val before = snapshot()
    synchronized { peakMem = 0L }
    val t0 = System.currentTimeMillis()
    val a = body
    val t1 = System.currentTimeMillis()
    org.apache.spark.perfbench.Bus.drain(sc)
    val after = snapshot()
    val w = synchronized {
      val busy = busyMillis(t0, t1)
      Work(after.jobs - before.jobs, after.stages - before.stages,
        after.tasks - before.tasks,
        after.shuffleWriteBytes - before.shuffleWriteBytes,
        after.shuffleReadBytes - before.shuffleReadBytes,
        after.spillBytes - before.spillBytes,
        after.inputBytes - before.inputBytes,
        after.outputBytes - before.outputBytes, peakMem, busy / 1000.0,
        after.taskRunSec - before.taskRunSec)
    }
    (a, w)
  }

  /** Length of the union of job spans clipped to [t0, t1]. */
  private def busyMillis(t0: Long, t1: Long): Long = {
    val clipped = jobSpans.iterator
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    jobSpans.clear()
    var total = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}
