package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Cumulative Spark engine counters from listener events: jobs, stages,
  * task wall time in ms (sum and max), shuffle and spill bytes. Events
  * arrive asynchronously on the listener bus, so [[settled]] polls until
  * the counters stop moving. */
final class SparkTelemetry extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val taskMs = new AtomicLong
  val taskMsMax = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val d = e.taskInfo.duration
    taskMs.addAndGet(d)
    taskMsMax.accumulateAndGet(d, (a, b) => math.max(a, b))
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    ()
  }

  def snapshot: Vector[Long] = Vector(jobs.get, stages.get, taskMs.get,
    taskMsMax.get, shuffleRead.get, shuffleWrite.get, spill.get)

  /** Counter snapshot once two reads 30 ms apart agree (at most ~1 s). */
  def settled: Vector[Long] = {
    var prev = snapshot
    var i = 0
    var stable = false
    while (i < 30 && !stable) {
      Thread.sleep(30)
      val cur = snapshot
      stable = cur == prev
      prev = cur
      i += 1
    }
    prev
  }
}
