package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, PerfbenchCodegen}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spark work done in one interval, from task and job events. */
final case class Work(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
                      cpuNs: Long, gcMs: Long, scanBytes: Long, scanRows: Long,
                      shuffleReadBytes: Long, shuffleWriteBytes: Long,
                      spillBytes: Long, compiles: Long) {
  private def fields = productIterator.map(_.asInstanceOf[Long]).toSeq
  def -(o: Work): Work = Work.of(fields.zip(o.fields).map { case (a, b) => a - b })
  def +(o: Work): Work = Work.of(fields.zip(o.fields).map { case (a, b) => a + b })
}

object Work {
  val zero: Work = of(Seq.fill(12)(0L))
  private def of(v: Seq[Long]): Work =
    Work(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9), v(10), v(11))
}

/** Listener-backed counters. Every callback runs on the listener-bus
  * thread while the benchmark thread reads snapshots, so each counter is
  * atomic, and `snapshot` drains the bus first: a snapshot taken between
  * two phases holds exactly the events of the work before it. */
final class Recorder(spark: SparkSession, val spans: Spans) extends SparkListener {
  private val c = Array.fill(11)(new AtomicLong)
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c(0).incrementAndGet()
    if (spans.enabled) jobStarts.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = jobStarts.remove(e.jobId)
    if (start != null) spans.addJob(start.toDouble, e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c(1).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(2).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(3).addAndGet(m.executorRunTime)
      c(4).addAndGet(m.executorCpuTime)
      c(5).addAndGet(m.jvmGCTime)
      c(6).addAndGet(m.inputMetrics.bytesRead)
      c(7).addAndGet(m.inputMetrics.recordsRead)
      c(8).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(9).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(10).addAndGet(m.diskBytesSpilled)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(this)
  spark.streams.addListener(streamListener)

  /** Drain the bus, then read every counter. */
  def snapshot(): Work = {
    PerfbenchBus.drain(spark)
    val v = c.map(_.get)
    Work(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9), v(10),
      PerfbenchCodegen.compiles)
  }

  /** Progress events received so far, in arrival order. */
  def drainProgress(): Seq[StreamingQueryProgress] = {
    PerfbenchBus.drain(spark)
    Iterator.continually(progress.poll()).takeWhile(_ != null).toSeq
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streamListener)
  }
}

object Recorder {
  /** Bytes held by cached and checkpointed RDD blocks right now. */
  def blockBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def meanCompileMs: Double = PerfbenchCodegen.meanCompileMs

  def progressDurations(p: StreamingQueryProgress): Map[String, Long] =
    p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
}
