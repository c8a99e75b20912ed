package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed region around a call into a layer. Times are epoch
  * milliseconds with sub-millisecond digits, on the same clock as the
  * Spark listener events, so jobs can be attributed by window.
  */
final case class Span(id: Int, name: String, parent: Int, request: String, start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000.0
  /** Listener times are whole milliseconds, so the window is widened to them. */
  def covers(t: Double): Boolean = t >= math.floor(start) && t <= math.ceil(end)
}

/** Times spans. With `record` off it only times, so the untraced run pays
  * two clock reads per span and keeps nothing.
  */
final class Tracer(record: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private var nextId = 0
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty

  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Runs `body` as span `name`; returns its result and the span. */
  def span[A](name: String, request: String, parent: Int = -1)(body: Int => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val start = now()
    val out = body(id)
    val s = Span(id, name, parent, request, start, now())
    if (record) spans += s
    (out, s)
  }
}

final case class JobRec(id: Int, start: Double, end: Double, stageNames: Seq[String], sqlExec: Option[Long]) {
  def seconds: Double = (end - start) / 1000.0
}

final case class StageRec(
    id: Int, name: String, tasks: Int, submitted: Double,
    runS: Double, cpuS: Double, inputBytes: Long, inputRecords: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long)

final case class SqlExecRec(id: Long, start: Double, end: Double, write: Boolean) {
  def seconds: Double = (end - start) / 1000.0
}

/** Records every job, completed stage and SQL execution the scheduler
  * reports. Registered only on traced runs.
  */
final class JobRecorder extends SparkListener {
  /** While off, every callback returns at once. */
  @volatile var enabled = false
  private val jobStarts = scala.collection.mutable.Map.empty[Int, SparkListenerJobStart]
  private val sqlStarts = scala.collection.mutable.Map.empty[Long, SparkListenerSQLExecutionStart]
  val jobs: ArrayBuffer[JobRec] = ArrayBuffer.empty
  val stages: ArrayBuffer[StageRec] = ArrayBuffer.empty
  val sqlExecs: ArrayBuffer[SqlExecRec] = ArrayBuffer.empty

  /** Events recorded so far, to tell when the listener bus has caught up. */
  def size: Int = synchronized(jobStarts.size + jobs.size + stages.size + sqlExecs.size)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized { jobStarts(e.jobId) = e }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
    jobStarts.remove(e.jobId).foreach { s =>
      val sqlExec = Option(s.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs += JobRec(e.jobId, s.time.toDouble, e.time.toDouble, s.stageInfos.map(_.name), sqlExec)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += StageRec(
      i.stageId, i.name, i.numTasks, i.submissionTime.getOrElse(0L).toDouble,
      m.executorRunTime / 1000.0, m.executorCpuTime / 1e9,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled + m.memoryBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlStarts(s.executionId) = s }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      sqlStarts.remove(x.executionId).foreach { s =>
        sqlExecs += SqlExecRec(s.executionId, s.time.toDouble, x.time.toDouble,
          s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"))
      }
    }
    case _ => ()
  }

  def jobsIn(windows: Seq[Span]): Seq[JobRec] = synchronized(jobs.filter(j => windows.exists(_.covers(j.start))).toSeq)
  def stagesIn(windows: Seq[Span]): Seq[StageRec] = synchronized(stages.filter(s => windows.exists(_.covers(s.submitted))).toSeq)
}

/** JVM-wide garbage-collection time and heap peak. */
object JvmMeter {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
