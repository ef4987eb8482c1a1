package org.apache.spark

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Minimal bridge to `private[spark]` scheduler internals (same pattern
  * as `org.apache.spark.sql.GraftSqlBridge`): listener events are
  * delivered asynchronously, so draining the bus at a measurement
  * boundary is the only way to attribute stage metrics to the work that
  * produced them. [[StageLog]] is its one caller. */
object GraftSparkBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}

/** One completed stage, as the Spark UI's stage page would show it:
  * wall ms (submission → completion), executor-run ms (Σ task run time),
  * GC ms, file input bytes/records, shuffle read/write bytes, task count
  * and the first line of the callsite. */
final case class StageRow(id: Int, wallMs: Long, runMs: Long, gcMs: Long,
    inBytes: Long, inRows: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, tasks: Int, site: String)

/** The harness's one `SparkListener` ([[graft.Bench]]'s per-query
  * shuffle volume, [[graft.ProfileQuery]]'s stage table): records a
  * [[StageRow]] per completed stage. [[take]] drains the bus and hands
  * back every row recorded since the previous `take`, so a caller opens
  * a measured window with one `take()` (discarding earlier stages) and
  * closes it with another. */
final class StageLog private (sc: SparkContext) extends SparkListener {
  private val rows = ArrayBuffer.empty[StageRow]

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) {
      val wall = (for {
        s <- si.submissionTime; c <- si.completionTime
      } yield c - s).getOrElse(-1L)
      val row = StageRow(si.stageId, wall, m.executorRunTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, si.numTasks,
        si.details.linesIterator.take(1).mkString)
      rows.synchronized { rows += row }
    }
  }

  /** Every stage completed since the previous call, in completion order. */
  def take(): Seq[StageRow] = {
    GraftSparkBridge.drainListenerBus(sc)
    rows.synchronized {
      val out = rows.toList
      rows.clear()
      out
    }
  }
}

object StageLog {
  /** Registers a new log on `sc`; it sees only stages completed from now. */
  def attach(sc: SparkContext): StageLog = {
    val log = new StageLog(sc)
    sc.addSparkListener(log)
    log
  }
}
