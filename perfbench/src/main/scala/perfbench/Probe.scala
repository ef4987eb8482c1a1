package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One file scan of an executed plan: root paths and the scan's own
  * operator metrics (rows produced, bytes of files read). */
final case class Scan(paths: Seq[String], rows: Long, bytes: Long)

/** What one executed query did, read off its `QueryExecution`: the
  * action name, Catalyst phase times, the path it wrote and the scans. */
final case class QeInfo(
    func: String, phases: Map[String, Double], writePath: Option[String],
    writeRows: Long, writeBytes: Long, writeFiles: Long, scans: Seq[Scan],
    failed: Boolean)

/** One Spark SQL execution seen while tracing a call. */
final case class Exec(id: Long, root: Long, startMs: Long, var endMs: Long,
    description: String, var qe: Option[QeInfo])

/** Totals of everything the listener saw during one call. */
final class CallStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  val jobStart = mutable.Map.empty[Int, Long]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
  val blocks = mutable.Map.empty[String, Long]
  var blockBytes = 0L; var blockPeak = 0L
  val execs = mutable.LinkedHashMap.empty[Long, Exec]
}

/** The benchmark's own instrumentation: a `SparkListener` for jobs,
  * stages, task metrics and storage blocks, and (when tracing) a
  * `QueryExecutionListener` for per-query plan phases and operator
  * metrics.
  *
  * Both listeners sit on the same shared listener-bus queue, which
  * delivers each event to its listeners in registration order on one
  * thread. The query-execution listener is registered first, so for
  * every execution end it hands its `QeInfo` to [[pending]] just before
  * this listener sees the same end event and files it under the
  * execution id — `QueryExecution.id` is not the SQL execution id. */
final class Probe extends SparkListener {
  private var cur: CallStats = null
  private var tracing = false
  private var pending: Option[QeInfo] = None

  def begin(trace: Boolean): Unit = synchronized {
    cur = new CallStats; tracing = trace; pending = None
  }
  def end(): CallStats = synchronized { val c = cur; cur = null; c }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (cur != null) { cur.jobs += 1; cur.jobStart(e.jobId) = e.time }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (cur != null) cur.jobStart.remove(e.jobId)
      .foreach(s => cur.jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { if (cur != null) cur.stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (cur != null && m != null) {
      cur.tasks += 1
      cur.taskRunMs += m.executorRunTime
      cur.taskCpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cur.spillBytes += m.diskBytesSpilled
    }
  }
  /** Storage memory held by blocks (persisted RDD partitions and
    * broadcast pieces) that were stored during the call. A broadcast
    * piece counts until the call ends: the context cleaner drops it
    * whenever a garbage collection happens to find its handle, which
    * would make the peak depend on GC timing. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val i = e.blockUpdatedInfo
      if (cur != null && (i.storageLevel.isValid || !i.blockId.isBroadcast)) {
        val id = i.blockId.name
        val before = cur.blocks.getOrElse(id, 0L)
        val after = if (i.storageLevel.isValid) i.memSize else 0L
        if (after > 0) cur.blocks(id) = after else cur.blocks.remove(id)
        cur.blockBytes += after - before
        cur.blockPeak = math.max(cur.blockPeak, cur.blockBytes)
      }
    }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    if (cur != null && tracing) e match {
      case s: SparkListenerSQLExecutionStart =>
        cur.execs(s.executionId) = Exec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.time, -1L,
          s.description, None)
      case s: SparkListenerSQLExecutionEnd =>
        cur.execs.get(s.executionId).foreach { x =>
          x.endMs = s.time; x.qe = pending
        }
        pending = None
      case _ =>
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      hand(func, qe, failed = false)
    def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      hand(func, qe, failed = true)
  }

  private def hand(func: String, qe: QueryExecution, failed: Boolean): Unit = {
    val info = if (failed) QeInfo(func, Map.empty, None, 0, 0, 0, Nil, true)
      else Probe.describe(func, qe)
    synchronized { pending = Some(info) }
  }
}

object Probe {
  /** Every node of an executed plan, through adaptive query stages and
    * subqueries; reused exchanges are visited once, where they ran. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children ++ p.subqueries
    }
    Iterator(p) ++ kids.iterator.flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def describe(func: String, qe: QueryExecution): QeInfo = {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> (v.endTimeMs - v.startTimeMs) / 1000.0
    }
    val all = nodes(qe.executedPlan).toSeq
    val write = all.collectFirst { case w: DataWritingCommandExec => w }
    val path = write.flatMap(_.cmd match {
      case i: InsertIntoHadoopFsRelationCommand => Some(i.outputPath.toString)
      case _ => None
    })
    val scans = all.collect { case s: FileSourceScanExec =>
      Scan(s.relation.location.rootPaths.map(_.toString),
        metric(s, "numOutputRows"), metric(s, "filesSize"))
    }
    QeInfo(func, phases, path,
      write.map(metric(_, "numOutputRows")).getOrElse(0L),
      write.map(metric(_, "numOutputBytes")).getOrElse(0L),
      write.map(metric(_, "numFiles")).getOrElse(0L),
      scans, failed = false)
  }
}
