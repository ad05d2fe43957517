package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.federation.exec.RemoteScanExec
import graft.federation.plans.FederatedPlan

/** Reads the program from outside through Spark's public hooks: the
  * QueryExecution that actually ran (a [[QueryExecutionListener]], so the
  * plan, tracker and `RemoteScanExec` SQLMetrics are those of the executed
  * write, AQE stages included), task metrics (a [[SparkListener]]) and
  * streaming progress (a [[StreamingQueryListener]]).
  *
  * Listener events arrive asynchronously; [[awaitNoop]] blocks until the
  * noop write just issued has been reported, [[flush]] until everything
  * issued before it has. Task-end events share the listener queue with
  * the execution-end event, so they have arrived by then too. */
final class Probe(spark: SparkSession) {
  private val lock = new Object
  private val noopQes = mutable.ArrayBuffer.empty[QueryExecution]
  private val reportedQes = mutable.ArrayBuffer.empty[QueryExecution]

  // task metrics accumulated since the last drain
  private var shuffleWrite = 0L
  private var spill = 0L
  private var inputRows = 0L
  // streaming progress since the last drain
  private val progress = mutable.LinkedHashMap.empty[String, Long]
  private var microbatches = 0L
  private var streamsStarted = 0
  private var streamsEnded = 0

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = reported(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = reported(qe)
    private def reported(qe: QueryExecution): Unit = lock.synchronized {
      reportedQes += qe
      if (Probe.isNoopWrite(qe)) noopQes += qe
      lock.notifyAll()
    }
  }

  private val taskListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) lock.synchronized {
        val m = e.taskMetrics
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        inputRows += m.inputMetrics.recordsRead
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = lock.synchronized { streamsStarted += 1 }
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        microbatches += 1
        e.progress.durationMs.forEach { (k, v) =>
          progress.update(k, progress.getOrElse(k, 0L) + v.longValue())
        }
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      lock.synchronized { streamsEnded += 1; lock.notifyAll() }
  }

  def install(): Unit = {
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(taskListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(taskListener)
    spark.streams.removeListener(streamListener)
  }

  def noopCount: Int = lock.synchronized(noopQes.size)

  /** Waits until `expected` noop writes have been reported (and every
    * streaming query started so far has terminated), then returns the
    * latest noop QueryExecution. */
  def awaitNoop(expected: Int, timeoutMs: Long = 30000L): Option[QueryExecution] =
    lock.synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      while ((noopQes.size < expected || streamsEnded < streamsStarted) &&
          System.currentTimeMillis() < deadline)
        lock.wait(math.max(1L, deadline - System.currentTimeMillis()))
      if (noopQes.size >= expected) Some(noopQes(expected - 1)) else None
    }

  /** An id above every QueryExecution created so far (ids grow with
    * creation), taken by creating one cheap unexecuted frame. */
  def nextId(): Long = spark.range(1).queryExecution.id

  /** Issues a one-row noop write and waits until it has been reported:
    * every execution that ended before it has been reported too. Returns
    * the marker's id, above the id of everything issued before it. */
  def flush(): Long = {
    val before = noopCount
    spark.range(1).write.format("noop").mode("overwrite").save()
    awaitNoop(before + 1).map(_.id).getOrElse(Long.MaxValue)
  }

  /** Executions reported so far whose id lies strictly between `from`
    * and `until`: what one operation ran, when `from` was taken just
    * before it started and `until` is the [[flush]] after it ended.
    * Reported executions are released once read. */
  def reportedBetween(from: Long, until: Long): Seq[QueryExecution] =
    lock.synchronized {
      val hit = reportedQes.filter(qe => qe.id > from && qe.id < until).toSeq
      reportedQes.clear(); noopQes.clear()
      hit
    }

  /** Task and streaming figures accumulated since the previous drain. */
  def drain(): Probe.Drained = lock.synchronized {
    val d = Probe.Drained(shuffleWrite, spill, inputRows,
      progress.toMap, microbatches)
    shuffleWrite = 0; spill = 0; inputRows = 0
    progress.clear(); microbatches = 0
    d
  }
}

object Probe extends AdaptiveSparkPlanHelper {

  final case class Drained(shuffleWriteBytes: Long, spillBytes: Long,
      inputRows: Long, microbatchMs: Map[String, Long], microbatches: Long)

  /** A write into Spark's `noop` sink: the benchmark's timed sink. */
  def isNoopWrite(qe: QueryExecution): Boolean =
    scala.util.Try(qe.analyzed).toOption.exists(isNoopWrite)

  def isNoopWrite(plan: LogicalPlan): Boolean = plan.exists {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => r.table.name() == "noop-table"
      case _ => false
    }
    case _ => false
  }

  /** Every `RemoteScanExec` of an executed plan: through AQE's final plan,
    * its query stages and subqueries; a reused node is counted once. */
  def remoteScans(plan: SparkPlan): Seq[RemoteScanExec] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[RemoteScanExec, java.lang.Boolean]())
    collectWithSubqueries(plan) { case r: RemoteScanExec => r }
      .filter(seen.add)
  }

  /** The federated fragments of an optimized plan. */
  def fragments(plan: LogicalPlan): Seq[FederatedPlan] =
    plan.collectWithSubqueries { case f: FederatedPlan => f }

  /** Rows delivered by all remote scans of a QueryExecution. */
  def shippedRows(qe: QueryExecution): Long =
    remoteScans(qe.executedPlan).map(metric(_, "numOutputRows")).sum

  def metric(r: RemoteScanExec, name: String): Long =
    r.metrics.get(name).map(_.value).getOrElse(0L)

  /** Executor kind of a remote scan, as the per-engine metric suffix. */
  def engineKind(e: graft.federation.sql.SqlExecutor): String = e match {
    case _: graft.federation.jdbc.JdbcSqlExecutor => "derby"
    case _: graft.federation.duckdb.DuckDbSqlExecutor => "duckdb"
    case _ => "mock"
  }
}
