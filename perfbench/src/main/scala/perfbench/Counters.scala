package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Exchange, join and scan counts of one executed physical plan. */
final case class PlanShape(exchanges: Int, smj: Int, bhj: Int, scans: Int) {
  def +(o: PlanShape): PlanShape =
    PlanShape(exchanges + o.exchanges, smj + o.smj, bhj + o.bhj, scans + o.scans)
}

object PlanShape extends AdaptiveSparkPlanHelper {
  val zero: PlanShape = PlanShape(0, 0, 0, 0)

  /** Counts nodes of the final adaptive plan, subqueries included. */
  def of(plan: SparkPlan): PlanShape = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    PlanShape(
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      nodes.count(p => p.isInstanceOf[FileSourceScanExec] || p.isInstanceOf[BatchScanExec]))
  }
}

final case class StageRec(
    endMs: Long, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, input: Long,
    outBytes: Long, outRecords: Long, taskMs: Seq[Long])

final case class BatchRec(atMs: Long, inputRows: Long, triggerMs: Long)

/** Everything Spark reports that the benchmark aggregates per pass:
  * jobs, stages with their task metrics, streaming progress and the
  * shape of each executed plan. Fed by listeners on the live bus, read
  * after [[drain]].
  */
final class Counters(spark: SparkSession) {
  val jobStart = scala.collection.concurrent.TrieMap.empty[Int, Long]
  val jobEnd = scala.collection.concurrent.TrieMap.empty[Int, Long]
  val stages = ArrayBuffer.empty[StageRec]
  val batches = ArrayBuffer.empty[BatchRec]
  val plans = ArrayBuffer.empty[PlanShape]
  private val taskMs = scala.collection.concurrent.TrieMap.empty[(Int, Int), ArrayBuffer[Long]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart(e.jobId) = e.time
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnd(e.jobId) = e.time
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        ArrayBuffer.empty[Long]).synchronized {
        taskMs((e.stageId, e.stageAttemptId)) += e.taskInfo.duration
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val durs = taskMs.remove((si.stageId, si.attemptNumber())).map(_.toSeq).getOrElse(Nil)
      val rec =
        if (m == null) StageRec(si.completionTime.getOrElse(System.currentTimeMillis()),
          si.numTasks, 0, 0, 0, 0, 0, 0, 0, 0, 0, durs)
        else StageRec(si.completionTime.getOrElse(System.currentTimeMillis()), si.numTasks,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled + m.memoryBytesSpilled, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten, durs)
      stages.synchronized { stages += rec }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      batches.synchronized { batches += BatchRec(at, p.numInputRows, trig) }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val shape = PlanShape.of(qe.executedPlan)
      plans.synchronized { plans += shape }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Starts listening; the benchmark listens only during traced passes.
    * Plans are reported when the listener handles them, so the bus is
    * drained first and every plan collected until [[detach]] belongs to
    * the pass.
    */
  def attach(): Unit = {
    drain()
    plans.synchronized { plans.clear() }
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Jobs as (startMs, endMs) whose start falls in [t0, t1]. */
  def jobsIn(t0: Long, t1: Long): Seq[(Long, Long)] =
    jobStart.toSeq.collect { case (id, s) if s >= t0 && s <= t1 =>
      (s, jobEnd.getOrElse(id, t1))
    }.sortBy(_._1)

  def stagesIn(t0: Long, t1: Long): Seq[StageRec] =
    stages.synchronized { stages.filter(s => s.endMs >= t0 && s.endMs <= t1).toSeq }

  def batchesIn(t0: Long, t1: Long): Seq[BatchRec] =
    batches.synchronized { batches.filter(b => b.atMs >= t0 && b.atMs <= t1).toSeq }

  /** Shapes of every plan executed since [[attach]], summed. */
  def planTotal: PlanShape =
    plans.synchronized { plans.foldLeft(PlanShape.zero)(_ + _) }
}
