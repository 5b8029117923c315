package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read from outside the library: a SparkListener for task metrics
  * (always on, it feeds the end-to-end `cpu_s` and `peak_exec_mem_mb`), and,
  * when `traced`, a QueryExecutionListener that sums each action's planning
  * phases and the SQLMetrics of its executed plan by operator family, plus a
  * StreamingQueryListener for micro-batches. `take()` drains the listener
  * bus and returns the counters accumulated since the previous `take()`, so
  * each pass reads only its own.
  */
final class Meter(spark: SparkSession, traced: Boolean) {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var peakExecBytes = 0L
  // per-stage task durations, for the skew ratio of the worst stage
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def add(k: String, v: Double): Unit = synchronized { c(k) += v }

  private val tasks = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("queries.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("queries.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Meter.this.synchronized {
        c("queries.tasks") += 1
        c("cpu_s") += m.executorCpuTime / 1e9
        c("task.gc_s") += m.jvmGCTime / 1e3
        c("spill.bytes") += m.memoryBytesSpilled
        c("exchange.records") += m.shuffleWriteMetrics.recordsWritten
        c("exchange.bytes") += m.shuffleWriteMetrics.bytesWritten
        c("exchange.write_s") += m.shuffleWriteMetrics.writeTime / 1e9
        c("exchange.fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
        peakExecBytes = math.max(peakExecBytes, m.peakExecutionMemory)
        if (traced && e.taskInfo != null)
          stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            e.taskInfo.duration
      }
    }
  }

  private val plans = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      sums("queries.plan_s") = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs / 1e3).sum
      def metric(p: SparkPlan, name: String): Double =
        p.metrics.get(name).map(seconds).getOrElse(0.0)
      collectWithSubqueries(qe.executedPlan) { case p => p }.foreach { p =>
        val node = p.nodeName
        if (node.startsWith("Scan ") || node.contains("FileScan") ||
            node.startsWith("BatchScan")) {
          sums("scan.rows") += metric(p, "numOutputRows")
          sums("scan.bytes") += metric(p, "filesSize")
          sums("scan.time_s") += metric(p, "scanTime")
        }
        if (node == "Sort") sums("sort.time_s") += metric(p, "sortTime")
        if (node.endsWith("Aggregate")) sums("agg.time_s") += metric(p, "aggTime")
        if (node.endsWith("HashJoin")) sums("join.build_s") += metric(p, "buildTime")
        p match {
          case b: BroadcastExchangeExec =>
            sums("join.build_s") += metric(b, "buildTime")
            sums("broadcast.bytes") += metric(b, "dataSize")
          case _ =>
        }
      }
      Meter.this.synchronized { sums.foreach { case (k, v) => c(k) += v } }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      add("streaming.batches", 1)
      add("streaming.batch_s", e.progress.batchDuration / 1e3)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(tasks)
  if (traced) {
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  /** Counters since the previous call: sums, `peak_exec_mem_mb` (largest
    * per-task peak), and in traced runs `task.skew` (max/median task time in
    * the worst stage with at least two tasks).
    */
  def take(): Map[String, Double] = {
    org.apache.spark.BusDrain(spark.sparkContext)
    synchronized {
      val skew = stageTaskMs.values.filter(_.size >= 2).map { ds =>
        val s = ds.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
      }
      val out = c.toMap ++ Map(
        "peak_exec_mem_mb" -> peakExecBytes / 1048576.0,
        "task.skew" -> (if (skew.isEmpty) 1.0 else skew.max))
      c.clear(); stageTaskMs.clear(); peakExecBytes = 0L
      out
    }
  }

  /** A SQLMetric in seconds for timings, as-is for counts and sizes. */
  private def seconds(m: SQLMetric): Double = m.metricType match {
    case "timing"   => m.value / 1e3
    case "nsTiming" => m.value / 1e9
    case _          => m.value.toDouble
  }
}
