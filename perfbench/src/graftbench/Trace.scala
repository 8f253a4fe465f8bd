package graftbench

import scala.collection.mutable
import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters gathered from outside graft, through Spark's public
  * listener interfaces only: a `SparkListener` for the scheduler (jobs,
  * stages, tasks and their metrics), a `QueryExecutionListener` for the
  * Catalyst phases and the operators' SQL metrics, and a
  * `StreamingQueryListener` for micro-batches. Events are kept in memory
  * and summed by [[snapshot]] once the listener bus has drained. */
final class Trace(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext

  private final case class Job(start: Long, var end: Long, checkpoint: Boolean)
  private val jobs = mutable.Map.empty[Int, Job]
  private var stages = 0L
  private var tasks = 0L
  private var taskS, runS, gcS, fetchWaitS = 0.0
  private var shuffleW, shuffleR, spill, inBytes, inRows = 0L
  private var peakMem = 0L
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private var analysisS, optimizationS, planningS = 0.0
  private var planNodes = 0L
  private val opS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var writeS = 0.0
  private var writeBytes = 0L

  private var batches = 0L
  private var batchS = 0.0
  private val stateRows = mutable.Map.empty[java.util.UUID, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      // the job whose call site is in Checkpoints is the truncation's
      // materialization job
      val ckpt = e.stageInfos.exists(_.name.contains("Checkpoints.scala"))
      jobs(e.jobId) = Job(e.time, e.time, ckpt)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      tasks += 1
      val dur = e.taskInfo.duration
      taskS += dur / 1e3
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += dur
      val m = e.taskMetrics
      if (m != null) {
        runS += m.executorRunTime / 1e3
        gcS += m.jvmGCTime / 1e3
        fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
        shuffleW += m.shuffleWriteMetrics.bytesWritten
        shuffleR += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        inBytes += m.inputMetrics.bytesRead
        inRows += m.inputMetrics.recordsRead
        peakMem = math.max(peakMem, m.peakExecutionMemory)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = Trace.this.synchronized {
      val ph = qe.tracker.phases
      def phase(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      analysisS += phase("analysis")
      optimizationS += phase("optimization")
      planningS += phase("planning")
      val nodes = Trace.walk(qe.executedPlan)
      planNodes += nodes.size
      nodes.foreach { n =>
        val secs = n.metrics.values.map { m =>
          m.metricType match {
            case "timing" => m.value / 1e3
            case "nsTiming" => m.value / 1e9
            case _ => 0.0
          }
        }.sum
        Trace.category(n.nodeName).foreach(c => opS(c) += secs)
        if (n.nodeName.contains("Execute") || n.nodeName.contains("Insert"))
          n.metrics.get("numOutputBytes").foreach(m => writeBytes += m.value)
      }
      if (qe.analyzed.nodeName.contains("InsertInto") ||
          qe.analyzed.nodeName.contains("AsSelect")) writeS += durationNs / 1e9
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Trace.this.synchronized {
        batches += 1
        batchS += e.progress.batchDuration / 1e3
        stateRows(e.progress.id) = e.progress.stateOperators.map(_.numRowsTotal).sum
      }
  }

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    Bus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Seconds spent in, and bytes put out by, the write commands seen so far. */
  def writes: (Double, Long) = { Bus.drain(sc); synchronized((writeS, writeBytes)) }

  /** Seconds of jobs that started inside [t0, t1] (epoch ms), clipped to
    * the window: the eager jobs a query-building call ran. */
  def jobSecondsIn(t0: Long, t1: Long): Double = {
    Bus.drain(sc)
    synchronized {
      jobs.values.filter(j => j.start >= t0 && j.start <= t1)
        .map(j => (math.min(j.end, t1) - j.start) / 1e3).sum
    }
  }

  /** Totals since [[start]]; `wallS` is the traced pass's wall time. */
  def snapshot(wallS: Double): Map[String, Double] = {
    Bus.drain(sc)
    synchronized {
      def med(xs: Seq[Double]) = Stats.median(xs)
      val skew = stageTasks.values.filter(_.size >= 2).map { ds =>
        val m = med(ds.map(_.toDouble).toSeq)
        if (m > 0) ds.max / m else 1.0
      }.toSeq
      Map(
        "spark.analysis_s" -> analysisS,
        "spark.optimization_s" -> optimizationS,
        "spark.planning_s" -> planningS,
        "spark.plan_nodes" -> planNodes.toDouble,
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> tasks.toDouble,
        "spark.sched_overhead_s" -> math.max(0.0, taskS - runS),
        "spark.task_s" -> taskS,
        "spark.busy_frac" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0),
        "spark.stage_skew" -> (if (skew.isEmpty) 1.0 else med(skew)),
        "spark.shuffle_write_bytes" -> shuffleW.toDouble,
        "spark.shuffle_read_bytes" -> shuffleR.toDouble,
        "spark.fetch_wait_s" -> fetchWaitS,
        "spark.spill_bytes" -> spill.toDouble,
        "spark.peak_exec_mem_mb" -> peakMem / 1048576.0,
        "spark.gc_s" -> gcS,
        "spark.scan_bytes" -> inBytes.toDouble,
        "spark.scan_rows" -> inRows.toDouble,
        "spark.op.scan_s" -> opS("scan"),
        "spark.op.exchange_s" -> opS("exchange"),
        "spark.op.agg_s" -> opS("agg"),
        "spark.op.join_s" -> opS("join"),
        "spark.op.sort_s" -> opS("sort"),
        "checkpoints.truncations" -> jobs.values.count(_.checkpoint).toDouble,
        "streaming.batches" -> batches.toDouble,
        "streaming.batch_s" -> batchS,
        "streaming.state_rows" -> stateRows.values.sum.toDouble)
    }
  }
}

object Trace {
  /** Every physical node of an executed plan, through AQE wrappers, query
    * stages and subqueries. */
  def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => q +: walk(q.plan)
    case other =>
      other +: (other.children ++ other.subqueries).flatMap(walk)
  }

  /** Operator family of a physical node, by its name. */
  def category(node: String): Option[String] =
    if (node.contains("Scan")) Some("scan")
    else if (node.contains("Exchange")) Some("exchange")
    else if (node.contains("Join")) Some("join")
    else if (node.contains("Aggregate")) Some("agg")
    else if (node.contains("Sort")) Some("sort")
    else None
}
