package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graftext.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.streaming.StreamingQueryProgress
import scala.collection.mutable

/** Where a query's warm time goes. Each query runs `runs` times in one
  * session and every sample's wall time is printed: the early samples
  * show the landing, codegen and JIT warm-up slope. The last sample is
  * the measured one. It runs in three timed steps — build the
  * DataFrame; force `executedPlan` (optimization, physical planning);
  * execute that same plan, so the SQL metrics belong to the timed run —
  * and one [[Listener]] reports, from that evaluation alone:
  *   - the build / plan / exec split;
  *   - the scheduler counts: jobs, stages, tasks;
  *   - the top stages by wall time, each with the label of the job that
  *     ran it (operators label their eager phases with
  *     `setJobDescription`), task time, shuffle read/write, spill and
  *     peak execution memory;
  *   - every operator of the final adaptive plan with its nonzero SQL
  *     metrics (the UI's SQL tab for a headless session);
  *   - the micro-batches of every stream the query ran.
  *
  * Usage: graft.tools.Probe <sfDir> <runs> <query ...>
  */
object Probe {

  /** One completed stage. `label` is the job description of the job
    * that ran it ("-" when unlabelled); `spill` is memory plus disk
    * spill; `peakMem` is the largest per-task peak execution memory. */
  final case class Stage(id: Int, label: String, name: String,
      wallMs: Long, taskMs: Long, tasks: Int, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, peakMem: Long)

  /** Everything the listener saw during one [[Listener.measure]]. */
  final case class Profile(jobs: Int, tasks: Int, stages: Seq[Stage],
      memSpilled: Long, diskSpilled: Long, peakTaskMem: Long,
      batches: Seq[String])

  /** Scheduler, task and micro-batch statistics of whatever runs on the
    * session between two listener-bus drains. Stream progress events
    * travel on the same bus, so one listener sees them too. */
  final class Listener extends SparkListener {
    private val labels = mutable.Map.empty[Int, String] // stage id -> job label
    private val peaks = mutable.Map.empty[Int, Long] // stage id -> max task peak
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private val batches = mutable.ArrayBuffer.empty[String]
    private var jobs = 0
    private var tasks = 0
    private var memSpilled = 0L
    private var diskSpilled = 0L

    /** Run `body` and return what it ran. The bus is drained before the
      * reset and again after `body`, so no event of an earlier query
      * leaks in and none of this one's arrives after the snapshot. */
    def measure[T](spark: SparkSession)(body: => T): (T, Profile) = {
      Bridge.drainListenerBus(spark)
      synchronized {
        labels.clear(); peaks.clear(); stages.clear(); batches.clear()
        jobs = 0; tasks = 0; memSpilled = 0L; diskSpilled = 0L
      }
      val out = body
      Bridge.drainListenerBus(spark)
      val profile = synchronized {
        Profile(jobs, tasks, stages.toSeq, memSpilled, diskSpilled,
          peaks.values.maxOption.getOrElse(0L), batches.toSeq)
      }
      (out, profile)
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      val label = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("-")
      j.stageIds.foreach(labels(_) = label)
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) {
        tasks += 1
        memSpilled += m.memoryBytesSpilled
        diskSpilled += m.diskBytesSpilled
        peaks(t.stageId) =
          math.max(peaks.getOrElse(t.stageId, 0L), m.peakExecutionMemory)
      }
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = s.stageInfo
        val m = i.taskMetrics
        stages += Stage(i.stageId, labels.getOrElse(i.stageId, "-"),
          i.name.takeWhile(_ != '\n'),
          (for (a <- i.completionTime; b <- i.submissionTime) yield a - b)
            .getOrElse(0L),
          m.executorRunTime, i.numTasks, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          peaks.getOrElse(i.stageId, 0L))
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => synchronized { batches += batchLine(p.progress) }
      case _ => ()
    }
  }

  object Listener {
    def attach(spark: SparkSession): Listener = {
      val l = new Listener
      spark.sparkContext.addSparkListener(l)
      l
    }
  }

  /** One micro-batch: its QueryProgress durations and state operators. */
  private def batchLine(p: StreamingQueryProgress): String = {
    def d(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(-1L)
    val states = p.stateOperators.map { so =>
      s"rows=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
        s"commitMs=${so.commitTimeMs} memUsed=${so.memoryUsedBytes}"
    }.mkString(" | ")
    f"batch=${p.batchId}%3d trigger=${d("triggerExecution")}%5d " +
      f"plan=${d("queryPlanning")}%5d addBatch=${d("addBatch")}%5d " +
      f"getBatch=${d("getBatch")}%4d latestOffset=${d("latestOffset")}%4d " +
      f"walCommit=${d("walCommit")}%4d commitOffsets=${d("commitOffsets")}%4d " +
      f"rows=${p.numInputRows}%7d  [$states]"
  }

  /** Wall milliseconds of the three steps of one evaluation. */
  final case class Split(buildMs: Double, planMs: Double, execMs: Double) {
    def sec: Double = (buildMs + planMs + execMs) / 1e3
  }

  /** Build the frame, force its physical plan, execute that plan. The
    * returned plan carries the SQL metrics of this execution. */
  def evaluate(build: => DataFrame): (Split, SparkPlan) = {
    def ms(from: Long): Double = (System.nanoTime() - from) / 1e6
    val t0 = System.nanoTime()
    val df = build
    val buildMs = ms(t0)
    val t1 = System.nanoTime()
    val plan = df.queryExecution.executedPlan
    val planMs = ms(t1)
    val t2 = System.nanoTime()
    plan.execute().count()
    (Split(buildMs, planMs, ms(t2)), plan)
  }

  /** Every operator with its nonzero SQL metrics, descending through
    * adaptive plans and query stages into the plan that actually ran. */
  private def walk(p: SparkPlan, depth: Int): Unit = {
    val metrics = p.metrics.toSeq.sortBy(_._1).collect {
      case (k, m) if m.value != 0 => s"$k=${m.value}"
    }.mkString(" ")
    println(("  " * depth) + p.nodeName + "  " + metrics)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
      case q: QueryStageExec => walk(q.plan, depth + 1)
      case _ => p.children.foreach(walk(_, depth + 1))
    }
    p.subqueries.foreach { sq =>
      println(("  " * (depth + 1)) + "SUBQUERY:")
      walk(sq, depth + 2)
    }
  }

  private def report(split: Split, p: Profile, plan: SparkPlan): Unit = {
    println(f"  split  build=${split.buildMs}%.1f ms  plan=${split.planMs}%.1f ms" +
      f"  exec=${split.execMs}%.1f ms")
    println(s"  sched  jobs=${p.jobs} stages=${p.stages.size} tasks=${p.tasks}")
    val top = p.stages.sortBy(-_.wallMs).take(25)
    println(s"  stages by wall (${top.size} of ${p.stages.size}):")
    println("     wall ms    task ms  tasks    shR KiB    shW KiB  spill KiB" +
      "  peak MiB  label | stage")
    top.foreach { s =>
      println(f"  ${s.wallMs}%10d ${s.taskMs}%10d ${s.tasks}%6d " +
        f"${s.shuffleRead / 1024}%10d ${s.shuffleWrite / 1024}%10d " +
        f"${s.spill / 1024}%10d ${s.peakMem >> 20}%9d  " +
        s"${s.label.replace('\n', ' ').take(40)} | ${s.name}")
    }
    println("  operators (final plan):")
    walk(plan, 2)
    if (p.batches.nonEmpty) {
      println("  micro-batches:")
      p.batches.foreach(b => println("    " + b))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Probe <sfDir> <runs> <query ...>")
    val dir = args(0)
    val runs = args(1).toInt
    require(runs >= 1, "runs counts the measured run, so it must be >= 1")
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = Listener.attach(spark)
    args.drop(2).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      println(s"\n===== $name =====")
      (1 until runs).foreach { i =>
        println(f"  sample $i: ${evaluate(fn(spark, dir))._1.sec}%.2f s")
      }
      val ((split, plan), profile) =
        listener.measure(spark)(evaluate(fn(spark, dir)))
      println(f"  sample $runs: ${split.sec}%.2f s (measured)")
      report(split, profile, plan)
    }
    spark.stop()
  }
}
