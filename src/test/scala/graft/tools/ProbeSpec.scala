package graft.tools

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col

class ProbeSpec extends SparkSpec {

  private def grouped(n: Long) =
    spark.range(0, n, 1, 4).groupBy((col("id") % 7).as("k")).count()

  private def withListener(body: Probe.Listener => Unit): Unit = {
    val listener = Probe.Listener.attach(spark)
    try body(listener)
    finally spark.sparkContext.removeSparkListener(listener)
  }

  test("listener: one measured evaluation's jobs, stages, tasks and shuffle") {
    withListener { listener =>
      val (_, p) = listener.measure(spark)(Probe.evaluate(grouped(10000)))
      assert(p.jobs >= 1)
      assert(p.stages.size >= 2)
      assert(p.tasks == p.stages.map(_.tasks).sum)
      assert(p.stages.map(_.shuffleWrite).sum > 0)
    }
  }

  test("listener: back-to-back measurements each hold only their own stages") {
    // A slow listener on the same queue makes the bus lag behind the
    // jobs, as it does on a loaded JVM: only the drains keep each
    // measurement's events inside it.
    val lag = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        Thread.sleep(200)
    }
    spark.sparkContext.addSparkListener(lag)
    try withListener { listener =>
      def labelled(label: String) = listener.measure(spark) {
        spark.sparkContext.setJobDescription(label)
        try Probe.evaluate(grouped(20000))
        finally spark.sparkContext.setJobDescription(null)
      }._2
      val a = labelled("probe-a")
      val b = labelled("probe-b")
      assert(a.stages.nonEmpty && b.stages.nonEmpty)
      assert(a.stages.forall(_.label == "probe-a"))
      assert(b.stages.forall(_.label == "probe-b"))
      assert(a.stages.map(_.id).max < b.stages.map(_.id).min)
      assert(a.tasks == a.stages.map(_.tasks).sum)
      assert(b.tasks == b.stages.map(_.tasks).sum)
    } finally spark.sparkContext.removeSparkListener(lag)
  }
}
