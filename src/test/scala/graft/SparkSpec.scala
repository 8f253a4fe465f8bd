package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Component d of PQ subspace-s centroid c — the ONE test-side copy
    * of Similarity's md5 centroid tag ("pq{s}:{c}:{d}"). */
  protected def pqCen(s: Int, d: Int, c: Int): Double =
    functions.HashImpl.hashUnit(s"pq$s:$c:$d".getBytes("UTF-8"))

  /** 1-minute system load average, to be sampled BEFORE a measured
    * workload (sampling after would read the workload's own Spark load
    * and scale the bound for the very regression it guards against). */
  protected def sampleLoad(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** Spark jobs the calling thread starts while running `body`. */
  protected def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, group)
    try body
    finally {
      spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.graftext.Bridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    started.get
  }

  /** Wall-clock bound for perf guards, scaled by PRE-RUN host
    * contention so a busy driver machine doesn't turn a perf assertion
    * into a red correctness gate (round-6 lesson: load avg 6 inflated
    * trivial queries 5-18x). At load <= 2 the base bound applies
    * unchanged; beyond that it grows linearly. Correctness assertions
    * in the same tests are never scaled.
    */
  protected def loadScaledBound(baseSec: Double, loadBefore: Double): Double =
    if (loadBefore.isNaN || loadBefore <= 2.0) baseSec
    else baseSec * (loadBefore / 2.0)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
