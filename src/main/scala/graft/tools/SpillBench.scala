package graft.tools

import graft.Json

/** Memory-pressure probe: run selected queries against a replicated
  * scale directory under a HARD executor-memory cap and record, per
  * query, the spill the engine actually did — `memoryBytesSpilled` /
  * `diskBytesSpilled` summed over tasks plus the max per-task
  * `peakExecutionMemory` — alongside wall time.
  *
  * Rationale (round-10 verdict): every scale record to date ran with
  * the working set comfortably in RAM, so the sort/agg/join spill paths
  * and state-store eviction had never fired in anger; per-group
  * buffering that a plan audit can't see hides exactly there. Running
  * the 30× replica under `-Xmx8g` forces those paths: a query that
  * completes with nonzero spill and sane wall time demonstrates
  * graceful degradation; an OOM or a superlinear knee names its
  * operator.
  *
  * This is an instrument, not a benchmark: one sample per query (spill
  * behavior, not medians, is the signal), queries run in a fixed
  * alphabetical order, and the JSON record carries the JVM's actual
  * `Runtime.maxMemory` so the cap is auditable.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=<base sf dir> SPARK_GRAFT_SCALE_FACTOR=30
  *   SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SPILL_OUT=bench_results/x.json
  *   java -Xmx8g ... graft.tools.SpillBench [query ...]
  */
object SpillBench {
  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "30").toInt
    val cpus = graft.Bench.cpus
    val scaledDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"/tmp/graft_scale_x${factor}_" + new java.io.File(baseDir).getName)
    val spark = graft.Bench.session()
    graft.ScaleBench.buildScaled(spark, baseDir, scaledDir, factor)
    val listener = Probe.Listener.attach(spark)
    val selected =
      (if (args.isEmpty) graft.SparkEntry.queries.keys.toSeq
       else graft.SparkEntry.queries.keys.filter(args.contains).toSeq).sorted
    val maxMem = Runtime.getRuntime.maxMemory()
    val rows = selected.map { name =>
      val ((sec, res), p) = listener.measure(spark) {
        val t0 = System.nanoTime()
        val res =
          try { graft.SparkEntry.queries(name)(spark, scaledDir).count(); None }
          catch { case scala.util.control.NonFatal(e) =>
            Some(e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("").take(160).replaceAll("\\s+", " "))
          }
        ((System.nanoTime() - t0) / 1e9, res)
      }
      System.err.println(f"[spill] $name%-28s ${sec}%8.2f s  " +
        f"mem_spilled=${p.memSpilled / 1e6}%9.1f MB  disk_spilled=${p.diskSpilled / 1e6}%9.1f MB  " +
        f"tasks=${p.tasks}%5d" +
        res.map(e => s"  ERROR $e").getOrElse(""))
      (name, sec, p.memSpilled, p.diskSpilled, p.peakTaskMem, p.tasks, res)
    }
    val json =
      s"""{"metric":"spill_probe","factor":$factor,"base_sf":${Json.str(baseDir)},""" +
      s""""cpus":$cpus,"jvm_max_mem_bytes":$maxMem,""" +
      s""""total_sec":${rows.map(_._2).sum.formatted("%.2f")},""" +
      s""""failed":${rows.count(_._7.isDefined)},""" +
      s""""queries":{""" + rows.map { case (n, sec, m, d, _, tk, err) =>
        Json.str(n) + ":{" + f""""sec":$sec%.2f,"mem_spilled_bytes":$m,""" +
          s""""disk_spilled_bytes":$d,"tasks":$tk""" +
          err.map(e => s""","error":${Json.str(e)}""").getOrElse("") + "}"
      }.mkString(",") + "}," +
      s""""peak_task_mem_bytes":${rows.map(_._5).max}}"""
    println(json)
    graft.Bench.writeAudit(
      sys.env.getOrElse("SPARK_GRAFT_SPILL_OUT",
        "bench_results/spill_latest.json"), json)
    spark.stop()
    if (rows.exists(_._7.isDefined)) sys.exit(1)
  }
}
