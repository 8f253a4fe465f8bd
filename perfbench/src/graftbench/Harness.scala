package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.{SparkEntry, Tables}
import graft.model.{ModelRunner, Planner, SchemaYaml, StateStore, Warehouse}

/** One timed operation: a catalog query or a model execution. `out` is
  * where a query's output landed for the correctness gate. */
final case class Op(name: String, pass: Int, secs: Double, ok: Boolean,
    err: String = "", out: String = "", buildS: Double = 0.0,
    buildJobsS: Double = 0.0)

/** One pass over a workload's fixed work. `layers` holds the per-layer
  * counters of a traced pass; `wallS` excludes the harness's own probes. */
final case class Pass(wallS: Double, traced: Boolean, ops: Seq[Op],
    layers: Map[String, Double] = Map.empty, info: Map[String, Any] = Map.empty)

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}

object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

/** Runs one workload in one JVM and writes `<work>/harness.json`.
  *
  * Usage: graftbench.Harness <workload> <dataDir> <workDir> <seconds>
  *   <trace 0|1> <seed> <cores> [workload args...]
  *
  * Untraced, it repeats passes while they fit in `seconds`. Traced, it
  * alternates an untraced and a traced pass, so the record carries the
  * tracing overhead next to the per-layer counters.
  */
object Harness {
  def now: Double = System.nanoTime() / 1e9

  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, secondsS, traceS, seedS, coresS) = args.take(7)
    val extra = args.drop(7).toSeq
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val seed = seedS.toLong
    val cores = coresS.toInt
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    Tables.sessionConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.applyAdaptivePolicy(spark)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val wl: Workload = workload match {
      case "catalog" => new Catalog(spark, data, work, extra, seed)
      case "models" => new Models(spark, data, work, extra.head, extra(1).toInt)
      case other => sys.error(s"unknown workload $other")
    }
    // Registration is memoized per (session, dir); invalidating first
    // makes each repeat list files and read footers again.
    val registerS = (1 to 3).map { _ =>
      Tables.invalidate(wl.tablesDir)
      val t = now; Tables.registerAll(spark, wl.tablesDir); now - t
    }
    val w0 = now
    wl.warmup()
    val warmupS = now - w0

    // Another pass (or untraced/traced pair) starts only if it is expected
    // to end within `seconds`; there is always at least one.
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = now
    var round = 0.0
    while (passes.isEmpty || now - t0 + round <= seconds) {
      val r0 = now
      passes += wl.pass(passes.size, None)
      if (traced) {
        val tr = new Trace(spark, cores)
        tr.start()
        val ps = wl.pass(passes.size, Some(tr))
        tr.stop()
        passes += ps.copy(layers = tr.snapshot(ps.wallS) ++ ps.layers)
      }
      round = now - r0
    }
    val checks = wl.finish()

    val rec = Map(
      "workload" -> workload,
      "spark_version" -> spark.version,
      "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "setup" -> Map("session_s" -> sessionS, "register_s" -> registerS,
        "warmup_s" -> warmupS),
      "passes" -> passes.map(ps => Map("wall_s" -> ps.wallS,
        "traced" -> ps.traced, "layers" -> ps.layers, "info" -> ps.info)),
      "ops" -> passes.flatMap(_.ops).map(o => Map("name" -> o.name,
        "pass" -> o.pass, "secs" -> o.secs, "ok" -> o.ok, "err" -> o.err,
        "out" -> o.out, "build_s" -> o.buildS, "build_jobs_s" -> o.buildJobsS)),
      "checks" -> checks,
      "oracle" -> SparkEntry.oracleSql.filter(e => wl.queries.contains(e._1)))
    Files.writeString(Paths.get(work, "harness.json"), Json(rec))
    spark.stop()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def copyTree(src: Path, dst: Path): Long = {
    val s = Files.walk(src)
    try s.iterator().asScala.toSeq.map { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) { Files.createDirectories(t); 0L }
      else { Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING); Files.size(f) }
    }.sum finally s.close()
  }
}

trait Workload {
  def tablesDir: String
  /** Catalog queries the workload runs, whose oracle SQL the gate needs. */
  def queries: Seq[String] = Nil
  def warmup(): Unit
  def pass(p: Int, trace: Option[Trace]): Pass
  /** Output pairs for the gate to compare once the timed passes are done. */
  def finish(): Seq[Map[String, String]] = Nil
}

/** Seed-shuffled passes over a frozen subset of the query catalog. Each
  * operation calls a `SparkEntry.queries` function and writes every output
  * column to parquet, which the gate compares against the DuckDB oracle;
  * the query-building call is timed apart from the write, so eager jobs
  * inside it can be told from the lazy plan. Cached and checkpointed blocks
  * still held after a traced pass are reported, since iterative queries
  * truncate their lineage through `Checkpoints`. */
class Catalog(spark: SparkSession, data: String, work: String,
    override val queries: Seq[String], seed: Long) extends Workload {
  private val fns = SparkEntry.queries
  def tablesDir: String = data

  private def run(q: String, p: Int, trace: Option[Trace], out: String): Op = {
    val t0 = Harness.now
    val w0 = System.currentTimeMillis()
    try {
      val df = fns(q)(spark, data)
      val t1 = Harness.now
      val w1 = System.currentTimeMillis()
      df.write.mode("overwrite").parquet(out)
      val t2 = Harness.now
      val jobs = trace.map(_.jobSecondsIn(w0, w1)).getOrElse(0.0)
      Op(q, p, t2 - t0, ok = true, out = out, buildS = t1 - t0, buildJobsS = jobs)
    } catch {
      case NonFatal(e) =>
        Op(q, p, Harness.now - t0, ok = false, err = s"${e.getClass.getName}: ${e.getMessage}")
    }
  }

  def warmup(): Unit = queries.foreach(q => run(q, 0, None, s"$work/warmup/$q"))

  private def storedMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Runs the queries twice, each time in a fresh seed-shuffled order: 24
    * operations keep a pass's median latency steadier than 12. */
  def pass(p: Int, trace: Option[Trace]): Pass = {
    val before = storedMb
    val rnd = new scala.util.Random(seed * 7919 + p)
    val order = rnd.shuffle(queries) ++ rnd.shuffle(queries)
    val t0 = Harness.now
    val ops = order.zipWithIndex.map { case (q, i) => run(q, p, trace, s"$work/out/$p/$i-$q") }
    val wall = Harness.now - t0
    val layers = if (trace.isEmpty) Map.empty[String, Double] else Map(
      "queries.build_s" -> ops.map(o => o.buildS - o.buildJobsS).sum,
      "queries.build_jobs_s" -> ops.map(_.buildJobsS).sum,
      "checkpoints.blocks_left_mb" -> (storedMb - before))
    Pass(wall, trace.nonEmpty, ops, layers)
  }
}

/** A generated model project run through `ModelRunner`: one full-refresh
  * run, then `k` incremental runs, each after a seeded delta lands in the
  * project's source directory, then a `Planner.plan` that must find no
  * change. Sources are reset to the base state before every pass. */
class Models(spark: SparkSession, data: String, work: String,
    project: String, k: Int) extends Workload {
  private val proj = Paths.get(project)
  private val src = proj.resolve("src")
  def tablesDir: String = data
  private def vars(lo: Int, hi: Int) = Map("lo" -> lo.toString, "hi" -> hi.toString)
  private def batchTs(b: Int) = f"2024-02-${b + 1}%02d 00:00:00"

  private def runner(whRoot: String): (Warehouse, ModelRunner) = {
    val wh = new Warehouse(spark, whRoot, StateStore(whRoot + "/state", "bench"))
    val sources = Tables.names.map(t => ("raw", t) -> t).toMap ++
      SchemaYaml.loadDirSources(proj.resolve("models"))
        .map(s => (s.source, s.table) -> s.sqlRelation).toMap
    val r = new ModelRunner(wh, sources, parallelism = 4)
    r.addModelsFromDir(proj.resolve("models"))
    (wh, r)
  }

  private def resetSources(): Unit = {
    Harness.deleteTree(src)
    Harness.copyTree(proj.resolve("base"), src)
  }

  private def landDelta(b: Int): Long =
    Harness.copyTree(proj.resolve(s"deltas/$b"), src)

  private def checked(r: ModelRunner): Seq[String] =
    r.configMap.values.filter(c =>
      !c.meta.get("bench_order_dependent").contains("true") &&
        Set("table", "incremental", "cdc").contains(c.materialized))
      .map(_.name).toSeq.sorted

  /** The cold run: a full refresh over the final inputs (base plus every
    * delta), whose tables are the reference the incremental pass must
    * reproduce. */
  def warmup(): Unit = {
    resetSources()
    (1 to k).foreach(landDelta)
    val (wh, r) = runner(s"$work/wh/reference")
    r.run(variables = vars(0, k), batchTs = batchTs(k), fullRefresh = true)
    reference = wh
  }

  private var reference: Warehouse = _
  private var last: (Warehouse, ModelRunner) = _

  def pass(p: Int, trace: Option[Trace]): Pass = {
    resetSources()
    val whRoot = s"$work/wh/p$p"
    val (wh, r) = runner(whRoot)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]()
    if (trace.nonEmpty) r.setLogSink(Some { line =>
      val ev = "\"event\":\"(execution_start|execution_end)\"".r.findFirstMatchIn(line)
      val m = "\"model\":\"([^\"]+)\"".r.findFirstMatchIn(line)
      for (e <- ev; n <- m) events.add((e.group(1), n.group(1), System.nanoTime()))
    })
    var probeS = 0.0
    var renderS, graphS = 0.0
    def probeRender(v: Map[String, String], full: Boolean): Unit = if (trace.nonEmpty) {
      val t = Harness.now
      r.graph
      graphS += Harness.now - t
      val t1 = Harness.now
      r.modelSqlMap.keys.foreach(m => r.render(m, v, full))
      renderS += Harness.now - t1
      probeS += Harness.now - t
    }
    val runs = mutable.ArrayBuffer.empty[Double]
    var deltaBytes = 0L
    var writtenAtIncr = 0L
    var failure = ""
    val t0 = Harness.now
    try {
      probeRender(vars(0, 0), full = true)
      val tf = Harness.now
      r.run(variables = vars(0, 0), batchTs = batchTs(0), fullRefresh = true)
      runs += Harness.now - tf
      writtenAtIncr = trace.map(_.writes._2).getOrElse(0L)
      for (b <- 1 to k) {
        val tl = Harness.now
        deltaBytes += landDelta(b)
        probeS += Harness.now - tl
        probeRender(vars(b, b), full = false)
        val ti = Harness.now
        r.run(variables = vars(b, b), batchTs = batchTs(b))
        runs += Harness.now - ti
      }
    } catch { case NonFatal(e) => failure = s"${e.getClass.getName}: ${e.getMessage}" }
    val tp = Harness.now
    val plan = if (failure.nonEmpty) None else Some(
      Planner.plan(r.modelSqlMap, r.configMap, r.graph, wh.state))
    val planS = Harness.now - tp
    val wall = Harness.now - t0 - probeS

    val ran = r.metrics
    val ops = ran.map(m => Op(m.model, p, m.durationMs / 1e3, ok = !m.failed,
      err = if (m.failed) m.status else "")) ++
      (if (failure.nonEmpty) Seq(Op("run", p, 0.0, ok = false, err = failure)) else Nil) ++
      plan.toSeq.map { pl =>
        val changed = pl.changes.filter(_.changeType != Planner.NoChange).map(_.modelName)
        Op("plan", p, planS, ok = changed.isEmpty,
          err = if (changed.isEmpty) "" else s"plan after the pass changes: ${changed.mkString(",")}")
      }
    last = (wh, r)

    val layers = trace.map { tr =>
      val levels = r.graph.executionOrder()
      val ev = events.asScala.toSeq
      // model time over (level wall x usable slots), per run and level
      val busy = levels.flatMap { lvl =>
        val width = math.min(lvl.size, 4)
        val starts = ev.filter(e => e._1 == "execution_start" && lvl.contains(e._2)).map(_._3)
        val ends = ev.filter(e => e._1 == "execution_end" && lvl.contains(e._2)).map(_._3)
        // one (start, end) pair per model per run: pair them in order
        val runsOf = starts.sorted.grouped(lvl.size).toSeq.zip(ends.sorted.grouped(lvl.size).toSeq)
        runsOf.map { case (ss, es) =>
          val wallL = (es.max - ss.min) / 1e9
          val modelS = es.sorted.zip(ss.sorted).map { case (e, s) => (e - s) / 1e9 }.sum
          if (wallL > 0) modelS / (wallL * width) else 1.0
        }
      }
      val (writeS, written) = tr.writes
      Map(
        "model.render_s" -> renderS,
        "model.graph_s" -> graphS,
        "model.plan_s" -> planS,
        "model.exec_s" -> ran.map(_.durationMs / 1e3).sum,
        "model.level_busy_frac" -> Stats.median(busy),
        "model.full_run_s" -> runs.headOption.getOrElse(0.0),
        "model.incr_run_s" -> Stats.median(runs.drop(1).toSeq),
        "model.write_s" -> writeS,
        "model.bytes_written" -> written.toDouble,
        "model.write_amp" ->
          (if (deltaBytes > 0) (written - writtenAtIncr).toDouble / deltaBytes else 0.0),
        "model.warehouse_bytes" -> Harness.treeBytes(Paths.get(whRoot)).toDouble)
    }.getOrElse(Map.empty)
    Pass(wall, trace.nonEmpty, ops, layers,
      Map("full_run_s" -> runs.headOption.getOrElse(0.0),
        "incr_run_s" -> Stats.median(runs.drop(1).toSeq), "models" -> r.modelSqlMap.size))
  }

  /** The table directories of each order-independent model as the last
    * pass left it, next to the full-refresh reference built in [[warmup]]. */
  override def finish(): Seq[Map[String, String]] = {
    val (wh, r) = last
    checked(r).map(m => Map("name" -> m, "got" -> wh.currentPath(m).get,
      "expected" -> reference.currentPath(m).get))
  }
}
