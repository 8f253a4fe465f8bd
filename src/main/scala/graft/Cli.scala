package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.model._

/** Project CLI — the Spark re-expression of the reference's click CLI
  * (reference: src/framework/cli.py:34-344): run / plan / list / deps /
  * test / lineage / validate / serve(watch).
  *
  * A "project" is a directory of .sql model files (SqlTemplate surface +
  * `-- config:` / `-- test:` headers). `source()` resolves to what the
  * project declares (see [[sourceSpecs]]); models materialize into
  * `<project>/warehouse`.
  *
  * Usage:
  *   graft.Cli <projectDir> run [model ...] [--var k=v ...] [--tag t]
  *             [--dry-run] [--target env] [--full-refresh] [--log-json]
  *   graft.Cli <projectDir> test [model ...] [--target env]
  *   graft.Cli <projectDir> plan [--full-refresh] | list | validate [--target env]
  *   graft.Cli <projectDir> seed   # load the seeds dir CSVs into the warehouse
  *   graft.Cli <projectDir> docs [--yaml]  # markdown catalog with
  *             materialized schemas; --yaml = effective registry as
  *             schema.yml YAML (reference export_to_yaml parity)
  *   graft.Cli <projectDir> deps [--format text|dot]
  *   graft.Cli <projectDir> lineage <model> [--impact col] | lineage --json
  *   graft.Cli <projectDir> source-freshness [--as-of ts]
  *             [--select source[.table]]  # dbt source freshness over
  *             the declared sources (Freshness.checkTable)
  *   graft.Cli <projectDir> watch [intervalMs] [--target env] [--var k=v]
  *             # hot reload loop
  *   graft.Cli <projectDir> serve [--interval ms] [--target env] [--var k=v]
  *             # run-all + watch loop
  *   graft.Cli <projectDir> sql "<select>" [--format json|csv|table]
  *             [--limit N] [--var k=v ...]   # ad-hoc query surface
  */
object Cli {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Cli <projectDir> <command> [args]")
    val projectDir = Paths.get(args(0))
    val command = args(1)
    val rest = args.drop(2).toSeq

    val spark = Bench.session()
    val code = try execute(spark, projectDir, command, rest)
    finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Dispatch one command; returns the process exit code. Factored out of
    * main so specs can drive the full CLI surface in-process. */
  def execute(
      spark: SparkSession, projectDir: Path, command: String,
      rest: Seq[String], out: String => Unit = println): Int = {
    // Typed failures (GraftError taxonomy, reference errors.py) surface
    // as distinct process exit codes; anything escaping a command — or
    // project loading itself (a malformed model header throws ConfigError
    // while parsing) — lands here instead of a stack trace.
    try {
      // --target overrides profiles.default.target everywhere (cli.py:48)
      val target = flagValue(rest, "--target")
      val (wh, runner, cfg) = openProject(spark, projectDir, target)
      executeCommand(spark, projectDir, command, rest, out, target, wh, runner, cfg)
    } catch {
      case g: model.GraftError =>
        out(s"ERROR[${g.errorClass}] ${g.getMessage}")
        g.exitCode
    }
  }

  private def executeCommand(
      spark: SparkSession, projectDir: Path, command: String,
      rest: Seq[String], out: String => Unit, target: Option[String],
      wh: Warehouse, runner: ModelRunner, cfg: ProjectConfig): Int = {
    // state:modified support for --select: the Planner's changed set
    // (Create or Update vs the recorded hashes), computed only if asked
    val plannerModified = () =>
      Planner.plan(runner.modelSqlMap, runner.configMap, runner.graph,
        wh.state).changes
        .filter(_.changeType != Planner.NoChange).map(_.modelName)
    // Some(resolved) when --select was given — even when it resolves to
    // NOTHING: an empty selection must run/list nothing, never fall
    // back to "all models" (state:modified with a clean state, or a
    // non-matching tag:, selecting everything would invert the intent)
    def selectedModels: Option[Seq[String]] =
      flagValue(rest, "--select")
        .map(s => Selector.resolve(runner.graph, runner.modelsByTag, Seq(s),
          plannerModified))
    // the variables `run` renders with: per-environment defaults, and an
    // explicit --var wins
    def runVars: Map[String, String] = envVars(cfg, target) ++ parseRunArgs(rest)._2
    command match {
      case "run" =>
        val (models, _, tag) = parseRunArgs(rest)
        // --select "model+ +model tag:x": dbt-style graph selectors,
        // unioned with positional names and --tag (model/Selector.scala).
        // Targeting is None only when NO selection mechanism was given:
        // a given-but-empty selection (non-matching tag, clean
        // state:modified) runs nothing, it never widens to everything.
        val tagged = tag.map(runner.modelsByTag)
        val selected = selectedModels
        val targets =
          if (models.isEmpty && tagged.isEmpty && selected.isEmpty) None
          else Some((models ++ tagged.getOrElse(Nil) ++
            selected.getOrElse(Nil)).distinct)
        val allVars = runVars
        if (rest.contains("--dry-run")) {
          // validate + plan without executing (cli.py:47, executor.py:88)
          var ok = true
          val toRun = runner.graph.executionOrder(targets).flatten
            .filter(runner.modelSqlMap.contains)
          toRun.foreach { m =>
            try {
              runner.config(m).validate()
              runner.renderWithPlaceholders(m, allVars)
              out(s"DRY RUN $m: ${runner.config(m).materialized} ok")
            } catch { case e: Exception =>
              ok = false; out(s"DRY RUN $m: INVALID ${e.getMessage}")
            }
          }
          if (ok) 0 else 1
        } else {
          // graceful degradation like the reference executor
          // (executor.py:153-190): log failures, keep going, exit nonzero
          // --log-json: structured per-model event lines (logger.py:81-106)
          if (rest.contains("--log-json")) runner.setLogSink(Some(out))
          // --atomic: run-level transaction — any failure restores every
          // pointer/watermark to its pre-run value (ModelRunner.runAtomic)
          val results =
            try {
              if (rest.contains("--atomic"))
                try runner.runAtomic(targets, allVars,
                  fullRefresh = rest.contains("--full-refresh"))
                catch { case scala.util.control.NonFatal(e) =>
                  val err = graft.model.GraftError.classify(e, "run")
                  out(s"ATOMIC RUN FAILED (rolled back): ${e.getMessage}")
                  return err.exitCode
                }
              else runner.run(targets, allVars, continueOnError = true,
                fullRefresh = rest.contains("--full-refresh"))
            } finally runner.setLogSink(None)
          results.foreach(r => out(s"${r.modelName}: ${r.materialization} ${r.status}"))
          // executor.py:446 get_metrics / export_metrics_json
          if (rest.contains("--metrics")) out(runner.metricsJson)
          if (results.exists(_.status.startsWith("failed")))
            // exit code of the most severe typed failure class
            runner.lastRunErrors.map(_.exitCode).maxOption.getOrElse(1)
          else 0
        }
      case "test" =>
        // run declared `-- test:` suites against materialized models
        // (reference testing.py:134 run_model_tests; dbt-style `test` cmd)
        val models = positional(rest)
        val targets = if (models.isEmpty) None else Some(models)
        val tested = targets.getOrElse(runner.configMap.keys.toSeq)
          .filter(m => runner.configMap.get(m).exists(_.tests.nonEmpty))
        val parents = tested.flatMap(runner.config(_).tests.map(_.toCheck))
          .collect { case r: Quality.Relationships => r.refModel }
        runner.hydrate(Some(tested ++ parents), runVars)
        val outcomes = runner.runTests(targets)
        outcomes.foreach { o =>
          val status =
            if (o.passed) "PASS"
            else if (o.severity == "warn") "WARN"
            else "FAIL"
          out(s"$status ${o.model}.${o.check} (${o.failures} failing rows)")
        }
        val failed = outcomes.count(o => !o.passed && o.severity == "error")
        out(s"${outcomes.count(_.passed)}/${outcomes.size} tests passed" +
          (if (failed > 0) s", $failed failed" else ""))
        if (failed > 0) 1 else 0
      case "plan" =>
        // --full-refresh (plan.py:118-154): force every model to execute
        val p = Planner.plan(runner.modelSqlMap, runner.configMap,
          runner.graph, wh.state, fullRefresh = rest.contains("--full-refresh"))
        out(s"summary: ${p.summary.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(", ")}")
        p.changes.foreach(c => out(s"  ${c.changeType.value}: ${c.modelName} (${c.reason})"))
        0
      case "list" =>
        // --select narrows the listing through the same resolver as run
        // (an empty resolution lists nothing, same contract)
        val listed = selectedModels.getOrElse(runner.graph.models.sorted)
        listed.foreach { m =>
          val c = runner.configMap.get(m)
          val nTests = c.map(_.tests.size).getOrElse(0)
          val testSuffix = if (nTests > 0) s" ($nTests tests)" else ""
          out(s"$m [${c.map(_.materialized).getOrElse("?")}]$testSuffix")
        }
        0
      case "deps" =>
        // text (stats + per-model listing) by default, like the reference
        // (cli.py:255 --format text); DOT on request.
        flagValue(rest, "--format").getOrElse("text") match {
          case "dot" | "graphviz" => out(runner.graph.toDot)
          case _ => out(runner.graph.toText)
        }
        0
      case "lineage" =>
        // Cross-model surfaces (dependency.py:332 get_column_lineage,
        // utils/lineage.py export_lineage):
        //   lineage <model> --impact <col>  downstream model.column set
        //   lineage --json                  whole-project column graph
        //   lineage <model>                 per-column base-table lineage
        if (rest.contains("--json")) {
          out(new ProjectLineage(wh, runner).toJson)
          return 0
        }
        val model = positional(rest).headOption.getOrElse(
          sys.error("usage: lineage <model> [--impact col] | lineage --json"))
        flagValue(rest, "--impact") match {
          case Some(column) =>
            val pl = new ProjectLineage(wh, runner)
            val hits = pl.columnImpact(model, column)
            if (hits.isEmpty) out(s"no downstream columns depend on $model.$column")
            else hits.toSeq.sorted.foreach(h => out(s"$model.$column -> $h"))
          case None =>
            // upstream relations must resolve for the model's analysis
            runner.hydrate(Some(runner.graph.dependencies(model).toSeq), runVars)
            val df = spark.sql(runner.renderWithPlaceholders(model, runVars))
            Lineage.of(df).foreach { l =>
              val fns = if (l.transformations.isEmpty) ""
                else l.transformations.toSeq.sorted.mkString(" [", ", ", "]")
              out(s"${l.column} <- ${l.sources.toSeq.sorted.mkString(", ")}$fns")
            }
        }
        0
      case "validate" =>
        var ok = true
        runner.configMap.foreach { case (name, c) =>
          try { c.validate(); runner.renderWithPlaceholders(name) }
          catch { case e: Exception => ok = false; out(s"INVALID $name: ${e.getMessage}") }
        }
        runner.graph.findCycle().foreach { c =>
          ok = false; out(s"CYCLE: ${c.mkString(" -> ")}")
        }
        out(if (ok) "all models valid" else "validation failed")
        if (ok) 0 else 1
      case "docs" =>
        // dbt `docs generate` parity: markdown project catalog with the
        // ACTUAL materialized schemas (model/Docs.scala). `--yaml`
        // instead emits the EFFECTIVE model registry (sidecar configs
        // merged with SQL headers) as schema.yml YAML — the reference's
        // export_to_yaml (model.py:303-318), for CI diffing declared
        // vs effective config.
        if (rest.contains("--yaml"))
          out(SchemaYaml.export(runner.configMap.values.toSeq))
        else out(Docs.markdown(wh, runner))
        0
      case "seed" =>
        // dbt `seed` parity: load <project>/seeds/*.csv as versioned
        // warehouse relations models can ref() (model/Seeds.scala).
        // Collision guard against DEFINED models (modelSqlMap), not graph
        // nodes: a ref'd-but-SQL-less node is exactly what a seed is.
        val loaded = Seeds.loadAll(wh, projectDir, runner.modelSqlMap.keySet)
        if (loaded.isEmpty) out("no seeds found")
        else loaded.foreach { case (n, rows) => out(s"seeded $n ($rows rows)") }
        0
      case "sql" =>
        // Ad-hoc raw SQL against the project's warehouse — the last
        // reference-parity surface (executor.py:517-574,
        // QueryExecutor.execute_raw_sql): template render (ref/source/
        // $var substitution) → execute → plan-side LIMIT guard →
        // ResultFormatter. The debugging workflow: inspect a
        // materialized relation without writing a model file.
        //   sql "<select>" [--format json|csv|table] [--limit N] [--var k=v]
        // The statement may contain '=' and flags-looking words, so it is
        // the FIRST free positional, taken without positional()'s
        // k=v exclusion.
        val stmt = rest.zipWithIndex.collectFirst {
          case (a, i) if !a.startsWith("--") && a.nonEmpty &&
            (i == 0 || !rest(i - 1).startsWith("--") ||
              boolFlags.contains(rest(i - 1))) => a
        }.getOrElse(throw new SqlError(
          "usage: sql \"<select>\" [--format json|csv|table] [--limit N] [--var k=v]"))
        val (_, vars, _) = parseRunArgs(rest)
        // Every model is queryable both as {{ ref('m') }} and by its bare
        // relation name.
        runner.hydrate(None, runVars)
        val rendered = SqlTemplate.render(
          stmt, "adhoc_sql",
          resolveRef = m => wh.relation(m),
          resolveSource = (s, t) => runner.sourceRelation(s, t).getOrElse(
            throw new ConfigError(s"unknown source $s.$t")),
          isIncremental = false,
          variables = vars)
        // Parse/analysis failures surface as the typed SqlError
        // (errors.py SQLParseError), with the statement in context —
        // not a raw AnalysisException stack trace.
        // ParseException extends AnalysisException in Spark 4, so one
        // case covers parse AND analysis failures.
        val df = try spark.sql(rendered) catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new SqlError(e.getMessage,
              Map("sql" -> rendered.take(200)), e)
        }
        val limit = flagValue(rest, "--limit").map(_.toInt).getOrElse(100)
        out(ResultFormatter.format(
          df, flagValue(rest, "--format").getOrElse("table"), limit))
        0
      case "source-freshness" =>
        // dbt `source freshness` parity: every declared source table
        // with a loaded_at_field + warn/error window is checked via
        // Freshness.checkTable (B33) against --as-of (defaults to now;
        // pass an explicit timestamp for replayable CI checks).
        //   source-freshness [--as-of "yyyy-MM-dd HH:mm:ss"]
        //                    [--select source[.table]]
        // one check per table, for the declaration that wins
        val specs0 = sourceSpecs(projectDir, cfg).reverse.distinctBy(_.qualified).reverse
        val specs = flagValue(rest, "--select") match {
          case Some(sel) => specs0.filter(s =>
            s.source == sel || s.qualified == sel)
          case None => specs0
        }
        val checkable = specs.filter(_.hasFreshness)
        if (checkable.isEmpty) {
          out("no freshness-checkable sources" +
            (if (specs.nonEmpty) s" (${specs.size} declared without " +
              "loaded_at_field + freshness)" else ""))
          0
        } else {
          import org.apache.spark.sql.functions.{current_timestamp, to_timestamp, lit}
          val asOf = flagValue(rest, "--as-of")
            .map(t => to_timestamp(lit(t))).getOrElse(current_timestamp())
          var worst = "ok"
          checkable.foreach { s =>
            val df = spark.table(runner.sourceRelation(s.source, s.table).get)
            val (warnS, errS) = s.effectiveWindows
            val row = Freshness.checkTable(
              df, s.loadedAtField.get, asOf, warnS, errS).head()
            val status = row.getAs[String]("status")
            val age =
              if (row.isNullAt(row.fieldIndex("age_us"))) "no rows"
              else f"${row.getAs[Long]("age_us") / 1e6}%.0f s old"
            out(s"$status ${s.qualified} ($age)")
            if (status == "error" ||
                (status == "warn" && worst == "ok")) worst = status
          }
          if (worst == "error") 1 else 0
        }
      case "watch" =>
        val interval = positional(rest).headOption.map(_.toLong).getOrElse(2000L)
        watch(spark, projectDir, interval, target = target,
          vars = parseRunArgs(rest)._2)
        0
      case "serve" =>
        // Server mode (reference cli.py:312-335, `serve --watch`): the
        // same hot-reload loop as `watch`, framed as a long-running
        // service — an initial full `run` brings the warehouse current
        // before the loop starts polling, so a fresh deployment serves
        // materialized relations immediately instead of only after the
        // first file change. Stop with Ctrl+C / SIGTERM.
        val interval =
          flagValue(rest, "--interval").map(_.toLong).getOrElse(2000L)
        // test seam: bound the loop (production default = forever)
        val maxIter = flagValue(rest, "--max-iterations")
          .map(_.toLong).getOrElse(Long.MaxValue)
        runner.run(variables = runVars)
        out(s"serving $projectDir (poll ${interval}ms); Ctrl+C to stop")
        watch(spark, projectDir, interval, maxIter, target, parseRunArgs(rest)._2)
        0
      case other =>
        System.err.println(s"unknown command: $other"); 2
    }
  }

  private def openProject(
      spark: SparkSession, dir: Path,
      target: Option[String] = None): (Warehouse, ModelRunner, ProjectConfig) = {
    val cfg = new ProjectConfig(dir)
    val env = target.getOrElse(cfg.currentTarget)
    // config/ may override the warehouse location
    val whDir = cfg.connectionConfig(Some(env)).get("warehouse_dir").map(_.toString)
      .getOrElse(dir.resolve("warehouse").toString)
    val state = StateStore(whDir + "/state", env)
    val wh = new Warehouse(spark, whDir, state)
    val runner = new ModelRunner(wh,
      sourceSpecs(dir, cfg).map(s => (s.source, s.table) -> s.sqlRelation).toMap)
    val modelsDir = dir.resolve("models")
    if (Files.isDirectory(modelsDir)) runner.addModelsFromDir(modelsDir)
    (wh, runner, cfg)
  }

  /** Every source table the project declares, in precedence order (a
    * later declaration of one table wins): the testdata tables as
    * `raw`, read from `$SPARK_GRAFT_SF_DIR/<table>.parquet`, then
    * config/sources.yml, then the models' schema.yml files (they sit
    * next to the models that read them). Nothing is read here: a run
    * reads a source when a rendered model names it
    * ([[ModelRunner.sourceRelation]]). */
  private def sourceSpecs(dir: Path, cfg: ProjectConfig): Seq[SourceTableSpec] = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    Tables.names.map(t => SourceTableSpec("raw", t, Tables.path(sfDir, t))) ++
      cfg.sourceSpecs ++ SchemaYaml.loadDirSources(dir.resolve("models"))
  }

  /** The target environment's variable defaults. */
  private def envVars(cfg: ProjectConfig, target: Option[String]): Map[String, String] =
    cfg.environmentVars(target.getOrElse(cfg.currentTarget))

  /** Value of `--flag v` anywhere in the arg list. */
  private def flagValue(rest: Seq[String], flag: String): Option[String] =
    rest.sliding(2).collectFirst { case Seq(`flag`, v) if !v.startsWith("--") => v }

  /** Flags that take no value (a following positional is NOT their arg). */
  private val boolFlags =
    Set("--dry-run", "--json", "--metrics", "--full-refresh", "--log-json",
      "--atomic")

  /** Positional (non-flag, non-flag-value) arguments. */
  private def positional(rest: Seq[String]): Seq[String] =
    rest.zipWithIndex.filter { case (a, i) =>
      !a.startsWith("--") && a.nonEmpty && !a.contains("=") &&
        (i == 0 || !rest(i - 1).startsWith("--") || boolFlags.contains(rest(i - 1)))
    }.map(_._1)

  private def parseRunArgs(
      rest: Seq[String]): (Seq[String], Map[String, String], Option[String]) = {
    val vars = rest.sliding(2).collect {
      case Seq("--var", kv) if kv.contains("=") =>
        val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
    val tag = flagValue(rest, "--tag")
    (positional(rest), vars, tag)
  }

  /** Hot-reload loop — the reference's watcher (src/framework/
    * watcher.py:24-148): poll model files, diff hashes via the Planner,
    * re-run only changed models + their downstream impact, in `target`'s
    * warehouse with its variables (`vars` win, as `--var` does in `run`);
    * the project, config included, is re-read on every poll. */
  def watch(spark: SparkSession, projectDir: Path, intervalMs: Long,
      maxIterations: Long = Long.MaxValue, target: Option[String] = None,
      vars: Map[String, String] = Map.empty): Unit = {
    var iter = 0L
    while (iter < maxIterations) {
      val (wh, runner, cfg) = openProject(spark, projectDir, target)
      val plan = Planner.plan(runner.modelSqlMap, runner.configMap, runner.graph, wh.state)
      val toRun = plan.toRun
      if (toRun.nonEmpty) {
        println(s"[watch] change detected: ${toRun.toSeq.sorted.mkString(", ")}")
        runner.run(Some(toRun.toSeq), envVars(cfg, target) ++ vars)
      }
      iter += 1
      if (iter < maxIterations) Thread.sleep(intervalMs)
    }
  }
}
