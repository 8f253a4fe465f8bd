package graft.model

import graft.Json
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftext.Bridge
import java.util.concurrent.LinkedBlockingQueue
import scala.collection.mutable
import scala.util.control.NonFatal

/** End-to-end model pipeline runner: parse → resolve → plan → execute —
  * the Spark re-expression of the reference's ModelExecutor + CLI run
  * loop (src/framework/executor.py:52-190, cli.py:50-180).
  *
  * Models are SQL strings (typically loaded from .sql files) using the
  * SqlTemplate surface. Execution is dependency-driven: a fixed pool of
  * `parallelism` workers runs each model as soon as its own parents have
  * finished, so independent models are concurrent Spark jobs (the
  * cluster analogue of dependency.py's asyncio batches — the scheduler
  * interleaves their stages across executors) and no model waits for
  * an unrelated slower one.
  */
final class ModelRunner(
    wh: Warehouse,
    val sources: Map[(String, String), String], // (source, table) -> relation
    parallelism: Int = 4,
    maxRetries: Int = 3, // attempts per model (connection.py:37 max_retries)
    retryDelayMs: Long = 1000L) { // doubles per attempt (connection.py:400)

  private val mat = new Materializer(wh)
  private var modelSql = Map.empty[String, String]
  private var modelCfg = Map.empty[String, ModelConfig]

  def addModel(name: String, sql: String): Unit = synchronized {
    modelSql += name -> sql
    modelCfg += name -> ModelConfig.fromSql(name, sql)
  }

  /** [[addModel]] with a schema.yml sidecar base config — the SQL's
    * comment headers merge over (and win scalar conflicts against)
    * the sidecar's declarations. */
  def addModel(name: String, sql: String, base: ModelConfig): Unit =
    synchronized {
      modelSql += name -> sql
      modelCfg += name -> ModelConfig.fromSql(name, sql, base)
    }

  /** Load every `<name>.sql` under `dir`, merged with any dbt-style
    * `schema*.yml` sidecar files found there ([[SchemaYaml]], reference
    * model.py:157-232). A sidecar entry naming a model with no SQL
    * file is a loud [[ConfigError]] — silently ignoring it is how a
    * renamed model keeps shipping with its tests orphaned. */
  def addModelsFromDir(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val sidecars = SchemaYaml.loadDir(dir)
    val sqlFiles = {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.filter(_.toString.endsWith(".sql")).toList
      finally s.close()
    }
    val names = sqlFiles.map(_.getFileName.toString.stripSuffix(".sql")).toSet
    sidecars.keySet.diff(names).toSeq.sorted.headOption.foreach { orphan =>
      throw new ConfigError(
        s"schema.yml declares model '$orphan' but no '$orphan.sql' exists " +
          s"under $dir", Map("model" -> orphan))
    }
    sqlFiles.foreach { p =>
      val name = p.getFileName.toString.stripSuffix(".sql")
      sidecars.get(name) match {
        case Some(base) => addModel(name, java.nio.file.Files.readString(p), base)
        case None => addModel(name, java.nio.file.Files.readString(p))
      }
    }
  }

  def config(name: String): ModelConfig = modelCfg(name)
  def modelSqlMap: Map[String, String] = modelSql
  def configMap: Map[String, ModelConfig] = modelCfg

  /** Models carrying a tag (model.py:get_models_by_tag). */
  def modelsByTag(tag: String): Seq[String] =
    modelCfg.collect { case (n, c) if c.tags.contains(tag) => n }.toSeq.sorted

  def graph: DependencyGraph = {
    val g = new DependencyGraph
    modelSql.foreach { case (name, sql) =>
      g.addModel(name, SqlTemplate.extractRefs(sql) ++ modelCfg(name).dependsOn)
    }
    g
  }

  /** Render a model's SQL against the warehouse namespace. With
    * `fullRefresh`, `is_incremental()` renders false even when the table
    * exists, so the model selects its full history. */
  def render(name: String, variables: Map[String, String] = Map.empty,
      fullRefresh: Boolean = false): String =
    renderSql(name, modelSql(name), variables, incrementalRun(name, fullRefresh))

  /** [[render]] for a command that analyses a model without running it:
    * every variable `variables` leaves unbound renders as "0". */
  def renderWithPlaceholders(
      name: String, variables: Map[String, String] = Map.empty): String =
    render(name,
      SqlTemplate.extractVariables(modelSql(name)).map(_ -> "0").toMap ++ variables)

  /** Register `targets` and their upstream models (all models for None),
    * in execution order, as a same-session `run` leaves them: a
    * materialized model (or seed) as a view over its current version,
    * any other model as a view over [[renderWithPlaceholders]] (SQL that
    * fails analysis is a typed error naming the model). Temp views are
    * per session, so the commands that read models in a fresh process or
    * session call this first. Returns each rendered model's analysed
    * frame; `renderAll` renders the materialized models too (column
    * lineage reads every model's plan). */
  def hydrate(targets: Option[Seq[String]], variables: Map[String, String] = Map.empty,
      renderAll: Boolean = false): Seq[(String, DataFrame)] =
    graph.executionOrder(targets).flatten.flatMap { m =>
      val materialized = wh.exists(m)
      if (materialized) wh.refreshView(m)
      if (!modelSql.contains(m) || (materialized && !renderAll)) None
      else {
        val df = try wh.spark.sql(renderWithPlaceholders(m, variables))
          catch { case e: org.apache.spark.sql.AnalysisException =>
            throw GraftError.classify(e, m) }
        if (!materialized) wh.registerView(m, df)
        Some(m -> df)
      }
    }

  private def incrementalRun(name: String, fullRefresh: Boolean): Boolean =
    modelCfg(name).isIncremental && wh.exists(name) && !fullRefresh

  /** Render `sql` — the model body or one of its hooks — with `{{ ref }}`
    * bound to warehouse relations and `{{ source }}` to this runner's
    * sources. */
  private def renderSql(name: String, sql: String,
      variables: Map[String, String], incremental: Boolean): String =
    SqlTemplate.render(
      sql, name,
      resolveRef = m => wh.relation(m),
      resolveSource = (s, t) => sourceRelation(s, t).getOrElse(
        throw new ConfigError(s"unknown source $s.$t", Map("model" -> name))),
      isIncremental = incremental,
      variables = variables)

  // Each parquet path source as a temp view over the parquet reader,
  // created once per run: every model of the run reads one listing of
  // it, and analysing a model starts no schema job. Cleared when a run
  // starts, so each run sees the files landed before it; filled lazily
  // by rendering, so renders outside a run (hydrate, the CLI's `sql` and
  // `source-freshness`) resolve the same way, and a source no render
  // names is never read.
  private val sourceViews = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The relation `{{ source(s, t) }}` renders to: the declared relation,
    * or for a `parquet.`path`` one ([[SchemaYaml.parquetPath]]) a temp
    * view over [[Bridge.readParquet]]. None when `s.t` is not declared. */
  def sourceRelation(s: String, t: String): Option[String] =
    sources.get((s, t)).map { rel =>
      SchemaYaml.parquetPath(rel).fold(rel) { path =>
        sourceViews.computeIfAbsent(path, _ => {
          val tag = scala.util.hashing.MurmurHash3.stringHash(path) & 0x7fffffff
          val view = f"graft_source_${t.replaceAll("\\W", "_")}_$tag%08x"
          Bridge.readParquet(wh.spark, path).createOrReplaceTempView(view)
          view
        })
      }
    }

  /** Render one hook statement against the same template surface as the
    * model body ({{ this }} resolves to the model's own relation) and
    * execute it eagerly. Hooks are STATEMENTS (dbt pre/post-hook
    * semantics: grants, audit inserts, cache/refresh, temp scaffolding)
    * — a bare SELECT hook materializes its result driver-side, so keep
    * hooks statement-shaped. */
  private def runHook(
      name: String, hookSql: String, variables: Map[String, String],
      fullRefresh: Boolean): Unit =
    wh.spark.sql(renderSql(name, hookSql, variables,
      incrementalRun(name, fullRefresh))).collect()

  /** The gate every output passes BEFORE materialization, so a drifted
    * schema never reaches storage or dependents: the contract (dbt
    * contract:enforced), and schema.yml column docs, which must name
    * REAL output columns — a doc'd column missing from the model is a
    * loud ConfigError (the sidecar has drifted from the SQL). */
  private def checkOutput(name: String, cfg: ModelConfig, df: DataFrame): Unit = {
    cfg.enforceContract(df.schema)
    cfg.columns.map(_.name).filterNot(df.schema.fieldNames.contains)
      .sorted.headOption.foreach { missing =>
        throw new ConfigError(
          s"schema.yml documents column '$missing' but model '$name' " +
            "does not output it", Map("model" -> name))
      }
  }

  /** The tail after a materialization: declarative tests (reference
    * testing.py:134 run_model_tests), where error-severity failures fail
    * the model — run()'s failure path records the failed execution in
    * state and blocks dependents — and warn-severity ones only report;
    * then the success is recorded in state with the change-detection
    * hashes, in one state write. */
  private def finishModel(name: String, cfg: ModelConfig,
      result: MaterializeResult): MaterializeResult = {
    val outcomes = runModelTests(name)
    val hard = outcomes.filter(o => !o.passed && o.severity == "error")
    if (hard.nonEmpty) throw new ModelRunner.ModelTestFailure(name, hard)
    val now = java.time.Instant.now().toString
    wh.state.update(name)(_.executed(success = true, now).copy(
      fileHash = StateStore.sha256(modelSql(name)),
      configHash = StateStore.sha256(cfg.toString)))
    val warned = outcomes.count(o => !o.passed)
    if (warned == 0) result
    else result.copy(status = s"${result.status} ($warned test warnings)")
  }

  def executeModel(
      name: String,
      variables: Map[String, String] = Map.empty,
      batchTs: String = "1970-01-01 00:00:00",
      fullRefresh: Boolean = false): MaterializeResult = {
    val cfg = modelCfg(name)
    // dbt pre-hooks: scaffolding/locks/audit-start, in declaration order,
    // BEFORE the model body renders its plan (a pre-hook may create the
    // temp view the body reads).
    cfg.preHooks.foreach(h => runHook(name, h, variables, fullRefresh))
    val df = wh.spark.sql(render(name, variables, fullRefresh))
    checkOutput(name, cfg, df)
    val result = mat.materialize(cfg, df, batchTs, fullRefresh)
    // dbt post-hooks: run once the relation exists ({{ this }} is
    // readable), BEFORE declared tests — a failing test must not skip
    // the audit/grant trail of a materialization that DID happen.
    cfg.postHooks.foreach(h => runHook(name, h, variables, fullRefresh))
    finishModel(name, cfg, result)
  }

  /** True when `name`'s SQL renders identically under
    * `is_incremental()` true and false (for these `variables`) — the
    * guard that makes independent chunked executions fusible into one
    * plan: a body that branches on is_incremental() would produce
    * different rows depending on whether an earlier chunk already
    * created the table, so it must keep the serial chunk loop. */
  def incrementalInvariant(
      name: String, variables: Map[String, String] = Map.empty): Boolean =
    renderSql(name, modelSql(name), variables, incremental = true) ==
      renderSql(name, modelSql(name), variables, incremental = false)

  /** Execute one model over MANY variable bindings as ONE
    * materialization: each binding's rendered plan unions into a single
    * frame, written once. The fused path for independent chunks
    * ([[Backfill]]'s append-strategy fast path) — Catalyst plans the
    * union as parallel scans into one write instead of N sequential
    * materialization round-trips. The pre-materialization gate
    * (contract, column docs), declared tests, and state marking run
    * once over the fused batch (the final table is identical to the
    * serial loop's; a chunk that would have failed its tests mid-loop
    * fails here at the end instead). Callers are responsible for the
    * fusibility guards (strategy, hooks, [[incrementalInvariant]]). */
  def executeModelBatch(
      name: String,
      variablesSeq: Seq[Map[String, String]],
      batchTs: String = "1970-01-01 00:00:00",
      fullRefresh: Boolean = false): MaterializeResult = {
    require(variablesSeq.nonEmpty, "executeModelBatch needs >= 1 binding")
    val cfg = modelCfg(name)
    val df = variablesSeq
      .map(v => wh.spark.sql(render(name, v, fullRefresh)))
      .reduce(_.unionByName(_))
    checkOutput(name, cfg, df)
    finishModel(name, cfg, mat.materialize(cfg, df, batchTs, fullRefresh))
  }

  /** Run a model's declared `-- test:` suite against its materialized
    * output (reference testing.py:134-150). All checks compile into one
    * query (Quality.run), whose results come back in declaration order,
    * so each outcome carries the severity of its own declaration — the
    * same check declared at two severities reports twice. */
  def runModelTests(name: String): Seq[ModelRunner.TestOutcome] = {
    val tests = modelCfg(name).tests
    if (tests.isEmpty) Nil
    else
      // relationships checks resolve their parent against this runner's
      // own materialized models (the dbt ref semantics)
      tests.zip(Quality.run(readModel(name), tests.map(_.toCheck), readModel))
        .map { case (t, r) =>
          ModelRunner.TestOutcome(name, r.check, r.failures, t.severity)
        }
  }

  /** Run test suites for `targets` (or every model with tests) whose
    * relation is registered — a table version, a view or a temp table
    * (the CLI `test` command surface, which registers them first). */
  def runTests(targets: Option[Seq[String]] = None): Seq[ModelRunner.TestOutcome] = {
    val names = targets.getOrElse(modelCfg.keys.toSeq.sorted)
    names.filter(m => modelCfg.get(m).exists(_.tests.nonEmpty) &&
      wh.spark.catalog.tableExists(wh.relation(m)))
      .flatMap(runModelTests)
  }

  /** Run models (targets + transitive deps, or all) on a fixed pool of
    * `parallelism` workers. A model is submitted as soon as every one of
    * its selected parents has finished, so a fast chain is never held
    * behind a slow model it does not read. When several models are ready
    * they are submitted in [[DependencyGraph.executionOrder]] order, and
    * the results come back in that order. Disabled models and non-model
    * nodes count as finished at once.
    *
    * Without `continueOnError`, no model is submitted after the first
    * failure: the models already running finish, then the failure of the
    * earliest failed model in execution order is rethrown. With it (the
    * reference's graceful-degradation posture — its executor logs
    * failures and keeps going, executor.py:153-190), a failed model is
    * recorded in state as a failure, its transitive dependents are
    * skipped (their inputs are missing/stale), and every other model
    * still runs. */
  def run(
      targets: Option[Seq[String]] = None,
      variables: Map[String, String] = Map.empty,
      batchTs: String = "1970-01-01 00:00:00",
      continueOnError: Boolean = false,
      fullRefresh: Boolean = false): Seq[MaterializeResult] = {
    val g = graph
    val order = g.executionOrder(targets).flatten
    val rank = order.zipWithIndex.toMap
    // Scheduling state belongs to this thread alone: workers hand each
    // outcome back through `done`.
    val waitingOn = mutable.Map.from(order.map(m => m -> g.dependencies(m).count(rank.contains)))
    val ready = mutable.SortedSet.empty[String](Ordering.by(rank))
    val skipped = mutable.Set.empty[String]
    val results = mutable.Map.empty[String, MaterializeResult]
    val failures = mutable.Map.empty[String, Throwable]
    val done = new LinkedBlockingQueue[(String, Either[Throwable, MaterializeResult])]()
    def finish(m: String): Unit = g.dependents(m).filter(rank.contains).foreach { d =>
      waitingOn(d) -= 1
      if (waitingOn(d) == 0) enqueue(d)
    }
    def enqueue(m: String): Unit =
      if (skipped(m)) ()
      else if (modelSql.contains(m) && modelCfg(m).enabled) ready += m
      else finish(m)
    runErrors.clear()
    sourceViews.clear()
    order.filter(waitingOn(_) == 0).foreach(enqueue)
    val workers = math.max(1, parallelism)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(workers)
    try {
      var running = 0
      while (running > 0 || (ready.nonEmpty && failures.isEmpty)) {
        while (running < workers && ready.nonEmpty && failures.isEmpty) {
          val m = ready.head
          ready -= m
          running += 1
          pool.execute { () =>
            done.put(m -> (try Right(executeWithRetry(m, variables, batchTs, fullRefresh))
              catch { case e: Throwable => Left(e) }))
          }
        }
        val (m, outcome) = done.take()
        running -= 1
        outcome match {
          case Right(r) =>
            results(m) = r
            finish(m)
          case Left(e) if continueOnError && NonFatal(e) =>
            val err = GraftError.classify(e, m)
            runErrors.add(err)
            wh.state.markExecution(m, success = false,
              java.time.Instant.now().toString)
            skipped ++= g.allDependents(m)
            ready --= skipped
            results(m) = MaterializeResult(m, modelCfg(m).materialized,
              status = s"failed[${err.errorClass}]: ${e.getMessage}")
          case Left(e) => failures(m) = e
        }
      }
    } finally pool.shutdown()
    failures.minByOption { case (m, _) => rank(m) }.foreach { case (_, e) => throw e }
    order.flatMap(results.get)
  }

  /** Run-level ATOMICITY over the whole selected DAG (the reference's
    * `execute_transaction`, connection.py:454, lifted from statement
    * scope to run scope): every model's new output lands as a fresh
    * immutable version directory, and a failure ANYWHERE in the run
    * restores every already-flipped pointer — plus the change-detection
    * hashes and incremental watermarks that travel with it — to its
    * pre-run value, so a mid-DAG failure leaves the warehouse exactly
    * as the run found it. The versioned-pointer machinery is the
    * staging area: version directories are never mutated after their
    * pointer flips (appends included), so restore is a metadata-only
    * pointer flip and the abandoned versions are ordinary vacuum
    * garbage.
    *
    * Execution counters and `lastExecuted` are NOT restored — they are
    * run history, not data state, and the failed attempt happened.
    *
    * Fail-fast (continueOnError is meaningless under atomicity); the
    * failure rethrows after rollback so the caller sees the cause. */
  def runAtomic(
      targets: Option[Seq[String]] = None,
      variables: Map[String, String] = Map.empty,
      batchTs: String = "1970-01-01 00:00:00",
      fullRefresh: Boolean = false): Seq[MaterializeResult] = {
    val affected = graph.executionOrder(targets).flatten
      .filter(modelSql.contains)
    val snapshot = affected.map { m =>
      val hadRelation = wh.spark.catalog.tableExists(wh.relation(m))
      // For view/temp_table-backed models, also capture the PRE-RUN
      // analyzed plan (spark.table analyzes eagerly, inlining the
      // stored view definition): rollback must restore the definition
      // that was serving BEFORE the run, not re-render the possibly
      // edited current modelSql — an edited definition would otherwise
      // serve new SQL over restored upstream data until the next run
      // heals it. Table-backed upstreams resolved inside the captured
      // plan point at version directories, which are immutable and
      // restored by the pointer flip, so the plan replays exactly.
      val priorPlan =
        if (hadRelation && !wh.exists(m))
          scala.util.Try(wh.spark.table(wh.relation(m))).toOption
        else None
      (m, wh.state.get(m), hadRelation, priorPlan)
    }
    try run(targets, variables, batchTs, continueOnError = false,
      fullRefresh = fullRefresh)
    catch {
      case scala.util.control.NonFatal(e) =>
        snapshot.foreach { case (m, prior, hadRelation, priorPlan) =>
          wh.state.update(m) { cur =>
            val p = prior.getOrElse(ModelState(m))
            cur.copy(fileHash = p.fileHash, configHash = p.configHash,
              currentVersion = p.currentVersion, incremental = p.incremental)
          }
          // Temp views must not keep serving rolled-back data — but a
          // relation the run FOUND in place is session state the
          // contract preserves. Table-backed models re-point at the
          // restored version; view/temp_table models (exists() is
          // always false for them — no version pointer) re-register
          // the PRE-RUN captured plan, so even a run that EDITED the
          // view's definition restores exactly what was serving before
          // (re-rendering the current modelSql here would serve the
          // new SQL over restored upstream data). Only a relation the
          // run CREATED is dropped.
          if (wh.exists(m)) wh.refreshView(m)
          else if (hadRelation) priorPlan match {
            case Some(df) => wh.registerView(m, df)
            case None =>
              // Pre-run capture failed (view was unreadable then too)
              // — best-effort re-render; if that also fails the stale
              // view cannot be preserved truthfully and is dropped
              // instead of masking the run's own exception.
              try wh.registerView(m,
                wh.spark.sql(render(m, variables, fullRefresh)))
              catch {
                case scala.util.control.NonFatal(_) =>
                  wh.spark.catalog.dropTempView(wh.relation(m))
              }
          }
          else wh.spark.catalog.dropTempView(wh.relation(m))
        }
        throw e
    }
  }

  // Typed failures from the last continueOnError run, for callers that
  // need to discriminate failure classes (the CLI's exit code).
  private val runErrors =
    new java.util.concurrent.ConcurrentLinkedQueue[GraftError]()

  /** Classified errors of the most recent `run(continueOnError=true)`. */
  def lastRunErrors: Seq[GraftError] = {
    import scala.jdk.CollectionConverters._
    runErrors.iterator().asScala.toSeq
  }

  // ----------------------------------------------------------- run log
  // Structured JSON run log (reference src/utils/logger.py:81-106
  // execution_start/execution_end/execution_error): one line per event,
  // emitted through a pluggable sink (the CLI's --log-json wires stdout).
  @volatile private var logSink: Option[String => Unit] = None

  /** Install a structured-log line consumer (None disables). */
  def setLogSink(sink: Option[String => Unit]): Unit = { logSink = sink }

  // Models run concurrently; sinks (stdout, a buffer) are
  // not assumed thread-safe, so line emission is serialized here.
  private val logLock = new Object

  private def logEvent(fields: (String, String)*): Unit =
    logSink.foreach { sink =>
      val quoted = fields.map { case (k, v) =>
        val vv = // numbers/booleans ride unquoted, everything else quoted
          if (v.matches("-?\\d+|true|false")) v else Json.str(v)
        Json.str(k) + ":" + vv
      }
      val line = quoted.mkString("{", ",", "}")
      logLock.synchronized { sink(line) }
    }

  /** Transient-failure retry with exponential backoff (reference
    * connection.py:353-422): up to maxRetries attempts, delay doubling
    * per attempt. Deterministic failures — SQL analysis errors, declared
    * test failures, bad config — raise immediately: retrying them only
    * burns cluster time. */
  private def executeWithRetry(
      name: String, variables: Map[String, String],
      batchTs: String, fullRefresh: Boolean = false): MaterializeResult = {
    var attempt = 0
    val started = System.nanoTime()
    def elapsedMs: Long = (System.nanoTime() - started) / 1000000L
    def record(status: String): Unit = runMetrics.add(
      ModelRunner.ModelMetric(name, status, elapsedMs, attempt + 1))
    logEvent("event" -> "execution_start", "model" -> name,
      "attempt" -> "1", "full_refresh" -> fullRefresh.toString)
    while (true) {
      try {
        val r = executeModel(name, variables, batchTs, fullRefresh)
        record(r.status)
        logEvent("event" -> "execution_end", "model" -> name,
          "success" -> "true", "status" -> r.status,
          "duration_ms" -> elapsedMs.toString,
          "attempts" -> (attempt + 1).toString)
        return r
      }
      catch {
        // Only NonFatal failures are retry candidates: retrying after an
        // OutOfMemoryError/StackOverflowError wedges the runner, and an
        // interrupt must propagate (flag re-set), not be slept through.
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          record(s"failed: interrupted")
          logEvent("event" -> "execution_error", "model" -> name,
            "error_class" -> "interrupted", "error" -> "interrupted")
          throw e
        case scala.util.control.NonFatal(e)
            if attempt + 1 < maxRetries && isRetryable(e) =>
          Thread.sleep(retryDelayMs * (1L << attempt))
          attempt += 1
          logEvent("event" -> "execution_retry", "model" -> name,
            "attempt" -> (attempt + 1).toString,
            "error" -> String.valueOf(e.getMessage))
        case e: Throwable =>
          record(s"failed: ${e.getMessage}")
          logEvent("event" -> "execution_error", "model" -> name,
            "error_class" -> GraftError.classify(e, name).errorClass,
            "error" -> String.valueOf(e.getMessage),
            "duration_ms" -> elapsedMs.toString)
          throw e
      }
    }
    sys.error("unreachable")
  }

  private def isRetryable(e: Throwable): Boolean = e match {
    case _: GraftError => false // typed = deterministic (config/SQL/tests/state)
    case _: org.apache.spark.sql.AnalysisException => false // bad SQL/refs
    case _: IllegalArgumentException => false // bad config
    case _ => true // task/executor/IO failures: transient on a real cluster
  }

  def readModel(name: String): DataFrame =
    wh.spark.table(wh.relation(name))

  // ------------------------------------------------------------ metrics
  // Execution metrics (reference executor.py:446-453 get_metrics /
  // export_metrics_json): per-model wall-clock, status, and attempt
  // count for the current runner. Thread-safe — models run concurrently.
  private val runMetrics =
    new java.util.concurrent.ConcurrentLinkedQueue[ModelRunner.ModelMetric]()

  /** Metrics recorded so far (ordered by completion). */
  def metrics: Seq[ModelRunner.ModelMetric] = {
    import scala.jdk.CollectionConverters._
    runMetrics.iterator().asScala.toSeq
  }

  /** JSON export (executor.py:450 export_metrics_json). */
  def metricsJson: String = {
    val ms = metrics
    val models = ms.map { m =>
      s"""${Json.str(m.model)}:{"status":${Json.str(m.status)},"duration_ms":${m.durationMs},"attempts":${m.attempts}}"""
    }.mkString(",")
    s"""{"models":{$models},"total_duration_ms":${ms.map(_.durationMs).sum},""" +
      s""""succeeded":${ms.count(!_.failed)},"failed":${ms.count(_.failed)}}"""
  }
}

object ModelRunner {

  /** One model execution's metrics (executor.py ExecutionMetrics). */
  final case class ModelMetric(
      model: String, status: String, durationMs: Long, attempts: Int) {
    def failed: Boolean = status.startsWith("failed")
  }

  /** One declarative test's result for one model. */
  final case class TestOutcome(
      model: String, check: String, failures: Long, severity: String) {
    def passed: Boolean = failures == 0
  }

  /** Raised when error-severity tests fail post-materialization; run()
    * treats it like any model failure (state marked, dependents skipped).
    * A [[TestFailureError]], so the CLI exit code discriminates data
    * failures from config/execution ones. */
  final class ModelTestFailure(val model: String, val failed: Seq[TestOutcome])
    extends TestFailureError(
      s"model '$model' failed tests: " +
        failed.map(f => s"${f.check} (${f.failures} rows)").mkString(", "),
      Map("model" -> model))
}
