package graft.model

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkSpec, Tables}

class ProjectConfigSpec extends AnyFunSuite {

  private def project(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft_cfg_")
    val cfg = dir.resolve("config")
    Files.createDirectories(cfg)
    Files.writeString(cfg.resolve("profiles.yml"),
      """default:
        |  target: prod
        |  outputs:
        |    dev:
        |      warehouse_dir: /tmp/dev_wh
        |    prod:
        |      warehouse_dir: ${GRAFT_WH:-/tmp/prod_wh}
        |      secret: ${GRAFT_SECRET:-none}""".stripMargin)
    Files.writeString(cfg.resolve("environments.yml"),
      """dev:
        |  vars:
        |    min_price: "10"
        |prod:
        |  vars:
        |    min_price: "1000"""".stripMargin)
    Files.writeString(cfg.resolve("sources.yml"),
      """sources:
        |  - name: raw
        |    path: /data/raw
        |    tables:
        |      - name: orders
        |      - name: customers
        |        identifier: cust_v2""".stripMargin)
    dir
  }

  test("profiles load with target and env-var substitution defaults") {
    val c = new ProjectConfig(project())
    assert(c.currentTarget == "prod")
    assert(c.connectionConfig() == Map(
      "warehouse_dir" -> "/tmp/prod_wh", "secret" -> "none"))
    assert(c.connectionConfig(Some("dev"))("warehouse_dir") == "/tmp/dev_wh")
  }

  test("env vars override defaults; missing without default throws") {
    val c = new ProjectConfig(project(), env = Map("GRAFT_WH" -> "/mnt/wh"))
    assert(c.connectionConfig()("warehouse_dir") == "/mnt/wh")
    assertThrows[IllegalArgumentException](
      c.substituteEnvVars("x: ${DEFINITELY_NOT_SET}"))
  }

  test("environment vars and source table mapping") {
    val c = new ProjectConfig(project())
    assert(c.environmentVars("prod") == Map("min_price" -> "1000"))
    assert(c.environmentVars("dev") == Map("min_price" -> "10"))
    assert(c.sourceTableMap == Map(
      ("raw", "orders") -> "/data/raw/orders",
      ("raw", "customers") -> "cust_v2"))
  }

  test("missing config files mean empty maps, not failures") {
    val c = new ProjectConfig(Files.createTempDirectory("graft_empty_"))
    assert(c.profiles.isEmpty && c.currentTarget == "dev")
    assert(c.sourceTableMap.isEmpty)
  }
}

/** Holder for cross-task mutable state used by the flaky-UDF test
  * (object fields survive task serialization in local mode). */
object ProjectSpecState {
  val flakyCalls = new java.util.concurrent.atomic.AtomicInteger(0)
}

class ResilienceSpec extends SparkSpec {

  test("continueOnError records failure, skips dependents, runs the rest") {
    Tables.registerAll(spark, sfDir)
    val whDir = Files.createTempDirectory("graft_wh_").toString
    val state = StateStore(whDir + "/state")
    val wh = new Warehouse(spark, whDir, state)
    val runner = new ModelRunner(wh, Map(("raw", "orders") -> "orders"))
    runner.addModel("ok_model",
      "-- config: materialized=table\nSELECT COUNT(*) AS n FROM {{ source('raw', 'orders') }}")
    runner.addModel("broken",
      "-- config: materialized=table\nSELECT no_such_column FROM {{ source('raw', 'orders') }}")
    runner.addModel("downstream_of_broken",
      "-- config: materialized=table\nSELECT * FROM {{ ref('broken') }}")

    val results = runner.run(continueOnError = true)
    val byName = results.map(r => r.modelName -> r.status).toMap
    assert(byName("ok_model") == "success")
    assert(byName("broken").startsWith("failed"))
    assert(!byName.contains("downstream_of_broken")) // skipped
    assert(state.get("broken").exists(_.failureCount == 1))
    assert(wh.exists("ok_model"))

    // fail-fast mode still throws
    assertThrows[Exception](runner.run())
  }

  /** A runner over a fresh warehouse whose structured log lands in
    * `events`, with `sleep_ms(ms)` registered: a UDF that sleeps and
    * returns `ms`. */
  private def scheduledRunner(parallelism: Int,
      events: scala.collection.mutable.Buffer[String]): (Warehouse, ModelRunner) = {
    spark.udf.register("sleep_ms", org.apache.spark.sql.functions.udf(
      (ms: Long) => { Thread.sleep(ms); ms }).asNondeterministic())
    val whDir = Files.createTempDirectory("graft_wh_").toString
    val wh = new Warehouse(spark, whDir, StateStore(whDir + "/state"))
    val runner = new ModelRunner(wh, Map.empty, parallelism = parallelism)
    runner.setLogSink(Some(line => events.synchronized { events += line }))
    (wh, runner)
  }

  /** Position of `model`'s `event` line in the log, -1 when absent. */
  private def eventAt(events: scala.collection.Seq[String], event: String, model: String): Int =
    events.indexWhere(_.startsWith(s"""{"event":"$event","model":"$model""""))

  test("a fast chain is not held behind a slow sibling") {
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val (_, runner) = scheduledRunner(parallelism = 4, events)
    runner.addModel("slow", "-- config: materialized=table\nSELECT sleep_ms(1500) AS x")
    runner.addModel("a", "-- config: materialized=table\nSELECT 1 AS id")
    runner.addModel("b", "-- config: materialized=table\nSELECT id FROM {{ ref('a') }}")
    assert(runner.graph.topoLevels().map(_.toSet) == Seq(Set("slow", "a"), Set("b")))
    assert(runner.run().forall(_.status == "success"))
    assert(eventAt(events, "execution_end", "a") < eventAt(events, "execution_start", "b"))
    // b waits for its own parent, not for the slow model of a's level
    assert(eventAt(events, "execution_start", "b") < eventAt(events, "execution_end", "slow"),
      events)
  }

  test("fail-fast: nothing is submitted after a failure, the earliest failure is thrown") {
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val (wh, runner) = scheduledRunner(parallelism = 3, events)
    runner.addModel("bad_x", "-- config: materialized=table\nSELECT missing_x FROM range(1)")
    runner.addModel("bad_y", "-- config: materialized=table\nSELECT missing_y FROM range(1)")
    runner.addModel("slow", "-- config: materialized=table\nSELECT sleep_ms(1000) AS x")
    runner.addModel("after_slow", "-- config: materialized=table\nSELECT x FROM {{ ref('slow') }}")
    val order = runner.graph.executionOrder().flatten
    val first = order.filter(_.startsWith("bad_")).head
    val e = intercept[org.apache.spark.sql.AnalysisException](runner.run())
    assert(e.getMessage.contains(s"missing_${first.last}"), e.getMessage)
    // the model already running finished; its dependent was never submitted
    assert(eventAt(events, "execution_end", "slow") >= 0, events)
    assert(wh.exists("slow"))
    assert(eventAt(events, "execution_start", "after_slow") < 0, events)
  }

  test("continueOnError skips exactly the failed model's transitive dependents") {
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val (wh, runner) = scheduledRunner(parallelism = 2, events)
    def table(sql: String) = "-- config: materialized=table\n" + sql
    runner.addModel("root", table("SELECT id FROM range(3)"))
    runner.addModel("broken", table("SELECT no_such_column FROM {{ ref('root') }}"))
    runner.addModel("child", table("SELECT * FROM {{ ref('broken') }}"))
    runner.addModel("grandchild", table("SELECT * FROM {{ ref('child') }}"))
    runner.addModel("sibling", table("SELECT id FROM {{ ref('root') }}"))
    runner.addModel("slow", table("SELECT sleep_ms(500) AS x"))
    runner.addModel("after_slow", table("SELECT x FROM {{ ref('slow') }}"))
    runner.addModel("joined",
      table("SELECT id, x FROM {{ ref('sibling') }} CROSS JOIN {{ ref('after_slow') }}"))
    val results = runner.run(continueOnError = true)
    val status = results.map(r => r.modelName -> r.status).toMap
    assert(status.keySet == Set("root", "broken", "sibling", "slow", "after_slow", "joined"))
    assert(status("broken").startsWith("failed[sql_error]"), status)
    assert((status - "broken").values.forall(_ == "success"), status)
    assert(runner.graph.allDependents("broken") == Set("child", "grandchild"))
    Seq("child", "grandchild").foreach { m =>
      assert(eventAt(events, "execution_start", m) < 0, events)
      assert(!wh.exists(m))
    }
    assert(runner.lastRunErrors.map(_.errorClass) == Seq("sql_error"))
    assert(wh.state.get("broken").exists(_.failureCount == 1))
    assert(wh.read("joined").count() == 3)
  }

  test("a level of bucketed table models writes and reads back concurrently") {
    val whDir = Files.createTempDirectory("graft_wh_").toString
    val wh = new Warehouse(spark, whDir, StateStore(whDir + "/state"))
    val runner = new ModelRunner(wh, Map.empty, parallelism = 4)
    val names = (1 to 6).map(i => s"bk$i")
    names.zipWithIndex.foreach { case (m, i) =>
      runner.addModel(m, "-- config: materialized=table, bucket_by=id, buckets=2\n" +
        s"SELECT id, id * $i AS v FROM range(${10 + i})")
    }
    val results = runner.run()
    assert(results.map(_.status).toSet == Set("bucketed:2"))
    names.zipWithIndex.foreach { case (m, i) =>
      assert(wh.read(m).count() == 10 + i)
      assert(spark.table(wh.relation(m)).where("v <> id * " + i).count() == 0)
    }
  }

  test("atomic run: mid-DAG failure restores every pointer and watermark") {
    Tables.registerAll(spark, sfDir)
    val whDir = Files.createTempDirectory("graft_wh_").toString
    val state = StateStore(whDir + "/state")
    val wh = new Warehouse(spark, whDir, state)
    val runner = new ModelRunner(wh, Map(("raw", "orders") -> "orders"))
    runner.addModel("base",
      "-- config: materialized=table\nSELECT o_orderkey, o_totalprice FROM {{ source('raw', 'orders') }}")
    runner.addModel("inc",
      "-- config: materialized=incremental, incremental_strategy=append\nSELECT COUNT(*) AS n FROM {{ ref('base') }}")
    // establish the pre-run state the rollback must restore
    runner.run(Some(Seq("base", "inc")))
    val v0base = state.get("base").get.currentVersion
    val v0inc = state.get("inc").get.currentVersion
    val rows0 = wh.read("inc").count()
    // a third level that fails at execution, AFTER base and inc have
    // already re-materialized (and flipped) inside the atomic run
    runner.addModel("boom",
      "-- config: materialized=table\nSELECT no_such_column FROM {{ ref('inc') }}")
    assertThrows[Exception](runner.runAtomic())
    assert(state.get("base").get.currentVersion == v0base)
    assert(state.get("inc").get.currentVersion == v0inc)
    assert(!wh.exists("boom"))
    // the incremental APPEND rolled back too (appends are versions):
    // the restored pointer serves the pre-run row count
    assert(wh.read("inc").count() == rows0)
    // a second atomic attempt reuses the abandoned v<next> dirs cleanly
    assertThrows[Exception](runner.runAtomic())
    assert(state.get("base").get.currentVersion == v0base)
    assert(state.get("inc").get.currentVersion == v0inc)
    assert(wh.read("inc").count() == rows0)
    // and a plain (non-atomic) run afterwards works and flips forward
    val results = runner.run(Some(Seq("base", "inc")))
    assert(results.forall(r => !r.status.startsWith("failed")))
    assert(state.get("base").get.currentVersion > v0base)
  }

  test("atomic rollback preserves pre-run VIEW relations, drops created ones") {
    Tables.registerAll(spark, sfDir)
    val whDir = Files.createTempDirectory("graft_wh_").toString
    val wh = new Warehouse(spark, whDir, StateStore(whDir + "/state"))
    val runner = new ModelRunner(wh, Map(("raw", "orders") -> "orders"))
    runner.addModel("vbase",
      "-- config: materialized=table\nSELECT o_orderkey, o_totalprice FROM {{ source('raw', 'orders') }}")
    runner.addModel("v",
      "-- config: materialized=view\nSELECT COUNT(*) AS n FROM {{ ref('vbase') }}")
    runner.run(Some(Seq("vbase", "v")))
    assert(spark.catalog.tableExists(wh.relation("v")))
    val rows0 = spark.table(wh.relation("v")).collect().map(_.getLong(0)).toSeq
    // third level fails AFTER vbase re-materialized and v re-registered
    runner.addModel("boom2",
      "-- config: materialized=table\nSELECT no_such_column FROM {{ ref('v') }}")
    assertThrows[Exception](runner.runAtomic())
    // the view the run FOUND in place survived the rollback and serves
    // the pre-run result over the restored upstream pointer
    assert(spark.catalog.tableExists(wh.relation("v")),
      "pre-run view relation was dropped by the rollback")
    assert(spark.table(wh.relation("v")).collect()
      .map(_.getLong(0)).toSeq == rows0)
    // a relation the failed run would have CREATED does not linger
    assert(!spark.catalog.tableExists(wh.relation("boom2")))
  }

  test("atomic rollback restores a pre-run view's OLD definition, not the edited one") {
    Tables.registerAll(spark, sfDir)
    val whDir = Files.createTempDirectory("graft_wh_").toString
    val wh = new Warehouse(spark, whDir, StateStore(whDir + "/state"))
    val runner = new ModelRunner(wh, Map(("raw", "orders") -> "orders"))
    runner.addModel("ebase",
      "-- config: materialized=table\nSELECT o_orderkey, o_totalprice FROM {{ source('raw', 'orders') }}")
    runner.addModel("ev",
      "-- config: materialized=view\nSELECT COUNT(*) AS n FROM {{ ref('ebase') }}")
    runner.run(Some(Seq("ebase", "ev")))
    val n0 = spark.table(wh.relation("ev")).head().getLong(0)
    // EDIT the view's definition, then fail the atomic run downstream
    // of it: the rollback must restore the OLD definition's result —
    // re-rendering the edited SQL would serve n+1000000 over restored
    // upstream data (the r13 ADVICE window)
    runner.addModel("ev",
      "-- config: materialized=view\nSELECT COUNT(*) + 1000000 AS n FROM {{ ref('ebase') }}")
    runner.addModel("eboom",
      "-- config: materialized=table\nSELECT no_such_column FROM {{ ref('ev') }}")
    assertThrows[Exception](runner.runAtomic())
    assert(spark.catalog.tableExists(wh.relation("ev")))
    assert(spark.table(wh.relation("ev")).head().getLong(0) == n0,
      "rollback re-rendered the EDITED view definition instead of restoring the pre-run one")
    // the next healthy run applies the edit going forward
    runner.run(Some(Seq("ebase", "ev")))
    assert(spark.table(wh.relation("ev")).head().getLong(0) == n0 + 1000000)
  }

  test("model contract gates materialization; conforming model runs") {
    Tables.registerAll(spark, sfDir)
    val whDir = Files.createTempDirectory("graft_wh_").toString
    val wh = new Warehouse(spark, whDir, StateStore(whDir + "/state"))
    val runner = new ModelRunner(wh, Map(("raw", "orders") -> "orders"))
    runner.addModel("contracted",
      """-- config: materialized=table
        |-- contract: o_orderkey:bigint, price:double
        |SELECT o_orderkey, o_totalprice AS price
        |FROM {{ source('raw', 'orders') }}""".stripMargin)
    runner.addModel("drifted",
      """-- config: materialized=table
        |-- contract: o_orderkey:bigint, price:double
        |SELECT o_orderkey, CAST(o_totalprice AS INT) AS price
        |FROM {{ source('raw', 'orders') }}""".stripMargin)
    assert(runner.run(Some(Seq("contracted"))).head.status == "success")
    assert(wh.exists("contracted"))
    val e = intercept[Exception](runner.run(Some(Seq("drifted"))))
    // the violation is a typed ConfigError naming the drifted column,
    // raised BEFORE anything reaches storage
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) t.getMessage else rootMsg(t.getCause)
    assert(rootMsg(e).contains("'price' is int"))
    assert(!wh.exists("drifted"))
  }

  test("transient failure succeeds on retry; deterministic failure does not retry") {
    Tables.registerAll(spark, sfDir)
    val whDir = Files.createTempDirectory("graft_wh_").toString
    val wh = new Warehouse(spark, whDir, StateStore(whDir + "/state"))
    val runner = new ModelRunner(wh, Map(("raw", "orders") -> "orders"),
      maxRetries = 3, retryDelayMs = 1L)

    // Fails the first task that evaluates it, succeeds afterwards — a
    // transient executor failure as seen from the driver.
    ProjectSpecState.flakyCalls.set(0)
    spark.udf.register("flaky_once", () => {
      if (ProjectSpecState.flakyCalls.incrementAndGet() == 1)
        throw new RuntimeException("transient blip")
      42L
    })
    runner.addModel("flaky_model",
      "-- config: materialized=table\nSELECT flaky_once() AS v")
    val results = runner.run(Some(Seq("flaky_model")))
    assert(results.head.status == "success")
    assert(wh.read("flaky_model").head().getLong(0) == 42L)
    assert(ProjectSpecState.flakyCalls.get() >= 2) // first attempt failed

    // execution metrics record the retry (executor.py get_metrics)
    val m = runner.metrics.find(_.model == "flaky_model").get
    assert(m.attempts == 2 && !m.failed && m.durationMs >= 0)
    assert(runner.metricsJson.contains(""""flaky_model":{"status":"success""""))
    assert(runner.metricsJson.contains(""""attempts":2"""))

    // AnalysisException is deterministic: exactly one attempt, fails fast.
    runner.addModel("bad_sql",
      "-- config: materialized=table\nSELECT no_such FROM {{ source('raw', 'orders') }}")
    val t0 = System.nanoTime()
    assertThrows[Exception](runner.run(Some(Seq("bad_sql"))))
    assert((System.nanoTime() - t0) < 30e9) // no backoff sleeps piled up
  }

  test("failing error-severity test fails the model and blocks dependents; warn passes") {
    Tables.registerAll(spark, sfDir)
    val whDir = Files.createTempDirectory("graft_wh_").toString
    val state = StateStore(whDir + "/state")
    val wh = new Warehouse(spark, whDir, state)
    val runner = new ModelRunner(wh, Map(("raw", "orders") -> "orders"))
    // o_orderkey % 2 = 0 AS grp is NOT unique -> unique test fails (error)
    runner.addModel("tested_bad",
      """-- config: materialized=table
        |-- test: unique(grp)
        |SELECT o_orderkey % 2 AS grp FROM {{ source('raw', 'orders') }}""".stripMargin)
    runner.addModel("downstream",
      "-- config: materialized=table\nSELECT COUNT(*) AS n FROM {{ ref('tested_bad') }}")
    // warn severity on the same violation does not fail the model
    runner.addModel("tested_warn",
      """-- config: materialized=table
        |-- test: unique(grp) severity=warn
        |-- test: not_null(grp)
        |SELECT o_orderkey % 2 AS grp FROM {{ source('raw', 'orders') }}""".stripMargin)

    val results = runner.run(continueOnError = true)
    val byName = results.map(r => r.modelName -> r.status).toMap
    assert(byName("tested_bad").startsWith("failed"))
    assert(byName("tested_bad").contains("unique_grp"))
    assert(!byName.contains("downstream")) // blocked by failed tests
    assert(state.get("tested_bad").exists(_.failureCount == 1))
    assert(byName("tested_warn") == "success (1 test warnings)")

    val outcomes = runner.runTests(Some(Seq("tested_warn")))
    assert(outcomes.map(o => (o.check, o.passed, o.severity)).toSet == Set(
      ("unique_grp", false, "warn"), ("not_null_grp", true, "error")))
  }

  test("each declaration keeps its own severity: an error-severity failure " +
    "fails the model even when the same check is also declared at warn") {
    val whDir = Files.createTempDirectory("graft_wh_").toString
    val runner = new ModelRunner(
      new Warehouse(spark, whDir, StateStore(whDir + "/state")), Map.empty)
    // sidecar not_null(c) at error severity, inline not_null(c) at warn
    runner.addModel("m",
      "-- config: materialized=table\n-- test: not_null(c) severity=warn\n" +
        "SELECT CAST(NULL AS INT) AS c",
      base = ModelConfig("m", tests = Seq(TestSpec("not_null", "c"))))
    val failure = intercept[ModelRunner.ModelTestFailure](runner.run())
    assert(failure.failed.map(o => (o.check, o.severity)) ==
      Seq(("not_null_c", "error")))
    assert(runner.runTests(Some(Seq("m"))).map(o => (o.check, o.failures,
      o.severity)) == Seq(("not_null_c", 1L, "error"), ("not_null_c", 1L, "warn")))
  }

  test("result formatter emits json, csv, and table") {
    val df = Tables.load(spark, sfDir, "region")
    val json = ResultFormatter.format(df, "json")
    assert(json.startsWith("[{") && json.contains("\"r_name\""))
    val csv = ResultFormatter.format(df, "csv")
    assert(csv.linesIterator.next() == "r_regionkey,r_name")
    assert(csv.linesIterator.size == 6) // header + 5 regions
    val table = ResultFormatter.format(df, "table")
    assert(table.contains("| r_name") && table.contains("ASIA"))
    assertThrows[IllegalArgumentException](ResultFormatter.format(df, "xml"))
  }
}

class BackfillFusionSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def fixture() = {
    Tables.registerAll(spark, sfDir)
    val whDir = Files.createTempDirectory("graft_wh_").toString
    val wh = new Warehouse(spark, whDir, StateStore(whDir + "/state"))
    (wh, new ModelRunner(wh, Map(("raw", "events") -> "events")))
  }

  private val appendSql =
    """-- config: materialized=incremental, incremental_strategy=append
      |SELECT event_id, ts, event_type, value
      |FROM {{ source('raw', 'events') }}
      |WHERE CAST(ts AS DATE) >= DATE '$start_date'
      |  AND CAST(ts AS DATE) <= DATE '$end_date'""".stripMargin

  test("append backfill fuses chunks into one write, same table as serial") {
    val (whF, fused) = fixture()
    fused.addModel("bf", appendSql)
    val rs = Backfill.run(fused, "bf",
      java.time.LocalDate.parse("2024-01-01"),
      java.time.LocalDate.parse("2024-01-31"), intervalDays = 6)
    assert(rs.size == 1, "fused path must materialize once")
    // one version written (single write), not one per chunk
    assert(whF.currentVersion("bf").contains(1L))

    val (_, serial) = fixture()
    serial.addModel("bf", appendSql)
    // force the serial loop via the is_incremental guard's sibling: a
    // post-hook makes it non-fusible
    serial.addModel("bf2", "-- post_hook: SELECT 1\n" + appendSql)
    val rs2 = Backfill.run(serial, "bf2",
      java.time.LocalDate.parse("2024-01-01"),
      java.time.LocalDate.parse("2024-01-31"), intervalDays = 6)
    assert(rs2.size > 1, "hooked model must keep the serial chunk loop")

    val a = whF.read("bf").groupBy(col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = serial.readModel("bf2").groupBy(col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b, "fused and serial backfills must load identical rows")
  }

  test("fused backfill refuses a documented column its SELECT lacks") {
    val (wh, runner) = fixture()
    runner.addModel("bf", appendSql,
      ModelConfig("bf", columns = Seq(ColumnDoc("value"), ColumnDoc("user_id"))))
    val e = intercept[ConfigError] {
      Backfill.run(runner, "bf",
        java.time.LocalDate.parse("2024-01-01"),
        java.time.LocalDate.parse("2024-01-31"), intervalDays = 6)
    }
    assert(e.getMessage.contains("'user_id'"))
    assert(wh.currentVersion("bf").isEmpty, "no version may be written")
  }

  test("is_incremental() branch keeps the serial loop") {
    val (_, runner) = fixture()
    runner.addModel("cond",
      """-- config: materialized=incremental, incremental_strategy=append
        |SELECT event_id, ts FROM {{ source('raw', 'events') }}
        |WHERE CAST(ts AS DATE) >= DATE '$start_date'
        |  AND CAST(ts AS DATE) <= DATE '$end_date'
        |  {% if is_incremental() %}AND event_id > 0{% endif %}""".stripMargin)
    assert(!runner.incrementalInvariant("cond",
      Map("start_date" -> "2024-01-01", "end_date" -> "2024-01-02")))
    val rs = Backfill.run(runner, "cond",
      java.time.LocalDate.parse("2024-01-01"),
      java.time.LocalDate.parse("2024-01-13"), intervalDays = 6)
    assert(rs.size > 1, "is_incremental body must not fuse")
  }
}
