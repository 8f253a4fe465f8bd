package graft.model

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Unit tests for the pure (no-Spark) framework pieces. */
class DependencyGraphSpec extends AnyFunSuite {

  private def diamond(): DependencyGraph = {
    val g = new DependencyGraph
    g.addModel("bronze", Set.empty)
    g.addModel("silver_a", Set("bronze"))
    g.addModel("silver_b", Set("bronze"))
    g.addModel("gold", Set("silver_a", "silver_b"))
    g
  }

  test("topological levels respect dependencies and maximize parallelism") {
    val levels = diamond().topoLevels()
    assert(levels == Seq(Seq("bronze"), Seq("silver_a", "silver_b"), Seq("gold")))
  }

  test("cycle detection finds and names the cycle") {
    val g = new DependencyGraph
    g.addModel("a", Set("c")); g.addModel("b", Set("a")); g.addModel("c", Set("b"))
    val cycle = g.findCycle()
    assert(cycle.isDefined && cycle.get.size == 3)
    assertThrows[DependencyError](g.topoLevels())
  }

  test("transitive dependencies and dependents") {
    val g = diamond()
    assert(g.allDependencies("gold") == Set("bronze", "silver_a", "silver_b"))
    assert(g.allDependents("bronze") == Set("silver_a", "silver_b", "gold"))
  }

  test("impact analysis includes the changed set plus downstream") {
    assert(diamond().impact(Set("silver_a")) == Set("silver_a", "gold"))
  }

  test("execution order restricted to targets pulls in upstream only") {
    val levels = diamond().executionOrder(Some(Seq("silver_a")))
    assert(levels == Seq(Seq("bronze"), Seq("silver_a")))
  }

  test("removeModel detaches edges") {
    val g = diamond()
    g.removeModel("silver_b")
    assert(g.dependencies("gold") == Set("silver_a"))
    assert(g.dependents("bronze") == Set("silver_a"))
  }

  test("dot export lists nodes and edges") {
    val dot = diamond().toDot
    assert(dot.contains("\"bronze\" -> \"silver_a\";") && dot.startsWith("digraph"))
  }
}

class SqlTemplateSpec extends AnyFunSuite {
  val sql =
    """-- config: materialized=incremental, incremental_strategy=time, time_column=ts
      |SELECT * FROM {{ ref('upstream') }} u
      |JOIN {{ source('raw', 'events') }} e ON u.id = e.id
      |WHERE amount > $min_amount
      |{% if is_incremental() %}AND ts > (SELECT MAX(ts) FROM {{ this }}){% endif %}""".stripMargin

  test("extracts refs, sources, variables") {
    assert(SqlTemplate.extractRefs(sql) == Set("upstream"))
    assert(SqlTemplate.extractSources(sql) == Set(("raw", "events")))
    assert(SqlTemplate.extractVariables(sql) == Set("min_amount"))
  }

  test("renders full-refresh mode (incremental block dropped)") {
    val out = SqlTemplate.render(sql, "m", m => s"rel_$m", (s, t) => s"${s}_$t",
      isIncremental = false, variables = Map("min_amount" -> "5"))
    assert(out.contains("rel_upstream") && out.contains("raw_events"))
    assert(out.contains("amount > 5") && !out.contains("MAX(ts)"))
  }

  test("renders incremental mode with this-reference") {
    val out = SqlTemplate.render(sql, "m", m => s"rel_$m", (s, t) => s"${s}_$t",
      isIncremental = true, variables = Map("min_amount" -> "5"))
    assert(out.contains("AND ts > (SELECT MAX(ts) FROM rel_m)"))
  }

  test("if/else blocks") {
    val s2 = "SELECT {% if is_incremental() %}1{% else %}2{% endif %} AS x"
    assert(SqlTemplate.render(s2, "m", identity, (_, _) => "", isIncremental = false,
      Map.empty).contains("2"))
    assert(SqlTemplate.render(s2, "m", identity, (_, _) => "", isIncremental = true,
      Map.empty).contains("1"))
  }

  test("missing variables throw with the variable named") {
    val e = intercept[IllegalArgumentException](
      SqlTemplate.render("SELECT $foo", "m", identity, (_, _) => ""))
    assert(e.getMessage.contains("foo"))
  }

  test("config parsing picks up materialization settings and aliases") {
    val cfg = ModelConfig.fromSql("m", sql)
    assert(cfg.materialized == "incremental")
    assert(cfg.incrementalStrategy.contains("time"))
    assert(cfg.timeColumn.contains("ts"))
    val alias = ModelConfig.fromSql("m", "-- config: materialized=incremental_table\nSELECT 1")
    assert(alias.materialized == "incremental")
  }

  test("invalid incremental config fails validation") {
    assertThrows[ConfigError](
      ModelConfig.fromSql("m", "-- config: materialized=incremental\nSELECT 1").validate())
  }

  test("meta headers merge into metadata without touching config") {
    val cfg = ModelConfig.fromSql("m",
      """-- config: materialized=table, partition_by=day
        |-- meta: owner=data-team, pii=true
        |SELECT 1""".stripMargin)
    assert(cfg.materialized == "table")
    assert(cfg.meta("partition_by") == "day")
    assert(cfg.meta("owner") == "data-team" && cfg.meta("pii") == "true")
  }

  test("declarative test headers parse into typed specs") {
    val cfg = ModelConfig.fromSql("m",
      """-- config: materialized=table
        |-- test: unique(id)
        |-- test: not_null(name) severity=warn
        |-- test: accepted_values(status, F|O|P)
        |-- test: range(price, 0.0, 100.0)
        |SELECT 1""".stripMargin)
    assert(cfg.tests.map(_.testType) == Seq("unique", "not_null", "accepted_values", "range"))
    assert(cfg.tests(1).severity == "warn" && cfg.tests.head.severity == "error")
    assert(cfg.tests(2).params == Seq("F", "O", "P"))
    assert(cfg.tests(3).toCheck == Quality.RangeCheck("price", 0.0, 100.0))
    assertThrows[ConfigError](
      ModelConfig.fromSql("m", "-- test: frobnicate(x)\nSELECT 1").tests.head.toCheck)
    assertThrows[ConfigError](ModelConfig.parseTest("not a test"))
  }

  test("model contract: parses, passes on exact schema, names offenders") {
    import org.apache.spark.sql.types._
    val cfg = ModelConfig.fromSql("m",
      """-- config: materialized=table
        |-- contract: id:bigint, price:double, tags:array<string>
        |SELECT 1""".stripMargin)
    assert(cfg.contract == Seq("id" -> "bigint", "price" -> "double",
      "tags" -> "array<string>"))
    val good = StructType(Seq(StructField("price", DoubleType),
      StructField("id", LongType),
      StructField("tags", ArrayType(StringType)))) // order-free
    cfg.enforceContract(good)
    def msg(s: StructType) =
      intercept[ConfigError](cfg.enforceContract(s)).getMessage
    assert(msg(StructType(good.filterNot(_.name == "id"))).contains("'id' missing"))
    assert(msg(StructType(good.map(f =>
      if (f.name == "price") f.copy(dataType = IntegerType) else f)))
      .contains("'price' is int"))
    assert(msg(StructType(good :+ StructField("extra", StringType)))
      .contains("undeclared column 'extra'"))
    assertThrows[ConfigError](
      ModelConfig.fromSql("m", "-- contract: broken\nSELECT 1"))
    assertThrows[ConfigError](
      ModelConfig.fromSql("m", "-- contract: x:not_a_type\nSELECT 1"))
    // no contract declared -> no-op on any schema
    ModelConfig.fromSql("m", "SELECT 1").enforceContract(good)
  }

  test("model contract: multi-field struct and decimal types stay whole") {
    import org.apache.spark.sql.types._
    val cfg = ModelConfig.fromSql("m",
      """-- contract: id:bigint, payload:struct<a:bigint,b:string>, amt:decimal(10,2)
        |SELECT 1""".stripMargin)
    assert(cfg.contract.map(_._1) == Seq("id", "payload", "amt"))
    cfg.enforceContract(StructType(Seq(
      StructField("id", LongType),
      StructField("payload", StructType(Seq(StructField("a", LongType),
        StructField("b", StringType)))),
      StructField("amt", DecimalType(10, 2)))))
    // a drifted inner field is still caught
    val e = intercept[ConfigError](cfg.enforceContract(StructType(Seq(
      StructField("id", LongType),
      StructField("payload", StructType(Seq(StructField("a", IntegerType),
        StructField("b", StringType)))),
      StructField("amt", DecimalType(10, 2))))))
    assert(e.getMessage.contains("'payload'"))
  }

  test("relationships test parses to a typed FK check") {
    val cfg = ModelConfig.fromSql("m",
      """-- config: materialized=table
        |-- test: relationships(cust_id, customers, id) severity=warn
        |SELECT 1""".stripMargin)
    assert(cfg.tests.head.toCheck ==
      Quality.Relationships("cust_id", "customers", "id"))
    assert(cfg.tests.head.severity == "warn")
    assertThrows[ConfigError](
      ModelConfig.parseTest("relationships(cust_id, customers)").toCheck)
  }
}

class StateStoreSpec extends AnyFunSuite {
  test("round-trips state and detects changes") {
    val dir = Files.createTempDirectory("graft_state_")
    val st = new StateStore(dir)
    assert(st.hasChanged("m", "h1", "c1"))
    st.update("m")(_.copy(fileHash = "h1", configHash = "c1"))
    assert(!st.hasChanged("m", "h1", "c1"))
    assert(st.hasChanged("m", "h2", "c1"))
    st.markExecution("m", success = true, "2026-01-01T00:00:00Z")
    st.update("m")(_.copy(incremental = Map("last_processed_time" -> "2024-01-15 00:00:00")))

    val reloaded = new StateStore(dir)
    val s = reloaded.get("m").get
    assert(s.fileHash == "h1" && s.successCount == 1 && s.executionCount == 1)
    assert(reloaded.watermark("m", "last_processed_time").contains("2024-01-15 00:00:00"))
  }

  test("clear removes one model or everything") {
    val dir = Files.createTempDirectory("graft_state_")
    val st = new StateStore(dir)
    Seq("a", "b").foreach(st.update(_)(_.copy(fileHash = "h", configHash = "c")))
    st.clear(Some("a"))
    assert(st.get("a").isEmpty && st.get("b").isDefined)
    st.clear()
    assert(st.all.isEmpty)
  }

  test("statistics aggregate executions; export/import round-trips") {
    val dir = Files.createTempDirectory("graft_state_")
    val st = new StateStore(dir)
    st.markExecution("a", success = true, "2026-01-01T00:00:00Z")
    st.markExecution("a", success = true, "2026-01-02T00:00:00Z")
    st.markExecution("b", success = false, "2026-01-03T00:00:00Z")
    val stats = st.statistics
    assert(stats("total_models") == 2)
    assert(stats("total_executions") == 3L)
    assert(stats("total_successes") == 2L)
    assert(stats("total_failures") == 1L)
    assert(stats("success_rate") == 66.67)

    val out = dir.resolve("exported.json")
    st.exportState(out)
    val other = new StateStore(Files.createTempDirectory("graft_state2_"))
    other.markExecution("zzz", success = true, "2026-01-01T00:00:00Z")
    other.importState(out)
    assert(other.get("zzz").isEmpty) // replaced wholesale
    assert(other.get("a").exists(_.successCount == 2))
  }
}

class PlannerSpec extends AnyFunSuite {
  test("classifies create/update/no_change from hashes") {
    val dir = Files.createTempDirectory("graft_state_")
    val st = new StateStore(dir)
    val sqlA = "SELECT 1"; val sqlB = "SELECT 2 FROM {{ ref('a') }}"
    val cfgs = Map("a" -> ModelConfig("a"), "b" -> ModelConfig("b"))
    val g = new DependencyGraph
    g.addModel("a", Set.empty); g.addModel("b", Set("a"))

    val p1 = Planner.plan(Map("a" -> sqlA, "b" -> sqlB), cfgs, g, st)
    assert(p1.byType(Planner.Create).map(_.modelName).toSet == Set("a", "b"))

    Seq("a" -> sqlA, "b" -> sqlB).foreach { case (m, sql) =>
      st.update(m)(_.copy(fileHash = StateStore.sha256(sql),
        configHash = StateStore.sha256(cfgs(m).toString)))
    }
    val p2 = Planner.plan(Map("a" -> sqlA, "b" -> sqlB), cfgs, g, st)
    assert(p2.byType(Planner.NoChange).size == 2 && p2.toRun.isEmpty)

    val p3 = Planner.plan(Map("a" -> "SELECT 99", "b" -> sqlB), cfgs, g, st)
    assert(p3.byType(Planner.Update).map(_.modelName) == Seq("a"))
    assert(p3.toRun == Set("a", "b")) // b impacted downstream
  }
}

class BackfillSpec extends AnyFunSuite {
  test("intervals tile the range without overlap and cap the tail") {
    val ivs = Backfill.intervals(
      java.time.LocalDate.parse("2024-01-01"),
      java.time.LocalDate.parse("2024-01-31"), intervalDays = 6)
    assert(ivs.head.start.toString == "2024-01-01" && ivs.head.end.toString == "2024-01-07")
    assert(ivs.last.end.toString == "2024-01-31")
    // disjoint + complete coverage
    val days = ivs.flatMap(iv =>
      Iterator.iterate(iv.start)(_.plusDays(1)).takeWhile(!_.isAfter(iv.end)).toSeq)
    assert(days.distinct.size == days.size && days.size == 31)
  }
}

class RunOrderSpec extends SparkSpec {

  test("run returns results in execution order, whatever order models finish in") {
    spark.udf.register("sleep_ms", org.apache.spark.sql.functions.udf(
      (ms: Long) => { Thread.sleep(ms); ms }).asNondeterministic())
    val whDir = Files.createTempDirectory("graft_wh_").toString
    val wh = new Warehouse(spark, whDir, StateStore(whDir + "/state"))
    val runner = new ModelRunner(wh, Map.empty, parallelism = 3)
    runner.addModel("slow_root", "-- config: materialized=table\nSELECT sleep_ms(600) AS x")
    runner.addModel("fast_root", "-- config: materialized=view\nSELECT 1 AS id")
    runner.addModel("mid", "-- config: materialized=table\nSELECT id FROM {{ ref('fast_root') }}")
    runner.addModel("gold", "-- config: materialized=table\n" +
      "SELECT id, x FROM {{ ref('mid') }} CROSS JOIN {{ ref('slow_root') }}")
    // a disabled model counts as finished at once: its dependent still runs
    runner.addModel("off", "-- config: materialized=table, enabled=false\nSELECT 1 AS y")
    runner.addModel("after_off", "-- config: materialized=view\n-- depends_on: off\nSELECT 2 AS y")
    val g = runner.graph
    val results = runner.run()
    assert(results.map(_.modelName) == g.executionOrder().flatten.filterNot(_ == "off"))
    assert(results.forall(_.status == "success"))
    // fast_root and mid finished before slow_root, yet come back in order
    val picked = runner.run(Some(Seq("gold")))
    assert(picked.map(_.modelName) == g.executionOrder(Some(Seq("gold"))).flatten)
    assert(wh.read("gold").count() == 1)
  }
}
