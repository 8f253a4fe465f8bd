package graft

import java.nio.file.{Files, Paths}
import graft.model._

/** Hot-reload (watch) loop: change a model file → only it and its
  * downstream impact re-run on the next poll. */
class CliSpec extends SparkSpec {

  test("watch re-runs changed models and their impact, then settles") {
    Tables.registerAll(spark, sfDir)
    val proj = Files.createTempDirectory("graft_proj_")
    val models = proj.resolve("models")
    Files.createDirectories(models)
    Files.writeString(models.resolve("base.sql"),
      """-- config: materialized=table
        |SELECT o_orderkey, o_totalprice FROM {{ source('raw', 'orders') }}
        |WHERE o_totalprice > 100""".stripMargin)
    Files.writeString(models.resolve("agg.sql"),
      """-- config: materialized=table
        |SELECT COUNT(*) AS n FROM {{ ref('base') }}""".stripMargin)

    // first pass materializes both; second pass must be a no-op
    Cli.watch(spark, proj, intervalMs = 1, maxIterations = 2)
    val whDir = proj.resolve("warehouse").toString
    val state = StateStore(whDir + "/state")
    val wh = new Warehouse(spark, whDir, state)
    assert(wh.currentVersion("base").contains(1L))
    assert(wh.currentVersion("agg").contains(1L))
    val n1 = wh.read("agg").head().getLong(0)

    // edit base -> next poll re-runs base AND agg (impact), versions bump
    Files.writeString(models.resolve("base.sql"),
      """-- config: materialized=table
        |SELECT o_orderkey, o_totalprice FROM {{ source('raw', 'orders') }}
        |WHERE o_totalprice > 200000""".stripMargin)
    Cli.watch(spark, proj, intervalMs = 1, maxIterations = 1)
    val state2 = StateStore(whDir + "/state")
    val wh2 = new Warehouse(spark, whDir, state2)
    assert(wh2.currentVersion("base").contains(2L))
    assert(wh2.currentVersion("agg").contains(2L))
    val n2 = wh2.read("agg").head().getLong(0)
    assert(n2 < n1) // tighter filter -> fewer rows counted
  }

  /** Build a project dir with the given model files. */
  private def project(models: (String, String)*): java.nio.file.Path = {
    val proj = Files.createTempDirectory("graft_proj_")
    val dir = proj.resolve("models")
    Files.createDirectories(dir)
    models.foreach { case (name, sql) =>
      Files.writeString(dir.resolve(s"$name.sql"), sql)
    }
    proj
  }

  private def run(proj: java.nio.file.Path, cmd: String, rest: String*): (Int, Seq[String]) = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Cli.execute(spark, proj, cmd, rest, lines += _)
    (code, lines.toSeq)
  }

  test("test command reports suite results and fails on error severity") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "orders_clean" ->
        """-- config: materialized=table
          |-- test: unique(o_orderkey)
          |-- test: not_null(o_custkey)
          |SELECT o_orderkey, o_custkey FROM {{ source('raw', 'orders') }}""".stripMargin,
      "dupes" ->
        """-- config: materialized=table
          |-- test: unique(grp) severity=warn
          |SELECT o_orderkey % 2 AS grp FROM {{ source('raw', 'orders') }}""".stripMargin)
    assert(run(proj, "run")._1 == 0) // warn-severity failure doesn't fail the run
    val (code, lines) = run(proj, "test")
    assert(code == 0) // only warn-severity failures
    assert(lines.exists(_.startsWith("PASS orders_clean.unique_o_orderkey")))
    assert(lines.exists(_.startsWith("WARN dupes.unique_grp")))

    // escalate the dupes test to error severity -> test command fails
    Files.writeString(proj.resolve("models/dupes.sql"),
      """-- config: materialized=table
        |-- test: unique(grp)
        |SELECT o_orderkey % 2 AS grp FROM {{ source('raw', 'orders') }}""".stripMargin)
    val (code2, lines2) = run(proj, "test")
    assert(code2 == 1)
    assert(lines2.exists(_.startsWith("FAIL dupes.unique_grp")))
  }

  test("test and sql read the warehouse from a fresh session") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "orders_clean" ->
        """-- config: materialized=table
          |-- test: unique(o_orderkey)
          |SELECT o_orderkey FROM {{ source('raw', 'orders') }}""".stripMargin,
      "big_orders" ->
        """-- config: materialized=view
          |SELECT o_orderkey FROM {{ ref('orders_clean') }}
          |WHERE o_orderkey > 10""".stripMargin,
      "child" ->
        """-- config: materialized=table
          |-- test: relationships(o_orderkey, big_orders, o_orderkey) severity=warn
          |SELECT o_orderkey FROM {{ ref('orders_clean') }}""".stripMargin)
    assert(run(proj, "run")._1 == 0)
    // temp views are per session, so this one sees none of run's relations
    val fresh = spark.newSession()
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    assert(Cli.execute(fresh, proj, "test", Nil, lines += _) == 0, lines)
    assert(lines.exists(_.startsWith("PASS orders_clean.unique_o_orderkey")), lines)
    assert(lines.exists(_.startsWith(
      "WARN child.relationships_o_orderkey__big_orders_o_orderkey")), lines)
    assert(lines.last == "1/2 tests passed")
    lines.clear()
    assert(Cli.execute(spark.newSession(), proj, "sql",
      Seq("SELECT COUNT(*) AS n FROM {{ ref('big_orders') }}"), lines += _) == 0,
      lines)
    // a view that no longer analyzes is a typed sql_error, not a stack trace
    Files.writeString(proj.resolve("models/broken.sql"),
      "-- config: materialized=view\nSELECT no_such_col FROM {{ ref('orders_clean') }}")
    val (code, out) = run(proj, "sql", "SELECT 1 AS x")
    assert(code == 4 && out.exists(_.startsWith("ERROR[sql_error]")), out)
  }

  test("test runs the declared tests of view models, as run does") {
    val proj = project(
      "v" ->
        """-- config: materialized=view
          |-- test: not_null(x) severity=warn
          |SELECT CAST(NULL AS INT) AS x""".stripMargin)
    val (runCode, runLines) = run(proj, "run")
    assert(runCode == 0 && runLines.exists(_.contains("(1 test warnings)")), runLines)
    val (code, lines) = run(proj, "test")
    assert(code == 0, lines)
    assert(lines.exists(_.startsWith("WARN v.not_null_x (1 failing rows)")), lines)
    assert(lines.last == "0/1 tests passed", lines)
  }

  test("run with failing error-severity tests exits nonzero and blocks dependents") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "bad_base" ->
        """-- config: materialized=table
          |-- test: unique(grp)
          |SELECT o_orderkey % 2 AS grp FROM {{ source('raw', 'orders') }}""".stripMargin,
      "child" ->
        "-- config: materialized=table\nSELECT COUNT(*) AS n FROM {{ ref('bad_base') }}")
    val (code, lines) = run(proj, "run")
    assert(code == 6) // test_failure class exit code
    assert(lines.exists(l => l.startsWith("bad_base:") && l.contains("failed")))
    assert(!lines.exists(_.startsWith("child:"))) // skipped, never ran
  }

  test("dry-run validates and plans without materializing") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "good" ->
        "-- config: materialized=table\nSELECT 1 AS x",
      "bad_cfg" ->
        "-- config: materialized=incremental\nSELECT 2 AS y")
    val (code, lines) = run(proj, "run", "--dry-run")
    assert(code == 1) // bad_cfg has no incremental_strategy
    assert(lines.exists(_.startsWith("DRY RUN good: table ok")))
    assert(lines.exists(l => l.startsWith("DRY RUN bad_cfg: INVALID")))
    // nothing materialized (the state dir may exist, but no model does)
    val whDir = proj.resolve("warehouse").toString
    val wh = new model.Warehouse(spark, whDir, model.StateStore(whDir + "/state", "dev"))
    assert(!wh.exists("good") && !wh.exists("bad_cfg"))
  }

  test("run/list --select resolves dbt-style graph selectors") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "base" -> "-- config: materialized=table\nSELECT 1 AS x",
      "mid" -> "-- config: materialized=table\nSELECT x FROM {{ ref('base') }}",
      "leaf" -> "-- config: materialized=table\nSELECT x FROM {{ ref('mid') }}",
      "other" ->
        "-- config: materialized=table\n-- tags: extra\nSELECT 9 AS z")

    // mid+ = mid and its downstream (leaf); base materializes too as
    // mid's upstream requirement — but `other` must NOT run
    val (code, lines) = run(proj, "run", "--select", "mid+")
    assert(code == 0, lines.mkString("\n"))
    val whDir = proj.resolve("warehouse").toString
    val wh = new model.Warehouse(
      spark, whDir, model.StateStore(whDir + "/state", "dev"))
    assert(wh.exists("base") && wh.exists("mid") && wh.exists("leaf"))
    assert(!wh.exists("other"))

    // list narrows through the same resolver
    val (lc, ll) = run(proj, "list", "--select", "+leaf")
    assert(lc == 0)
    assert(ll.map(_.takeWhile(_ != ' ')).toSet == Set("base", "mid", "leaf"))
    val (tc, tl) = run(proj, "list", "--select", "tag:extra")
    assert(tc == 0 && tl.size == 1 && tl.head.startsWith("other"))

    // a typo'd selector is loud: DependencyError exit code, not a no-op
    val (bad, badLines) = run(proj, "run", "--select", "nope+")
    assert(bad == 7, badLines.mkString("\n"))

    // a GIVEN selection that resolves empty runs/lists NOTHING — it
    // must never widen to "all models" (the CI inversion hazard)
    val beforeLeaf = {
      val whDir = proj.resolve("warehouse").toString
      new model.Warehouse(spark, whDir,
        model.StateStore(whDir + "/state", "dev")).currentVersion("leaf")
    }
    val (ec, el) = run(proj, "run", "--select", "tag:no_such_tag")
    assert(ec == 0, el.mkString("\n"))
    val afterLeaf = {
      val whDir = proj.resolve("warehouse").toString
      new model.Warehouse(spark, whDir,
        model.StateStore(whDir + "/state", "dev")).currentVersion("leaf")
    }
    assert(afterLeaf == beforeLeaf, "empty selection must not run models")
    val (lc3, ll3) = run(proj, "list", "--select", "tag:no_such_tag")
    assert(lc3 == 0 && ll3.isEmpty)
  }

  test("--select state:modified runs only hash-changed models (+ dependents)") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "base" -> "-- config: materialized=table\nSELECT 1 AS x",
      "mid" -> "-- config: materialized=table\nSELECT x FROM {{ ref('base') }}",
      "leaf" -> "-- config: materialized=table\nSELECT x FROM {{ ref('mid') }}",
      "other" -> "-- config: materialized=table\nSELECT 9 AS z")
    val (c0, l0) = run(proj, "run")
    assert(c0 == 0, l0.mkString("\n"))

    // edit mid: it becomes the only state:modified model
    Files.writeString(proj.resolve("models").resolve("mid.sql"),
      "-- config: materialized=table\nSELECT x + 1 AS x FROM {{ ref('base') }}")
    val (lc, ll) = run(proj, "list", "--select", "state:modified")
    assert(lc == 0)
    assert(ll.map(_.takeWhile(_ != ' ')).toSet == Set("mid"))
    val (lc2, ll2) = run(proj, "list", "--select", "state:modified+")
    assert(lc2 == 0)
    assert(ll2.map(_.takeWhile(_ != ' ')).toSet == Set("mid", "leaf"))

    // run state:modified+ — the CI shape: changed model + its impact
    val (rc, rl) = run(proj, "run", "--select", "state:modified+")
    assert(rc == 0, rl.mkString("\n"))
    val whDir = proj.resolve("warehouse").toString
    val wh = new model.Warehouse(
      spark, whDir, model.StateStore(whDir + "/state", "dev"))
    // base re-materializes as mid's upstream (run-targets semantics);
    // the unrelated model must NOT move
    assert(wh.currentVersion("other").contains(1L))
    assert(wh.currentVersion("mid").contains(2L))
    assert(wh.currentVersion("leaf").contains(2L))
  }

  test("--target selects the environment's warehouse and variables") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "thresholded" ->
        "-- config: materialized=table\nSELECT COUNT(*) AS n FROM {{ source('raw', 'orders') }} WHERE o_totalprice > $min_price")
    val cfgDir = proj.resolve("config")
    Files.createDirectories(cfgDir)
    Files.writeString(cfgDir.resolve("profiles.yml"),
      s"""default:
         |  target: dev
         |  outputs:
         |    dev:
         |      warehouse_dir: $proj/wh_dev
         |    prod:
         |      warehouse_dir: $proj/wh_prod""".stripMargin)
    Files.writeString(cfgDir.resolve("environments.yml"),
      """dev:
        |  vars:
        |    min_price: "0"
        |prod:
        |  vars:
        |    min_price: "100000"""".stripMargin)
    assert(run(proj, "run")._1 == 0) // dev default
    assert(run(proj, "run", "--target", "prod")._1 == 0)
    def countIn(whDir: String, target: String): Long = {
      val wh = new model.Warehouse(spark, whDir, model.StateStore(whDir + "/state", target))
      wh.read("thresholded").head().getLong(0)
    }
    val (nDev, nProd) =
      (countIn(s"$proj/wh_dev", "dev"), countIn(s"$proj/wh_prod", "prod"))
    assert(nDev > nProd && nProd > 0) // different vars hit different warehouses
  }

  test("lineage --impact chains column dependencies across the model DAG") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "staging" ->
        """-- config: materialized=view
          |SELECT o_orderkey AS order_id, o_totalprice AS price,
          |  o_orderstatus AS status
          |FROM {{ source('raw', 'orders') }}""".stripMargin,
      "enriched" ->
        """-- config: materialized=view
          |SELECT order_id, price * 1.1 AS price_taxed, status
          |FROM {{ ref('staging') }}""".stripMargin,
      "summary" ->
        """-- config: materialized=view
          |SELECT status, SUM(price_taxed) AS revenue
          |FROM {{ ref('enriched') }} GROUP BY status""".stripMargin)

    // price flows staging.price -> enriched.price_taxed -> summary.revenue
    val (c1, out1) = run(proj, "lineage", "staging", "--impact", "price")
    assert(c1 == 0)
    assert(out1.toSet == Set(
      "staging.price -> enriched.price_taxed",
      "staging.price -> summary.revenue"))

    // order_id reaches enriched but is not used by summary
    val (_, out2) = run(proj, "lineage", "staging", "--impact", "order_id")
    assert(out2 == Seq("staging.order_id -> enriched.order_id"))

    // whole-project JSON export names immediate model-boundary sources
    val (c3, out3) = run(proj, "lineage", "--json")
    assert(c3 == 0)
    val json = out3.mkString
    assert(json.contains(""""enriched.price_taxed""""))   // summary's source
    assert(json.contains(""""staging.price""""))          // enriched's source
    // per-model output still resolves to base relations
    val (_, out4) = run(proj, "lineage", "enriched")
    assert(out4.exists(l => l.startsWith("price_taxed <-") && l.contains("o_totalprice")))
  }

  test("typed failure classes surface as distinct CLI exit codes") {
    Tables.registerAll(spark, sfDir)
    // config_error (3): unknown materialization kind
    val projCfg = project(
      "m" -> "-- config: materialized=nonsense\nSELECT 1 AS x")
    assert(run(projCfg, "run")._1 == 3)
    // sql_error (4): analysis failure (unknown column)
    val projSql = project(
      "m" -> "-- config: materialized=table\nSELECT no_such_col FROM {{ source('raw', 'orders') }}")
    assert(run(projSql, "run")._1 == 4)
    // test_failure (6): error-severity declarative test fails
    val projTest = project(
      "m" ->
        """-- config: materialized=table
          |-- test: unique(grp)
          |SELECT o_orderkey % 2 AS grp FROM {{ source('raw', 'orders') }}""".stripMargin)
    assert(run(projTest, "run")._1 == 6)
    // the status line names the error class
    val (_, lines) = run(projCfg, "run")
    assert(lines.exists(l => l.contains("failed[config_error]")), lines)
    // errors thrown while LOADING the project (malformed header parses
    // during openProject, before any command runs) also exit typed —
    // not as a raw stack trace
    val projParse = project(
      "m" -> "-- config: materialized=table\n-- test: not a test\nSELECT 1 AS x")
    val (codeParse, linesParse) = run(projParse, "run")
    assert(codeParse == 3, linesParse)
    assert(linesParse.exists(_.startsWith("ERROR[config_error]")), linesParse)
  }

  test("run --full-refresh rebuilds incremental models from scratch") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "inc" ->
        """-- config: materialized=incremental, incremental_strategy=time, time_column=o_orderdate
          |SELECT o_orderkey, o_orderdate, o_totalprice
          |FROM {{ source('raw', 'orders') }}""".stripMargin)
    assert(run(proj, "run")._1 == 0)
    val whDir = proj.resolve("warehouse").toString
    def wh() = new model.Warehouse(spark, whDir, model.StateStore(whDir + "/state", "dev"))
    val n1 = wh().read("inc").count()
    assert(wh().currentVersion("inc").contains(1L))
    // steady-state incremental run appends nothing, version unchanged
    assert(run(proj, "run")._1 == 0)
    assert(wh().currentVersion("inc").contains(1L))
    // full refresh: fresh versioned write of the full history
    val (code, lines) = run(proj, "run", "--full-refresh")
    assert(code == 0)
    assert(lines.exists(l => l.startsWith("inc:") && l.contains("full_refresh")), lines)
    assert(wh().currentVersion("inc").contains(2L))
    assert(wh().read("inc").count() == n1)
  }

  test("plan --full-refresh forces every model to execute despite clean hashes") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "a" -> "-- config: materialized=table\nSELECT 1 AS x",
      "b" -> "-- config: materialized=table\nSELECT * FROM {{ ref('a') }}")
    assert(run(proj, "run")._1 == 0)
    val (_, clean) = run(proj, "plan")
    assert(clean.exists(_.contains("no_changes=2")), clean)
    val (_, forced) = run(proj, "plan", "--full-refresh")
    assert(forced.exists(_.contains("updates=2")), forced)
    assert(forced.count(_.contains("full refresh requested")) == 2, forced)
  }

  test("run --log-json emits parseable per-model execution events") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "base" -> "-- config: materialized=table\nSELECT o_orderkey, o_custkey FROM {{ source('raw', 'orders') }}",
      "mid" -> "-- config: materialized=table\nSELECT o_custkey, COUNT(*) AS n FROM {{ ref('base') }} GROUP BY o_custkey",
      "top" -> "-- config: materialized=table\nSELECT COUNT(*) AS n FROM {{ ref('mid') }}")
    val (code, lines) = run(proj, "run", "--log-json")
    assert(code == 0)
    val events = lines.filter(_.startsWith("{\"event\":"))
    // parse each event line into a flat key->value map (the log contract:
    // one JSON object per line, string or bare numeric/boolean values)
    val kv = """"([^"]+)":(?:"((?:[^"\\]|\\.)*)"|([^,}]+))""".r
    val parsed = events.map(l => kv.findAllMatchIn(l).map(m =>
      m.group(1) -> Option(m.group(2)).getOrElse(m.group(3))).toMap)
    for (m <- Seq("base", "mid", "top")) {
      val start = parsed.find(e =>
        e.get("event").contains("execution_start") && e.get("model").contains(m))
      val end = parsed.find(e =>
        e.get("event").contains("execution_end") && e.get("model").contains(m))
      assert(start.isDefined && end.isDefined, s"$m events: $events")
      assert(end.get("success") == "true")
      assert(end.get("duration_ms").toLong >= 0)
      assert(end.get("attempts") == "1")
    }
    // dependency order is respected in the event stream
    def endIdx(m: String) = parsed.indexWhere(e =>
      e.get("event").contains("execution_end") && e.get("model").contains(m))
    def startIdx(m: String) = parsed.indexWhere(e =>
      e.get("event").contains("execution_start") && e.get("model").contains(m))
    assert(endIdx("base") < startIdx("mid") && endIdx("mid") < startIdx("top"))
  }

  test("deps default format prints stats and per-model dependencies") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "a" -> "-- config: materialized=view\nSELECT 1 AS x",
      "b" -> "-- config: materialized=view\nSELECT * FROM {{ ref('a') }}")
    val (_, text) = run(proj, "deps")
    val joined = text.mkString("\n")
    assert(joined.contains("Total models: 2") && joined.contains("Total edges: 1"))
    assert(joined.contains("b (dependencies: a)"))
    val (_, dot) = run(proj, "deps", "--format", "dot")
    assert(dot.mkString("\n").contains("digraph"))
  }

  // ----------------------------- B35: seeds (dbt `seed` parity)

  test("seed command loads CSVs with sidecar types; models ref() them") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "priced" ->
        """-- config: materialized=table
          |SELECT r.code, r.rate_x100 * 2 AS doubled
          |FROM {{ ref('fx_rates') }} r""".stripMargin)
    val seeds = proj.resolve("seeds")
    Files.createDirectories(seeds)
    Files.writeString(seeds.resolve("fx_rates.csv"),
      "code,rate_x100\nEUR,108\nGBP,127\nJPY,1\n")
    Files.writeString(seeds.resolve("fx_rates.columns"),
      "rate_x100:bigint")
    val (code, lines) = run(proj, "seed")
    assert(code == 0)
    assert(lines.exists(_.contains("seeded fx_rates (3 rows)")))
    // untyped column stays string, declared column got its cast
    val seeded = spark.table("graft_fx_rates")
    assert(seeded.schema("code").dataType.typeName == "string")
    assert(seeded.schema("rate_x100").dataType.typeName == "long")
    // a model consumes the seed like any ref()
    val (rc, _) = run(proj, "run")
    assert(rc == 0)
    val doubled = spark.table("graft_priced").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(doubled == Map("EUR" -> 216L, "GBP" -> 254L, "JPY" -> 2L))
  }

  test("seed named like a model is a loud collision, nothing written") {
    // Seeds and models share the ref() namespace: a colliding seed
    // would silently overwrite the model's relation and every ref()
    // consumer would read seed data as model output (dbt fails loudly
    // on duplicate resource names).
    val proj = project(
      "fx_rates" -> "-- config: materialized=table\nSELECT 1 AS one")
    val seeds = proj.resolve("seeds")
    Files.createDirectories(seeds)
    Files.writeString(seeds.resolve("fx_rates.csv"), "a\n1\n")
    val (code, lines) = run(proj, "seed")
    assert(code != 0 &&
      lines.exists(_.contains("collides with model")))
  }

  test("seed sidecar errors are loud: bad type, unknown column") {
    val proj = project()
    val seeds = proj.resolve("seeds")
    Files.createDirectories(seeds)
    Files.writeString(seeds.resolve("s.csv"), "a\n1\n")
    Files.writeString(seeds.resolve("s.columns"), "a:not_a_type")
    val (code, lines) = run(proj, "seed")
    assert(code != 0 && lines.exists(_.contains("unparseable type")))
    Files.writeString(seeds.resolve("s.columns"), "missing:bigint")
    val (code2, lines2) = run(proj, "seed")
    assert(code2 != 0 && lines2.exists(_.contains("not in CSV header")))
  }

  // ---------------------- B37: docs generation (dbt docs parity)

  test("docs command catalogs configs, deps, tests, and real schemas") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "base" ->
        """-- config: materialized=table
          |-- meta: description=orders over 100
          |-- test: not_null(o_orderkey)
          |SELECT o_orderkey, o_totalprice FROM {{ source('raw', 'orders') }}
          |WHERE o_totalprice > 100""".stripMargin,
      "agg" ->
        """-- config: materialized=table
          |-- tags: gold
          |SELECT COUNT(*) AS n FROM {{ ref('base') }}""".stripMargin)
    // before run: no schemas yet
    val (c0, pre) = run(proj, "docs")
    assert(c0 == 0 && pre.mkString("\n").contains("not materialized yet"))
    assert(run(proj, "run")._1 == 0)
    val (c1, post) = run(proj, "docs")
    assert(c1 == 0)
    val doc = post.mkString("\n")
    assert(doc.contains("## base") && doc.contains("## agg"))
    assert(doc.contains("description: orders over 100"))
    assert(doc.contains("tests: not_null(o_orderkey)"))
    assert(doc.contains("- used by: agg") && doc.contains("- depends on: base"))
    assert(doc.contains("tags: gold"))
    assert(doc.contains("`o_totalprice` double") && doc.contains("`n` bigint"))
  }

  // ------------------------ B36: pre/post hooks (dbt hook parity)

  test("pre-hooks scaffold before the body; post-hooks see {{ this }}") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "hooked" ->
        """-- config: materialized=table
          |-- pre_hook: CREATE OR REPLACE TEMP VIEW hook_src AS SELECT 7 AS v UNION ALL SELECT 8 AS v
          |-- post_hook: CREATE OR REPLACE TEMP VIEW hook_audit AS SELECT COUNT(*) AS n FROM {{ this }}
          |SELECT v, v * 10 AS v10 FROM hook_src""".stripMargin)
    val (code, _) = run(proj, "run")
    assert(code == 0)
    // the body could only resolve hook_src if the pre-hook ran first
    assert(spark.table("graft_hooked").count() == 2L)
    // the post-hook read the materialized relation through {{ this }}
    assert(spark.table("hook_audit").head().getLong(0) == 2L)
  }

  test("sql command queries materialized models with formats and a LIMIT guard") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "top_orders" ->
        """-- config: materialized=table
          |SELECT o_orderkey, o_totalprice FROM {{ source('raw', 'orders') }}
          |WHERE o_totalprice > 100""".stripMargin)
    assert(run(proj, "run")._1 == 0)

    // ref() renders against the warehouse catalog; default table format
    val (c1, l1) = run(proj, "sql",
      "SELECT COUNT(*) AS n FROM {{ ref('top_orders') }}")
    assert(c1 == 0)
    assert(l1.mkString("\n").contains("| n"))

    // bare relation name works too; json format round-trips; the $var
    // surface substitutes; '=' inside the statement must not confuse
    // arg parsing
    val (c2, l2) = run(proj, "sql",
      "SELECT o_orderkey FROM graft_top_orders WHERE o_orderkey = $k",
      "--format", "json", "--var", "k=1")
    assert(c2 == 0)
    assert(l2.mkString.startsWith("[") && l2.mkString.contains("o_orderkey"))

    // LIMIT guard: plan-side limit bounds driver rows (csv = header + N)
    val (c3, l3) = run(proj, "sql",
      "SELECT o_orderkey FROM {{ ref('top_orders') }}", "--format", "csv",
      "--limit", "5")
    assert(c3 == 0)
    assert(l3.mkString("\n").split("\n").length == 6)

    // garbage SQL is a LOUD typed SqlError -> sql_error exit code 4
    val (c4, l4) = run(proj, "sql", "SELEKT nonsense FRUM nowhere")
    assert(c4 == 4)
    assert(l4.exists(_.startsWith("ERROR[sql_error]")))

    // unknown relation is analysis failure -> same typed class
    val (c5, _) = run(proj, "sql", "SELECT * FROM {{ ref('missing') }}")
    assert(c5 == 4)
  }

  test("source-freshness checks schema.yml sources and wires source()") {
    import org.apache.spark.sql.functions._
    Tables.registerAll(spark, sfDir)
    // a parquet source with a known newest row
    val srcDir = Files.createTempDirectory("graft_fresh_src_").toString
    spark.range(3).select(col("id"),
      to_timestamp(lit("2024-03-01 00:00:00")).as("loaded_at"))
      .write.mode("overwrite").parquet(srcDir + "/clicks.parquet")
    val proj = project(
      "click_count" ->
        """-- config: materialized=table
          |SELECT COUNT(*) AS n FROM {{ source('ext', 'clicks') }}"""
          .stripMargin)
    Files.writeString(proj.resolve("models/schema.yml"),
      s"""sources:
         |  - name: ext
         |    loaded_at_field: loaded_at
         |    freshness:
         |      warn_after: { count: 1, period: hour }
         |      error_after: { count: 1, period: day }
         |    tables:
         |      - name: clicks
         |        identifier: $srcDir/clicks.parquet
         |""".stripMargin)
    // the schema.yml source resolves through source() in a model run
    assert(run(proj, "run")._1 == 0)
    val whDir = proj.resolve("warehouse").toString
    val wh = new Warehouse(spark, whDir, StateStore(whDir + "/state"))
    assert(wh.read("click_count").head().getLong(0) == 3L)
    // within the warn window -> ok, exit 0
    val (c1, l1) = run(proj, "source-freshness",
      "--as-of", "2024-03-01 00:30:00")
    assert(c1 == 0 && l1.exists(_.startsWith("ok ext.clicks")))
    // past warn, under error -> warn, still exit 0
    val (c2, l2) = run(proj, "source-freshness",
      "--as-of", "2024-03-01 12:00:00")
    assert(c2 == 0 && l2.exists(_.startsWith("warn ext.clicks")))
    // past the error window -> error, exit 1
    val (c3, l3) = run(proj, "source-freshness",
      "--as-of", "2024-03-05 00:00:00")
    assert(c3 == 1 && l3.exists(_.startsWith("error ext.clicks")))
    // --select narrows; a non-checkable selection says so and passes
    val (c4, l4) = run(proj, "source-freshness",
      "--select", "ext.nothere", "--as-of", "2024-03-05 00:00:00")
    assert(c4 == 0 && l4.exists(_.contains("no freshness-checkable")))
  }

  test("serve runs the project current, then keeps the watch loop hot") {
    Tables.registerAll(spark, sfDir)
    val proj = project(
      "base" ->
        """-- config: materialized=table
          |SELECT o_orderkey FROM {{ source('raw', 'orders') }}""".stripMargin,
      "agg" ->
        """-- config: materialized=table
          |SELECT COUNT(*) AS n FROM {{ ref('base') }}""".stripMargin)
    // the initial full run materializes BOTH models before polling
    // (watch alone would also do it on its first poll; serve's contract
    // is "current before serving") and the bounded loop then settles
    val (code, lines) = run(proj, "serve",
      "--interval", "1", "--max-iterations", "1")
    assert(code == 0)
    assert(lines.exists(_.startsWith("serving ")))
    val whDir = proj.resolve("warehouse").toString
    val wh = new Warehouse(spark, whDir, StateStore(whDir + "/state"))
    assert(wh.currentVersion("base").contains(1L))
    assert(wh.currentVersion("agg").contains(1L))
    // a file edit between serves is picked up by the loop
    Files.writeString(proj.resolve("models/agg.sql"),
      """-- config: materialized=table
        |SELECT COUNT(*) + 1 AS n FROM {{ ref('base') }}""".stripMargin)
    assert(run(proj, "serve",
      "--interval", "1", "--max-iterations", "1")._1 == 0)
    val wh2 = new Warehouse(spark, whDir, StateStore(whDir + "/state"))
    assert(wh2.currentVersion("agg").contains(2L))
  }
}
