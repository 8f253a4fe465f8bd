package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, to_timestamp}
import org.apache.spark.sql.graftext.Bridge
import graft.model.{StateStore, Warehouse}

/** How the CLI resolves `source()`: every source is a declaration (the
  * testdata tables as `raw`, config/sources.yml, schema.yml), read only
  * when a command renders a model or statement that names it; and the
  * long-running verbs run in the chosen target with its variables. */
class CliSourcesSpec extends SparkSpec {

  private def project(models: (String, String)*): Path = {
    val proj = Files.createTempDirectory("graft_src_proj_")
    val dir = proj.resolve("models")
    Files.createDirectories(dir)
    models.foreach { case (name, sql) => Files.writeString(dir.resolve(s"$name.sql"), sql) }
    proj
  }

  private def config(proj: Path, file: String, yaml: String): Unit = {
    Files.createDirectories(proj.resolve("config"))
    Files.writeString(proj.resolve("config").resolve(file), yaml)
  }

  private def run(session: SparkSession, proj: Path, cmd: String,
      rest: String*): (Int, Seq[String]) = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Cli.execute(session, proj, cmd, rest, lines += _)
    (code, lines.toSeq)
  }

  private def count(whDir: String, model: String, target: String = "dev"): Long =
    new Warehouse(spark, whDir, StateStore(whDir + "/state", target))
      .read(model).head().getLong(0)

  test("a fresh session resolves raw sources lazily, and only those it reads") {
    val fresh = spark.newSession()
    val proj = project("n_orders" ->
      "-- config: materialized=table\nSELECT COUNT(*) AS n FROM {{ source('raw', 'orders') }}")
    val (code, lines) = run(fresh, proj, "run")
    assert(code == 0, lines)
    val expected = Bridge.readParquet(spark, Tables.path(sfDir, "orders")).count()
    assert(count(proj.resolve("warehouse").toString, "n_orders") == expected)
    val (c2, l2) = run(fresh, proj, "sql",
      "SELECT COUNT(*) AS n FROM {{ source('raw','orders') }}", "--format", "csv")
    assert(c2 == 0 && l2.mkString("\n").contains(expected.toString), l2)
    val views = fresh.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
    val sourceViews = views.filter(_.startsWith("graft_source_"))
    assert(sourceViews.nonEmpty && sourceViews.forall(_.startsWith("graft_source_orders_")),
      views.mkString(", "))
    assert(!Tables.names.exists(views.contains), views.mkString(", "))
  }

  test("a config/sources.yml path source runs and has freshness; a malformed one is a config_error") {
    val srcDir = Files.createTempDirectory("graft_src_lake_")
    spark.range(3).select(col("id"),
      to_timestamp(lit("2024-03-01 00:00:00")).as("loaded_at"))
      .write.parquet(srcDir.resolve("clicks").toString)
    val proj = project("n_clicks" ->
      "-- config: materialized=table\nSELECT COUNT(*) AS n FROM {{ source('lake', 'clicks') }}")
    config(proj, "sources.yml",
      s"""sources:
         |  - name: lake
         |    path: $srcDir
         |    loaded_at_field: loaded_at
         |    freshness:
         |      warn_after: { count: 1, period: hour }
         |    tables:
         |      - name: clicks
         |""".stripMargin)
    val (code, lines) = run(spark, proj, "run")
    assert(code == 0, lines)
    assert(count(proj.resolve("warehouse").toString, "n_clicks") == 3L)
    val (c2, l2) = run(spark, proj, "source-freshness", "--as-of", "2024-03-01 12:00:00")
    assert(c2 == 0 && l2 == Seq("warn lake.clicks (43200 s old)"), l2)

    config(proj, "sources.yml",
      """sources:
        |  - name: lake
        |    tables:
        |      - identifier: clicks_v2
        |""".stripMargin)
    val (c3, l3) = run(spark, proj, "run")
    assert(c3 == 3 && l3.exists(_.startsWith("ERROR[config_error]")), l3)
  }

  test("serve and watch run in the --target warehouse with its variables") {
    val proj = project("thresholded" ->
      """-- config: materialized=table
        |SELECT COUNT(*) AS n FROM {{ source('raw', 'orders') }}
        |WHERE o_totalprice > $min_price""".stripMargin)
    config(proj, "profiles.yml",
      s"""default:
         |  target: dev
         |  outputs:
         |    dev:
         |      warehouse_dir: $proj/wh_dev
         |    prod:
         |      warehouse_dir: $proj/wh_prod""".stripMargin)
    config(proj, "environments.yml",
      """prod:
        |  vars:
        |    min_price: "100000"""".stripMargin)
    val (code, lines) = run(spark, proj, "serve",
      "--target", "prod", "--interval", "1", "--max-iterations", "1")
    assert(code == 0, lines)
    val orders = Bridge.readParquet(spark, Tables.path(sfDir, "orders"))
    val expected = orders.filter(col("o_totalprice") > 100000).count()
    assert(count(s"$proj/wh_prod", "thresholded", "prod") == expected)
    assert(!Files.exists(proj.resolve("wh_dev")) && !Files.exists(proj.resolve("warehouse")))

    // a later edit is picked up by watch in the same target, and an
    // explicit variable wins over the environment's
    Files.writeString(proj.resolve("models/thresholded.sql"),
      """-- config: materialized=table
        |SELECT COUNT(*) + 0 AS n FROM {{ source('raw', 'orders') }}
        |WHERE o_totalprice > $min_price""".stripMargin)
    Cli.watch(spark, proj, intervalMs = 1, maxIterations = 1, target = Some("prod"),
      vars = Map("min_price" -> "200000"))
    val wh = new Warehouse(spark, s"$proj/wh_prod", StateStore(s"$proj/wh_prod/state", "prod"))
    assert(wh.currentVersion("thresholded").contains(2L))
    assert(wh.read("thresholded").head().getLong(0) ==
      orders.filter(col("o_totalprice") > 200000).count())
  }
}
