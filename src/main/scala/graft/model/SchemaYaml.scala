package graft.model

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

/** dbt-style `schema.yml` sidecar model configs — the Spark
  * re-expression of the reference's ModelRegistry schema loading
  * (src/framework/model.py:157-232: `_load_schema_files` walks the
  * models dir for `schema*.yml`, each declaring per-model config,
  * column descriptions and column-level tests) and its YAML export
  * (model.py:303-318 `export_to_yaml` / `to_dict`).
  *
  * A schema file looks like:
  * {{{
  * models:
  *   - name: silver_orders
  *     description: Cleaned orders
  *     config: { materialized: table, enabled: true }
  *     tags: [silver]
  *     depends_on: [bronze_orders]
  *     meta: { owner: data-team }
  *     columns:
  *       - name: o_orderkey
  *         description: Primary key
  *         tests: [not_null, unique]
  *       - name: o_status
  *         tests:
  *           - accepted_values: { values: [F, O, P], severity: warn }
  *           - relationships: { to: status_dim, field: code }
  * }}}
  *
  * Merge contract (reference parity: YAML registry + parser.py comment
  * headers coexist): schema.yml values are the BASE and the model's
  * `-- config:`/`-- test:`/... SQL comment headers override / extend
  * them ([[ModelConfig.fromSql]]'s `base` parameter) — the SQL file is
  * closest to the code, so it wins scalar conflicts; tests, tags,
  * depends_on and meta are additive. Unknown models (a YAML entry with
  * no `<name>.sql` in the project) raise a typed [[ConfigError]] — a
  * silently ignored declaration is how a renamed model keeps shipping
  * untested.
  */
/** One source table declared in a schema.yml `sources:` section (dbt's
  * source + freshness shape). `identifier` is what `source(src, tbl)`
  * resolves to (a session relation name or a parquet path);
  * `loadedAtField` + the warn/error windows (seconds) feed
  * [[Freshness.checkTable]] through the CLI's `source-freshness` verb. */
final case class SourceTableSpec(
    source: String, table: String, identifier: String,
    loadedAtField: Option[String] = None,
    warnAfterS: Option[Long] = None, errorAfterS: Option[Long] = None) {
  def qualified: String = s"$source.$table"
  /** What `source()` renders into SQL: a path identifier becomes
    * Spark's path-table syntax, a bare name stays a catalog relation.
    * [[SchemaYaml.parquetPath]] decodes the path form. */
  def sqlRelation: String =
    if (identifier.contains("/")) s"parquet.`$identifier`" else identifier
  /** Checkable = a timestamp column plus at least one threshold. */
  def hasFreshness: Boolean =
    loadedAtField.isDefined && (warnAfterS.isDefined || errorAfterS.isDefined)
  /** dbt semantics for a single-sided declaration: warn-only never
    * errors, error-only warns at the error bound. */
  def effectiveWindows: (Long, Long) = {
    val err = errorAfterS.getOrElse(Long.MaxValue / 2000000L) // "never"
    (warnAfterS.getOrElse(err), err)
  }
}

object SchemaYaml {

  // ObjectMapper construction is expensive and the instance is
  // thread-safe once configured — build it once.
  private val mapper = new ObjectMapper(new YAMLFactory())

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, vv) => k.toString -> toScala(vv) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toList
    case other => other
  }

  private def str(v: Any): String = String.valueOf(v)

  /** A key's value, with YAML's empty-value null treated as ABSENT —
    * `description:` left blank must not become the string "null". */
  private def opt(m: Map[String, Any], key: String): Option[Any] =
    m.get(key).filter(_ != null)

  /** Read one YAML document's top-level mapping (a schema file or a
    * project config file). A CONTENT-FREE file (empty, comments-only, a
    * bare `---`) is `None`, not a parse error — it declares nothing,
    * matching the reference's `if not data: return`
    * (model.py:_load_schema_file). */
  private[model] def readDoc(yaml: String, file: String): Option[Map[String, Any]] =
    if (yaml.trim.isEmpty) None
    else try Option(toScala(mapper.readValue(yaml, classOf[java.util.Map[String, Object]]))
        .asInstanceOf[Map[String, Any]])
      catch {
        case e: com.fasterxml.jackson.databind.exc.MismatchedInputException
            if Option(e.getMessage).exists(_.startsWith("No content")) => None
        case scala.util.control.NonFatal(e) =>
          throw new ConfigError(s"unparseable YAML file: ${e.getMessage}",
            Map("file" -> file))
      }

  /** Parse one schema YAML document into per-model base configs,
    * keyed by model name. */
  def parse(yaml: String, file: String = "schema.yml")
      : Map[String, ModelConfig] = {
    val root = readDoc(yaml, file).getOrElse(return Map.empty)
    val models = opt(root, "models").getOrElse(Nil) match {
      case l: List[Any @unchecked] => l
      case _ => throw new ConfigError("schema file 'models' must be a list",
        Map("file" -> file))
    }
    val parsed = models.map {
      case m: Map[String, Any] @unchecked => parseModel(m, file)
      case other => throw new ConfigError(
        s"schema file model entry must be a mapping, got: $other",
        Map("file" -> file))
    }
    // duplicates WITHIN one file are as silent-drop-prone as across
    // files (loadDir's check) — last-wins would discard the earlier
    // entry's tests
    parsed.groupBy(_.name).collectFirst { case (n, cs) if cs.size > 1 => n }
      .foreach { dup => throw new ConfigError(
        s"model '$dup' declared more than once in this schema file",
        Map("file" -> file)) }
    parsed.map(c => c.name -> c).toMap
  }

  private def parseModel(m: Map[String, Any], file: String): ModelConfig = {
    val name = opt(m, "name").map(str).getOrElse(
      throw new ConfigError("schema file model entry missing 'name'",
        Map("file" -> file)))
    def fail(msg: String): Nothing =
      throw new ConfigError(msg, Map("file" -> file, "model" -> name))
    val cfg = opt(m, "config").getOrElse(Map.empty[String, Any]) match {
      case c: Map[String, Any] @unchecked => c
      case other => fail(s"'config' must be a mapping, got: $other")
    }
    def list(key: String, src: Map[String, Any], what: String): List[Any] =
      opt(src, key).getOrElse(Nil) match {
        case l: List[Any @unchecked] => l
        case other => fail(s"$what must be a list, got: $other")
      }
    def strMap(key: String, src: Map[String, Any], what: String): Map[String, String] =
      opt(src, key).getOrElse(Map.empty[String, Any]) match {
        case mm: Map[String, Any] @unchecked => mm.map { case (k, v) => k -> str(v) }
        case other => fail(s"$what must be a mapping, got: $other")
      }
    // column-level tests bind to their column; model-level tests must
    // name theirs via a `column` param (TestConfig.from_dict's
    // {test_name: {params}} shape, model.py:22-33)
    val columns: Seq[(ColumnDoc, Seq[TestSpec])] = list("columns", m, "'columns'").map {
      case c: Map[String, Any] @unchecked =>
        val cname = opt(c, "name").map(str).getOrElse(
          fail("column entry missing 'name'"))
        (ColumnDoc(cname, opt(c, "description").map(str),
          meta = strMap("meta", c, s"column '$cname' meta")),
          list("tests", c, s"column '$cname' tests")
            .map(t => parseYamlTest(t, Some(cname), fail)))
      case other => fail(s"column entry must be a mapping, got: $other")
    }
    val modelTests = list("tests", m, "'tests'").map(t => parseYamlTest(t, None, fail))
    // YAML's empty-value null is an absent key (see `opt`)
    ModelConfig.withConfig(
      ModelConfig(
        name = name,
        dependsOn = list("depends_on", m, "'depends_on'").map(str).toSet,
        tags = list("tags", m, "'tags'").map(str).toSet,
        tests = columns.flatMap(_._2) ++ modelTests,
        meta = strMap("meta", m, "'meta'"),
        description = opt(m, "description").map(str),
        columns = columns.map(_._1)),
      cfg.collect { case (k, v) if v != null => k -> str(v) })
  }

  /** One YAML test declaration → [[TestSpec]]. A bare string is a
    * no-arg test on the enclosing column; a one-key mapping carries
    * params (dbt shapes: `accepted_values: {values: [...]}`,
    * `relationships: {to: model, field: col}`, `range: {min, max}`,
    * optional `severity`, and `column` for model-level tests). */
  private def parseYamlTest(t: Any, column: Option[String],
      fail: String => Nothing): TestSpec = t match {
    case s: String =>
      TestSpec(s, column.getOrElse(fail(s"test '$s' needs a column")))
    case m: Map[String, Any] @unchecked if m.size == 1 =>
      val (tpe, raw) = m.head
      val params = raw match {
        case null => Map.empty[String, Any]
        case p: Map[String, Any] @unchecked => p
        case other => fail(s"test '$tpe' params must be a mapping: $other")
      }
      val col = opt(params, "column").map(str).orElse(column)
        .getOrElse(fail(s"test '$tpe' needs a column"))
      val severity = opt(params, "severity").map(str).getOrElse("error")
      val args: Seq[String] = tpe match {
        case "accepted_values" => opt(params, "values").getOrElse(Nil) match {
          case l: List[Any @unchecked] => l.map(str)
          case other => fail(s"accepted_values needs 'values' list: $other")
        }
        case "relationships" =>
          Seq(opt(params, "to").map(str).getOrElse(
              fail("relationships needs 'to'")),
            opt(params, "field").map(str).getOrElse(
              fail("relationships needs 'field'")))
        case "range" =>
          Seq(opt(params, "min").map(str).getOrElse(fail("range needs 'min'")),
            opt(params, "max").map(str).getOrElse(fail("range needs 'max'")))
        case _ => Nil
      }
      TestSpec(tpe, col, args, severity)
    case other => fail(s"unrecognized test declaration: $other")
  }

  /** The `schema*.yml`/`schema*.yaml` files under `dir`, recursive,
    * in deterministic path order (reference model.py:180-190). */
  private def schemaFiles(dir: Path): List[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.startsWith("schema") &&
        (n.endsWith(".yml") || n.endsWith(".yaml"))
    }.toList.sortBy(_.toString)
    finally s.close()
  }

  /** Parse the `sources:` section of one YAML document — a schema.yml
    * or a project's config/sources.yml (dbt shape: sources → tables,
    * with optional `loaded_at_field` and
    * `freshness: {warn_after: {count, period}, error_after: ...}` at
    * either level — table-level overrides source-level). A table's
    * identifier is its explicit `identifier`/`path`, else
    * `<source path>/<table>`, else the bare table name. */
  def parseSources(yaml: String, file: String = "schema.yml")
      : Seq[SourceTableSpec] = {
    val root = readDoc(yaml, file).getOrElse(return Nil)
    val srcs = opt(root, "sources").getOrElse(Nil) match {
      case l: List[Any @unchecked] => l
      case _ => throw new ConfigError("schema file 'sources' must be a list",
        Map("file" -> file))
    }
    val specs = srcs.flatMap {
      case s: Map[String, Any] @unchecked =>
        val srcName = opt(s, "name").map(str).getOrElse(
          throw new ConfigError("source entry missing 'name'",
            Map("file" -> file)))
        def fail(msg: String): Nothing = throw new ConfigError(msg,
          Map("file" -> file, "source" -> srcName))
        val basePath = opt(s, "path").map(str)
        val srcLoadedAt = opt(s, "loaded_at_field").map(str)
        val srcFresh = opt(s, "freshness").map(parseFreshness(_, fail))
        (opt(s, "tables").getOrElse(Nil) match {
          case l: List[Any @unchecked] => l
          case other => fail(s"'tables' must be a list, got: $other")
        }).map {
          case t: Map[String, Any] @unchecked =>
            val tName = opt(t, "name").map(str).getOrElse(
              fail("source table entry missing 'name'"))
            val ident = opt(t, "identifier").orElse(opt(t, "path")).map(str)
              .orElse(basePath.map(p => s"$p/$tName"))
              .getOrElse(tName)
            // dbt parity: a PRESENT-but-null `freshness:` on a table is
            // the explicit opt-out of the source-level default (a dim
            // table under a fresh source), distinct from key-absent
            // which inherits.
            val fresh =
              if (t.contains("freshness") && t("freshness") == null) None
              else opt(t, "freshness").map(parseFreshness(_, fail))
                .orElse(srcFresh)
            SourceTableSpec(srcName, tName, ident,
              loadedAtField = opt(t, "loaded_at_field").map(str)
                .orElse(srcLoadedAt),
              warnAfterS = fresh.flatMap(_._1),
              errorAfterS = fresh.flatMap(_._2))
          case other => fail(s"source table entry must be a mapping: $other")
        }
      case other => throw new ConfigError(
        s"source entry must be a mapping, got: $other", Map("file" -> file))
    }
    specs.groupBy(_.qualified).collectFirst { case (q, ss) if ss.size > 1 => q }
      .foreach { dup => throw new ConfigError(
        s"source table '$dup' declared more than once in this schema file",
        Map("file" -> file)) }
    specs
  }

  /** `freshness:` block → (warnAfterS, errorAfterS). dbt's window shape:
    * `{count: N, period: minute|hour|day}`. A declared error window
    * must not be tighter than the warn window. */
  private def parseFreshness(v: Any, fail: String => Nothing)
      : (Option[Long], Option[Long]) = v match {
    case m: Map[String, Any] @unchecked =>
      def window(key: String): Option[Long] = opt(m, key).map {
        case w: Map[String, Any] @unchecked =>
          val count = opt(w, "count").map(str).getOrElse(
            fail(s"freshness $key needs 'count'")).toLong
          if (count <= 0) fail(s"freshness $key count must be positive")
          count * (opt(w, "period").map(str).getOrElse("hour") match {
            case "minute" => 60L
            case "hour" => 3600L
            case "day" => 86400L
            case other => fail(s"unknown freshness period '$other'")
          })
        case other => fail(s"freshness $key must be a mapping, got: $other")
      }
      val (warn, err) = (window("warn_after"), window("error_after"))
      for (w <- warn; e <- err if w > e)
        fail("freshness warn_after exceeds error_after")
      (warn, err)
    case other => fail(s"'freshness' must be a mapping, got: $other")
  }

  /** Parse every schema file under `dir` with `parseFile` into one
    * list; an item whose `id` a previous file already declared is a loud
    * [[ConfigError]] (last-wins would silently drop its tests). */
  private def loadAll[A](dir: Path, what: String, id: A => String)(
      parseFile: (String, String) => Seq[A]): Seq[A] =
    if (!Files.isDirectory(dir)) Nil
    else schemaFiles(dir).foldLeft(Seq.empty[A]) { (acc, f) =>
      val parsed = parseFile(Files.readString(f), f.toString)
      val seen = acc.map(id).toSet
      parsed.map(id).find(seen.contains).foreach { dup =>
        throw new ConfigError(s"$what '$dup' declared in more than one schema file",
          Map("file" -> f.toString))
      }
      acc ++ parsed
    }

  /** The parquet path of a `parquet.`path`` relation
    * ([[SourceTableSpec.sqlRelation]]'s path form); None for any other. */
  def parquetPath(relation: String): Option[String] = relation match {
    case ParquetRelation(path) => Some(path)
    case _ => None
  }

  private val ParquetRelation = "parquet\\.`(.+)`".r

  /** Every `sources:` declaration under `dir` (same file walk as
    * [[loadDir]]); duplicate (source, table) across files is loud. */
  def loadDirSources(dir: Path): Seq[SourceTableSpec] =
    loadAll[SourceTableSpec](dir, "source table", _.qualified)(parseSources)

  /** Load every `schema*.yml`/`schema*.yaml` under `dir` (recursive,
    * reference model.py:180-190) into one name-keyed base-config map;
    * duplicate declarations of one model across files are a loud
    * [[ConfigError]]. */
  def loadDir(dir: Path): Map[String, ModelConfig] =
    loadAll[ModelConfig](dir, "model", _.name) { (yaml, file) =>
      parse(yaml, file).values.toSeq.sortBy(_.name)
    }.map(c => c.name -> c).toMap

  /** Export parsed model configs back to schema.yml YAML — the
    * registry round-trip (model.py:303-318 `export_to_yaml`) that lets
    * CI diff the effective config (headers merged over sidecars)
    * against the declared one. `parse(export(cfgs))` recovers the same
    * configs modulo header-only surfaces YAML does not declare
    * (contracts, hooks). */
  def export(configs: Seq[ModelConfig]): String = {
    def jmap(kvs: Seq[(String, Any)]): java.util.LinkedHashMap[String, Any] = {
      val m = new java.util.LinkedHashMap[String, Any]()
      kvs.foreach { case (k, v) => m.put(k, v) }
      m
    }
    def jlist(xs: Seq[Any]): java.util.List[Any] = xs.asJava
    def testNode(t: TestSpec, columnLevel: Boolean): Any = {
      val params = Seq.newBuilder[(String, Any)]
      t.testType match {
        case "accepted_values" => params += "values" -> jlist(t.params)
        case "relationships" if t.params.length == 2 =>
          params += "to" -> t.params(0); params += "field" -> t.params(1)
        case "range" if t.params.length == 2 =>
          params += "min" -> t.params(0); params += "max" -> t.params(1)
        case _ => ()
      }
      if (!columnLevel) params += "column" -> t.column
      if (t.severity != "error") params += "severity" -> t.severity
      val ps = params.result()
      if (ps.isEmpty) t.testType else jmap(Seq(t.testType -> jmap(ps)))
    }
    val models = configs.sortBy(_.name).map { c =>
      val colTestCols = c.columns.map(_.name).toSet
      val entry = Seq.newBuilder[(String, Any)]
      entry += "name" -> c.name
      c.description.foreach(d => entry += "description" -> d)
      entry += "config" -> jmap(Seq(
          "materialized" -> c.materialized) ++
        c.incrementalStrategy.map("incremental_strategy" -> _) ++
        c.timeColumn.map("time_column" -> _) ++
        c.uniqueKey.map("unique_key" -> _) ++
        (if (c.changeTypeColumn == "__cdc_operation") Nil
         else Seq("change_type_column" -> c.changeTypeColumn)) ++
        (if (c.enabled) Nil else Seq("enabled" -> false)))
      if (c.tags.nonEmpty) entry += "tags" -> jlist(c.tags.toSeq.sorted)
      if (c.dependsOn.nonEmpty)
        entry += "depends_on" -> jlist(c.dependsOn.toSeq.sorted)
      if (c.columns.nonEmpty) entry += "columns" -> jlist(c.columns.map { cd =>
        val ce = Seq.newBuilder[(String, Any)]
        ce += "name" -> cd.name
        cd.description.foreach(d => ce += "description" -> d)
        val ts = c.tests.filter(_.column == cd.name)
        if (ts.nonEmpty)
          ce += "tests" -> jlist(ts.map(testNode(_, columnLevel = true)))
        if (cd.meta.nonEmpty)
          ce += "meta" -> jmap(cd.meta.toSeq.sortBy(_._1))
        jmap(ce.result())
      })
      val looseTests = c.tests.filterNot(t => colTestCols.contains(t.column))
      if (looseTests.nonEmpty)
        entry += "tests" -> jlist(looseTests.map(testNode(_, columnLevel = false)))
      if (c.meta.nonEmpty) entry += "meta" -> jmap(c.meta.toSeq.sortBy(_._1))
      jmap(entry.result())
    }
    mapper.writeValueAsString(jmap(Seq("models" -> jlist(models))))
  }
}
