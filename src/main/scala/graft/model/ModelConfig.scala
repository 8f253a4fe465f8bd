package graft.model

/** Declarative data-quality test on a model — the Spark re-expression of
  * the reference's TestConfig (reference: src/framework/model.py:17-33,
  * testing.py:28-60: unique / not_null / accepted_values; `range` is the
  * polars_utils.py:96-170 numeric-range check). Declared inline as
  * `-- test: type(column[, args...]) [severity=warn]` headers; severity
  * `error` (default) fails the model and blocks dependents, `warn` only
  * reports.
  */
final case class TestSpec(
    testType: String,
    column: String,
    params: Seq[String] = Nil,
    severity: String = "error") {

  /** Compile to the single-pass Quality check that computes it. */
  def toCheck: Quality.Check = testType match {
    case "not_null" => Quality.NotNull(column)
    case "unique" => Quality.Unique(column)
    case "accepted_values" => Quality.AcceptedValues(column, params)
    case "range" =>
      if (params.length != 2)
        throw new ConfigError(s"range test on $column needs (min, max)")
      Quality.RangeCheck(column, params(0).toDouble, params(1).toDouble)
    case "relationships" =>
      if (params.length != 2)
        throw new ConfigError(
          s"relationships test on $column needs (ref_model, ref_column)")
      Quality.Relationships(column, params(0), params(1))
    case other =>
      throw new ConfigError(s"unknown test type: $other")
  }
}

/** Model configuration, the Spark re-expression of the reference's
  * ModelConfig (reference: src/framework/model.py:66-140) and its inline
  * `-- config:` comment convention (src/framework/parser.py:240-257).
  */
final case class ModelConfig(
    name: String,
    materialized: String = "view", // view|table|temp_table|incremental|cdc|cdc_scd2
    incrementalStrategy: Option[String] = None, // time|unique_key|append
    timeColumn: Option[String] = None,
    uniqueKey: Option[String] = None,
    changeTypeColumn: String = "__cdc_operation",
    enabled: Boolean = true,
    dependsOn: Set[String] = Set.empty,
    tags: Set[String] = Set.empty,
    tests: Seq[TestSpec] = Nil,
    contract: Seq[(String, String)] = Nil, // (column, spark sql type)
    preHooks: Seq[String] = Nil,  // SQL statements before the model builds
    postHooks: Seq[String] = Nil, // SQL statements after materialization
    meta: Map[String, String] = Map.empty,
    description: Option[String] = None, // schema.yml model description
    columns: Seq[ColumnDoc] = Nil) { // schema.yml column docs (B-gap: model.py:37-58)

  def isIncremental: Boolean = materialized == "incremental"

  /** Enforce the declared model contract (dbt `contract: enforced`
    * semantics) against the schema about to materialize: the column SET
    * must match exactly — a contracted column missing, a type drifting,
    * or an UNDECLARED column appearing are all [[ConfigError]]s naming
    * the offender (silent schema drift is how downstream consumers
    * break at 3am). Types compare on Catalyst's `simpleString`
    * (`bigint`, `double`, `array<float>`, …); order is free. No-op for
    * models without a contract. */
  def enforceContract(schema: org.apache.spark.sql.types.StructType): Unit = {
    if (contract.isEmpty) return
    def fail(msg: String): Nothing =
      throw new ConfigError(msg, Map("model" -> name))
    val actual = schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    contract.foreach { case (c, t) =>
      actual.get(c) match {
        case None => fail(s"contract violation in '$name': column '$c' missing")
        case Some(at) if at != t =>
          fail(s"contract violation in '$name': column '$c' is $at, contract says $t")
        case _ => ()
      }
    }
    val declared = contract.map(_._1).toSet
    schema.fieldNames.filterNot(declared.contains).sorted.headOption.foreach {
      extra => fail(
        s"contract violation in '$name': undeclared column '$extra' in output")
    }
  }

  /** Mirrors model.py:validate_model_config (model.py:300-331); raises
    * typed [[ConfigError]]s (errors.py ConfigurationError). */
  def validate(): Unit = {
    def fail(msg: String): Nothing =
      throw new ConfigError(msg, Map("model" -> name))
    if (isIncremental) {
      if (incrementalStrategy.isEmpty)
        fail(s"Incremental model '$name' must specify incremental_strategy")
      if (incrementalStrategy.contains("time") && timeColumn.isEmpty)
        fail(s"Incremental model '$name' with time strategy must specify time_column")
      if (incrementalStrategy.contains("unique_key") && uniqueKey.isEmpty)
        fail(s"Incremental model '$name' with unique_key strategy must specify unique_key")
    }
    if ((materialized == "cdc" || materialized == "cdc_scd2") && uniqueKey.isEmpty)
      fail(s"unique_key required for CDC model '$name'")
  }
}

/** Per-column documentation from a schema.yml sidecar — the Spark
  * re-expression of the reference's ColumnConfig (model.py:37-58).
  * Column TESTS parsed from the sidecar live in [[ModelConfig.tests]]
  * (one flat test list regardless of declaration site); this carries
  * the doc/meta surfaces `docs` renders. */
final case class ColumnDoc(
    name: String,
    description: Option[String] = None,
    meta: Map[String, String] = Map.empty)

object ModelConfig {

  private val ConfigLine = """(?m)^\s*--\s*config:\s*(.+?)\s*$""".r
  private val DependsLine = """(?m)^\s*--\s*depends_on:\s*(.+?)\s*$""".r
  private val TagsLine = """(?m)^\s*--\s*tags:\s*(.+?)\s*$""".r
  private val TestLine = """(?m)^\s*--\s*test:\s*(.+?)\s*$""".r
  // e.g. `-- contract: o_orderkey:bigint, price:double, tags:array<string>`
  private val ContractLine = """(?m)^\s*--\s*contract:\s*(.+?)\s*$""".r
  // dbt pre-hook / post-hook parity: one SQL statement per header line,
  // executed in declaration order around the model build. The statement
  // renders through SqlTemplate, so {{ this }} / ref() / source() / $var
  // work inside hooks exactly as they do in model bodies.
  private val PreHookLine = """(?m)^\s*--\s*pre_hook:\s*(.+?)\s*$""".r
  private val PostHookLine = """(?m)^\s*--\s*post_hook:\s*(.+?)\s*$""".r

  /** Split on commas at angle-bracket/paren depth 0 only, so
    * struct<a:bigint,b:string> / decimal(10,2) stay one entry. */
  private[model] def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case c @ ('<' | '(') => depth += 1; cur += c
      case c @ ('>' | ')') => depth -= 1; cur += c
      case ',' if depth == 0 =>
        if (cur.toString.trim.nonEmpty) out += cur.toString.trim
        cur.clear()
      case c => cur += c
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.result()
  }
  // `-- meta: owner=data-team, pii=true` — arbitrary metadata, kept
  // separate from execution config (parser.py:249-288).
  private val MetaLine = """(?m)^\s*--\s*meta:\s*(.+?)\s*$""".r
  // e.g. `not_null(o_custkey)` / `accepted_values(status, F|O|P) severity=warn`
  private val TestExpr = """(\w+)\s*\(\s*([^)]*)\s*\)\s*(?:severity\s*=\s*(\w+))?""".r

  /** Parse one `-- test:` header body into a TestSpec. Multi-value args
    * (accepted_values) are `|`-separated so commas stay free for the
    * (column, arg, arg) list. */
  private[model] def parseTest(body: String): TestSpec = body.trim match {
    case TestExpr(tpe, argStr, sev) =>
      val args = argStr.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(args.nonEmpty, s"test '$body' needs a column argument")
      val params =
        if (tpe == "accepted_values")
          args.drop(1).flatMap(_.split("\\|").map(_.trim)).filter(_.nonEmpty)
        else args.drop(1)
      TestSpec(tpe, args.head, params, Option(sev).getOrElse("error"))
    case other =>
      throw new ConfigError(s"malformed test declaration: $other")
  }

  /** Parse `-- config: key=value, key2=value2` and `-- depends_on: a, b`
    * comment headers out of a model's SQL text, MERGED OVER `base`
    * (a schema.yml sidecar config, [[SchemaYaml]]): scalar config the
    * header states wins over the sidecar's; tests, tags, depends_on,
    * hooks and meta are additive; description and column docs only
    * come from the sidecar (SQL headers have no such surface). With
    * the default empty base this is the original header-only parse,
    * so header-only projects are untouched. */
  def fromSql(name: String, sql: String,
      base: ModelConfig = null): ModelConfig = {
    val b = Option(base).getOrElse(ModelConfig(name))
    // the comma-separated entries of every matching header line
    def items(line: scala.util.matching.Regex): Seq[String] = line.findAllMatchIn(sql)
      .flatMap(_.group(1).split(",").map(_.trim).filter(_.nonEmpty)).toSeq
    // `k=v` entries; a later key wins
    def kvs(line: scala.util.matching.Regex): Map[String, String] =
      items(line).flatMap { pair =>
        pair.split("=", 2) match {
          case Array(k, v) => Some(k.trim -> v.trim)
          case _ => None
        }
      }.toMap
    val tests: Seq[TestSpec] =
      TestLine.findAllMatchIn(sql).map(m => parseTest(m.group(1))).toSeq
    // column:type pairs. Types may carry commas INSIDE angle brackets
    // (struct<a:bigint,b:string>, map<string,int>, decimal(10,2)), so
    // entries split on commas only at bracket depth 0; each declared
    // type must round-trip through Catalyst's DDL parser (loud on
    // garbage) and is canonicalized to its simpleString so the
    // enforce-time compare can never be a spelling mismatch.
    val contract: Seq[(String, String)] =
      ContractLine.findAllMatchIn(sql).flatMap { m =>
        splitTopLevel(m.group(1)).map { pair =>
          pair.split(":", 2) match {
            case Array(c, t) if c.trim.nonEmpty && t.trim.nonEmpty =>
              val tpe =
                try org.apache.spark.sql.types.DataType.fromDDL(t.trim)
                catch {
                  case scala.util.control.NonFatal(_) =>
                    throw new ConfigError(
                      s"contract entry '$pair': unparseable type '${t.trim}'",
                      Map("model" -> name))
                }
              c.trim -> tpe.simpleString
            case _ => throw new ConfigError(
              s"malformed contract entry '$pair' (want column:type)",
              Map("model" -> name))
          }
        }
      }.toSeq
    val cfg = withConfig(b, kvs(ConfigLine))
    cfg.copy(
      name = name,
      dependsOn = b.dependsOn ++ items(DependsLine),
      tags = b.tags ++ items(TagsLine),
      tests = b.tests ++ tests,
      // a base contract survives unless the header declares its own
      // (headers win whole-contract, never entry-by-entry — a partial
      // merge could silently relax a column's type)
      contract = if (contract.nonEmpty) contract else b.contract,
      preHooks = b.preHooks ++ PreHookLine.findAllMatchIn(sql).map(_.group(1)).toSeq,
      postHooks = b.postHooks ++ PostHookLine.findAllMatchIn(sql).map(_.group(1)).toSeq,
      meta = cfg.meta ++ kvs(MetaLine))
  }

  private val ConfigKeys = Set("materialized", "incremental_strategy",
    "time_column", "unique_key", "change_type_column", "enabled")

  /** Apply `config` key/values — a `-- config:` header or a schema.yml
    * `config:` mapping — over `base`: each known key overrides its
    * field (`incremental_table` is an alias of `incremental`,
    * materialization.py:606), every other key lands in `meta`. Absent
    * keys keep `base`'s value, so `ModelConfig(name)` supplies the
    * defaults. */
  def withConfig(base: ModelConfig, kvs: Map[String, String]): ModelConfig =
    base.copy(
      materialized = kvs.get("materialized").map {
        case "incremental_table" => "incremental"
        case other => other
      }.getOrElse(base.materialized),
      incrementalStrategy = kvs.get("incremental_strategy")
        .orElse(base.incrementalStrategy),
      timeColumn = kvs.get("time_column").orElse(base.timeColumn),
      uniqueKey = kvs.get("unique_key").orElse(base.uniqueKey),
      changeTypeColumn = kvs.getOrElse("change_type_column", base.changeTypeColumn),
      enabled = kvs.get("enabled").map(_.toBoolean).getOrElse(base.enabled),
      meta = base.meta ++ kvs.filterNot { case (k, _) => ConfigKeys.contains(k) })
}
