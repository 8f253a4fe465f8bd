package graft.model

import java.nio.file.{Files, Path}

/** Project configuration: YAML profiles / environments / sources with
  * `${ENV_VAR}` substitution — the Spark re-expression of the reference's
  * Config (src/framework/config.py:18-443). Snowflake connection blocks
  * become Spark-relevant settings (warehouse root, source path mappings,
  * per-environment variable defaults).
  *
  * Layout under `<project>/config/`:
  *   profiles.yml      default: { target: dev, outputs: { dev: {...} } }
  *   environments.yml  dev: { vars: { k: v }, warehouse_dir: ... }
  *   sources.yml       the schema.yml `sources:` shape
  *                     ([[SchemaYaml.parseSources]])
  */
final class ProjectConfig(projectDir: Path, env: Map[String, String] = sys.env) {

  /** A config file's content after `${VAR}` substitution, and its path;
    * None when the file is absent. */
  private def read(name: String): Option[(String, String)] = {
    val f = projectDir.resolve("config").resolve(name)
    if (Files.exists(f)) Some((substituteEnvVars(Files.readString(f)), f.toString))
    else None
  }

  private def doc(name: String): Map[String, Any] =
    read(name).flatMap((SchemaYaml.readDoc _).tupled).getOrElse(Map.empty)

  val profiles: Map[String, Any] = doc("profiles.yml")
  val environments: Map[String, Any] = doc("environments.yml")

  /** The tables config/sources.yml declares (config.py:121-176:
    * source_name.table_name → physical identifier). */
  val sourceSpecs: Seq[SourceTableSpec] =
    read("sources.yml").fold(Seq.empty[SourceTableSpec])((SchemaYaml.parseSources _).tupled)

  def sourceTableMap: Map[(String, String), String] =
    sourceSpecs.map(s => (s.source, s.table) -> s.identifier).toMap

  /** config.py:66-69 — target from profiles.default.target, else "dev". */
  val currentTarget: String =
    nested(profiles, "default", "target").map(_.toString).getOrElse("dev")

  /** ${VAR} / ${VAR:-default} substitution (config.py:178-203). */
  private[model] def substituteEnvVars(content: String): String = {
    val pat = raw"""\$$\{([A-Za-z_][A-Za-z0-9_]*)(?::-([^}]*))?\}""".r
    pat.replaceAllIn(content, m => {
      val value = env.getOrElse(m.group(1), Option(m.group(2)).getOrElse {
        throw new IllegalArgumentException(
          s"Environment variable not set and no default: ${m.group(1)}")
      })
      scala.util.matching.Regex.quoteReplacement(value)
    })
  }

  private def nested(m: Map[String, Any], path: String*): Option[Any] =
    path.foldLeft(Option(m: Any)) {
      case (Some(mm: Map[String, Any] @unchecked), key) => mm.get(key)
      case _ => None
    }

  /** Connection/output block for a target (config.py:205-310). */
  def connectionConfig(target: Option[String] = None): Map[String, Any] =
    nested(profiles, "default", "outputs", target.getOrElse(currentTarget))
      .collect { case m: Map[String, Any] @unchecked => m }
      .getOrElse(Map.empty)

  /** Per-environment block (config.py:312-330). */
  def environmentConfig(environment: String): Map[String, Any] =
    environments.get(environment)
      .collect { case m: Map[String, Any] @unchecked => m }
      .getOrElse(Map.empty)

  /** Per-environment variable defaults for model rendering. */
  def environmentVars(environment: String): Map[String, String] =
    environmentConfig(environment).get("vars")
      .collect { case m: Map[String, Any] @unchecked => m }
      .getOrElse(Map.empty)
      .map { case (k, v) => k -> v.toString }
}
