package graft.model

import graft.Json
import org.apache.spark.sql.SparkSession

/** Cross-model column lineage — the Spark re-expression of the
  * reference's LineageTracker (src/utils/lineage.py:84-160) and
  * `get_column_lineage` (src/framework/dependency.py:332-344).
  *
  * Each model's rendered plan is analyzed ONCE with its upstream models
  * registered as relations, and [[Lineage.ofModel]] attributes every
  * output column to its IMMEDIATE upstream `model.column` sources
  * (attribution stops at model boundaries instead of expanding views to
  * base tables). Those per-model edges form the project-wide column
  * graph; [[columnImpact]] chains them downstream recursively, so "what
  * breaks if I change staging.value?" answers with concrete
  * `model.column` names across the whole DAG. Everything here is plan
  * analysis — no data is read or moved.
  */
final class ProjectLineage(
    spark: SparkSession,
    wh: Warehouse,
    runner: ModelRunner) {

  private def dummyVars(name: String): Map[String, String] =
    SqlTemplate.extractVariables(runner.modelSqlMap(name)).map(_ -> "0").toMap

  /** Lowercased relation name → model name, the boundary set for
    * [[Lineage.ofModel]]. */
  private val relationOf: Map[String, String] =
    runner.modelSqlMap.keys.map(m => wh.relation(m).toLowerCase -> m).toMap

  /** Immediate column sources for every model, keyed by model name.
    * Models are hydrated as rendered views in dependency order so every
    * ref resolves (materialized models resolve to their current version,
    * like the reference's warehouse-backed lineage). */
  lazy val perModel: Map[String, Seq[Lineage.ColumnLineage]] =
    runner.graph.executionOrder(None).flatten
      .filter(runner.modelSqlMap.contains)
      .map { m =>
        val df = spark.sql(runner.render(m, dummyVars(m)))
        val lin = Lineage.ofModel(df, relationOf)
        if (wh.exists(m)) wh.refreshView(m) else wh.registerView(m, df)
        m -> lin
      }.toMap

  /** All downstream `model.column`s transitively derived from
    * `model.column` (reference: lineage.py:115-137 get_column_impact,
    * with the same recursion; the visited-set also guards cycles). */
  def columnImpact(model: String, column: String): Set[String] = {
    val impacted = scala.collection.mutable.LinkedHashSet.empty[String]
    def visit(m: String, c: String): Unit =
      perModel.foreach { case (down, cols) =>
        cols.foreach { cl =>
          if (cl.sources.contains(s"$m.$c") && impacted.add(s"$down.${cl.column}"))
            visit(down, cl.column)
        }
      }
    visit(model, column)
    impacted.toSet
  }

  /** Upstream-first path from sources to `model`
    * (lineage.py:139-158 get_full_lineage_path). */
  def fullPath(model: String): Seq[String] =
    runner.graph.executionOrder(Some(Seq(model))).flatten
      .filter(runner.modelSqlMap.contains)

  /** JSON export of the whole column graph
    * (lineage.py:160-180 export_lineage). */
  def toJson: String = {
    val models = perModel.toSeq.sortBy(_._1).map { case (m, cols) =>
      val colJson = cols.map { cl =>
        s"""{"column":${Json.str(cl.column)},"sources":[${
          cl.sources.toSeq.sorted.map(Json.str).mkString(",")}],"transformations":[${
          cl.transformations.toSeq.sorted.map(Json.str).mkString(",")}]}"""
      }.mkString(",")
      s"""${Json.str(m)}:{"columns":[$colJson],"dependencies":[${
        runner.graph.dependencies(m).toSeq.sorted.map(Json.str).mkString(",")}]}"""
    }.mkString(",")
    s"{$models}"
  }
}
