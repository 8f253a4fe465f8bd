package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Layer macros — the Spark re-expression of the reference's Jinja SQL
  * macros (src/framework/macros.py:96-198). Instead of emitting SQL text,
  * each macro is a DataFrame → DataFrame combinator, so composed models
  * stay one Catalyst plan (filters still push down through them).
  */
object Macros {

  /** bronze_load (macros.py:102-130): select + optional filter + load
    * metadata columns. `loadTs` injectable for determinism. */
  def bronzeLoad(
      src: DataFrame,
      filter: Option[Column] = None,
      columns: Seq[String] = Nil,
      loadTs: String = "1970-01-01 00:00:00"): DataFrame = {
    val filtered = filter.fold(src)(src.filter)
    val projected = if (columns.nonEmpty) filtered.select(columns.map(col): _*) else filtered
    projected
      .withColumn("load_timestamp", lit(loadTs).cast("timestamp"))
      .withColumn("layer", lit("bronze"))
  }

  /** silver_clean (macros.py:132-161): QUALIFY ROW_NUMBER() OVER
    * (PARTITION BY key ORDER BY orderCols DESC) = 1 — keep latest per key.
    * Tie-break columns keep the result deterministic under shuffles. */
  def silverClean(
      src: DataFrame,
      dedupeKey: Seq[String],
      orderBy: Seq[Column],
      filter: Option[Column] = None): DataFrame = {
    val filtered = filter.fold(src)(src.filter)
    if (dedupeKey.isEmpty) filtered
    else {
      val w = Window.partitionBy(dedupeKey.map(col): _*).orderBy(orderBy: _*)
      filtered.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
  }

  /** gold_aggregate (macros.py:163-197): group + named aggregates. */
  def goldAggregate(
      src: DataFrame,
      groupBy: Seq[String],
      aggregates: Seq[(String, Column)]): DataFrame = {
    val aggs = aggregates.map { case (alias, expr) => expr.as(alias) }
    src.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** date_spine (the dbt_utils macro): one row per calendar day in
    * [start, end], for scaffolding gap-free daily models — left join
    * facts onto it so empty days appear (see q_date_spine). One
    * generated literal sequence; no table scan. */
  def dateSpine(
      spark: org.apache.spark.sql.SparkSession,
      startDate: String, endDate: String,
      dateCol: String = "date_day"): DataFrame =
    spark.range(1).select(explode(sequence(
      to_date(lit(startDate)), to_date(lit(endDate)),
      expr("interval 1 day"))).as(dateCol))
}
