package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality tests — the Spark re-expression of the reference's
  * testing framework (src/framework/testing.py:28-150,
  * polars_utils.py:96-170: unique / not_null / accepted_values / range /
  * relationships).
  *
  * Unlike the reference, which issues one warehouse query per test, any
  * mix of checks compiles into ONE query: each `relationships` parent's
  * distinct keys are left-joined onto the frame, then a single `agg`
  * computes one failing-row count per check — at 100 TB the difference
  * between N scans and one.
  */
object Quality {

  sealed trait Check { def name: String; def column: String }
  final case class NotNull(column: String) extends Check {
    val name = s"not_null_$column"
  }
  final case class AcceptedValues(column: String, values: Seq[String]) extends Check {
    val name = s"accepted_values_$column"
  }
  final case class RangeCheck(column: String, min: Double, max: Double) extends Check {
    val name = s"range_$column"
  }
  final case class Unique(column: String) extends Check {
    val name = s"unique_$column"
  }
  /** dbt's `relationships` (referential-integrity) test: every non-NULL
    * value of `column` must exist in `refModel.refColumn` (NULL child
    * values pass — dbt semantics; not_null is its own check). */
  final case class Relationships(column: String, refModel: String,
      refColumn: String) extends Check {
    val name = s"relationships_${column}__${refModel}_$refColumn"
  }

  final case class CheckResult(check: String, failures: Long) {
    def passed: Boolean = failures == 0
  }

  /** Run all checks as one query; returns one CheckResult per check, in
    * `checks` order (a check declared twice yields two results).
    * `resolve` maps a referenced model name to its DataFrame for
    * [[Relationships]] checks (ModelRunner passes readModel; callers
    * without a warehouse can pass any catalog lookup). Each parent's key
    * set is made distinct before the left join, so the join never
    * multiplies the frame's rows and every other count stays exact. */
  def run(df: DataFrame, checks: Seq[Check],
      resolve: String => DataFrame = t =>
        throw new graft.model.ConfigError(
          s"relationships test references model '$t' but no resolver " +
            "was provided")): Seq[CheckResult] = {
    if (checks.isEmpty) return Nil
    def failing(cond: Column): Column = sum(when(cond, 1L).otherwise(0L))
    val joined = checks.zipWithIndex.foldLeft(df) {
      case (acc, (c: Relationships, i)) =>
        val parent = resolve(c.refModel).select(col(c.refColumn).as(s"__pk$i"))
          .distinct()
        acc.join(parent, col(c.column) === col(s"__pk$i"), "left")
      case (acc, _) => acc
    }
    val counts = checks.zipWithIndex.map { case (check, i) =>
      val c = col(check.column)
      (check match {
        case _: NotNull => failing(c.isNull)
        case AcceptedValues(_, values) => failing(!c.isin(values: _*) || c.isNull)
        case RangeCheck(_, min, max) => failing(c < min || c > max)
        case _: Unique => count(c) - count_distinct(c)
        case _: Relationships => failing(c.isNotNull && col(s"__pk$i").isNull)
      }).as(s"__c$i")
    }
    val row = joined.agg(counts.head, counts.tail: _*).head()
    checks.zipWithIndex.map { case (check, i) =>
      CheckResult(check.name, if (row.isNullAt(i)) 0L else row.getLong(i))
    }
  }

  /** All checks as a single-row DataFrame (for oracle comparison). */
  def asRow(df: DataFrame, checks: Seq[Check],
      resolve: String => DataFrame = t =>
        throw new graft.model.ConfigError(
          s"relationships test references model '$t' but no resolver " +
            "was provided")): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val results = run(df, checks, resolve)
    results.map(r => (r.check, r.failures)).toDF("check_name", "failures")
      .orderBy("check_name")
  }
}
