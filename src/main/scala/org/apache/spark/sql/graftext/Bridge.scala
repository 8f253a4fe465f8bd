package org.apache.spark.sql.graftext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.internal.{SortOrder => SortNode}

/** Minimal bridge into Spark's `private[sql]` surface: wrapping a custom
  * LogicalPlan (graft.plans.AsOfJoinNode) in a Dataset requires
  * `Dataset.ofRows`, and unpacking a user-supplied sort Column (e.g.
  * `col("quality").desc`) into its ordered-by child + direction requires
  * the Column's internal ColumnNode — both of which Spark scopes to its
  * own package. The same technique Spark-native table formats and
  * connectors use for their custom operators. Nothing else from the
  * internal API is touched, and this object contains almost no logic of
  * its own.
  */
object Bridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A full copy of the session — same SparkContext, SharedState and
    * cache, isolated SessionState with all runtime confs and registered
    * functions carried over (Spark's own `cloneSession`, which it scopes
    * private[sql]). Unlike `newSession()`, the clone starts from the
    * parent's CURRENT conf values, so a caller can then tweak one conf
    * (e.g. shuffle partitions for an iterative loop) without the change
    * ever being visible to queries planned on the parent session. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Block until every queued listener event has been delivered
    * (`listenerBus.waitUntilEmpty` is private[spark]). Metrics harnesses
    * (tools.Probe.Listener) snapshot listener-accumulated task metrics
    * around each query; without the drain the async bus would attribute
    * a query's tail tasks to the next query. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Re-home `df`'s analyzed plan onto `target` (same SparkContext):
    * subsequent operators and the final execution plan under `target`'s
    * SessionState/conf instead of the session the frame was built on.
    * Used at loop-session boundaries — seed frames hop onto the
    * right-sized clone, results hop back — where the frames involved
    * are truncated LogicalRDD leaves (or cheap projections over them),
    * so re-analysis is trivial and no data moves. */
  def rebind(df: DataFrame, target: SparkSession): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    if (ds.sparkSession eq target) df
    else classic.Dataset.ofRows(
      target.asInstanceOf[classic.SparkSession], ds.logicalPlan)
  }

  /** [[rebind]] for LOOP EXITS: additionally strips the advertised
    * outputPartitioning/outputOrdering from every LogicalRDD leaf. A
    * loop that ran on a right-sized clone ends with its working set
    * hash-partitioned into very FEW partitions (often 1); truncatedFrame
    * deliberately preserves that layout so in-loop rounds skip
    * re-exchanges — but letting it escape to the caller poisons
    * downstream planning: a join against the 1-partition frame
    * co-partitions the OTHER side down to 1 (r14, measured in
    * q_curate_pipeline: the contamination/quality join subtree collapsed
    * to single-task stages, 6.5 -> 9.1 s, once the non-AQE loop exit
    * started advertising HashPartitioning(1); AQE loop exits advertised
    * UnknownPartitioning and never hit this). Statistics are PRESERVED
    * (r15): a truncated leaf now carries its measured rowCount/
    * sizeInBytes (see [[truncatedFrame]]), and the caller's planner
    * should see them — a loop result small enough to broadcast into the
    * caller's downstream joins statically is exactly the point of
    * measuring. */
  def rebindExit(df: DataFrame, target: SparkSession): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val t = target.asInstanceOf[classic.SparkSession]
    val cleaned = ds.logicalPlan.transform {
      case l: LogicalRDD =>
        LogicalRDD(l.output, l.rdd, UnknownPartitioning(0), Nil,
          l.isStreaming)(t, Some(l.computeStats()), None)
    }
    classic.Dataset.ofRows(t, cleaned)
  }

  /** The frame's executed plan as an InternalRow RDD — the same binary
    * rows `Dataset.checkpoint` materializes. Rows are buffer-reused per
    * partition upstream; callers that persist MUST `.map(_.copy())`
    * first (as Spark's own checkpoint does). */
  def internalRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.toRdd

  /** Rebuild `df` over its own materialized InternalRow RDD, mirroring
    * `LogicalRDD.fromDataset` (what `Dataset.checkpoint` builds) in
    * every respect EXCEPT the statistics: the origin's physical
    * `outputPartitioning` (first leaf of any PartitioningCollection,
    * Spark's own rule) and `outputOrdering` are preserved — so a loop
    * round that ends hash-partitioned on its join key does NOT pay a
    * fresh Exchange next round — while the statistics are pinned to the
    * MEASURED (rows, bytes) of the materialized RDD itself
    * (graft.Checkpoints sizes the RDD in the same pass that
    * materializes it). Never the origin plan's eagerly-computed
    * estimate, whose BigInt compounds across iterative rounds (see
    * graft.Checkpoints.truncate) — measured
    * values are re-derived fresh from actual data each round, so their
    * digit count is bounded by the data, structurally immune to the
    * compounding. Real sizes are what let the STATIC planner broadcast
    * a small truncated frame (r14 verdict: connectedComponents' star
    * joins only broadcast because AQE's runtime stats rescued
    * default-sized leaves — a silent sort-merge degradation anywhere
    * AQE is off or thresholds differ). Constraints are dropped with the
    * origin stats: both derive from the origin plan walk we must
    * avoid. */
  def truncatedFrame(df: DataFrame, rdd: RDD[InternalRow],
      rows: Long, bytes: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
    import org.apache.spark.sql.execution.LogicalRDD
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val session = ds.sparkSession
    @annotation.tailrec
    def firstLeafPartitioning(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeafPartitioning(c.partitionings.head)
      case other => other
    }
    // sizeInBytes >= 1: Spark treats 0 as "empty relation" in some
    // pruning paths; a 0-row frame still planning as a (tiny)
    // broadcast side is the behavior we want.
    val stats = Statistics(sizeInBytes = BigInt(math.max(bytes, 1L)),
      rowCount = Some(BigInt(rows)))
    val executed = ds.queryExecution.executedPlan
    val plan = LogicalRDD(
      ds.logicalPlan.output, rdd,
      firstLeafPartitioning(executed.outputPartitioning),
      executed.outputOrdering,
      isStreaming = false)(session, Some(stats), None)
    classic.Dataset.ofRows(session, plan)
  }

  /** True when every leaf of `df`'s ANALYZED plan is an
    * already-materialized RDD leaf (LogicalRDD — what
    * graft.Checkpoints.truncate builds): an action over such a frame is
    * a cheap block scan, never a plan re-execution. Used by write-path
    * sizing to decide whether a row count is free or would double the
    * materialization cost. */
  def allLeavesMaterialized(df: DataFrame): Boolean = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.queryExecution.analyzed.collectLeaves().forall {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _ => false
    }
  }

  /** Unwrap a possibly-SortOrder Column (`c.desc` / `c.asc` /
    * `c.desc_nulls_first` / ...) into (the ordered-by Column,
    * isDescending, nullsFirst). A plain Column is its own ascending
    * nulls-first key (Spark's ascending default). Used by operators
    * that need a scalar KEY from a caller's ordering spec (e.g.
    * Curation.tokenBudget's bucket key) — the null ordering MUST ride
    * along or a two-level prefix sum would bucket null keys at the
    * wrong end. The unwrap happens on the ColumnNode
    * (Column↔Expression conversion is lazy in Spark 4 — a SortOrder
    * would otherwise survive into a value position and fail codegen). */
  def sortKey(c: Column): (Column, Boolean, Boolean) = c.node match {
    case SortNode(child, direction, nullOrdering, _) =>
      (Column(child), direction == SortNode.Descending,
        nullOrdering == SortNode.NullsFirst)
    case _ => (c, false, true)
  }
}
