package graft

import org.apache.spark.sql.DataFrame

/** Lineage truncation with a deployment-selectable durability level.
  *
  * Iterative operators ([[graft.ops.Dedup.duplicateClusters]]'s label
  * propagation, [[graft.ops.CurationPipeline]]'s multi-consumer split)
  * must truncate lineage each round or the plan grows unboundedly and
  * every convergence check re-executes the whole history. Two ways to
  * truncate:
  *
  *   - `localCheckpoint` (default): blocks are materialized on executor
  *     local storage. Fast — no distributed filesystem round-trip — but
  *     NOT fault-tolerant: losing an executor loses its blocks and,
  *     with lineage truncated, the job cannot recompute them. The right
  *     trade on a single machine (tests, local[32] bench) and for jobs
  *     cheap enough to simply rerun.
  *   - reliable `checkpoint`: blocks are written to the SparkContext's
  *     checkpoint directory (HDFS/object store on a cluster). Survives
  *     executor loss — the right trade for thousand-executor runs where
  *     some executor loss per hour is the expected case, not the
  *     exception.
  *
  * Selection is by session conf so a deployment flips ONE switch
  * (`spark.graft.reliableCheckpoints=true` + `sc.setCheckpointDir`)
  * without threading a parameter through every operator signature.
  *
  * Storage lifecycle in reliable mode: Spark does NOT delete checkpoint
  * data when the frame is garbage-collected unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (a static
  * conf, off by default). Iterative operators checkpoint once per round,
  * so long-lived reliable-mode applications should set that cleaner
  * conf at submit time — or point the checkpoint dir at storage with a
  * TTL/lifecycle rule — to avoid accumulating one materialized copy per
  * round until application exit.
  */
object Checkpoints {

  /** A session whose shuffle partitioning is right-sized to an
    * iterative operator's working set — the SAME SparkContext, but an
    * isolated conf, so the lowered partition count is visible ONLY to
    * frames the caller explicitly plans on it (seed frames hop on via
    * [[org.apache.spark.sql.graftext.Bridge.rebind]], results hop
    * back). Iterative operators pay Spark's per-stage scheduling
    * latency maxRounds × stages-per-round times, and that latency grows
    * with partition count even when AQE coalesces the reads (measured
    * on connectedComponents: 1.7× faster at 1 shuffle partition than at
    * the session's 32 on a 5k-edge graph — loops are overhead-bound
    * long before they are data-bound). `rows` is the REAL materialized
    * working-set size (counted on a checkpointed frame — cheap, or free
    * via [[truncateCount]]); partitions are only ever LOWERED, so a
    * 100 TB input gets the parent session back unchanged. Returning the
    * PARENT when no lowering applies keeps the no-op path allocation-
    * free. Earlier rounds mutated the parent's session-global conf
    * under a try/finally instead — any query running CONCURRENTLY on
    * the session (ModelRunner's future pool, a shared bench session)
    * silently planned its shuffles with the shrunken count until the
    * restore; the clone makes that leak structurally impossible.
    *
    * WHEN IT PAYS (measured, sf0.1): deep convergence loops with many
    * stages per round — connectedComponents (~5 rounds × ~6 stages,
    * −40%) and flattenHierarchy's pointer doubling (−25%). Shallow
    * fixed-round loops (pageRank/HITS/LPA at 2–3 rounds × 2–3 stages)
    * measured NEUTRAL-TO-WORSE under the same A/B: the sizing count
    * job plus the lost post-shuffle parallelism outweigh the smaller
    * scheduling saving — those operators deliberately do NOT use this
    * helper. Measure before adding call sites. */
  def loopSession(
      spark: org.apache.spark.sql.SparkSession, rows: Long,
      rowsPerPartition: Long = 4L * 1000 * 1000,
      keepAqe: Boolean = false)
      : org.apache.spark.sql.SparkSession = {
    require(rowsPerPartition > 0, "rowsPerPartition must be positive")
    val sessParts = spark.sessionState.conf.numShufflePartitions
    val parts =
      math.max(1L, math.min(sessParts.toLong, rows / rowsPerPartition + 1))
    if (parts >= sessParts) spark
    else {
      val s = org.apache.spark.sql.graftext.Bridge.cloneSession(spark)
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      // AQE off INSIDE the right-sized clone (r14): AQE runs every
      // shuffle stage as its own job and re-plans between stages — at
      // the session's full width that coalescing is what carries loop
      // stages (the r11 full-set A/B: q_connected_components +4.9 s
      // with AQE off), but on THIS clone the partition count is already
      // sized to the working set, so AQE has nothing left to coalesce
      // and only its per-stage scheduling tax remains. Same-session
      // A/B (r14, bench_results/r14_loop_aqe_ab.json): loop-family
      // queries ~10-25% faster, none slower. The clone only exists
      // when partitions were LOWERED (small working sets); at 100 TB
      // loopSession returns the parent unchanged and AQE stays on.
      // NOT unconditional: loops whose per-round joins still gain from
      // AQE's runtime re-planning (connectedComponents' star joins,
      // r15: 5.15 s with AQE vs 9.10 s without) pass keepAqe=true.
      if (!keepAqe) s.conf.set("spark.sql.adaptive.enabled", "false")
      s
    }
  }

  /** Session conf key; unset/false = localCheckpoint, true = reliable. */
  val ReliableConfKey = "spark.graft.reliableCheckpoints"

  /** True when this session asks for reliable (executor-loss-safe)
    * checkpoints. */
  def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.get(ReliableConfKey, "false").toBoolean

  /** Truncate `df`'s lineage eagerly, honoring the session's durability
    * conf. Both paths are eager (the returned frame is materialized), so
    * callers can treat the result as a stable round snapshot.
    *
    * Deliberately NOT `Dataset.checkpoint`/`localCheckpoint`: those
    * eagerly recompute the origin plan's `Statistics` and store them on
    * the truncated node (LogicalRDD.rewriteStatsAndConstraints), and the
    * size-only stats visitor MULTIPLIES children's `sizeInBytes` at
    * every join. In an iterative loop the carried BigInt therefore
    * compounds round over round — a round that references the previous
    * label frame twice (any self-join or join+aggregate pair) at least
    * DOUBLES the digit count per round, so by round ~20 the driver sits
    * in Karatsuba/Toom-Cook multiplications on numbers with millions of
    * digits inside `checkpoint()` itself. Found live: duplicateClusters'
    * pointer-doubling loop (4× digits/round) pinned one core for 20+
    * minutes at 30× scale, inside stats estimation, not execution.
    *
    * Instead we materialize the SAME binary InternalRow RDD Spark's own
    * checkpoint materializes (`queryExecution.toRdd`, rows copied out
    * of their reused buffers exactly as `Dataset.checkpoint` does) and
    * rebuild the frame over it. The materialization job doubles as a
    * sizing pass (r15): the new leaf carries the MEASURED row count and
    * byte size of the materialized rows themselves — small bounded
    * numbers re-derived fresh from data each round (immune to the
    * compounding above, which came from carrying forward ESTIMATES),
    * and accurate enough that the static planner can broadcast a small
    * truncated frame without AQE's runtime rescue (the r14 verdict's
    * connectedComponents finding). */
  def truncate(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftext.Bridge
    materialize(df, Bridge.internalRdd(df).map(_.copy()), None)._1
  }

  /** Truncate + total row count in the same materialization pass —
    * for callers whose next decision needs the materialized size (e.g.
    * choosing a flat vs two-level ranking shape) without paying a
    * separate count job. The count is EXACT (r15: it comes from the
    * per-partition sizing sums the materialization job collects — each
    * partition contributes exactly once regardless of task retries),
    * so it is safe in exact arithmetic, unlike the accumulator-based
    * r14 version. */
  def truncateCount(df: DataFrame): (DataFrame, Long) = {
    import org.apache.spark.sql.graftext.Bridge
    val (out, rows, _) =
      materialize(df, Bridge.internalRdd(df).map(_.copy()), None)
    (out, rows)
  }

  /** [[truncate]] fused with a fixpoint probe: materialize `df` and, in
    * the SAME pass, count rows whose boolean `flagCol` is true.
    * Iterative operators otherwise pay one extra job per round just to
    * ask "did anything change?" — and the diff formulation some of
    * them used (`exceptAll(prev).isEmpty`) is an extra SHUFFLE per
    * round on top of the job. The count is exact (per-partition sums
    * collected from the materialization job — see [[truncateCount]]).
    * NULL flags count as false. Returns the truncated frame (still
    * carrying `flagCol`; the caller projects it away) and the
    * true-count. */
  def truncateCountTrue(df: DataFrame, flagCol: String): (DataFrame, Long) = {
    import org.apache.spark.sql.graftext.Bridge
    val ord = df.schema.fieldIndex(flagCol)
    val (out, _, flags) =
      materialize(df, Bridge.internalRdd(df).map(_.copy()), Some(ord))
    (out, flags)
  }

  /** Materialize `rdd` (local or reliable per session conf) and rebuild
    * `df` over it. ONE job does triple duty: it materializes the
    * checkpoint blocks (Spark checkpoints the marked parent at the end
    * of the first job that touches it), sizes the frame for the leaf's
    * statistics, and counts `flagOrd`-true rows for fixpoint probes.
    * Returns (truncated frame, exact row count, exact flag-true count).
    * The per-partition sums arrive via collect(), so every partition
    * contributes exactly once — task retries cannot skew them. */
  private def materialize(
      df: DataFrame,
      rdd: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      flagOrd: Option[Int]): (DataFrame, Long, Long) = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeRow
    import org.apache.spark.sql.graftext.Bridge
    val spark = df.sparkSession
    // Fallback per-row width for non-UnsafeRow rows (rare: toRdd yields
    // UnsafeRow from codegen'd plans) — schema default sizes + row
    // overhead, same flavor as Spark's own EstimationUtils.
    val fallbackWidth =
      8L + df.schema.map(_.dataType.defaultSize.toLong).sum
    val flag = flagOrd.getOrElse(-1)
    def sizingJob(): (Long, Long, Long) = {
      val parts = rdd.mapPartitions { it =>
        var n = 0L; var b = 0L; var f = 0L
        it.foreach { r =>
          n += 1L
          b += (r match {
            case u: UnsafeRow => u.getSizeInBytes.toLong
            case _ => fallbackWidth
          })
          if (flag >= 0 && !r.isNullAt(flag) && r.getBoolean(flag)) f += 1L
        }
        Iterator.single((n, b, f))
      }.collect()
      parts.foldLeft((0L, 0L, 0L)) { case ((n, b, f), (pn, pb, pf)) =>
        (n + pn, b + pb, f + pf)
      }
    }
    val (rows, bytes, flags) =
      if (reliable(df)) {
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          throw new IllegalStateException(
            s"$ReliableConfKey=true but no checkpoint directory is set; " +
              "call sparkContext.setCheckpointDir(<reliable storage path>) first")
        // persist first so the checkpoint write doesn't recompute the
        // round, then drop the cached copy — post-checkpoint reads come
        // from the checkpoint files, and iterative callers would
        // otherwise accumulate one corpus-scale cached copy per round
        // until driver GC notices
        rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        rdd.checkpoint()
        val m = sizingJob()
        rdd.unpersist(blocking = false)
        m
      } else {
        rdd.localCheckpoint()
        sizingJob()
      }
    (Bridge.truncatedFrame(df, rdd, rows, bytes), rows, flags)
  }
}
