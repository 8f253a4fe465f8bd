package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Parquet catalog for one scale-factor directory of the driver-generated
  * testdata (TPC-H-ish star schema + events/documents/embeddings).
  *
  * Registers each table as a temp view so both the DataFrame API and
  * `spark.sql` can reach them. Reads are plain parquet scans: column
  * pruning and predicate pushdown stay available to Catalyst (the same
  * layout a 100 TB lake would use, just bigger files and a partitioned
  * directory scheme).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, table: String): String = s"$dir/$table.parquet"

  /** Normalizes `events.ts` to TimestampType across every layout the
    * testdata has shipped in:
    *   - TIMESTAMP(NANOS): Spark has no native type; with
    *     `nanosAsLong=true` it arrives as LongType nanos, which we
    *     floor-divide to micros — the same truncation DuckDB applies.
    *   - Timestamp(isAdjustedToUTC=false, MICROS): arrives as
    *     timestamp_ntz (under default inferTimestampNTZ) — cast to
    *     TimestampType. Session TZ is UTC on both engines, so the
    *     instant is unchanged.
    *   - Timestamp(isAdjustedToUTC=true, MICROS): already TimestampType.
    * [[sessionConfigs]] also disables NTZ inference so a stock reader
    * sees plain timestamps, but the cast below keeps `load` correct even
    * on sessions that miss the config.
    */
  def load(spark: SparkSession, dir: String, table: String): DataFrame = {
    purgeStopped()
    loadCache.computeIfAbsent((spark, dir, table), _ => {
      val df = spark.read.parquet(path(dir, table))
      df.schema.find(_.name == "ts").map(_.dataType) match {
        case Some(LongType) =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case Some(TimestampNTZType) =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    })
  }

  // `spark.read.parquet` lists files and reads footers for schema on
  // EVERY call — ~30-80 ms per table, and Verify/Bench construct each
  // query fresh (twice per bench sample), so the probes dominated the
  // small-SF per-query intercept (registerAll alone measured 0.85 s).
  // The testdata is immutable for a session's lifetime, so the plan
  // (with its captured file index) is safely memoized per (session,
  // dir, table). Bounded: sessions-per-JVM × dirs × 10 tables.
  // Lifecycle: entries for STOPPED sessions are purged on every access
  // (the maps are sessions × dirs sized — iterating them is cheaper
  // than any bookkeeping), so a long-lived JVM cycling sessions does
  // not retain their cached plans/file indexes forever. The keys are
  // path-, not content-keyed: a parquet dir rewritten in place during
  // the JVM's lifetime serves a stale file listing until
  // [[invalidate]] is called for it (harnesses that regenerate
  // testdata in place own that call).
  private val loadCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()

  private def purgeStopped(): Unit = {
    loadCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    registeredDir.filterInPlace((s, _) => !s.sparkContext.isStopped)
  }

  /** Drop every cached plan and view registration pointing at `dir`,
    * for all sessions — the hook for harnesses that rewrite a testdata
    * dir in place (the memoized plans capture the parquet FILE LISTING,
    * so a rewrite would otherwise serve deleted/stale files). */
  def invalidate(dir: String): Unit = {
    loadCache.keySet.removeIf(k => k._2 == dir)
    registeredDir.filterInPlace((_, d) => d != dir)
  }

  /** Session configs required to read the testdata. Apply on every builder. */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // AQE on, measured: the full 171-query A/B at sf0.1 read 143.9 s on
    // vs 175.2 s off — post-shuffle coalescing carries the loop stages
    // and the landings (PERF_NOTES.md round 10).
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // InferFiltersFromGenerate is a pessimization for this engine
    // (r14, measured): every generator here explodes an array COMPUTED
    // from text/embeddings (shingles, token arrays, vector transforms),
    // so the rule's inferred `size(arr) > 0 AND isnotnull(arr)` filter
    // re-evaluates the whole tokenize/shingle pipeline per row — as an
    // INTERPRETED Filter (higher-order functions don't codegen), and
    // predicate pushdown then moves it below the fan-out repartition
    // into the single-map-task scan stage of a one-file input. The rows
    // it could prune (empty arrays) are dropped by the Generate itself
    // one exchange later at zero cost. Same-session A/B at sf0.1:
    // q_simjoin_exact 10.73 -> 2.91 s (3.7x), q_embed_outliers /
    // q_boilerplate neutral within noise; full-bench A/B in
    // OPTIMIZATION_r14.md. The exclusion is semantics-preserving (the
    // rule only ever ADDS redundant filters).
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    // Spark keeps compiled generated classes in one JVM-wide LRU cache,
    // 100 entries by default. A warm JVM re-runs the same plans (watch,
    // serve, Bench samples, both benchmark workloads), and a cyclic
    // working set larger than an LRU cache gets no hits: at 100 every
    // `models` pass recompiled ~555 classes. Measured working sets per
    // JVM (4 vCPUs, seed 1, warm-up plus four passes): `models` 309
    // distinct classes, after which a pass compiles none; `catalog` 299,
    // still growing by 38 per pass (q_stream_quota and q_hierarchy
    // generate new code on every run). Memory: metaspace after those
    // passes read 170 MB here against 178 MB at 100 for `models`, 177
    // against 176 MB for `catalog`; a cached class costs little next to
    // recompiling it. Spark builds the cache once per JVM, at the first
    // codegen, from the active session's conf, so this works only
    // because every session builder applies these configs before any
    // query runs.
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    // Default streaming checkpoint base on RAM-backed scratch: without
    // it, every checkpoint-less stream (the bench/Verify AvailableNow
    // queries) puts its offset/commit logs and fsync'd state-store
    // deltas under java.io.tmpdir — on this host a real disk, charging
    // each micro-batch a run of disk fsyncs. Queries that need durable
    // or resumable checkpoints pass an explicit checkpointLocation,
    // which overrides this. Cleaned on JVM exit by Scratch.
    "spark.sql.streaming.checkpointLocation" ->
      Scratch.dir("graft_stream_ck_"))

  /** Kept only because the benchmark harness calls it; [[sessionConfigs]] turns AQE on. */
  def applyAdaptivePolicy(spark: SparkSession): Boolean = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    true
  }

  /** Register all tables as temp views for SQL access. Idempotent, and
    * memoized per (session, dir): re-registering identical views costs
    * catalog churn for nothing, and every framework query calls this.
    * Switching the SAME session to a different dir re-registers (the
    * views must re-point). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    if (!registeredDir.get(spark).contains(dir)) {
      names.foreach { t =>
        load(spark, dir, t).createOrReplaceTempView(t)
      }
      registeredDir.put(spark, dir)
    }

  private val registeredDir = scala.collection.concurrent.TrieMap
    .empty[SparkSession, String]
}
