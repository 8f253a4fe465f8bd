package graft.model

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.graftext.Bridge

/** Parquet-backed model storage with versioned directories and an atomic
  * current-version pointer (kept in the StateStore).
  *
  * This replaces the reference's warehouse-side CREATE OR REPLACE TABLE /
  * staging-table dance (materialization.py, cdc_polars.py) with the
  * pattern that scales on a data lake: every write — full rewrite,
  * partition-scoped merge, append, compaction — lands in a fresh `v<N>`
  * directory and becomes visible only when the pointer flips, so
  * readers never observe a half-written table, Spark never reads a
  * directory it is concurrently overwriting, and no version directory
  * is written after its pointer flips. Appends and scoped merges
  * hard-link the previous version's untouched files forward, so they
  * cost O(batch) data plus one link per carried file.
  */
final class Warehouse(
    val spark: SparkSession,
    root: String,
    val state: StateStore) {

  Files.createDirectories(Paths.get(root))

  /** Relation name a model is visible under for spark.sql. */
  def relation(model: String): String = s"graft_$model"

  // NIO directory streams hold an OS file handle until closed — every
  // Files.walk/Files.list here drains through this so version cleanup
  // and carry-forward scans don't leak handles until GC finalization.
  private def withStream[A, B](s: java.util.stream.Stream[A])(
      f: Iterator[A] => B): B =
    try f(s.iterator().asScala) finally s.close()

  private def versionDir(model: String, v: Long): Path =
    Paths.get(root, model, s"v$v")

  def currentVersion(model: String): Option[Long] =
    state.get(model).map(_.currentVersion).filter(_ > 0)

  def exists(model: String): Boolean =
    currentVersion(model).exists(v => Files.exists(versionDir(model, v)))

  def currentPath(model: String): Option[String] =
    currentVersion(model).map(v => versionDir(model, v).toString)

  // Whether a version has a catalog entry (bucketed), memoized: on a
  // production metastore the existence check is an RPC, and only this
  // warehouse writes the model, so the answer is stable per version.
  // Concurrent: independent models write (and so read) in parallel.
  private val catalogTableCache =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** The model's current version as a DataFrame, read through
    * [[Bridge.readParquet]], so no Spark job infers its schema in any
    * process. */
  def read(model: String): DataFrame =
    readVersion(model, currentVersion(model).getOrElse(
      throw new StateError(s"model '$model' not materialized")))

  private def readVersion(model: String, v: Long): DataFrame = {
    // Bucketed versions must be read through their catalog table — the
    // bucket spec (what makes joins shuffle-free) lives only there.
    val tbl = catalogName(model, v)
    val isCatalog = catalogTableCache.getOrElseUpdate(tbl,
      spark.catalog.tableExists(tbl))
    if (isCatalog) spark.table(tbl)
    else Bridge.readParquet(spark, versionDir(model, v).toString)
  }

  /** The one version commit every write goes through: clear a `v<next>`
    * that a rolled-back run left behind, let `write` fill it, read it
    * back, then flip the pointer and register the view. The pointer flip
    * also merges `incremental` (a watermark) into the model's state, in
    * the same state write, so no crash can separate the two. A version
    * that cannot be read is dropped and the pointer stays on the previous
    * one. Old versions are retained for time-travel/debug until
    * [[vacuum]]. */
  private def commit(model: String, incremental: Map[String, String])(
      write: Long => Unit): Unit = {
    val next = currentVersion(model).getOrElse(0L) + 1
    if (Files.exists(versionDir(model, next))) dropVersion(model, next)
    write(next)
    // Only a bucketed write registers a catalog table (and caches `true`).
    catalogTableCache.putIfAbsent(catalogName(model, next), false)
    val df = try readVersion(model, next) catch {
      case NonFatal(e) => dropVersion(model, next); throw e
    }
    state.update(model)(s =>
      s.copy(currentVersion = next, incremental = s.incremental ++ incremental))
    df.createOrReplaceTempView(relation(model))
  }

  private def parquetWriter(df: DataFrame, mode: SaveMode, partitionBy: Seq[String]) = {
    val w = df.write.mode(mode)
    if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
  }

  /** Write a full new version and flip the pointer. Partitioning columns
    * (e.g. a date column for incremental models) keep scans prunable at
    * scale. `incremental` entries join the model's state with the pointer
    * (see [[commit]]). */
  def writeVersion(
      model: String,
      df: DataFrame,
      partitionBy: Seq[String] = Nil,
      incremental: Map[String, String] = Map.empty): Unit =
    commit(model, incremental) { v =>
      parquetWriter(df, SaveMode.Overwrite, partitionBy).parquet(versionDir(model, v).toString)
    }

  /** Bucketed (CLUSTERED BY) version write: the model lands hash-bucketed
    * on `bucketCols` into `numBuckets` files per partition, registered as
    * an external catalog table (the bucket spec lives in the catalog;
    * the data stays in the versioned directory). Downstream equi-joins
    * and aggregations on the bucket keys between co-bucketed models then
    * plan WITHOUT a shuffle — at 100 TB, bucketing the big fact tables
    * once turns every later fact-fact join into a zip of pre-sorted
    * buckets. `sortBy` additionally pre-sorts within buckets so
    * sort-merge joins skip their sort. */
  def writeVersionBucketed(
      model: String,
      df: DataFrame,
      bucketCols: Seq[String],
      numBuckets: Int,
      sortCols: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty && numBuckets > 0, "bucket spec required")
    commit(model, Map.empty) { v =>
      val w = parquetWriter(df, SaveMode.Overwrite, partitionBy).format("parquet")
        .option("path", versionDir(model, v).toString)
        .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
        .saveAsTable(catalogName(model, v))
      catalogTableCache(catalogName(model, v)) = true
    }
  }

  /** Range-clustered version write: rows are range-partitioned on
    * `rangeCols` into `numFiles` files and sorted within each, so every
    * file covers a DISJOINT range of the clustering key. Parquet
    * min/max column statistics then turn a selective range predicate
    * into near-total row-group skipping at scan time — the lakehouse
    * CLUSTER BY layout. Complementary to [[writeVersionBucketed]]: hash
    * bucketing makes equi-JOINS shuffle-free; range clustering makes
    * range SCANS (date slices, id ranges, time travel) skip the data
    * they don't touch — at 100 TB the difference between reading one
    * day and reading a month. The write costs one range exchange
    * (sampled bounds) + in-partition sorts. */
  def writeVersionRangeClustered(
      model: String,
      df: DataFrame,
      rangeCols: Seq[String],
      numFiles: Int = 0,
      targetFileBytes: Long = Warehouse.DefaultTargetFileBytes): Unit = {
    require(rangeCols.nonEmpty && numFiles >= 0, "range spec required")
    val cols = rangeCols.map(org.apache.spark.sql.functions.col)
    Warehouse.withResolvedNumFiles(df, numFiles, targetFileBytes) { files =>
      writeVersion(model,
        df.repartitionByRange(files, cols: _*).sortWithinPartitions(cols: _*))
    }
  }

  /** Z-order-clustered version write (Delta/Iceberg `OPTIMIZE ZORDER
    * BY` re-expressed; [[graft.ops.ZOrder]]): rows are range-
    * partitioned and sorted by the Morton value of (colA, colB), so
    * parquet per-file min/max stats are tight on BOTH columns at once
    * and a 2-D selective filter prunes to the files whose z-range
    * intersects the query box — where a single-column sort keeps the
    * second dimension smeared across every file. The z-value is
    * layout-only: it is dropped before writing, and results are
    * byte-identical to any other layout of the same rows. */
  def writeVersionZOrdered(
      model: String,
      df: DataFrame,
      colA: String, colB: String,
      numFiles: Int = 0,
      bits: Int = 16,
      targetFileBytes: Long = Warehouse.DefaultTargetFileBytes): Unit = {
    require(numFiles >= 0, "numFiles must be non-negative (0 = by bytes)")
    val z = org.apache.spark.sql.functions.col("__z")
    Warehouse.withResolvedNumFiles(df, numFiles, targetFileBytes) { files =>
      writeVersion(model, graft.ops.ZOrder.withZValue(df, colA, colB, bits)
        .repartitionByRange(files, z).sortWithinPartitions(z).drop("__z"))
    }
  }

  // Catalog table names are global to the Spark session; two Warehouse
  // instances in one session (scratch warehouses per test/bench run, or
  // two projects) writing the same model+version must not clobber each
  // other's entry — so the name carries a short warehouse-root tag.
  private val whTag =
    f"${scala.util.hashing.MurmurHash3.stringHash(Paths.get(root).toAbsolutePath.toString) & 0x7fffffff}%08x"

  private def catalogName(model: String, v: Long): String =
    s"graft_${whTag}_${model}_v$v"

  /** Partition-scoped rewrite: write only the changed partitions of a new
    * version and hard-link every other partition directory from the
    * previous version. The atomic pointer flip (and therefore snapshot
    * isolation) is unchanged, but a merge batch costs O(changed
    * partitions) data movement + O(partitions) metadata instead of a
    * full-table rewrite — the difference between a 1k-row batch touching
    * one date partition and rewriting 100 TB. Hard links stand in for the
    * manifest-level file reuse a table format (Iceberg/Delta) does on an
    * object store.
    *
    * @param changedRelPaths relative partition paths (`c1=v1/c2=v2`,
    *        full partition depth) that `df` rewrites; every other
    *        partition of the previous version is carried forward as-is —
    *        an untouched subtree links wholesale at the highest level
    *        that contains no changed partition.
    */
  def writeVersionScoped(
      model: String,
      df: DataFrame,
      partCols: Seq[String],
      changedRelPaths: Set[String]): Unit = {
    val prevV = currentVersion(model).getOrElse(
      throw new StateError(s"model '$model' has no current version"))
    commit(model, Map.empty) { v =>
      val dir = versionDir(model, v)
      parquetWriter(df, SaveMode.Overwrite, partCols).parquet(dir.toString)
      carryForward(versionDir(model, prevV), dir, "", changedRelPaths)
    }
  }

  /** Hard-link the previous version's partition directories into the new
    * one, except subtrees containing a changed partition (those recurse;
    * fully-changed leaves were rewritten by the scoped write). */
  private def carryForward(
      prev: Path, dst: Path, rel: String, changed: Set[String]): Unit =
    withStream(Files.list(prev))(_
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
      .foreach { p =>
        val childRel =
          if (rel.isEmpty) p.getFileName.toString
          else rel + "/" + p.getFileName.toString
        val target = dst.resolve(p.getFileName.toString)
        if (changed.contains(childRel)) () // rewritten (or deleted) leaf
        else if (changed.exists(_.startsWith(childRel + "/"))) {
          Files.createDirectories(target)
          carryForward(p, target, childRel, changed)
        } else if (!Files.exists(target)) linkTree(p, target)
      })

  /** Recursively hard-link `src` under `dst` (copy fallback for file
    * systems without link support — there every append and scoped merge
    * copies the carried files, O(table) instead of O(batch)). */
  private def linkTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    withStream(Files.list(src))(_.foreach { p =>
      val t = dst.resolve(p.getFileName.toString)
      if (Files.isDirectory(p)) linkTree(p, t)
      else try Files.createLink(t, p)
      catch { case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(p, t)
      }
    })
  }

  /** Append as a new version: the previous version's files are
    * hard-linked in and the batch is written beside them, in the previous
    * version's partition layout (a mixed flat/partitioned directory would
    * hide its root files from reads) — O(batch) data + one link per
    * existing file, or a copy of each where links are unsupported (see
    * [[linkTree]]). The previous version stays immutable, so an atomic
    * run can abandon the new one by restoring the pointer. `incremental`
    * entries join the model's state with the pointer (see [[commit]]). */
  def append(model: String, df: DataFrame,
      incremental: Map[String, String] = Map.empty): Unit = {
    val prev = versionDir(model, currentVersion(model).getOrElse(
      throw new StateError(s"cannot append to missing model '$model'")))
    val layout = partitionColumns(prev)
    commit(model, incremental) { v =>
      val dir = versionDir(model, v)
      linkTree(prev, dir)
      parquetWriter(df, SaveMode.Append, layout).parquet(dir.toString)
    }
  }

  /** (Re)register the model's relation as a temp view over its current
    * version. */
  def refreshView(model: String): Unit =
    read(model).createOrReplaceTempView(relation(model))

  /** Rewrite the current version into a new one with `targetFileCount`
    * output files — the compaction pass that keeps append-heavy models
    * (incremental time/append land one file per batch) from degrading
    * into a small-file swamp. Optional sort columns give the rewrite
    * clustering (better column locality + min/max pruning downstream).
    * The version's `c=v` partition directories are kept, so
    * partition-scoped merges still find every partition afterwards.
    */
  def compact(
      model: String,
      targetFileCount: Int = 0,
      sortBy: Seq[String] = Nil): Unit = {
    val df0 = read(model)
    val parts = if (targetFileCount > 0) targetFileCount
      else math.max(1, spark.sparkContext.defaultParallelism / 4)
    val df = if (sortBy.nonEmpty)
      df0.repartition(parts).sortWithinPartitions(sortBy.map(
        org.apache.spark.sql.functions.col): _*)
    else df0.coalesce(parts)
    writeVersion(model, df, partitionColumns(model))
  }

  /** Partition columns of the model's current version (Nil when flat or
    * missing). */
  private[model] def partitionColumns(model: String): Seq[String] =
    currentPath(model).toSeq.flatMap(p => partitionColumns(Paths.get(p)))

  /** Partition columns of a version directory: the chain of `c=v`
    * directory levels a partitioned write leaves. */
  private def partitionColumns(dir: Path): Seq[String] =
    withStream(Files.list(dir))(_.find { p =>
      Files.isDirectory(p) && p.getFileName.toString.contains("=")
    }).toSeq.flatMap { p =>
      val name = p.getFileName.toString
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(name.take(name.indexOf('='))) +: partitionColumns(p)
    }

  /** Drop version directories older than the newest `keep` (the pointer's
    * version is always retained). Returns the number of versions removed.
    * The production analogue of a retention-window vacuum. */
  def vacuum(model: String, keep: Int = 1): Int = {
    require(keep >= 1, "must keep at least the current version")
    val current = currentVersion(model).getOrElse(return 0)
    val modelDir = Paths.get(root, model)
    if (!Files.isDirectory(modelDir)) return 0
    val versions = withStream(Files.list(modelDir))(_
      .filter(p => p.getFileName.toString.matches("v\\d+"))
      .map(p => p.getFileName.toString.drop(1).toLong)
      .toSeq).sorted
    val toDrop = versions.filter(_ <= current).dropRight(keep)
    toDrop.foreach(dropVersion(model, _))
    toDrop.size
  }

  /** Delete one version: its external catalog entry (bucketed versions)
    * first, then its files. */
  private def dropVersion(model: String, v: Long): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${catalogName(model, v)}")
    catalogTableCache.remove(catalogName(model, v))
    withStream(Files.walk(versionDir(model, v)))(_.toSeq.reverse.foreach(Files.delete))
  }

  /** Register a logical (lazy) view — the `view` materialization. */
  def registerView(model: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(relation(model))
}

object Warehouse {

  /** Clustered-write file sizing target when `numFiles = 0` (auto):
    * Catalyst's estimated plan size divided by this, minimum one file.
    * 128 MB is the standard lakehouse compaction target (large enough
    * to amortize parquet footer/row-group overhead, small enough to
    * split scans). A FIXED file count cannot survive a data-volume
    * change — the 30× scale sweep measured a 9.5× write slope on 8
    * pinned files precisely because each file silently grew 30× — so
    * the byte target is the default and an explicit count is the
    * override for layout-sensitive tests. */
  val DefaultTargetFileBytes: Long = 128L * 1024 * 1024

  /** Explicit `numFiles` wins; 0 auto-sizes from the optimized plan's
    * size estimate (proportional to input bytes — exactness does not
    * matter, tracking data volume does).
    *
    * Frames without real statistics — anything downstream of
    * [[graft.Checkpoints.truncate]], whose leaf deliberately carries
    * the session's `defaultSizeInBytes` sentinel (Long.MaxValue by
    * default in Spark 4.x) — would divide the sentinel by the target
    * and hit the 2^20 cap: a million-file write. Detect the sentinel
    * (estimate at or above `defaultSizeInBytes`) and fall back to a
    * row-count × schema-width estimate instead. For a TRUNCATED frame
    * (every analyzed-plan leaf a LogicalRDD) that count is a cheap
    * block scan. Any OTHER saturated-stats frame — e.g. a deep join
    * plan whose compounded BigInt stats overflow the sentinel — would
    * execute its full plan once for the count and again for the write,
    * so [[Warehouse.withResolvedNumFiles]] persists it first and the
    * write reuses the materialization. */
  private[model] def resolveNumFiles(
      df: DataFrame, numFiles: Int, targetFileBytes: Long): Int = {
    if (numFiles > 0) numFiles
    else {
      require(targetFileBytes > 0, "targetFileBytes must be positive")
      val conf = df.sparkSession.sessionState.conf
      val stats = df.queryExecution.optimizedPlan.stats
      val est: BigInt =
        if (stats.sizeInBytes < conf.defaultSizeInBytes) stats.sizeInBytes
        else {
          // In-memory default widths undercount strings/binaries; the
          // 2x headroom biases toward one extra file rather than one
          // oversized file. Exactness still does not matter.
          val rowWidth =
            math.max(8L, df.schema.map(_.dataType.defaultSize.toLong).sum) * 2
          BigInt(df.count()) * rowWidth
        }
      (est / targetFileBytes).min(BigInt(1) << 20).toInt + 1
    }
  }

  /** Whether [[resolveNumFiles]] on this frame would pay a count that
    * RE-EXECUTES the plan (saturated stats on a non-materialized
    * frame) rather than scanning already-materialized blocks. */
  private[model] def countWouldReExecute(df: DataFrame, numFiles: Int): Boolean =
    numFiles == 0 && {
      val conf = df.sparkSession.sessionState.conf
      df.queryExecution.optimizedPlan.stats.sizeInBytes >=
        conf.defaultSizeInBytes &&
        !org.apache.spark.sql.graftext.Bridge.allLeavesMaterialized(df)
    }

  /** Run `body` with the resolved file count, persisting `df` across
    * sizing + write exactly when the sizing count would otherwise
    * re-execute the plan (the write then reads the cache instead of
    * recomputing), and dropping the cache afterwards. The common cases
    * — explicit numFiles, honest stats, truncated frames — take the
    * plain path with no persistence. */
  private[model] def withResolvedNumFiles[A](
      df: DataFrame, numFiles: Int, targetFileBytes: Long)(
      body: Int => A): A = {
    if (!countWouldReExecute(df, numFiles))
      body(resolveNumFiles(df, numFiles, targetFileBytes))
    else if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) {
      // The caller already persisted this frame: its sizing count reads
      // the caller's cache, and the cache lifecycle stays the CALLER's —
      // unpersisting here would silently degrade their subsequent reads.
      body(resolveNumFiles(df, numFiles, targetFileBytes))
    } else {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try body(resolveNumFiles(df, numFiles, targetFileBytes))
      finally df.unpersist(blocking = false)
    }
  }
}
