package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Materialization strategies — the Spark re-expression of the
  * reference's strategy classes (src/framework/materialization.py:89-760)
  * and its Polars CDC retirement engine (src/framework/cdc_polars.py).
  *
  * Everything is a declarative DataFrame plan ending in one distributed
  * write. Where the reference retires SCD2 rows with batched
  * `UPDATE ... WHERE key IN (...)` loops, 1000 keys at a time
  * (cdc_polars.py:356-379), we do a single join against the (broadcast
  * when small) change-key set — one shuffle-free pass per batch
  * regardless of batch size.
  */
final class Materializer(wh: Warehouse) {

  import Materializer._

  /** Dispatch on the model's materialization type. `df` is the rendered
    * model query's result; `batchTs` stamps CDC/SCD2 rows (injectable for
    * deterministic tests; a scheduler would pass wall-clock time).
    *
    * `fullRefresh` forces incremental/CDC models through their
    * initial-load path — a fresh versioned write of the (full-history)
    * input, atomically replacing the current version — the recovery path
    * for a corrupted table or state file (reference plan.py:118-154
    * full_refresh). Watermarks re-derive from the fresh data.
    */
  def materialize(
      cfg: ModelConfig,
      df: DataFrame,
      batchTs: String = "1970-01-01 00:00:00",
      fullRefresh: Boolean = false): MaterializeResult = {
    cfg.validate()
    cfg.materialized match {
      case "view" =>
        wh.registerView(cfg.name, df); MaterializeResult(cfg.name, "view")
      case "table" =>
        bucketSpec(cfg) match {
          case Some((bucketCols, n)) =>
            // `-- config: bucket_by=c1;c2, buckets=N` → CLUSTERED BY
            // catalog table; equi-joins between co-bucketed models on the
            // bucket keys plan without a shuffle.
            wh.writeVersionBucketed(cfg.name, df, bucketCols, n, sortCols(cfg),
              partitionCols(cfg))
            MaterializeResult(cfg.name, "table", status = s"bucketed:$n")
          case None =>
            // `-- config: sort_by=c1;c2` clusters files for min/max pruning.
            val sorted = sortCols(cfg) match {
              case Nil => df
              case cols => df.sortWithinPartitions(cols.map(col): _*)
            }
            wh.writeVersion(cfg.name, sorted, partitionCols(cfg))
            MaterializeResult(cfg.name, "table")
        }
      case "temp_table" =>
        // Session-scoped eager table: cache + force, like CREATE TEMP TABLE.
        val cached = df.cache()
        cached.count()
        wh.registerView(cfg.name, cached)
        MaterializeResult(cfg.name, "temp_table")
      case "incremental" => incremental(cfg, df, fullRefresh)
      case "cdc" => cdcSnapshot(cfg, df, fullRefresh)
      case "cdc_scd2" => cdcScd2(cfg, df, batchTs, fullRefresh)
      case other =>
        throw new ConfigError(s"Unknown materialization: $other",
          Map("model" -> cfg.name))
    }
  }

  // ------------------------------------------------------------- incremental
  private def incremental(
      cfg: ModelConfig, df: DataFrame, fullRefresh: Boolean): MaterializeResult =
    cfg.incrementalStrategy.get match {
      case "time" => timeIncremental(cfg, df, fullRefresh)
      case "unique_key" => mergeIncremental(cfg, df, fullRefresh)
      case "append" => appendIncremental(cfg, df, fullRefresh)
      case other =>
        throw new ConfigError(s"Unknown incremental strategy: $other",
          Map("model" -> cfg.name))
    }

  private def isInitialLoad(cfg: ModelConfig, fullRefresh: Boolean): Boolean =
    fullRefresh || !wh.exists(cfg.name)

  /** First load (or forced full refresh) of an incremental/CDC model: a
    * fresh version of `df` in the model's partition layout. Returns the
    * status. */
  private def initialLoad(cfg: ModelConfig, df: DataFrame, fullRefresh: Boolean,
      incremental: Map[String, String] = Map.empty): String = {
    wh.writeVersion(cfg.name, df, partitionCols(cfg), incremental)
    if (fullRefresh) "full_refresh" else "initial_load"
  }

  /** Time watermark strategy (materialization.py:203-310): first run
    * loads everything; later runs append only rows with
    * time_column > watermark. The watermark advances to max(time_column)
    * actually ingested (exact, unlike the reference's wall-clock stamp —
    * no rows can fall between watermark and now). The batch max is taken
    * before the write: a NULL max means an empty batch, which appends
    * nothing and leaves version and watermark untouched. The watermark
    * rides the version commit, so a crash cannot leave new rows current
    * under the old watermark. */
  private def timeIncremental(
      cfg: ModelConfig, df: DataFrame, fullRefresh: Boolean): MaterializeResult = {
    val tc = cfg.timeColumn.get
    val initial = isInitialLoad(cfg, fullRefresh)
    val batch = if (initial) df else {
      val wm = wh.state.watermark(cfg.name, WatermarkKey)
        .getOrElse(wh.read(cfg.name).agg(max(col(tc)).cast("string")).head().getString(0))
      df.filter(col(tc) > lit(wm).cast(df.schema(tc).dataType))
    }
    // O(batch), not O(table)
    val mx = batch.agg(max(col(tc)).cast("string")).head().getString(0)
    val watermark = Option(mx).map(WatermarkKey -> _).toMap
    val status =
      if (initial) initialLoad(cfg, batch, fullRefresh, watermark)
      else {
        if (mx != null) wh.append(cfg.name, batch, watermark)
        "appended"
      }
    MaterializeResult(cfg.name, "incremental_time", status = status)
  }

  /** Upsert-by-key strategy (materialization.py:312-400's MERGE):
    * existing rows whose key appears in the batch are replaced. One
    * anti-join + union + versioned write ([[merge]]); the key set is
    * broadcast when small enough for Catalyst's threshold. */
  private def mergeIncremental(
      cfg: ModelConfig, df: DataFrame, fullRefresh: Boolean): MaterializeResult = {
    val status =
      if (isInitialLoad(cfg, fullRefresh)) initialLoad(cfg, df, fullRefresh)
      else {
        val keys = df.select(col(cfg.uniqueKey.get)).distinct()
        merge(cfg, live = identity, inserted = df, keys = keys,
          rewrite = _.join(keys, Seq(cfg.uniqueKey.get), "left_anti"))
      }
    MaterializeResult(cfg.name, "incremental_unique_key", status = status)
  }

  /** The keyed merge behind unique_key, cdc and cdc_scd2: the new version
    * is `rewrite(existing) ∪ inserted`.
    *
    * With `partition_by` set, the rewrite is PARTITION-SCOPED: only
    * partitions holding `live` rows whose key is in `keys`, or receiving
    * `inserted` rows, are read, rewritten and unioned; every other
    * partition is carried into the new version by hard link
    * ([[Warehouse.writeVersionScoped]]). A small batch against a 100 TB
    * table then costs O(touched partitions), and the partition filter
    * prunes the `existing` scan to those partitions too. A current
    * version in another layout (written flat, or before `partition_by`
    * changed) has no partition directories to carry, so it takes the full
    * rewrite, into the `partition_by` layout. Returns the status. */
  private def merge(
      cfg: ModelConfig,
      live: DataFrame => DataFrame,
      inserted: DataFrame,
      keys: DataFrame,
      rewrite: DataFrame => DataFrame): String = {
    val existing = wh.read(cfg.name)
    val pcs = partitionCols(cfg)
    if (pcs.isEmpty || wh.partitionColumns(cfg.name) != pcs) {
      wh.writeVersion(cfg.name, rewrite(existing).unionByName(inserted), pcs)
      "merged"
    } else {
      val affected =
        affectedPartitions(live(existing), inserted, keys, cfg.uniqueKey.get, pcs)
      val touched = existing.filter(partFilter(pcs, affected.map(_._1)))
      wh.writeVersionScoped(cfg.name, rewrite(touched).unionByName(inserted),
        pcs, affected.map(_._2).toSet)
      s"merged_scoped:${affected.size}"
    }
  }

  /** Partition tuples touched by a merge batch: partitions the batch
    * writes into ∪ partitions of existing rows whose key is in the batch
    * (a key may move partitions — its old partition must be rewritten to
    * drop the stale row). Returns (typed values, relative partition path
    * `c1=v1/c2=v2`); cardinality is bounded by the batch's distinct
    * partitions + matched keys, so the collect is O(touched partitions),
    * never O(table). */
  private def affectedPartitions(
      existing: DataFrame, batchRows: DataFrame, keys: DataFrame,
      key: String, pcs: Seq[String]): Seq[(Seq[Any], String)] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val sel = pcs.zipWithIndex.map { case (c, i) => col(c).as(s"__p$i") } ++
      pcs.zipWithIndex.map { case (c, i) => col(c).cast("string").as(s"__s$i") }
    batchRows.select(sel: _*)
      .unionByName(existing.join(keys, Seq(key), "left_semi").select(sel: _*))
      .distinct()
      .collect()
      .map { r =>
        val raw = pcs.indices.map(r.get)
        val rel = pcs.indices.map { i =>
          val v = if (r.isNullAt(pcs.length + i)) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
            else ExternalCatalogUtils.escapePathName(r.getString(pcs.length + i))
          s"${ExternalCatalogUtils.escapePathName(pcs(i))}=$v"
        }.mkString("/")
        (raw, rel)
      }.toSeq
  }

  /** Prunable membership filter over the partition columns: OR of
    * per-tuple equality conjunctions (NULL partitions matched with
    * isNull — `===` can't). */
  private def partFilter(pcs: Seq[String], tuples: Seq[Seq[Any]]): Column =
    tuples.map { vs =>
      pcs.zip(vs).map { case (c, v) =>
        if (v == null) col(c).isNull else col(c) === lit(v)
      }.reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))

  private def appendIncremental(
      cfg: ModelConfig, df: DataFrame, fullRefresh: Boolean): MaterializeResult = {
    val status =
      if (isInitialLoad(cfg, fullRefresh)) initialLoad(cfg, df, fullRefresh)
      else { wh.append(cfg.name, df); "appended" }
    MaterializeResult(cfg.name, "incremental_append", status = status)
  }

  // -------------------------------------------------------------------- CDC
  /** Current-snapshot CDC (materialization.py:500-600's MERGE): the batch
    * carries a change-type column with I/U/D (missing → 'U'). Matched
    * I/U upsert, D deletes: every touched key's existing row goes, the
    * batch's deduplicated upserts come in. */
  private def cdcSnapshot(
      cfg: ModelConfig, batch: DataFrame, fullRefresh: Boolean): MaterializeResult = {
    val key = cfg.uniqueKey.get
    val opCol = cfg.changeTypeColumn
    val withOp = normalizeOp(batch, opCol)
    val upserts = dedupeByKey(withOp.filter(col(opCol) =!= "D").drop(opCol), key)
    val status =
      if (isInitialLoad(cfg, fullRefresh)) initialLoad(cfg, upserts, fullRefresh)
      else {
        val touched = withOp.select(col(key)).distinct()
        merge(cfg, live = identity, inserted = upserts, keys = touched,
          rewrite = _.join(touched, Seq(key), "left_anti"))
      }
    MaterializeResult(cfg.name, "cdc", status = status)
  }

  /** SCD2 retirement CDC (cdc_polars.py:205-445): history table where the
    * current row per key has obsolete_date NULL.
    *   INSERT → new row, obsolete_date NULL
    *   UPDATE → retire current row (obsolete_date = batchTs), insert new
    *   DELETE/EXPIRED → retire current row
    * One pass: join current rows against the changed-key set. With
    * `partition_by`, only partitions holding CURRENT rows of changed keys
    * (plus insert targets) are rewritten; obsolete history elsewhere
    * links forward.
    */
  private def cdcScd2(
      cfg: ModelConfig,
      batch: DataFrame,
      batchTs: String,
      fullRefresh: Boolean): MaterializeResult = {
    val key = cfg.uniqueKey.get
    val opCol = cfg.changeTypeColumn
    val ts = lit(batchTs).cast("timestamp")
    val withOp = normalizeOp(batch, opCol)
    def stamped(rows: DataFrame): DataFrame = rows.drop(opCol)
      .withColumn(CdcTimestampCol, ts)
      .withColumn(ObsoleteDateCol, lit(null).cast("timestamp"))
    val status =
      if (isInitialLoad(cfg, fullRefresh))
        initialLoad(cfg, stamped(withOp.filter(col(opCol) =!= "D")), fullRefresh)
      else {
        val changedKeys = withOp
          .filter(col(opCol).isin("U", "D", "E"))
          .select(col(key)).distinct()
        def retire(hist: DataFrame): DataFrame = hist
          .join(changedKeys.withColumn("__changed", lit(1)), Seq(key), "left")
          .withColumn(ObsoleteDateCol,
            when(col(ObsoleteDateCol).isNull && col("__changed").isNotNull, ts)
              .otherwise(col(ObsoleteDateCol)))
          .drop("__changed")
        merge(cfg, live = _.filter(col(ObsoleteDateCol).isNull),
          inserted = stamped(withOp.filter(col(opCol).isin("I", "U"))),
          keys = changedKeys, rewrite = retire)
      }
    MaterializeResult(cfg.name, "cdc_scd2", status = status)
  }

  /** A `;`-separated column list from a `-- config:` key. */
  private def colList(cfg: ModelConfig, key: String): Seq[String] =
    cfg.meta.get(key).toSeq.flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)

  /** `-- config: partition_by=col1;col2` → directory-partitioned writes
    * (prunable scans for downstream date/range filters at scale). */
  private def partitionCols(cfg: ModelConfig): Seq[String] = colList(cfg, "partition_by")

  private def sortCols(cfg: ModelConfig): Seq[String] = colList(cfg, "sort_by")

  /** `-- config: bucket_by=c1;c2, buckets=N` → CLUSTERED BY spec. */
  private def bucketSpec(cfg: ModelConfig): Option[(Seq[String], Int)] =
    Some(colList(cfg, "bucket_by")).filter(_.nonEmpty)
      .map(_ -> cfg.meta.get("buckets").map(_.toInt).getOrElse(8))

  private def normalizeOp(df: DataFrame, opCol: String): DataFrame =
    if (df.columns.contains(opCol))
      df.withColumn(opCol, coalesce(col(opCol), lit("U"))) // cdc default, macros.py:44
    else df.withColumn(opCol, lit("U"))

  /** One row per key within a batch (the reference dedupes CDC chunks by
    * unique key, cdc_polars.py:425-445). The survivor is the max over the
    * remaining columns — deterministic under any partitioning/shuffle
    * order, unlike "keep last seen". */
  private def dedupeByKey(df: DataFrame, key: String): DataFrame = {
    val others = df.columns.filterNot(_ == key).map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(struct(others: _*).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}

object Materializer {
  val WatermarkKey = "last_processed_time"
  val ObsoleteDateCol = "obsolete_date" // cdc_polars.py:64
  val CdcTimestampCol = "__cdc_timestamp"
}

final case class MaterializeResult(
    modelName: String,
    materialization: String,
    status: String = "success")
