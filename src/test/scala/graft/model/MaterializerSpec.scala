package graft.model

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Spark-backed tests for materialization strategies and lineage. */
class MaterializerSpec extends SparkSpec {

  private def freshWh(): Warehouse = {
    val dir = Files.createTempDirectory("graft_wh_").toString
    new Warehouse(spark, dir, StateStore(dir + "/state"))
  }

  import spark.implicits._

  test("view materialization is lazy; table writes versions and flips pointer") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    mat.materialize(ModelConfig("mv", materialized = "view"), df)
    assert(spark.table(wh.relation("mv")).count() == 2)

    mat.materialize(ModelConfig("mt", materialized = "table"), df)
    assert(wh.currentVersion("mt").contains(1L))
    mat.materialize(ModelConfig("mt", materialized = "table"),
      Seq((3, "c")).toDF("id", "v"))
    assert(wh.currentVersion("mt").contains(2L))
    assert(wh.read("mt").count() == 1) // replaced, old version retained on disk
  }

  test("unique_key merge replaces batch keys and keeps the rest") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val cfg = ModelConfig("mk", materialized = "incremental",
      incrementalStrategy = Some("unique_key"), uniqueKey = Some("id"))
    mat.materialize(cfg, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    mat.materialize(cfg, Seq((2, "B"), (3, "C")).toDF("id", "v"))
    val got = wh.read("mk").as[(Int, String)].collect().toSet
    assert(got == Set((1, "a"), (2, "B"), (3, "C")))
  }

  test("partitioned unique_key merge rewrites only affected partitions") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val cfg = ModelConfig("pk", materialized = "incremental",
      incrementalStrategy = Some("unique_key"), uniqueKey = Some("id"),
      meta = Map("partition_by" -> "day"))
    mat.materialize(cfg, Seq(
      (1, "a", "2024-01-01"), (2, "b", "2024-01-01"),
      (3, "c", "2024-01-02"), (4, "d", "2024-01-03")).toDF("id", "v", "day"))
    val v1 = java.nio.file.Paths.get(wh.currentPath("pk").get)
    def parquetFiles(dir: java.nio.file.Path) = {
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    }
    val untouchedBefore = parquetFiles(v1.resolve("day=2024-01-02"))

    // batch replaces key 1 (partition 01) and inserts key 5 into a new day
    val r = mat.materialize(cfg,
      Seq((1, "A", "2024-01-01"), (5, "e", "2024-01-04")).toDF("id", "v", "day"))
    assert(r.status == "merged_scoped:2")

    val got = wh.read("pk").select(col("id"), col("v"), col("day"))
      .as[(Int, String, String)].collect().toSet
    assert(got == Set((1, "A", "2024-01-01"), (2, "b", "2024-01-01"),
      (3, "c", "2024-01-02"), (4, "d", "2024-01-03"), (5, "e", "2024-01-04")))

    // untouched partitions carry the previous version's physical files
    // forward (hard links — same inode, zero data movement)
    val v2 = java.nio.file.Paths.get(wh.currentPath("pk").get)
    assert(v2 != v1)
    val untouchedAfter = parquetFiles(v2.resolve("day=2024-01-02"))
    assert(untouchedAfter.map(_.getFileName.toString).sorted ==
      untouchedBefore.map(_.getFileName.toString).sorted)
    untouchedBefore.zip(untouchedAfter).foreach { case (a, b) =>
      assert(Files.isSameFile(a, b), s"$b is not a hard link of $a")
    }
    assert(Files.exists(v2.resolve("day=2024-01-03")))
    // touched partition was rewritten, not linked
    parquetFiles(v2.resolve("day=2024-01-01")).foreach { f =>
      untouchedBefore.foreach(old => assert(!Files.isSameFile(old, f)))
    }
  }

  test("multi-column partitioned merge links untouched subtrees wholesale") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val cfg = ModelConfig("mp", materialized = "incremental",
      incrementalStrategy = Some("unique_key"), uniqueKey = Some("id"),
      meta = Map("partition_by" -> "day;region"))
    mat.materialize(cfg, Seq(
      (1, "a", "2024-01-01", "eu"), (2, "b", "2024-01-01", "us"),
      (3, "c", "2024-01-02", "eu"), (4, "d", "2024-01-02", "us"))
      .toDF("id", "v", "day", "region"))
    val v1 = java.nio.file.Paths.get(wh.currentPath("mp").get)

    // touch only (2024-01-01, eu): sibling region=us must link, and the
    // whole day=2024-01-02 subtree must link at the day level
    val r = mat.materialize(cfg,
      Seq((1, "A", "2024-01-01", "eu")).toDF("id", "v", "day", "region"))
    assert(r.status == "merged_scoped:1")
    val v2 = java.nio.file.Paths.get(wh.currentPath("mp").get)

    import scala.jdk.CollectionConverters._
    def files(p: java.nio.file.Path) = Files.walk(p).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    // sibling partition under the touched day links forward
    files(v1.resolve("day=2024-01-01/region=us"))
      .zip(files(v2.resolve("day=2024-01-01/region=us")))
      .foreach { case (a, b) => assert(Files.isSameFile(a, b)) }
    // untouched day links forward (whole subtree)
    files(v1.resolve("day=2024-01-02"))
      .zip(files(v2.resolve("day=2024-01-02")))
      .foreach { case (a, b) => assert(Files.isSameFile(a, b)) }
    // content correct
    val got = wh.read("mp").select(col("id"), col("v")).as[(Int, String)]
      .collect().toSet
    assert(got == Set((1, "A"), (2, "b"), (3, "c"), (4, "d")))
  }

  test("partitioned scd2 merge links partitions with no changed current rows") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val cfg = ModelConfig("ps", materialized = "cdc_scd2",
      uniqueKey = Some("id"), meta = Map("partition_by" -> "region"))
    val ops = Seq(
      (1, "a", "eu", "I"), (2, "b", "eu", "I"), (3, "c", "us", "I"))
      .toDF("id", "v", "region", "__cdc_operation")
    mat.materialize(cfg, ops, "2024-01-01 00:00:00")
    val v1 = java.nio.file.Paths.get(wh.currentPath("ps").get)

    // update id=1 (eu): us partition must carry forward via hard link
    val r = mat.materialize(cfg,
      Seq((1, "a2", "eu", "U")).toDF("id", "v", "region", "__cdc_operation"),
      "2024-02-01 00:00:00")
    assert(r.status == "merged_scoped:1")
    val v2 = java.nio.file.Paths.get(wh.currentPath("ps").get)
    import scala.jdk.CollectionConverters._
    val usBefore = Files.walk(v1.resolve("region=us")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    val usAfter = Files.walk(v2.resolve("region=us")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(usBefore.nonEmpty && usAfter.size == usBefore.size)
    usBefore.zip(usAfter).foreach { case (a, b) => assert(Files.isSameFile(a, b)) }

    // history semantics intact: id=1 has a retired row + a current row
    val hist = wh.read("ps").filter(col("id") === 1)
      .select(col("v"), col(Materializer.ObsoleteDateCol).isNull.as("current"))
      .as[(String, Boolean)].collect().toSet
    assert(hist == Set(("a", false), ("a2", true)))
  }

  test("partition-scoped merge is equivalent to full rewrite on random batches") {
    // Differential property: the same randomized upsert/CDC batch stream
    // applied through the partition-scoped path (partition_by set) and
    // the full-rewrite path must converge to identical tables.
    val rnd = new scala.util.Random(42)
    val wh = freshWh(); val mat = new Materializer(wh)
    val scoped = ModelConfig("m_scoped", materialized = "incremental",
      incrementalStrategy = Some("unique_key"), uniqueKey = Some("id"),
      meta = Map("partition_by" -> "part"))
    val plain = ModelConfig("m_plain", materialized = "incremental",
      incrementalStrategy = Some("unique_key"), uniqueKey = Some("id"))

    def randomBatch(n: Int) = (1 to n).map { _ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(1000),
        s"p${rnd.nextInt(5)}") // keys collide and MOVE partitions
    }.distinct.groupBy(_._1).map(_._2.head).toSeq // unique keys per batch
      .toDF("id", "v", "part")

    for (_ <- 1 to 4) {
      val b = randomBatch(15).cache()
      mat.materialize(scoped, b)
      mat.materialize(plain, b)
    }
    def content(m: String) = wh.read(m).select(col("id"), col("v"), col("part"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(content("m_scoped") == content("m_plain"))
    assert(content("m_scoped").nonEmpty)
  }

  test("co-bucketed model tables join without a shuffle") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val cfgA = ModelConfig("facts_a", materialized = "table",
      meta = Map("bucket_by" -> "k", "buckets" -> "4", "sort_by" -> "k"))
    val cfgB = ModelConfig("facts_b", materialized = "table",
      meta = Map("bucket_by" -> "k", "buckets" -> "4", "sort_by" -> "k"))
    val a = (1 to 1000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong % 89, i.toLong * 2)).toDF("k", "vb")
    assert(mat.materialize(cfgA, a).status == "bucketed:4")
    assert(mat.materialize(cfgB, b).status == "bucketed:4")

    // force a non-broadcast join so the exchange (or its absence) shows
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val joined = wh.read("facts_a").join(wh.read("facts_b"), Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      // and it is still correct
      val expected = a.join(b, Seq("k")).count()
      assert(joined.count() == expected)
    }
  }

  test("native as-of join over co-bucketed tables plans with zero shuffles") {
    val wh = freshWh(); val mat = new Materializer(wh)
    def cfg(n: String) = ModelConfig(n, materialized = "table",
      meta = Map("bucket_by" -> "k", "buckets" -> "4",
        "sort_by" -> "k;ts"))
    val trades = (1 to 500).map(i =>
      (i.toLong % 50, i.toLong, i.toLong * 10)).toDF("k", "ts", "id")
    val quotes = (1 to 500).map(i =>
      (i.toLong % 50, i.toLong - 1, i.toLong * 10 + 1)).toDF("k", "ts", "id")
    mat.materialize(cfg("trades"), trades)
    mat.materialize(cfg("quotes"), quotes)

    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val joined = graft.ops.TemporalJoins.asOfJoinNative(
        wh.read("trades"), wh.read("quotes"), "k", "ts", "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin"), plan)
      // bucketed scans already satisfy the key clustering: no exchange
      assert(!plan.contains("Exchange"), s"expected shuffle-free plan:\n$plan")
      assert(joined.count() == 500)
      // spot-check semantics: latest quote at or before each trade ts
      // trade (k=1, ts=51); quotes for k=1 have ts 0,50,100,... -> the
      // latest at-or-before is ts=50 (source row i=51, id=511)
      val row = joined.filter(col("k") === 1 && col("ts") === 51).head()
      assert(row.getAs[Long]("matched_id") == 511)
    }
  }

  private def withSQLConf[T](kvs: (String, String)*)(f: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("range-clustered write: per-file key ranges are disjoint, data intact") {
    val wh = freshWh()
    // ids arrive shuffled; range clustering must still produce files
    // whose [min,max] id intervals do not overlap
    val df = new scala.util.Random(7).shuffle((0 until 1000).toList)
      .map(i => (i.toLong, s"p$i")).toDF("id", "payload")
    wh.writeVersionRangeClustered("rc", df, Seq("id"), numFiles = 8)
    assert(wh.read("rc").count() == 1000)
    assert(wh.read("rc").select("id").distinct().count() == 1000)
    val files = new java.io.File(wh.currentPath("rc").get)
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(files.length > 1, "range clustering should produce several files")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min(col("id")), max(col("id"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi < lo, s"file ranges overlap: $hi >= $lo (ranges: ${ranges.toSeq})")
      case _ =>
    }
  }

  test("auto file sizing survives frames without real stats (truncated)") {
    import spark.implicits._
    // r15: truncated frames now carry MEASURED statistics by default
    // (rows + summed UnsafeRow bytes), so file sizing reads the real
    // estimate directly.
    val df = graft.Checkpoints.truncate(
      (0 until 1000).map(i => (i.toLong, s"p$i")).toDF("id", "payload"))
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes <
      spark.sessionState.conf.defaultSizeInBytes,
      "truncated frame must carry measured (non-sentinel) stats")
    val n = Warehouse.resolveNumFiles(df, numFiles = 0,
      targetFileBytes = Warehouse.DefaultTargetFileBytes)
    assert(n >= 1 && n <= 4, s"tiny truncated frame sized to $n files")
    // A materialized-RDD frame WITHOUT measured stats (createDataFrame
    // over an RDD[Row] advertises the defaultSizeInBytes sentinel) must
    // STILL not divide the sentinel by the byte target (that hits the
    // 2^20 cap -> a million-file write) but fall back to rows x schema
    // width.
    val sentinel = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until 1000).map(i => org.apache.spark.sql.Row(i.toLong, s"p$i"))),
      df.schema)
    assert(sentinel.queryExecution.optimizedPlan.stats.sizeInBytes >=
      spark.sessionState.conf.defaultSizeInBytes,
      "precondition: RDD[Row] frame must carry the stats sentinel")
    val l = Warehouse.resolveNumFiles(sentinel, numFiles = 0,
      targetFileBytes = Warehouse.DefaultTargetFileBytes)
    assert(l >= 1 && l <= 4, s"tiny sentinel-stats frame sized to $l files")
    // and a frame WITH real stats still sizes from the plan estimate
    val plain = (0 until 1000).map(i => (i.toLong, s"p$i")).toDF("id", "p")
    val m = Warehouse.resolveNumFiles(plain, 0, Warehouse.DefaultTargetFileBytes)
    assert(m >= 1 && m <= 4, s"tiny plain frame sized to $m files")
  }

  test("withResolvedNumFiles leaves a caller-persisted frame cached") {
    import org.apache.spark.storage.StorageLevel
    // An ExternalRDD-backed frame (rdd.toDF, NOT createDataFrame whose
    // LogicalRDD leaf counts as materialized): stats saturated + leaf
    // not materialized, so the sizing count would re-execute the plan —
    // the branch that persists across sizing + write.
    def extFrame() = spark.sparkContext.parallelize(0 until 100)
      .map(i => (i.toLong, s"p$i")).toDF("id", "payload")
    val own = extFrame()
    assert(Warehouse.countWouldReExecute(own, 0),
      "precondition: frame must take the persist-across-sizing branch")
    assert(Warehouse.withResolvedNumFiles(own, 0,
      Warehouse.DefaultTargetFileBytes)(identity) >= 1)
    assert(own.storageLevel == StorageLevel.NONE,
      "self-initiated cache must be dropped after the write")
    // but a CALLER-persisted frame keeps the caller's cache: the
    // finally-unpersist must not silently degrade their later reads
    val callers = extFrame()
    callers.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      assert(Warehouse.withResolvedNumFiles(callers, 0,
        Warehouse.DefaultTargetFileBytes)(identity) >= 1)
      assert(callers.storageLevel == StorageLevel.MEMORY_AND_DISK,
        "caller-owned cache must survive the sizing + write")
    } finally callers.unpersist(blocking = false)
  }

  test("time incremental skips rows at or before the watermark") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val cfg = ModelConfig("ti", materialized = "incremental",
      incrementalStrategy = Some("time"), timeColumn = Some("ts"))
    def ts(s: String) = to_timestamp(lit(s))
    val d1 = Seq("2024-01-01 00:00:00", "2024-01-02 00:00:00").toDF("raw")
      .select(to_timestamp(col("raw")).as("ts"), lit("old").as("v"))
    mat.materialize(cfg, d1)
    // second batch re-sends day 2 (boundary) plus day 3
    val d2 = Seq("2024-01-02 00:00:00", "2024-01-03 00:00:00").toDF("raw")
      .select(to_timestamp(col("raw")).as("ts"), lit("new").as("v"))
    mat.materialize(cfg, d2)
    val rows = wh.read("ti").select(col("ts").cast("string"), col("v"))
      .as[(String, String)].collect().toSet
    assert(rows == Set(
      ("2024-01-01 00:00:00", "old"), ("2024-01-02 00:00:00", "old"),
      ("2024-01-03 00:00:00", "new")))
  }

  test("cdc snapshot handles missing op column as upsert and E like D in scd2") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val cfg = ModelConfig("cs", materialized = "cdc", uniqueKey = Some("id"))
    mat.materialize(cfg, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    // batch without op column: plain upsert semantics
    mat.materialize(cfg, Seq((2, "B2"), (9, "N")).toDF("id", "v"))
    assert(wh.read("cs").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "B2"), (9, "N")))

    val cfg2 = ModelConfig("scd", materialized = "cdc_scd2", uniqueKey = Some("id"))
    mat.materialize(cfg2, Seq((1, "a"), (2, "b")).toDF("id", "v"), "2024-01-01 00:00:00")
    val batch = Seq((1, "a", "E")).toDF("id", "v", "__cdc_operation")
    mat.materialize(cfg2, batch, "2024-02-01 00:00:00")
    val hist = wh.read("scd")
    // key 1 retired by 'E' (expired), no new version; key 2 untouched
    assert(hist.filter(col("id") === 1 && col(Materializer.ObsoleteDateCol).isNotNull)
      .count() == 1)
    assert(hist.filter(col("id") === 1).count() == 1)
    assert(hist.filter(col("id") === 2 && col(Materializer.ObsoleteDateCol).isNull)
      .count() == 1)
  }

  test("empty batches are no-ops, not failures") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val cfg = ModelConfig("em", materialized = "incremental",
      incrementalStrategy = Some("unique_key"), uniqueKey = Some("id"))
    val d1 = Seq((1, "a")).toDF("id", "v")
    mat.materialize(cfg, d1)
    mat.materialize(cfg, d1.filter(col("id") > 100)) // empty merge batch
    assert(wh.read("em").count() == 1)

    val cfg2 = ModelConfig("ec", materialized = "cdc", uniqueKey = Some("id"))
    mat.materialize(cfg2, d1)
    mat.materialize(cfg2, d1.filter(col("id") > 100))
    assert(wh.read("ec").count() == 1)
  }

  test("vacuum drops old versions but keeps the current pointer") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val cfg = ModelConfig("vt", materialized = "table")
    (1 to 4).foreach(i => mat.materialize(cfg, Seq((i, "x")).toDF("id", "v")))
    assert(wh.currentVersion("vt").contains(4L))
    val dropped = wh.vacuum("vt", keep = 2)
    assert(dropped == 2)
    assert(wh.read("vt").head().getInt(0) == 4) // current still readable
    assert(wh.vacuum("vt", keep = 2) == 0)      // idempotent
  }

  test("compaction collapses per-batch files without changing data") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val cfg = ModelConfig("ap", materialized = "incremental",
      incrementalStrategy = Some("append"))
    (1 to 5).foreach { i =>
      mat.materialize(cfg, Seq((i, s"v$i")).toDF("id", "v").repartition(2))
    }
    def files(model: String) =
      new java.io.File(wh.currentPath(model).get).listFiles()
        .count(_.getName.endsWith(".parquet"))
    val before = files("ap")
    assert(before >= 5) // one-plus file per appended batch
    val dataBefore = wh.read("ap").as[(Int, String)].collect().toSet
    val versionBefore = wh.currentVersion("ap").get
    wh.compact("ap", targetFileCount = 1, sortBy = Seq("id"))
    assert(files("ap") == 1)
    assert(wh.read("ap").as[(Int, String)].collect().toSet == dataBefore)
    assert(wh.currentVersion("ap").contains(versionBefore + 1)) // compaction is a new version
  }

  private def dayRows(wh: Warehouse, model: String): Set[(Int, String, String)] =
    wh.read(model).select("id", "v", "day").as[(Int, String, String)].collect().toSet

  private def dayDirs(wh: Warehouse, model: String): Set[String] =
    new java.io.File(wh.currentPath(model).get).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet

  test("partitioned time incremental keeps every batch readable") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val cfg = ModelConfig("tp", materialized = "incremental",
      incrementalStrategy = Some("time"), timeColumn = Some("id"),
      meta = Map("partition_by" -> "day"))
    mat.materialize(cfg, Seq((1, "a", "d1"), (2, "b", "d2")).toDF("id", "v", "day"))
    val r = mat.materialize(cfg,
      Seq((2, "b", "d2"), (3, "c", "d2"), (4, "d", "d3")).toDF("id", "v", "day"))
    assert(r.status == "appended")
    assert(dayRows(wh, "tp") ==
      Set((1, "a", "d1"), (2, "b", "d2"), (3, "c", "d2"), (4, "d", "d3")))
    assert(dayDirs(wh, "tp") == Set("day=d1", "day=d2", "day=d3"))
  }

  test("partitioned append model writes and appends into day= directories") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val cfg = ModelConfig("apd", materialized = "incremental",
      incrementalStrategy = Some("append"), meta = Map("partition_by" -> "day"))
    mat.materialize(cfg, Seq((1, "a", "d1"), (2, "b", "d2")).toDF("id", "v", "day"))
    assert(dayDirs(wh, "apd") == Set("day=d1", "day=d2"))
    val v1 = wh.currentVersion("apd").get
    mat.materialize(cfg, Seq((3, "c", "d2"), (4, "d", "d3")).toDF("id", "v", "day"))
    assert(wh.currentVersion("apd").contains(v1 + 1)) // an append is a new version
    assert(dayRows(wh, "apd") ==
      Set((1, "a", "d1"), (2, "b", "d2"), (3, "c", "d2"), (4, "d", "d3")))
    // the previous version is untouched by the append
    val prev = java.nio.file.Paths.get(wh.currentPath("apd").get).resolveSibling(s"v$v1")
    assert(spark.read.parquet(prev.toString).count() == 2)
    // an empty batch is still a version, holding the same rows
    mat.materialize(cfg, Seq((9, "x", "d9")).toDF("id", "v", "day").filter(col("id") < 0))
    assert(wh.currentVersion("apd").contains(v1 + 2))
    assert(wh.read("apd").count() == 4)
  }

  test("compaction keeps partitions, so a later scoped merge keeps untouched ones") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val cfg = ModelConfig("cpk", materialized = "incremental",
      incrementalStrategy = Some("unique_key"), uniqueKey = Some("id"),
      meta = Map("partition_by" -> "day"))
    mat.materialize(cfg,
      Seq((1, "a", "d1"), (2, "b", "d2"), (3, "c", "d3")).toDF("id", "v", "day"))
    wh.compact("cpk", targetFileCount = 1)
    val r = mat.materialize(cfg, Seq((1, "A", "d1")).toDF("id", "v", "day"))
    assert(dayRows(wh, "cpk") == Set((1, "A", "d1"), (2, "b", "d2"), (3, "c", "d3")))
    assert(r.status == "merged_scoped:1")
    assert(dayDirs(wh, "cpk") == Set("day=d1", "day=d2", "day=d3"))
  }

  test("append onto a flat version keeps every row readable") {
    val wh = freshWh(); val mat = new Materializer(wh)
    wh.writeVersion("apf", Seq((1, "a", "d1"), (2, "b", "d2")).toDF("id", "v", "day"))
    val cfg = ModelConfig("apf", materialized = "incremental",
      incrementalStrategy = Some("append"), meta = Map("partition_by" -> "day"))
    val r = mat.materialize(cfg, Seq((3, "c", "d2"), (4, "d", "d3")).toDF("id", "v", "day"))
    assert(r.status == "appended")
    assert(dayRows(wh, "apf") ==
      Set((1, "a", "d1"), (2, "b", "d2"), (3, "c", "d2"), (4, "d", "d3")))
    wh.compact("apf", targetFileCount = 1)
    assert(wh.read("apf").count() == 4)
  }

  test("keyed merge onto a flat version rewrites it into partition_by") {
    val wh = freshWh(); val mat = new Materializer(wh)
    wh.writeVersion("mgf",
      Seq((1, "a", "d1"), (2, "b", "d2"), (3, "c", "d3")).toDF("id", "v", "day"))
    val cfg = ModelConfig("mgf", materialized = "incremental",
      incrementalStrategy = Some("unique_key"), uniqueKey = Some("id"),
      meta = Map("partition_by" -> "day"))
    val r = mat.materialize(cfg, Seq((1, "A", "d1")).toDF("id", "v", "day"))
    assert(r.status == "merged")
    assert(dayRows(wh, "mgf") == Set((1, "A", "d1"), (2, "b", "d2"), (3, "c", "d3")))
    assert(dayDirs(wh, "mgf") == Set("day=d1", "day=d2", "day=d3"))
    val r2 = mat.materialize(cfg, Seq((2, "B", "d2")).toDF("id", "v", "day"))
    assert(r2.status == "merged_scoped:1")
    assert(dayRows(wh, "mgf") == Set((1, "A", "d1"), (2, "B", "d2"), (3, "c", "d3")))
  }

  test("bucketed table with partition_by keeps its day= directories") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val cfg = ModelConfig("bpt", materialized = "table",
      meta = Map("partition_by" -> "day", "bucket_by" -> "id", "buckets" -> "2"))
    val r = mat.materialize(cfg,
      Seq((1, "a", "d1"), (2, "b", "d2"), (3, "c", "d2")).toDF("id", "v", "day"))
    assert(r.status == "bucketed:2")
    assert(dayDirs(wh, "bpt") == Set("day=d1", "day=d2"))
    assert(dayRows(wh, "bpt") == Set((1, "a", "d1"), (2, "b", "d2"), (3, "c", "d2")))
  }

  test("sort_by config clusters table files") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val cfg = ModelConfig("st", materialized = "table",
      meta = Map("sort_by" -> "id"))
    val df = Seq(3, 1, 2, 5, 4).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
    mat.materialize(cfg, df)
    val ids = wh.read("st").select("id").collect().map(_.getInt(0)).toSeq
    assert(ids == ids.sorted)
  }

  test("unknown materialization and strategy are rejected") {
    val wh = freshWh(); val mat = new Materializer(wh)
    val df = Seq((1, "a")).toDF("id", "v")
    assertThrows[ConfigError](
      mat.materialize(ModelConfig("x", materialized = "nope"), df))
    assertThrows[ConfigError](
      mat.materialize(ModelConfig("x", materialized = "incremental",
        incrementalStrategy = Some("nope")), df))
  }

  test("quality checks count failures per rule") {
    val df = Seq(
      (1, Some("F"), 10.0), (1, Some("O"), 20.0),
      (2, None, -5.0), (3, Some("Z"), 999.0)).toDF("id", "status", "amt")
    val results = Quality.run(df, Seq(
      Quality.Unique("id"),
      Quality.NotNull("status"),
      Quality.AcceptedValues("status", Seq("F", "O", "P")),
      Quality.RangeCheck("amt", 0.0, 100.0))).map(r => r.check -> r.failures).toMap
    assert(results("unique_id") == 1)       // id=1 duplicated once
    assert(results("not_null_status") == 1)
    assert(results("accepted_values_status") == 2) // null + 'Z'
    assert(results("range_amt") == 2)       // -5 and 999
  }

  test("relationships check counts orphans; NULL children pass") {
    val child = Seq(
      (1, Some(10)), (2, Some(20)), (3, Some(99)),   // 99 is an orphan
      (4, None), (5, Some(99)))                      // NULL passes; 2nd orphan
      .toDF("id", "cust_id")
    val parents = Seq(10, 20, 30).toDF("pk")
    val results = Quality.run(child,
      Seq(Quality.Relationships("cust_id", "customers", "pk")),
      resolve = { name => assert(name == "customers"); parents })
    assert(results.head.check == "relationships_cust_id__customers_pk")
    assert(results.head.failures == 2)
    // no resolver provided -> loud ConfigError, not a silent pass
    assertThrows[ConfigError](Quality.run(child,
      Seq(Quality.Relationships("cust_id", "customers", "pk"))))
  }

  test("quality checks of every kind finish as exactly one query") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val df = Seq((1, Some("F"), 10.0, Some(10)), (1, None, -5.0, Some(99)))
      .toDF("id", "status", "amt", "cust_id")
    val parents = Seq(10, 20).toDF("pk")
    val finished = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        finished.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        finished.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    val results =
      try {
        val r = Quality.run(df, Seq(
          Quality.NotNull("status"),
          Quality.AcceptedValues("status", Seq("F")),
          Quality.RangeCheck("amt", 0.0, 100.0),
          Quality.Unique("id"),
          Quality.Unique("status"),
          Quality.Relationships("cust_id", "customers", "pk")), _ => parents)
        org.apache.spark.sql.graftext.Bridge.drainListenerBus(spark)
        r
      } finally spark.listenerManager.unregister(listener)
    assert(finished.get == 1)
    assert(results.map(_.failures) == Seq(1L, 1L, 1L, 1L, 0L, 1L))
  }

  test("quality checks match a row-by-row reference, in declaration order") {
    import MaterializerSpec.QRow
    // kinds interleaved, so the results' order is the declarations' order
    val checks = Seq(
      Quality.Unique("id"), Quality.NotNull("id"),
      Quality.Relationships("cust_id", "customers", "pk"),
      Quality.NotNull("status"), Quality.AcceptedValues("status", Seq("F", "O")),
      Quality.Unique("status"), Quality.NotNull("amt"),
      Quality.RangeCheck("amt", 0.0, 100.0), Quality.NotNull("cust_id"),
      Quality.Relationships("parent_id", "self", "id"), // self-reference
      Quality.NotNull("status"), Quality.Unique("id")) // declared twice
    // duplicated and NULL parent keys: the join must not multiply rows
    val parentKeys = Seq(Some(10), Some(10), Some(20), None, Some(30))
    def value(r: QRow, c: String): Option[Any] =
      r.productElementNames.zip(r.productIterator).collectFirst {
        case (`c`, v: Option[_]) => v
      }.get
    def reference(rows: Seq[QRow], check: Quality.Check): Long = check match {
      case Quality.NotNull(c) => rows.count(value(_, c).isEmpty)
      case Quality.AcceptedValues(c, vs) =>
        rows.count(value(_, c).forall(v => !vs.contains(v.toString)))
      case Quality.RangeCheck(c, lo, hi) =>
        rows.count(value(_, c).exists { v =>
          val d = v.toString.toDouble; d < lo || d > hi })
      case Quality.Unique(c) =>
        val vs = rows.flatMap(value(_, c)); (vs.size - vs.distinct.size).toLong
      case Quality.Relationships(c, ref, rc) =>
        val keys =
          if (ref == "self") rows.flatMap(value(_, rc)).toSet
          else parentKeys.flatten.toSet[Any]
        rows.count(value(_, c).exists(v => !keys.contains(v)))
    }
    def compare(rows: Seq[QRow]): Unit = {
      val df = rows.toDF()
      val resolve = Map("customers" -> parentKeys.toDF("pk"), "self" -> df)
      assert(Quality.run(df, checks, resolve).map(r => (r.check, r.failures)) ==
        checks.map(c => (c.name, reference(rows, c))))
    }
    compare(Seq(
      QRow(Some(1), Some("F"), Some(10.0), Some(10), None),
      QRow(Some(1), Some("O"), Some(150.0), Some(20), Some(1)),
      QRow(Some(2), None, Some(-1.0), Some(99), Some(7)),   // orphan FK, orphan parent
      QRow(None, Some("Z"), None, None, Some(2)),           // NULL FK passes
      QRow(Some(3), Some("F"), Some(100.0), Some(99), None),
      QRow(Some(4), Some("O"), Some(0.0), Some(30), Some(4))))
    compare(Nil)
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** `model`'s current version reads as inference reads it: the schema
    * `wh` reads equals the one Spark infers from the version's files, and
    * a second warehouse over the same root reads the same schema and
    * rows. */
  private def assertReadsAsInferred(wh: Warehouse, root: String, model: String): Unit = {
    val got = wh.read(model)
    assert(got.schema == spark.read.parquet(wh.currentPath(model).get).schema, model)
    val reopened = new Warehouse(spark, root, wh.state).read(model)
    assert(reopened.schema == got.schema, model)
    assert(sortedRows(reopened) == sortedRows(got), model)
  }

  test("each version reads with its written schema exactly as inference reads it") {
    val root = Files.createTempDirectory("graft_wh_").toString
    val wh = new Warehouse(spark, root, StateStore(root + "/state"))
    val mat = new Materializer(wh)
    // a nested struct, a date column, and string partition values that
    // inference turns into int and date
    def batch(ids: Seq[Int], p: String, day: String) =
      ids.toDF("id")
        .withColumn("v", concat(lit("v"), col("id").cast("string")))
        .withColumn("d", date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("id")))
        .withColumn("s", struct(col("id").as("k"), array(col("v")).as("vs")))
        .withColumn("p", lit(p))
        .withColumn("day", lit(day))
        .withColumn("__cdc_operation", lit("U"))
    def parted(kv: (String, String)*) = Map("partition_by" -> "p;day") ++ kv
    val cases = Seq(
      ModelConfig("flat", materialized = "table"),
      ModelConfig("ptable", materialized = "table", meta = parted()),
      ModelConfig("itime", materialized = "incremental",
        incrementalStrategy = Some("time"), timeColumn = Some("id"), meta = parted()),
      ModelConfig("iappend", materialized = "incremental",
        incrementalStrategy = Some("append"), meta = parted()),
      ModelConfig("ikey", materialized = "incremental",
        incrementalStrategy = Some("unique_key"), uniqueKey = Some("id"), meta = parted()),
      ModelConfig("cdc", materialized = "cdc", uniqueKey = Some("id")),
      ModelConfig("scd2", materialized = "cdc_scd2", uniqueKey = Some("id")))
    cases.foreach { cfg =>
      mat.materialize(cfg, batch(Seq(1, 2), "1", "2024-01-03"))
      mat.materialize(cfg, batch(Seq(2, 3), "2", "2024-01-04"), "2024-02-01 00:00:00")
      assert(wh.currentVersion(cfg.name).contains(2L), cfg.name)
      assert(jobsDuring(wh.read(cfg.name)) == 0, cfg.name) // schema from a footer
      assertReadsAsInferred(wh, root, cfg.name)
    }
    assert(wh.read("ptable").schema("p").dataType == org.apache.spark.sql.types.IntegerType)
    assert(wh.read("ptable").schema("day").dataType == org.apache.spark.sql.types.DateType)
    wh.compact("iappend", targetFileCount = 1)
    assert(jobsDuring(wh.read("iappend")) == 0)
    assertReadsAsInferred(wh, root, "iappend")
  }

  test("refreshView after a commit starts no job") {
    val wh = freshWh()
    wh.writeVersion("rv", Seq((1, "a", "d1"), (2, "b", "d2")).toDF("id", "v", "day"),
      Seq("day"))
    assert(jobsDuring(wh.refreshView("rv")) == 0)
    assert(spark.table(wh.relation("rv")).count() == 2)
  }

  test("an empty partitioned version still reads by inference") {
    val wh = freshWh()
    // no `day=` directory to take the partition column from: inference
    // fails when the commit reads it back, and a given schema would hide that
    val empty = Seq((1, "a", "d1")).toDF("id", "v", "day").filter(col("id") < 0)
    intercept[org.apache.spark.sql.AnalysisException](wh.writeVersion("ep", empty, Seq("day")))
    intercept[StateError](wh.read("ep"))
  }

  test("a version that cannot be read is dropped and the pointer stays") {
    val wh = freshWh()
    val v1 = Seq((1, "a", "d1"), (2, "b", "d2")).toDF("id", "v", "day")
    wh.writeVersion("keep", v1, Seq("day"))
    val v1Path = java.nio.file.Paths.get(wh.currentPath("keep").get)
    intercept[org.apache.spark.sql.AnalysisException](
      wh.writeVersion("keep", v1.filter(col("id") < 0), Seq("day")))
    assert(wh.currentVersion("keep").contains(1L))
    assert(sortedRows(wh.read("keep").select("id", "v", "day")) ==
      Seq("1|a|d1", "2|b|d2"))
    assert(!Files.exists(v1Path.resolveSibling("v2")))
  }

  test("an append whose batch adds a column reads by inference") {
    val root = Files.createTempDirectory("graft_wh_").toString
    val wh = new Warehouse(spark, root, StateStore(root + "/state"))
    val mat = new Materializer(wh)
    val cfg = ModelConfig("grow", materialized = "incremental",
      incrementalStrategy = Some("append"))
    mat.materialize(cfg, Seq((1, "a")).toDF("id", "v"))
    mat.materialize(cfg, Seq((2, "b", 2.5)).toDF("id", "v", "extra"))
    val path = wh.currentPath("grow").get
    assert(jobsDuring(wh.read("grow")) == 0) // the footer is read on the driver
    assert(wh.read("grow").schema == spark.read.parquet(path).schema)
    assert(sortedRows(wh.read("grow")) == sortedRows(spark.read.parquet(path)))
    assertReadsAsInferred(wh, root, "grow")
  }

  test("a new warehouse over an existing root reads every version with no job") {
    val root = Files.createTempDirectory("graft_wh_").toString
    val wh = new Warehouse(spark, root, StateStore(root + "/state"))
    val mat = new Materializer(wh)
    wh.writeVersion("pt", Seq((1, "a", "d1"), (2, "b", "d2")).toDF("id", "v", "day"),
      Seq("day"))
    val grow = ModelConfig("grow", materialized = "incremental",
      incrementalStrategy = Some("append"), meta = Map("partition_by" -> "day"))
    mat.materialize(grow, Seq((1, "a", "d1")).toDF("id", "v", "day"))
    mat.materialize(grow, Seq((2, "b", 2.5, "d0")).toDF("id", "v", "extra", "day"))
    val fresh = new Warehouse(spark, root, StateStore(root + "/state"))
    Seq("pt", "grow").foreach { m =>
      assert(jobsDuring(fresh.read(m)) == 0, m)
      val path = fresh.currentPath(m).get
      assert(sortedRows(fresh.read(m)) == sortedRows(spark.read.parquet(path)), m)
      assertReadsAsInferred(fresh, root, m)
    }
  }

  test("rendering and analysing a model over a schema.yml path source starts no job") {
    val dir = Files.createTempDirectory("graft_src_").toString + "/clicks"
    Seq((1, "2024-01-01"), (2, "2024-01-02")).toDF("id", "day")
      .write.partitionBy("day").parquet(dir)
    val spec = SourceTableSpec("ext", "clicks", dir)
    val r = new ModelRunner(freshWh(), Map(("ext", "clicks") -> spec.sqlRelation))
    r.addModel("m", "SELECT id, day FROM {{ source('ext', 'clicks') }} WHERE id > 0")
    var analysed: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { analysed = spark.sql(r.render("m")) } == 0)
    assert(analysed.schema == spark.read.parquet(dir).select("id", "day").schema)
    assert(sortedRows(analysed) == Seq("1|2024-01-01", "2|2024-01-02"))
  }

  test("the watermark rides the version commit: one state write per load") {
    val root = Files.createTempDirectory("graft_wh_").toString
    val wh = new Warehouse(spark, root, StateStore(root + "/state"))
    val mat = new Materializer(wh)
    val cfg = ModelConfig("wm", materialized = "incremental",
      incrementalStrategy = Some("time"), timeColumn = Some("t"))
    val stateDir = java.nio.file.Paths.get(root, "state")
    Files.createDirectories(stateDir)
    // Atomic replacements of the state file while `body` runs: each one
    // creates a `.state*.tmp` file first.
    def stateWrites(body: => Unit): Int = {
      import java.nio.file.StandardWatchEventKinds.ENTRY_CREATE
      val watcher = stateDir.getFileSystem.newWatchService()
      try {
        stateDir.register(watcher, ENTRY_CREATE)
        body
        var n = 0
        var key = watcher.poll(500, java.util.concurrent.TimeUnit.MILLISECONDS)
        while (key != null) {
          key.pollEvents().forEach { e =>
            val name = e.context().toString
            if (name.startsWith(".state") && name.endsWith(".tmp")) n += 1
          }
          key.reset()
          key = watcher.poll(500, java.util.concurrent.TimeUnit.MILLISECONDS)
        }
        n
      } finally watcher.close()
    }
    assert(stateWrites(mat.materialize(cfg, Seq((1, "a"), (2, "b")).toDF("t", "v"))) == 1)
    assert(stateWrites(mat.materialize(cfg, Seq((2, "b"), (3, "c")).toDF("t", "v"))) == 1)
    val reopened = StateStore(root + "/state")
    assert(reopened.get("wm").map(_.currentVersion).contains(2L))
    assert(reopened.watermark("wm", Materializer.WatermarkKey).contains("3"))
    assert(sortedRows(wh.read("wm")) == Seq("1|a", "2|b", "3|c"))
  }

  test("lineage maps projected and aggregated columns to base columns") {
    val df = graft.Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("dbl"))
    val lin = Lineage.of(df).map(l => l.column -> l).toMap
    assert(lin("dbl").sources.exists(_.endsWith("o_totalprice")))
    assert(lin("o_orderkey").sources.exists(_.endsWith("o_orderkey")))

    val agg = graft.Tables.load(spark, sfDir, "orders")
      .groupBy(col("o_orderstatus")).agg(sum(col("o_totalprice")).as("total"))
    val lin2 = Lineage.of(agg).map(l => l.column -> l).toMap
    assert(lin2("total").sources.exists(_.endsWith("o_totalprice")))
    assert(lin2("total").transformations.contains("sum"))
  }

  test("macros: silverClean dedupes, goldAggregate groups, bronzeLoad stamps") {
    val ev = graft.Tables.load(spark, sfDir, "events")
    val cleaned = Macros.silverClean(ev, Seq("user_id"),
      Seq(col("ts").desc, col("event_id").desc))
    assert(cleaned.groupBy("user_id").count().filter(col("count") > 1).count() == 0)

    val gold = Macros.goldAggregate(ev, Seq("event_type"),
      Seq("n" -> count(lit(1)), "avg_v" -> avg(col("value"))))
    assert(gold.columns.toSeq == Seq("event_type", "n", "avg_v"))

    val bronze = Macros.bronzeLoad(ev, filter = Some(col("value") > 0))
    assert(bronze.columns.contains("load_timestamp") && bronze.columns.contains("layer"))
  }
}

object MaterializerSpec {
  final case class QRow(id: Option[Int], status: Option[String],
      amt: Option[Double], cust_id: Option[Int], parent_id: Option[Int])
}
