package graft

import org.apache.spark.sql.types.{IntegerType, LongType, TimestampType}

/** Contract test for the driver-generated testdata layout.
  *
  * The driver regenerates /root/testdata between rounds and has already
  * shipped `events.ts` in two physical layouts (TIMESTAMP(NANOS)-as-long,
  * then Timestamp(isAdjustedToUTC=false, MICROS) which stock Spark infers
  * as timestamp_ntz). [[Tables.load]] must normalize every layout to plain
  * TimestampType — if a future regeneration changes the layout again, this
  * spec fails with a named assertion instead of 8 queries crashing on
  * `unix_micros(DATATYPE_MISMATCH)`.
  */
class TablesSpec extends SparkSpec {

  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1").map("/root/testdata/" + _)

  test("events.ts normalizes to TimestampType in every sf dir") {
    sfDirs.foreach { dir =>
      val ts = Tables.load(spark, dir, "events").schema("ts")
      assert(ts.dataType == TimestampType, s"$dir/events.parquet: ts read as ${ts.dataType}")
    }
  }

  test("unix_micros(ts) resolves and is monotone-safe on events") {
    // The exact call every temporal query makes; fails analysis if ts is NTZ.
    val row = Tables.load(spark, sfDir, "events")
      .selectExpr("min(unix_micros(ts)) AS lo", "max(unix_micros(ts)) AS hi")
      .head()
    assert(!row.isNullAt(0) && row.getLong(0) <= row.getLong(1))
  }

  test("all tables load with stable key-column types") {
    val expected = Map(
      "region" -> ("r_regionkey", IntegerType),
      "nation" -> ("n_nationkey", IntegerType),
      "customer" -> ("c_custkey", LongType),
      "supplier" -> ("s_suppkey", LongType),
      "part" -> ("p_partkey", LongType),
      "orders" -> ("o_orderdate", TimestampType),
      "lineitem" -> ("l_shipdate", TimestampType),
      "events" -> ("ts", TimestampType),
      "documents" -> ("doc_id", LongType),
      "embeddings" -> ("vec_id", LongType))
    Tables.names.foreach { t =>
      val schema = Tables.load(spark, sfDir, t).schema
      val (colName, colType) = expected(t)
      assert(schema.fieldNames.contains(colName), s"$t missing $colName")
      assert(schema(colName).dataType == colType,
        s"$t.$colName read as ${schema(colName).dataType}, expected $colType")
    }
  }

  test("invalidate(dir) drops memoized plans so a rewrite re-lists files") {
    val a = Tables.load(spark, sfDir, "orders")
    assert(Tables.load(spark, sfDir, "orders") eq a) // memoized
    Tables.invalidate(sfDir)
    val b = Tables.load(spark, sfDir, "orders")
    assert(!(b eq a)) // fresh plan with a fresh file listing
    assert(b.count() == a.count())
  }

  test("stopped sessions' cache entries are purged on access") {
    val clone = org.apache.spark.sql.graftext.Bridge.cloneSession(spark)
    // seed an entry keyed by the clone; registered views too
    Tables.load(clone, sfDir, "nation")
    // a clone shares the SparkContext, so 'stopped' can't be simulated
    // without killing the suite's context — instead pin the purge
    // predicate directly: nothing is purged while contexts live, and
    // the entry for the clone is evicted by invalidate(dir) like any
    // other session's
    val before = Tables.load(clone, sfDir, "nation")
    assert(Tables.load(clone, sfDir, "nation") eq before)
    Tables.invalidate(sfDir)
    assert(!(Tables.load(clone, sfDir, "nation") eq before))
  }

  test("a warm JVM compiles each of 150 recurring plans once") {
    // More distinct plans than Spark's default codegen cache (100) holds:
    // with that cache, LRU evicts every class before its plan recurs.
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles(round: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      round
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    def plans(): Unit = (1 to 150).foreach { i =>
      spark.range(10).selectExpr(s"id * $i + ${3 * i} AS x").collect()
    }
    assert(compiles(plans()) > 0)
    assert(compiles(plans()) == 0)
  }

  test("Scratch.invalidateLandings drops matching memoized landings") {
    var builds = 0
    def land() = Scratch.landedDir("tbl_spec:/some/dir") { p =>
      builds += 1
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p, "marker.txt"), "x")
    }
    val d1 = land(); val d2 = land()
    assert(d1 == d2 && builds == 1) // memoized
    Scratch.invalidateLandings("/some/dir")
    val d3 = land()
    assert(d3 != d1 && builds == 2) // rebuilt after invalidation
    Scratch.invalidateLandings("tbl_spec") // cleanup for re-runs
  }
}
