package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.Bridge

/** Pins the Bridge surfaces the loop-session machinery leans on:
  * rebind must re-home a truncated frame without losing its
  * materialized leaf (re-homing must never trigger a recompute), and
  * allLeavesMaterialized must separate truncated frames (cheap count)
  * from live plans (count = full re-execution) — the decision input
  * for Warehouse.withResolvedNumFiles. */
class BridgeSpec extends SparkSpec {
  import spark.implicits._

  test("rebind re-homes a truncated frame, keeps the materialized leaf") {
    val df = Checkpoints.truncate(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    assert(Bridge.allLeavesMaterialized(df))
    val clone = Bridge.cloneSession(spark)
    clone.conf.set("spark.sql.shuffle.partitions", "1")
    val hopped = Bridge.rebind(df, clone)
    assert(hopped.sparkSession eq clone)
    // the leaf survives the hop — downstream ops still see a
    // materialized RDD, not a plan to re-execute
    assert(Bridge.allLeavesMaterialized(hopped))
    assert(Bridge.allLeavesMaterialized(hopped.filter(col("id") > 1L)))
    // values identical both sides; caller's session untouched
    assert(hopped.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
    assert(spark.sessionState.conf.numShufflePartitions ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // rebind to the frame's own session is the identity
    assert(Bridge.rebind(df, spark) eq df)
  }

  test("allLeavesMaterialized separates truncated frames from live plans") {
    val live = Tables.load(spark, sfDir, "orders")
    assert(!Bridge.allLeavesMaterialized(live))
    assert(!Bridge.allLeavesMaterialized(
      live.join(Checkpoints.truncate(live.select("o_orderkey")),
        Seq("o_orderkey")))) // one live leaf poisons the whole plan
    val t = Checkpoints.truncate(live.groupBy("o_orderstatus").count())
    assert(Bridge.allLeavesMaterialized(t))
  }

  test("cloneSession isolates conf but carries registered functions") {
    val clone = Bridge.cloneSession(spark)
    clone.conf.set("spark.sql.shuffle.partitions", "3")
    assert(spark.conf.get("spark.sql.shuffle.partitions") != "3")
    // graft extension functions (registered via GraftExtensions at
    // session build) survive the clone — loop bodies may call them
    val out = clone.sql(
      "SELECT simhash60(split('a b c a', ' ')) AS h").collect()
    assert(out.length == 1)
  }

  /** `dir` reads through the reader with no job, and with the schema and
    * rows of Spark's own inference. */
  private def assertReadsAsInferred(dir: String): Unit = {
    val got = Bridge.readParquet(spark, dir)
    assert(jobsDuring(Bridge.readParquet(spark, dir)) == 0, dir)
    val inferred = spark.read.parquet(dir)
    assert(got.schema == inferred.schema, dir)
    assert(got.collect().map(_.toString).sorted.toSeq ==
      inferred.collect().map(_.toString).sorted.toSeq, dir)
  }

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft_read_").toString

  test("the reader gives inference's schema for partitioned layouts") {
    // partition values 1, 1.5, 2 and 10: full paths sort p=1.5/ before
    // p=1/ and p=10/ before p=2/, and each holds other columns, so only
    // inference's first file gives inference's schema
    val multi = tempDir() + "/t"
    Seq((1, "1")).toDF("id", "p").write.partitionBy("p").parquet(multi)
    Seq((2, "b", 1.0, "10")).toDF("id", "v", "w", "p")
      .write.mode("append").partitionBy("p").parquet(multi)
    Seq((3, 7L, "2"), (4, 8L, "1")).toDF("id", "x", "p")
      .write.mode("append").partitionBy("p").parquet(multi)
    Seq((5, true, "1.5")).toDF("id", "y", "p")
      .write.mode("append").partitionBy("p").parquet(multi)
    assertReadsAsInferred(multi)
    // two partition levels, with a null partition value
    val two = tempDir() + "/t"
    Seq((1, "x", Some("a")), (2, "y", None), (3, "x", Some("b")))
      .toDF("id", "d", "c").write.partitionBy("d", "c").parquet(two)
    Seq((4, 9.5, "y", Option.empty[String])).toDF("id", "z", "d", "c")
      .write.mode("append").partitionBy("d", "c").parquet(two)
    assertReadsAsInferred(two)
    // only a null partition
    val nul = tempDir() + "/t"
    Seq((1, Option.empty[String])).toDF("id", "c").write.partitionBy("c").parquet(nul)
    assertReadsAsInferred(nul)
  }

  test("the reader gives inference's schema for an empty write and summary files") {
    val empty = tempDir() + "/t"
    Seq((1, "a")).toDF("id", "v").filter(col("id") < 0).write.parquet(empty)
    assertReadsAsInferred(empty)
    // summary files win over data files: `_common_metadata`, then `_metadata`
    def partFile(dir: String) = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    val dir = tempDir() + "/t"
    Seq((1, "a")).toDF("id", "v").write.parquet(dir)
    val meta = tempDir() + "/m"
    Seq((1, "a", 2L)).toDF("id", "v", "m").write.parquet(meta)
    java.nio.file.Files.copy(partFile(meta), java.nio.file.Paths.get(dir, "_metadata"))
    assert(spark.read.parquet(dir).schema.fieldNames.toSeq == Seq("id", "v", "m"))
    assertReadsAsInferred(dir)
    val common = tempDir() + "/c"
    Seq((1, "a", 2.0)).toDF("id", "v", "c").write.parquet(common)
    java.nio.file.Files.copy(partFile(common), java.nio.file.Paths.get(dir, "_common_metadata"))
    assert(spark.read.parquet(dir).schema.fieldNames.toSeq == Seq("id", "v", "c"))
    assertReadsAsInferred(dir)
  }

  test("the reader leaves Spark's errors and schema merging to inference") {
    val missing = tempDir() + "/none"
    assert(Bridge.parquetSchema(spark, missing).isEmpty)
    val e1 = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(missing))
    val e2 = intercept[org.apache.spark.sql.AnalysisException](Bridge.readParquet(spark, missing))
    assert(e1.getCondition == e2.getCondition)
    val dir = tempDir() + "/t"
    Seq((1, "a")).toDF("id", "v").write.parquet(dir)
    Seq((2, "b", 3L)).toDF("id", "v", "n").write.mode("append").parquet(dir)
    assert(Bridge.parquetSchema(spark, dir).isDefined)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(Bridge.parquetSchema(spark, dir).isEmpty)
      assert(Bridge.readParquet(spark, dir).schema.fieldNames.toSeq == Seq("id", "v", "n"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }
}
