package graft.queries

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.SparkSpec

/** The one driver sink: [[ScaleQueries.runStream]] lands every
  * micro-batch as parquet in a per-call Scratch directory and reads the
  * result back from files. */
class RunStreamSpec extends SparkSpec {
  import spark.implicits._

  /** One parquet file per part, so `maxFilesPerTrigger=1` reads each
    * part as its own micro-batch. */
  private def landParts(parts: Seq[Long]*): String = {
    val d = Files.createTempDirectory("graft_runstream_in_").toString
    parts.foreach(p => p.toDF("x").coalesce(1).write.mode("append").parquet(d))
    d
  }

  private def stream(dir: String): DataFrame =
    spark.readStream.schema("x LONG").option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** The per-batch directories behind a returned frame. */
  private def batchDirs(res: DataFrame): Set[Path] =
    res.inputFiles.map(f => Paths.get(new java.net.URI(f)).getParent).toSet

  test("the result is read back from parquet files, not from driver memory") {
    val res = ScaleQueries.runStream(spark,
      stream(landParts(Seq(1L, 2L, 3L))).select((col("x") * 2).as("y")),
      "append", "spec_files")
    val leaves = res.queryExecution.analyzed.collectLeaves()
    assert(leaves.nonEmpty)
    assert(!leaves.exists(_.isInstanceOf[LocalRelation]))
    assert(leaves.forall {
      case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
      case _ => false
    }, leaves.map(_.nodeName).mkString(", "))
    assert(res.as[Long].collect().sorted.toSeq == Seq(2L, 4L, 6L))
  }

  test("append mode returns the union of every micro-batch") {
    val res = ScaleQueries.runStream(spark,
      stream(landParts(Seq(1L, 2L), Seq(3L), Seq(4L, 5L, 6L))),
      "append", "spec_append")
    assert(batchDirs(res).size == 3, "expected three landed micro-batches")
    assert(res.as[Long].collect().sorted.toSeq == (1L to 6L))
  }

  test("complete mode returns only the final batch") {
    val counts = stream(landParts(Seq(1L, 1L), Seq(1L, 2L), Seq(2L, 3L)))
      .groupBy("x").agg(count(lit(1)).as("n"))
    val res = ScaleQueries.runStream(spark, counts, "complete", "spec_complete")
    assert(batchDirs(res).size == 1)
    assert(res.as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 3L), (2L, 2L), (3L, 1L)))
  }

  test("an empty stream returns an empty frame with the stream's schema") {
    val empty = Files.createTempDirectory("graft_runstream_empty_").toString
    val df = stream(empty).select(col("x"), lit("a").as("tag"))
    val res = ScaleQueries.runStream(spark, df, "append", "spec_empty")
    assert(res.count() == 0L)
    assert(res.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
  }

  test("a call deletes the previous call's sink directory") {
    val first = ScaleQueries.runStream(spark,
      stream(landParts(Seq(7L))), "append", "spec_reclaim")
    val firstDir = batchDirs(first).head.getParent
    assert(first.as[Long].collect().toSeq == Seq(7L))
    assert(Files.isDirectory(firstDir))
    val second = ScaleQueries.runStream(spark,
      stream(landParts(Seq(8L))), "append", "spec_reclaim")
    val secondDir = batchDirs(second).head.getParent
    assert(secondDir != firstDir, "each call gets its own directory")
    assert(!Files.exists(firstDir), s"$firstDir survived the next call")
    assert(second.as[Long].collect().toSeq == Seq(8L))
  }

  test("the session's shuffle width is restored after a stream that throws") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, "5")
    try {
      val boom = udf((x: Long) => {
        if (x >= 0) throw new IllegalStateException("boom"); x
      })
      assertThrows[StreamingQueryException] {
        ScaleQueries.runStream(spark,
          stream(landParts(Seq(1L))).select(boom(col("x")).as("x")),
          "append", "spec_throws")
      }
      assert(spark.conf.get(key) == "5")
    } finally spark.conf.set(key, before)
  }

  test("the stream itself runs at the fixed state partition count") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, "3")
    try {
      // the aggregate's state partition count is frozen at stream start,
      // so the partition ids seen by a complete-mode aggregate's
      // output reveal the width the stream ran at
      val df = stream(landParts(Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L)))
        .groupBy("x").agg(count(lit(1)).as("n"))
        .select(col("x"), spark_partition_id().as("pid"))
      val res = ScaleQueries.runStream(spark, df, "complete", "spec_width")
      val pids = res.select("pid").as[Int].collect().toSet
      assert(pids.nonEmpty && pids.max < ScaleQueries.DefaultStatePartitions)
      assert(pids.max >= 3, s"stream ran at the session width: $pids")
      assert(spark.conf.get(key) == "3")
    } finally spark.conf.set(key, before)
  }
}
