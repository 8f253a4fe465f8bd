package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe benchmark: replicate the sf0.1 testdata `factor`× into a
  * scratch directory (≈ sf1 row counts at the default 10×) and run the
  * driver queries against it, so "scales linearly" claims are measured,
  * not extrapolated. At sf0.1 nearly every query is floor-bound by
  * Spark's fixed per-query overhead; a 10× point exposes any operator
  * whose constant was hiding in that floor.
  *
  * Replication is stride-shifted and decorrelated, NOT naive copying:
  *   - fact ids shift by `replica × 10^12` (orders/lineitem share the
  *     stride so FKs stay consistent; events shift user_id too, scaling
  *     streaming key cardinality);
  *   - document text is deterministically TOKEN-SHUFFLED per replica
  *     (+1 replica-tag token): vocabulary preserved and lengths
  *     preserved within one token, shingle sets fully decorrelated.
  *     Naive copies would make every doc a 10-way exact duplicate, and
  *     rotation (the first design) preserves circular n-grams — both
  *     turn the dedup benchmarks into artificially-degenerate
  *     workloads;
  *   - embeddings perturb component 0 by `replica × 1e-3` (distinct
  *     vectors, near-identical distribution);
  *   - dimension tables (region/nation/customer/supplier/part) are
  *     copied as-is — the classic star-schema scale-up where facts grow
  *     and dims lag, keeping broadcast plans honest.
  * Queries with literal id predicates (ANN's vec_id < 10 query set,
  * jaccard's doc_id < 40 candidate set) keep a FIXED probe/query set
  * over `factor`× candidates — the intended shape for those operators.
  *
  * This is a performance instrument only: correctness at this scale is
  * the driver's sf0.01 oracle gate's job, and the replicated corpus is
  * derived from the driver's own testdata, never hand-synthesized.
  *
  * Output: the Bench JSON line, plus `"factor"`, written to
  * `SPARK_GRAFT_SCALE_OUT` (default `bench_results/scale_latest.json`).
  */
object ScaleBench {

  private val Stride = 1000000000000L // 10^12 ≫ any sf0.1 id

  /** Replicate one table `factor`× with per-replica decorrelation. */
  private def replicate(
      df: DataFrame, table: String, factor: Int): DataFrame = {
    val k = explode(sequence(lit(0L), lit(factor - 1L))).as("__k")
    def shifted(c: String) = col(c) + col("__k") * Stride
    table match {
      case "orders" =>
        df.select(col("*"), k)
          .withColumn("o_orderkey", shifted("o_orderkey")).drop("__k")
      case "lineitem" =>
        df.select(col("*"), k)
          .withColumn("l_orderkey", shifted("l_orderkey")).drop("__k")
      case "events" =>
        df.select(col("*"), k)
          .withColumn("event_id", shifted("event_id"))
          .withColumn("user_id", shifted("user_id")).drop("__k")
      case "documents" =>
        // Per-replica deterministic token SHUFFLE (sort by
        // md5(token#pos#replica)) + a replica-tag token: vocabulary
        // preserved (plus factor-1 tag types), lengths preserved within
        // the one appended token, and shingle sets fully decorrelated
        // across replicas. NOT a rotation — rotating a
        // token sequence preserves its circular n-grams, so every
        // replica would be a planted MinHash near-dup of its base and
        // replica groups would form factor-sized clusters with ~factor²
        // candidate pairs: the dedup benchmarks would measure that
        // artifact, not the corpus. Replica 0 stays verbatim, so the
        // base data is a strict subset.
        val toks = split(col("text"), " ")
        val shuffled = concat_ws(" ", transform(
          array_sort(transform(toks, (t, i) => struct(
            md5(concat_ws("#", t, i.cast("string"),
              col("__k").cast("string"))).as("h"),
            t.as("t")))),
          s => s.getField("t")))
        df.select(col("*"), k)
          .withColumn("doc_id", shifted("doc_id"))
          .withColumn("text",
            when(col("__k") === 0, col("text"))
              .otherwise(concat(shuffled, lit(" x"), col("__k"))))
          .drop("__k")
      case "embeddings" =>
        df.select(col("*"), k)
          .withColumn("vec_id", shifted("vec_id"))
          .withColumn("embedding",
            transform(col("embedding"), (x, i) =>
              when(i === 0,
                (x + col("__k").cast("float") * lit(1e-3f)).cast("float"))
                .otherwise(x)))
          .drop("__k")
      case _ => df // dimension tables stay fixed
    }
  }

  /** Build (or reuse) the scaled directory. A marker file records the
    * (factor, baseDir) the data was built from; a dir whose marker
    * disagrees (reused SPARK_GRAFT_SCALE_DIR across factors or bases)
    * is REBUILT — benching factor-5 numbers over leftover factor-10
    * data would silently corrupt the scale comparison. */
  def buildScaled(
      spark: SparkSession, baseDir: String, scaledDir: String,
      factor: Int): Unit = {
    val marker = new java.io.File(scaledDir, "_SCALED")
    val stamp = s"factor=$factor base=$baseDir"
    if (marker.exists() &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath),
          "UTF-8").trim == stamp)
      return
    java.nio.file.Files.deleteIfExists(marker.toPath) // invalidate first
    Tables.names.foreach { t =>
      replicate(Tables.load(spark, baseDir, t), t, factor)
        .write.mode("overwrite").parquet(Tables.path(scaledDir, t))
    }
    java.nio.file.Files.write(marker.toPath, (stamp + "\n").getBytes("UTF-8"))
    ()
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val scaledDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"/tmp/graft_scale_x${factor}_" + new java.io.File(baseDir).getName)
    val spark = Bench.session()
    buildScaled(spark, baseDir, scaledDir, factor)
    val selected =
      if (args.isEmpty) SparkEntry.queries.keys.toSeq
      else SparkEntry.queries.keys.filter(args.contains).toSeq
    // The scaled-dir build above is our own (attributable) load; wait
    // for the HOST to be idle only after it finishes settling.
    val idleWait = Bench.awaitIdleHost()
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val loadStart = Bench.loadAvg()
    val results = Bench.measure(spark, scaledDir, selected)
    val loadEnd = Bench.loadAvg()
    val json = Bench.renderJson(results, scaledDir, Bench.cpus,
      loadStart, loadEnd,
      extraFields = Seq(s""""factor":$factor,"base_sf":"$baseDir"""",
        f""""idle_wait_sec":${idleWait}%.1f""", s""""aqe":$aqe"""),
      withSamples = true)
    println(json)
    Bench.writeAudit(
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
        "bench_results/scale_latest.json"), json)
    spark.stop()
    if (results.exists(!_.ok)) sys.exit(1)
  }
}
