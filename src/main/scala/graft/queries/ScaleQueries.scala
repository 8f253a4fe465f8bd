package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.Bridge
import org.apache.spark.sql.streaming.Trigger
import graft.{QueryModule, Tables}
import graft.model.{Materializer, ModelConfig, StateStore, Warehouse}
import graft.ops.{Dedup, Sampling, Similarity, Skew}
import graft.sources.Sources
import graft.streaming.EventStreams

/** Scale-path operators promoted into driver-checkable queries
  * (SURVEY.md §2 C13–C15, C12/C17, C21 stratified, B21, B22): bucket-capped
  * LSH dedup, IVF ANN, embedding near-dup pairs, skew-salted joins,
  * stratified sampling, Structured Streaming sessionization, CSV source
  * round-trip, and partition-pruned model reads.
  *
  * Each oracle re-derives the full value-level semantics in DuckDB
  * (including the md5-derived hyperplanes of the vector LSH), so the
  * driver's hash compare pins behavior, not just row counts.
  */
object ScaleQueries extends QueryModule {

  // fanOut: single-row-group testdata reads as one scan split; no-op on
  // an already-parallel scan (see LlmOpsQueries.docs).
  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.fanOut(Tables.load(s, dir, "documents"))
  private def embs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.fanOut(Tables.load(s, dir, "embeddings"))

  /** RAM-backed scratch dir, deleted on JVM exit (see graft.Scratch). */
  private def scratchDir(prefix: String): String = graft.Scratch.dir(prefix)

  // DuckDB twins of TextOps.normalized / tokens (see LlmOpsQueries).
  private val sqlNorm = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
  private val sqlToks = s"string_split($sqlNorm, ' ')"

  // ------------------------------------ C2 (capped): bounded-bucket LSH
  // Same pipeline as q_dedup_minhash with maxBucketSize=2: the 100 TB
  // formulation where degenerate (boilerplate) buckets are dropped before
  // the band self-join instead of going quadratic.
  private val ShingleN = 3
  private val NumHashes = 8
  private val BandSize = 2
  private val MaxBucket = 2

  private def qDedupMinhashCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashLsh(docs(s, dir), "doc_id", "text",
      ShingleN, NumHashes, BandSize, maxBucketSize = MaxBucket)
      .orderBy("a", "b")

  private val qDedupMinhashCappedSql = {
    val minhashes = (0 until NumHashes)
      .map(j => s"MIN(md5('$j:' || s)) AS h$j").mkString(",\n    ")
    val bands = (0 until NumHashes / BandSize).map { b =>
      val sig = (0 until BandSize).map(k => s"h${b * BandSize + k}")
        .mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band_id, $sig AS sig FROM mh"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH norm AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, UNNEST([array_to_string(toks[i:i+${ShingleN - 1}], ' ')
       |      for i in range(1, len(toks) - ${ShingleN - 2})]) AS s
       |    FROM norm WHERE len(toks) >= $ShingleN)),
       |mh AS (
       |  SELECT doc_id,
       |    $minhashes
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bands),
       |bounded AS (
       |  SELECT doc_id, band_id, sig FROM bands
       |  QUALIFY COUNT(*) OVER (PARTITION BY band_id, sig) <= $MaxBucket)
       |SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |FROM bounded l JOIN bounded r ON l.band_id = r.band_id AND l.sig = r.sig
       |WHERE l.doc_id < r.doc_id
       |ORDER BY a, b""".stripMargin
  }

  // ------------------------------------------------------ C15: IVF ANN
  // Fully oracle-checked: Lloyd means run through ExactAgg.davg (scaled
  // long sums — bit-identical across engines and partitionings), so the
  // DuckDB oracle re-derives the ENTIRE pipeline value-for-value: seed
  // centroids (lowest-id vectors), seed assignment, exact per-dim means,
  // re-assignment to the trained centroids, multi-probe cell ranking,
  // and the final top-k. Ranks are emitted, never raw cosines (ExactAgg
  // discipline); assignment tie-break (sim DESC, cell DESC) mirrors
  // assignCells' reverse(array_sort(...)); top-k tie-break is
  // (sim DESC, id ASC) like q_ann_bruteforce. The recall property is
  // additionally pinned by ScaleOpsSpec.
  private val IvfTrainCells = 8
  private val IvfProbe = 4
  private val IvfK = 10

  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.ivfTopK(
      e.filter(col("vec_id") < 10), e, "vec_id", "vec_id", "embedding",
      k = IvfK, numCells = IvfTrainCells, nProbe = IvfProbe, lloydIters = 1)
      .select(col("query_id"), col("rank").as("rnk"), col("neighbor_id"))
      .orderBy("query_id", "rnk")
  }

  private val qAnnIvfSql = {
    val exactMean = graft.ExactAgg.sqlAvg("x")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |seeds AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, v
       |  FROM v ORDER BY vec_id LIMIT $IvfTrainCells),
       |a0 AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT x.vec_id, s.cell,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
       |        ORDER BY list_cosine_similarity(x.v, s.v) DESC, s.cell DESC) AS rn
       |    FROM v x CROSS JOIN seeds s) WHERE rn = 1),
       |comp AS (
       |  SELECT a0.cell, r.j AS dim, v.v[r.j] AS x
       |  FROM v JOIN a0 USING (vec_id),
       |    UNNEST(range(1, len(v.v) + 1)) AS r(j)),
       |means AS (
       |  SELECT cell, dim, $exactMean AS m
       |  FROM comp GROUP BY cell, dim),
       |cents AS (
       |  SELECT cell, list(m ORDER BY dim) AS v FROM means GROUP BY cell),
       |idx AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT x.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
       |        ORDER BY list_cosine_similarity(x.v, c.v) DESC, c.cell DESC) AS rn
       |    FROM v x CROSS JOIN cents c) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 10),
       |qcells AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY list_cosine_similarity(q.qv, c.v) DESC, c.cell DESC) AS rn
       |    FROM q CROSS JOIN cents c) WHERE rn <= $IvfProbe),
       |scored AS (
       |  SELECT qc.query_id, i.vec_id AS neighbor_id,
       |    list_cosine_similarity(qq.qv, nv.v) AS sim
       |  FROM qcells qc
       |  JOIN idx i ON i.cell = qc.cell
       |  JOIN v nv ON nv.vec_id = i.vec_id
       |  JOIN q qq ON qq.query_id = qc.query_id
       |  WHERE i.vec_id <> qc.query_id)
       |SELECT query_id, CAST(rn AS INTEGER) AS rnk, neighbor_id
       |FROM (SELECT query_id, neighbor_id,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY sim DESC, neighbor_id) AS rn
       |      FROM scored)
       |WHERE rn <= $IvfK
       |ORDER BY query_id, rnk""".stripMargin
  }

  // --------------------------------- C47: int8 embedding quantization
  // The storage layout for billion-vector ANN: 4x smaller than float32.
  // Quantized bytes and the per-vector scale are exact IEEE arithmetic
  // (abs/max/divide/floor, ties toward +inf), so the oracle hash-matches
  // every byte, exploded to scalars for a robust value compare.
  private def qEmbedQuantize(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(
      embs(s, dir).select(col("vec_id"), col("embedding")), "embedding")
      .select(col("vec_id"), col("scale"),
        posexplode(col("qvec")).as(Seq("dim", "q")))
      .select(col("vec_id"), col("dim"), col("q").cast("int").as("q"),
        col("scale"))
      .orderBy("vec_id", "dim")

  private val qEmbedQuantizeSql =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |s AS (
      |  SELECT vec_id, v,
      |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      |  FROM v)
      |SELECT vec_id, CAST(r.j - 1 AS INTEGER) AS dim,
      |  CASE WHEN scale > 0 THEN CAST(FLOOR(v[r.j] / scale + 0.5) AS INTEGER)
      |       ELSE 0 END AS q,
      |  scale
      |FROM s, UNNEST(range(1, len(v) + 1)) AS r(j)
      |ORDER BY vec_id, dim""".stripMargin

  // ------------------------------------- C13: embedding near-dup pairs
  // Multi-band hyperplane LSH collision pairs above a cosine threshold.
  // The DuckDB oracle re-derives the md5-seeded hyperplanes, per-band
  // sign-bit buckets, the bucket cap, and the bucket-restricted pair
  // set value-for-value. The cap matters at scale: with a fixed bucket
  // space (numBands·2^planes) bucket sizes grow linearly with the
  // corpus, so the per-bucket self-join grows quadratically — the 30×
  // scale probe measured slope 1.64 UNCAPPED; capped, the fan-out is
  // bounded like every other bucket join in the engine.
  private val NdBands = 2
  private val NdPlanes = 4
  private val NdThreshold = 0.35
  private val NdMaxBucket = Similarity.DefaultMaxBucketSize

  private def qNeardupPairs(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(embs(s, dir), "vec_id", "embedding",
      NdThreshold, numBands = NdBands, planesPerBand = NdPlanes,
      maxBucketSize = NdMaxBucket)
      .select("a", "b")
      .orderBy("a", "b")

  private val qNeardupPairsSql = {
    // plane(i, d) = conv(md5('plane{i}:{d}')[0:6], 16, 10)/2^24 - 0.5,
    // identical to Similarity.planeComponent. j is DuckDB's 1-based
    // lambda index, so dim d = j-1.
    def proj(globalPlane: Int): String =
      s"""list_sum(list_transform(v, (x, j) -> x *
         |      ((CAST('0x' || substr(md5('plane$globalPlane:' || CAST(j - 1 AS VARCHAR)), 1, 6) AS BIGINT)
         |        / 16777216.0) - 0.5)))""".stripMargin
    val bandSelects = (0 until NdBands).map { b =>
      val bucket = (0 until NdPlanes).map { p =>
        s"(CASE WHEN ${proj(b * NdPlanes + p)} > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString("\n    + ")
      s"SELECT vec_id, v, $b AS band_id,\n    $bucket AS bucket FROM v"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |buckets0 AS (
       |  $bandSelects),
       |buckets AS (
       |  SELECT vec_id, v, band_id, bucket FROM buckets0
       |  QUALIFY COUNT(*) OVER (PARTITION BY band_id, bucket) <= $NdMaxBucket)
       |SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
       |FROM buckets l JOIN buckets r
       |  ON l.band_id = r.band_id AND l.bucket = r.bucket AND l.vec_id < r.vec_id
       |WHERE list_cosine_similarity(l.v, r.v) > $NdThreshold
       |ORDER BY a, b""".stripMargin
  }

  // ------------------------------- C44: embedding outliers per label
  // The k vectors least cosine-similar to their label's centroid. The
  // centroid is the per-dimension EXACT scaled-sum mean, so DuckDB
  // re-derives identical centroids; the ranked output (no raw cosine
  // emitted) follows the q_ann_* oracle pattern.
  private def qEmbedOutliers(s: SparkSession, dir: String): DataFrame =
    Similarity.groupOutliers(embs(s, dir), "vec_id", "embedding", "label",
      k = 5)
      .withColumnRenamed("rank", "rnk")
      .orderBy("label", "rnk")

  private val qEmbedOutliersSql = {
    val avg = graft.ExactAgg.sqlAvg("x")
    s"""WITH v AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |d AS (
       |  SELECT label, UNNEST(v) AS x, UNNEST(range(len(v))) AS dim FROM v),
       |cdim AS (SELECT label, dim, $avg AS m FROM d GROUP BY label, dim),
       |cent AS (SELECT label, list(m ORDER BY dim) AS centroid
       |         FROM cdim GROUP BY label),
       |scored AS (
       |  SELECT v.label, v.vec_id,
       |    list_cosine_similarity(v.v, c.centroid) AS sim
       |  FROM v JOIN cent c USING (label))
       |SELECT label,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY label
       |    ORDER BY sim ASC, vec_id) AS INTEGER) AS rnk,
       |  vec_id
       |FROM scored
       |WHERE sim IS NOT NULL AND NOT isnan(sim)
       |QUALIFY rnk <= 5
       |ORDER BY label, rnk""".stripMargin
  }

  // ------------------------------------------------- C14: skew-salted join
  // Salted fact↔dim equi-join; results must equal the plain join (the
  // oracle), proving salting changes the shuffle layout, not the answer.
  private def qSkewJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val facts = Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val dims = Seq(("click", 1), ("view", 2), ("purchase", 3), ("signup", 4))
      .toDF("event_type", "weight")
    Skew.saltedJoin(facts, dims, "event_type", saltFactor = 8)
      .groupBy(col("event_type"), col("weight"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  private val qSkewJoinSql =
    """SELECT e.event_type, d.weight, COUNT(*) AS n
      |FROM events e
      |JOIN (VALUES ('click', 1), ('view', 2), ('purchase', 3), ('signup', 4))
      |  AS d(event_type, weight)
      |  ON e.event_type = d.event_type
      |GROUP BY e.event_type, d.weight
      |ORDER BY e.event_type""".stripMargin

  // --------------------------------------- C21: stratified hash sampling
  private def qSampleStratified(s: SparkSession, dir: String): DataFrame =
    Sampling.deterministicStratified(docs(s, dir), "doc_id", "lang",
      Map("en" -> 50, "de" -> 10))
      .select("doc_id", "lang")
      .orderBy("doc_id")

  private val qSampleStratifiedSql =
    """SELECT doc_id, lang FROM documents
      |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 <
      |  CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 10 ELSE 0 END
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------- driver stream runner
  /** One-slot registry for [[runStream]]'s sink directory: each call
    * deletes the previous call's directory, so repeated driver runs in
    * one JVM (bench samples, warm probes) keep at most one result on
    * scratch. SERIAL-CONSUMPTION contract: the returned frame is a LAZY
    * read over this directory, so it must be fully consumed (collected
    * or written) before the next [[runStream]] call, which reclaims the
    * backing files. Interleaving two streaming queries before consuming
    * the first result is out of contract; the Verify/Bench drivers are
    * strictly serial. */
  private val lastSinkDir =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Stream-query state partition count. Swept at sf0.1 over the
    * 12-query streaming family (two rounds each, idle host):
    * 1→36.3/—, 2→20.7/—, 4→18.5/25.9, 8→16.3/23.3, 16→43.6,
    * 32→51.4 s. The cliff above 8 is per-partition state-store
    * instantiation + task scheduling (every stateful operator
    * instantiates one store per partition per micro-batch); below 4
    * the single-task stages serialize real work. 8 won both rounds at
    * this SF; a production deployment sizes this to its state volume
    * (state stores scale out with partitions — the 100 TB posture is
    * MORE partitions, not fewer). */
  private[graft] val DefaultStatePartitions = 8

  /** Run a finite streaming query to completion and return its result.
    *
    * Every micro-batch lands as parquet through `foreachBatch` in a
    * fresh [[graft.Scratch]] directory, and the result is read back
    * distributed: output rows never gather on the driver heap (a memory
    * sink holds them there, and OOMed an 8 GiB driver at 100×). Append
    * and update modes return the union of every batch's emitted rows;
    * complete mode re-emits the whole result table per batch, so it
    * returns the last batch only. The directory name is unique per
    * call, so no run — in this JVM or a later one — can resume another
    * run's checkpoint.
    *
    * Stateful operators instantiate one state store per
    * `spark.sql.shuffle.partitions` AT STREAM START (the attribution
    * join: four stores per partition), so the stream runs at
    * [[DefaultStatePartitions]] and the session's width is restored
    * after, also when the stream throws; results are partition-count
    * independent (every driver stream is oracle-pinned). The set/restore
    * mutates the SESSION-global shuffle width for the stream's
    * duration, so a query planned concurrently in the same session
    * would pick up the narrowed width — safe because the driver runs
    * are strictly sequential; concurrent callers would scope the conf
    * through `s.cloneSession()` instead. */
  private[graft] def runStream(
      s: SparkSession, df: DataFrame, mode: String,
      name: String): DataFrame = {
    val dir = graft.Scratch.dir(s"graft_stream_${name}_")
    val prev = lastSinkDir.getAndSet(dir)
    if (prev != null) graft.Scratch.delete(prev)
    val lastBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    val land = (batch: Dataset[Row], id: Long) => {
      lastBatch.set(math.max(lastBatch.get, id))
      batch.write.mode("overwrite").parquet(s"$dir/b$id")
    }
    val width = "spark.sql.shuffle.partitions"
    val prevWidth = s.conf.get(width)
    s.conf.set(width, DefaultStatePartitions.toString)
    try {
      df.writeStream.outputMode(mode)
        .option("checkpointLocation", s"$dir/_chk")
        .foreachBatch(land)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } finally s.conf.set(width, prevWidth)
    val last = lastBatch.get
    if (last < 0) s.createDataFrame(s.sparkContext.emptyRDD[Row], df.schema)
    else {
      val dirs =
        if (mode == "complete") Seq(s"$dir/b$last")
        else (0L to last).map(i => s"$dir/b$i")
          .filter(p => new java.io.File(p).exists)
      s.read.schema(df.schema).parquet(dirs: _*)
    }
  }

  // --------------------------------- C12/C17: streaming sessionization
  // Runs the real Structured Streaming sessionizer (file source →
  // flatMapGroupsWithState → parquet sink via runStream,
  // Trigger.AvailableNow) over the events table. Emitted sessions are
  // the CLOSED ones — every session except each user's still-open last
  // — which the oracle re-derives from the batch sessionization with a
  // QUALIFY filter.
  private def qStreamSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val inDir = graft.Scratch.landedDir(s"events5:$dir") { p =>
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .write.mode("overwrite").parquet(p)
    }
    runStream(s, EventStreams.sessionize(
      EventStreams.typedEvents(EventStreams.eventStream(s, inDir))).toDF(),
      "append", "graft_sessions")
      .orderBy("user_id", "session_start_us")
  }

  private val qStreamSessionizeSql =
    """WITH ordered AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM ordered),
      |numbered AS (
      |  SELECT user_id, us,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_num
      |  FROM flagged),
      |sessions AS (
      |  SELECT user_id, session_num, MIN(us) AS session_start_us,
      |    MAX(us) AS session_end_us, COUNT(*) AS n
      |  FROM numbered GROUP BY user_id, session_num)
      |SELECT user_id, session_start_us, session_end_us, CAST(n AS INTEGER) AS n_events
      |FROM sessions
      |QUALIFY session_num < MAX(session_num) OVER (PARTITION BY user_id)
      |ORDER BY user_id, session_start_us""".stripMargin

  // --------------------------- C12: streaming tumbling-window aggregate
  // Runs the real watermarked streaming aggregate (EventStreams
  // .windowedCounts) over the events table. Update output mode: with the
  // input landed as ONE file, Trigger.AvailableNow processes a single
  // batch, so every window emits its final value exactly once and the
  // result equals the batch hourly aggregate the oracle computes (append
  // mode would hold back windows newer than the watermark forever on a
  // finite input).
  private def qStreamWindowLive(s: SparkSession, dir: String): DataFrame = {
    val inDir = graft.Scratch.landedDir(s"events5c1:$dir") { p =>
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .coalesce(1).write.mode("overwrite").parquet(p)
    }
    runStream(s,
      EventStreams.windowedCounts(EventStreams.eventStream(s, inDir)),
      "update", "graft_win")
      .orderBy("window_start_us", "event_type")
  }

  private val qStreamWindowLiveSql =
    s"""SELECT epoch_us(DATE_TRUNC('hour', ts)) AS window_start_us, event_type,
       |  COUNT(*) AS n, ${graft.ExactAgg.sqlSum("value")} AS total_value
       |FROM events
       |GROUP BY window_start_us, event_type
       |ORDER BY window_start_us, event_type""".stripMargin

  // ------------------- C53: stream-static enrichment join + windowed agg
  // Runs the real streaming plan: events stream ⋈ broadcast(customer ⋈
  // nation) on user_id, hourly watermarked aggregate per nation. One
  // file + Trigger.AvailableNow → single batch → update mode emits each
  // window's final value exactly once, so the result equals the batch
  // join+aggregate the oracle computes (same finite-input reasoning as
  // q_stream_window_live).
  private def qStreamEnrich(s: SparkSession, dir: String): DataFrame = {
    // same projection and file shape as q_stream_window_live — the
    // landing memo key makes the two queries SHARE one landed copy
    val inDir = graft.Scratch.landedDir(s"events5c1:$dir") { p =>
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .coalesce(1).write.mode("overwrite").parquet(p)
    }
    val dim = Tables.load(s, dir, "customer")
      .join(Tables.load(s, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    runStream(s, EventStreams.enrichedWindowedCounts(
      EventStreams.eventStream(s, inDir), dim, "c_custkey", "n_name"),
      "update", "graft_enrich")
      .orderBy("window_start_us", "n_name")
  }

  private val qStreamEnrichSql =
    s"""SELECT epoch_us(DATE_TRUNC('hour', ts)) AS window_start_us, n_name,
       |  COUNT(*) AS n, ${graft.ExactAgg.sqlSum("value")} AS total_value
       |FROM events e
       |LEFT JOIN customer c ON e.user_id = c.c_custkey
       |LEFT JOIN nation nn ON c.c_nationkey = nn.n_nationkey
       |GROUP BY window_start_us, n_name
       |ORDER BY window_start_us, n_name""".stripMargin

  // ------------------- C60: native session_window aggregation (batch)
  // The declarative twin of the flatMapGroupsWithState sessionizer
  // (C12) and the lag/cumsum islands formulation (A21): Spark's
  // session_window operator merges events into gap-bounded sessions
  // inside the aggregate itself — no window-function pass, no state
  // function, usable identically in batch and streaming. Semantics
  // note mirrored in the oracle: session_window starts a NEW session
  // when the gap is >= the duration (window ends are exclusive),
  // whereas A21's islands use strict >.
  private def qSessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"))
      .orderBy("user_id", "session_start_us")

  private val qSessionWindowSql =
    """WITH ordered AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev_us
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, us,
      |    CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
      |      THEN 1 ELSE 0 END AS new_sess
      |  FROM ordered),
      |sessions AS (
      |  SELECT user_id, us,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_num
      |  FROM flagged)
      |SELECT user_id, MIN(us) AS session_start_us,
      |  MAX(us) + 1800000000 AS session_end_us,
      |  COUNT(*) AS n_events
      |FROM sessions GROUP BY user_id, session_num
      |ORDER BY user_id, session_start_us""".stripMargin

  // --------------------------------- C17: streaming exact dedup (driver)
  // Runs the real watermark-bounded streaming dedup over the events
  // table with planted duplicates (every third event re-arrives under a
  // fresh event_id). The input lands as ONE file so Trigger.AvailableNow
  // processes a single batch — the watermark cannot classify any planted
  // duplicate as late, making the surviving set deterministic and equal
  // to the batch DISTINCT the oracle computes.
  private def qStreamDedup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    val dupes = base.filter(col("event_id") % 3 === 0)
      .withColumn("event_id", col("event_id") + lit(10000000L))
    val inDir = graft.Scratch.landedDir(s"events5c1dupes:$dir") { p =>
      base.unionByName(dupes).coalesce(1).write.mode("overwrite").parquet(p)
    }
    runStream(s, EventStreams.dedupStream(
      EventStreams.eventStream(s, inDir), Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us")),
      "append", "graft_dedup")
      .orderBy("user_id", "event_type", "ts_us")
  }

  private val qStreamDedupSql =
    """SELECT DISTINCT user_id, event_type, epoch_us(ts) AS ts_us
      |FROM events
      |ORDER BY user_id, event_type, ts_us""".stripMargin

  // --------------------------------- C35: stream-stream attribution join
  // Runs the real watermarked stream-stream join (EventStreams
  // .attributionJoin) over the events table: each purchase matched to the
  // same user's clicks in the preceding 60 minutes. Each side lands as
  // ONE file so Trigger.AvailableNow processes a single micro-batch — the
  // watermarks exist for state expiry but never classify a row late, so
  // the inner join emits exactly the time-bounded batch join the oracle
  // computes.
  private def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    val pDir = graft.Scratch.landedDir(s"events5c1purchase:$dir") { p =>
      ev.filter(col("event_type") === "purchase").coalesce(1)
        .write.mode("overwrite").parquet(p)
    }
    val cDir = graft.Scratch.landedDir(s"events5c1click:$dir") { p =>
      ev.filter(col("event_type") === "click").coalesce(1)
        .write.mode("overwrite").parquet(p)
    }
    runStream(s, EventStreams.attributionJoin(
      EventStreams.eventStream(s, pDir), EventStreams.eventStream(s, cDir),
      lookbackMinutes = 60)
      .select(col("purchase_id"), col("user_id"),
        unix_micros(col("purchase_ts")).as("purchase_ts_us"),
        col("click_id"), unix_micros(col("click_ts")).as("click_ts_us")),
      "append", "graft_attr")
      .orderBy("purchase_id", "click_id")
  }

  private val qAttributionSql =
    """SELECT p.event_id AS purchase_id, p.user_id,
      |  epoch_us(p.ts) AS purchase_ts_us,
      |  c.event_id AS click_id, epoch_us(c.ts) AS click_ts_us
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTE
      |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      |ORDER BY purchase_id, click_id""".stripMargin

  // ------------------------------- C26: streaming IVF index maintenance
  // Runs the real streaming index maintainer (IndexStreams.ivfIndexStream):
  // arriving embedding vectors are cell-assigned — a pure map against
  // fixed md5-derived centroids (Similarity.hashCentroids, engine-stable
  // so DuckDB re-derives the identical centroids and the argmax
  // assignment value-for-value) — and appended to a cell-partitioned
  // parquet index, which the query reads back. Probe equality (streamed
  // index == batch probe) is pinned by StreamingSpec; Lloyd-trained IVF
  // is oracled end-to-end as q_ann_ivf (ExactAgg centroid means).
  private val IvfCells = 8

  private def qStreamIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    // vecDim (vs a raw head-row read): null-embedding safe; its dim=0
    // empty-corpus signal must short-circuit BEFORE hashCentroids, whose
    // empty centroid literals would fail vec_cosine's type check
    val dim = Similarity.vecDim(e, "embedding")
    if (dim == 0)
      return e.select(col("vec_id"), lit(0).cast("int").as("cell")).limit(0)
    val centroids = Similarity.hashCentroids(IvfCells, dim)
    val inDir = graft.Scratch.landedDir(s"embs2c1:$dir") { p =>
      e.coalesce(1).write.mode("overwrite").parquet(p)
    }
    val idxDir = scratchDir("graft_ivf_idx_") + "/index"
    val q = graft.streaming.IndexStreams.ivfIndexStream(
      s.readStream.schema(e.schema).parquet(inDir), centroids,
      "vec_id", "embedding", idxDir,
      scratchDir("graft_ivf_ck_"),
      trigger = Some(Trigger.AvailableNow()))
    q.awaitTermination()
    Bridge.readParquet(s, idxDir)
      .select(col("neighbor_id").as("vec_id"), col("cell").cast("int").as("cell"))
      .orderBy("vec_id")
  }

  // Centroid c is re-derived inside the oracle with the same md5 formula
  // as Similarity.hashComponent; assignment tie-break (sim DESC, cell
  // DESC) mirrors assignCells' reverse(array_sort(...)).
  private val qStreamIvfSql = {
    def centroid(c: Int): String =
      s"""list_transform(v, (x, j) ->
         |      (CAST('0x' || substr(md5('cell$c:' || CAST(j - 1 AS VARCHAR)), 1, 6) AS BIGINT)
         |        / 16777216.0) - 0.5)""".stripMargin
    val sims = (0 until IvfCells).map { c =>
      s"SELECT vec_id, $c AS cell,\n    list_cosine_similarity(v, ${centroid(c)}) AS sim FROM v"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |sims AS (
       |  $sims)
       |SELECT vec_id, CAST(cell AS INTEGER) AS cell
       |FROM sims
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) = 1
       |ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------- B21: CSV source round-trip
  private def qSourceCsv(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .filter(col("event_id") % 7 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val out = scratchDir("graft_csv_") + "/events_csv"
    Sources.write(ev, out, "csv")
    Sources.read(s, out, "csv", Some(ev.schema)).orderBy("event_id")
  }

  private val qSourceCsvSql =
    """SELECT event_id, user_id, event_type, value
      |FROM events WHERE event_id % 7 = 0
      |ORDER BY event_id""".stripMargin

  // --------------------------- B21: JSON and ORC source round-trips
  // Same shape as q_source_csv: write a filtered slice through the
  // format, read it back with an explicit schema, and let the oracle
  // (which reads the original parquet) pin that the round-trip is
  // lossless. Long/string/double columns only — JSON has no native
  // timestamp type and the formats' timestamp affinities differ.
  private def qSourceJson(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .filter(col("event_id") % 11 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val out = scratchDir("graft_json_") + "/events_json"
    Sources.write(ev, out, "json")
    Sources.read(s, out, "json", Some(ev.schema)).orderBy("event_id")
  }

  private val qSourceJsonSql =
    """SELECT event_id, user_id, event_type, value
      |FROM events WHERE event_id % 11 = 0
      |ORDER BY event_id""".stripMargin

  private def qSourceOrc(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .filter(col("event_id") % 13 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val out = scratchDir("graft_orc_") + "/events_orc"
    Sources.write(ev, out, "orc")
    Sources.read(s, out, "orc", Some(ev.schema)).orderBy("event_id")
  }

  private val qSourceOrcSql =
    """SELECT event_id, user_id, event_type, value
      |FROM events WHERE event_id % 13 = 0
      |ORDER BY event_id""".stripMargin

  // ------------------------------------- B22: partition-pruned model read
  // Materializes a partition_by model, then reads one partition back; the
  // pruned-scan plan shape is pinned by PlanShapeSpec.
  private def qPartitionPrune(s: SparkSession, dir: String): DataFrame = {
    val whDir = scratchDir("graft_wh_part_")
    val wh = new Warehouse(s, whDir, StateStore(whDir + "/state"))
    val mat = new Materializer(wh)
    val df = Tables.load(s, dir, "events")
      .withColumn("event_date", to_date(col("ts")))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("event_date"))
    mat.materialize(ModelConfig("ev_part", materialized = "table",
      meta = Map("partition_by" -> "event_date")), df)
    wh.read("ev_part")
      .filter(col("event_date") === lit("2024-01-05").cast("date"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("event_date"))
      .orderBy("event_id")
  }

  private val qPartitionPruneSql =
    """SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS event_date
      |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'
      |ORDER BY event_id""".stripMargin

  // ---------------- B32: range-clustered layout (CLUSTER BY) round-trip
  // Writes events range-clustered on ts (disjoint per-file ranges →
  // parquet min/max stats skip row groups on range scans; the disjoint-
  // ness itself is unit-asserted in WarehouseSpec), then answers a
  // 2-day slice through the clustered table.
  private def qRangeCluster(s: SparkSession, dir: String): DataFrame = {
    val whDir = scratchDir("graft_wh_range_")
    val wh = new Warehouse(s, whDir, StateStore(whDir + "/state"))
    // numFiles auto-sized by BYTES (the production default) with a
    // bench-scale target: ~8 files on the small testdata, tracking data
    // volume at every scale probe instead of silently growing each file
    // (the fixed-8 layout measured a 9.5x write slope at 30x).
    wh.writeVersionRangeClustered("ev_range",
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")),
      Seq("ts"), targetFileBytes = BenchTargetFileBytes)
    wh.read("ev_range")
      .filter(col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-07 00:00:00").cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), graft.ExactAgg.dsum(col("value")).as("total_value"))
      .orderBy("event_type")
  }

  private val qRangeClusterSql =
    s"""SELECT event_type, COUNT(*) AS n,
       |  ${graft.ExactAgg.sqlSum("value")} AS total_value
       |FROM events
       |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
       |  AND ts < TIMESTAMP '2024-01-07 00:00:00'
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------- C100: Z-order clustered layout
  // Events written Morton-clustered on (user_id, ts_us); the query
  // re-derives the z-value over the read-back table (same corpus-wide
  // min/max stats -> identical buckets) and aggregates a 2-D box
  // filter INCLUDING min/max z per group — so the oracle hash pins the
  // whole bucket+interleave integer chain, not just layout-invariant
  // row content. Buckets/interleave are exact 64-bit arithmetic on
  // both engines (bit i = (x div 2^i) mod 2, no float anywhere).
  private val ZBits = 16

  // Bench-scale byte target for the clustered layouts: ~8 files on the
  // tiny sf0.1 events table (matching the historic fixed count at 1x)
  // while letting the count grow with the data at the 10x/30x scale
  // probes. Production callers keep Warehouse.DefaultTargetFileBytes.
  private val BenchTargetFileBytes = 256L * 1024
  private val ZUserLo = 2L
  private val ZUserHi = 7L
  private val ZTsLo = "2024-01-05 00:00:00"
  private val ZTsHi = "2024-01-12 00:00:00"

  private def qZorder(s: SparkSession, dir: String): DataFrame = {
    val whDir = scratchDir("graft_wh_z_")
    val wh = new Warehouse(s, whDir, StateStore(whDir + "/state"))
    // byte-sized like q_range_cluster above: layout file count tracks
    // data volume; results are layout-invariant either way.
    wh.writeVersionZOrdered("ev_z",
      Tables.load(s, dir, "events")
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value")),
      "user_id", "ts_us", bits = ZBits,
      targetFileBytes = BenchTargetFileBytes)
    val back = graft.ops.ZOrder.withZValue(
      wh.read("ev_z"), "user_id", "ts_us", ZBits)
    back
      .filter(col("user_id").between(ZUserLo, ZUserHi) &&
        col("ts_us") >= unix_micros(lit(ZTsLo).cast("timestamp")) &&
        col("ts_us") < unix_micros(lit(ZTsHi).cast("timestamp")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.ExactAgg.dsum(col("value")).as("total_value"),
        min(col("__z")).as("z_min"), max(col("__z")).as("z_max"))
      .orderBy("event_type")
  }

  private val qZorderSql = {
    // bit i of x as ((x // 2^i) % 2) — integral everywhere
    def morton(ba: String, bb: String) =
      (0 until ZBits).map { i =>
        s"(($ba // ${1L << i}) % 2) * ${1L << (2 * i)} + " +
          s"(($bb // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
      }.mkString(" + ")
    s"""WITH st AS (
       |  SELECT MIN(user_id) AS amin, MAX(user_id) AS amax,
       |    MIN(epoch_us(ts)) AS bmin, MAX(epoch_us(ts)) AS bmax
       |  FROM events),
       |z AS (
       |  SELECT e.event_type, e.value,
       |    e.user_id, epoch_us(e.ts) AS ts_us,
       |    ${morton(
      s"(((e.user_id - st.amin) * ${1L << ZBits}) // (st.amax - st.amin + 1))",
      s"(((epoch_us(e.ts) - st.bmin) * ${1L << ZBits}) // (st.bmax - st.bmin + 1))")} AS zv
       |  FROM events e CROSS JOIN st)
       |SELECT event_type, COUNT(*) AS n,
       |  ${graft.ExactAgg.sqlSum("value")} AS total_value,
       |  CAST(MIN(zv) AS BIGINT) AS z_min, CAST(MAX(zv) AS BIGINT) AS z_max
       |FROM z
       |WHERE user_id BETWEEN $ZUserLo AND $ZUserHi
       |  AND ts_us >= epoch_us(TIMESTAMP '$ZTsLo')
       |  AND ts_us < epoch_us(TIMESTAMP '$ZTsHi')
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // ----------------------------------------------------------------------
  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_minhash_capped" -> qDedupMinhashCapped _,
    "q_ann_ivf" -> qAnnIvf _,
    "q_embed_quantize" -> qEmbedQuantize _,
    "q_neardup_pairs" -> qNeardupPairs _,
    "q_embed_outliers" -> qEmbedOutliers _,
    "q_skew_join" -> qSkewJoin _,
    "q_sample_stratified" -> qSampleStratified _,
    "q_stream_sessionize" -> qStreamSessionize _,
    "q_stream_window_live" -> qStreamWindowLive _,
    "q_stream_enrich" -> qStreamEnrich _,
    "q_session_window" -> qSessionWindow _,
    "q_stream_dedup" -> qStreamDedup _,
    "q_attribution" -> qAttribution _,
    "q_stream_ivf" -> qStreamIvf _,
    "q_source_csv" -> qSourceCsv _,
    "q_source_json" -> qSourceJson _,
    "q_source_orc" -> qSourceOrc _,
    "q_partition_prune" -> qPartitionPrune _,
    "q_range_cluster" -> qRangeCluster _,
    "q_zorder" -> qZorder _)

  override val oracleSql: Map[String, String] = Map(
    "q_ann_ivf" -> qAnnIvfSql,
    "q_embed_quantize" -> qEmbedQuantizeSql,
    "q_dedup_minhash_capped" -> qDedupMinhashCappedSql,
    "q_neardup_pairs" -> qNeardupPairsSql,
    "q_embed_outliers" -> qEmbedOutliersSql,
    "q_skew_join" -> qSkewJoinSql,
    "q_sample_stratified" -> qSampleStratifiedSql,
    "q_stream_sessionize" -> qStreamSessionizeSql,
    "q_stream_window_live" -> qStreamWindowLiveSql,
    "q_stream_enrich" -> qStreamEnrichSql,
    "q_session_window" -> qSessionWindowSql,
    "q_stream_dedup" -> qStreamDedupSql,
    "q_attribution" -> qAttributionSql,
    "q_stream_ivf" -> qStreamIvfSql,
    "q_source_csv" -> qSourceCsvSql,
    "q_source_json" -> qSourceJsonSql,
    "q_source_orc" -> qSourceOrcSql,
    "q_partition_prune" -> qPartitionPruneSql,
    "q_range_cluster" -> qRangeClusterSql,
    "q_zorder" -> qZorderSql)
}
