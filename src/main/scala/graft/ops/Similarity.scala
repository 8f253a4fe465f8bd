package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (Array[Float]).
  *
  * Brute-force cosine top-k is the correctness baseline: a broadcast of
  * the (small) query set against a full scan of candidates — one
  * map-side pass + a per-query top-k, no shuffle of the candidate table.
  * The scale path is random-hyperplane LSH bucketing: at 100 TB you
  * pre-bucket candidates once, then probe only matching buckets.
  *
  * All arithmetic goes through graft's native vector expressions
  * (functions/VectorExprs.scala) — tight codegen'd primitive loops with
  * the same sequential left-to-right fold semantics as the
  * `aggregate(zip_with(...))` formulations they replace (kept below as
  * differential-test twins), so results are deterministic, bit-identical
  * to the DuckDB oracles, and free of per-element boxing in the hot
  * path.
  */
object Similarity {

  /** Production default for the embedding-LSH bucket cap on
    * [[nearDupPairs]] (cf. [[Dedup.DefaultMaxBucketSize]] for the text
    * family): buckets larger than this are dropped before the in-bucket
    * self-join. 256 is the cap the bench query ships (`NdMaxBucket`) —
    * embedding-LSH buckets are coarser than text bands (2^planesPerBand
    * cells per band), so the honest-bucket bound sits higher than the
    * text default. A spike of degenerate (near-zero / constant) vectors
    * lands in one bucket and would otherwise go quadratic; pass
    * [[Dedup.Uncapped]] explicitly for exhaustive small-corpus
    * baselines. */
  val DefaultMaxBucketSize: Int = 256
  import graft.functions.VectorExprs

  /** Dot product of two array<float|double> columns (sequential fold). */
  def dot(a: Column, b: Column): Column = VectorExprs.vecDot(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = VectorExprs.vecNorm(a)

  /** Cosine similarity of two array<float|double> columns. */
  def cosine(a: Column, b: Column): Column = VectorExprs.vecCosine(a, b)

  /** Higher-order-function twins of dot/norm/cosine — the formulations
    * the native expressions replaced; retained for differential specs. */
  private[ops] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
  private[ops] def normHof(a: Column): Column = sqrt(dotHof(a, a))
  private[ops] def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (normHof(a) * normHof(b))

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Per-query top-k of a scored candidate set via the custom bounded
    * TopKByScore aggregate (functions/TopKAgg.scala): partial aggregation
    * ships ≤ k rows per query through the shuffle, vs the window
    * formulation shuffling every candidate. Output: query_id, rank,
    * neighbor_id, cosine_sim — identical ordering/tie-break semantics
    * ((score desc, id asc)) to Window+row_number. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(call_function("topk_by_score",
        col("cosine_sim"), col("neighbor_id"), lit(k)).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").as("cosine_sim"))

  /** Window-based top-k — the formulation TopKByScore replaces; retained
    * as the differential-testing twin. */
  private[ops] def topKPerQueryWindow(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine_sim"))
  }

  /** Exact top-k neighbors by cosine for each query vector.
    *
    * @param queries    small DataFrame (queryIdCol, vecCol) — broadcast
    * @param candidates large DataFrame (candIdCol, vecCol) — scanned once
    * Output: query_id, rank (1-based), neighbor_id, cosine_sim.
    */
  def bruteForceTopK(
      queries: DataFrame, candidates: DataFrame,
      queryIdCol: String, candIdCol: String, vecCol: String,
      k: Int): DataFrame = {
    // Norms are precomputed once per row (numerically identical to
    // inlining them: same expression tree per value), so each of the
    // N x Q pair evaluations folds one array, not three.
    val q = queries.select(col(queryIdCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = candidates.select(col(candIdCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine_sim",
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    topKPerQuery(scored, k)
  }

  /** Deterministic pseudo-random hyperplane for plane index `globalPlane`:
    * component d is an md5-derived value in [-0.5, 0.5). Seedless and
    * engine-stable (DuckDB re-derives the identical planes in the oracle),
    * and computed ONCE on the driver — the plane rides into the plan as a
    * literal array, so the per-row work is a pure multiply-add fold with
    * no hashing in the hot path. */
  private[ops] def planeVector(globalPlane: Int, dim: Int): Array[Double] =
    Array.tabulate(dim)(d => hashComponent(s"plane$globalPlane:$d"))

  /** md5-derived value in [-0.5, 0.5) for a tag — delegates to the one
    * shared primitive ([[graft.functions.HashImpl.hashUnit]]) so the
    * oracle-mirrored constants live in a single place. */
  private def hashComponent(tag: String): Double =
    graft.functions.HashImpl.hashUnit(tag.getBytes("UTF-8"))

  /** Deterministic md5-derived IVF centroids (component d of cell c is
    * hashComponent("cell{c}:{d}")) — engine-stable, so a DuckDB oracle
    * can re-derive the exact cell assignment, unlike Lloyd-trained
    * centroids whose float means are engine-internal. For driver
    * queries and tests; production paths train real centroids with
    * [[trainCentroids]]. */
  def hashCentroids(numCells: Int, dim: Int): Array[(Int, List[Double])] =
    Array.tabulate(numCells) { c =>
      (c, List.tabulate(dim)(d => hashComponent(s"cell$c:$d")))
    }

  /** Vector width, read from one non-null row (on a real lake this is
    * fixed schema metadata; reading a single row keeps the API
    * self-contained). A leading NULL embedding must not poison the probe
    * (size(NULL) is NULL). A legitimately EMPTY corpus returns dim 0 —
    * every LSH entry point then degenerates to an empty result, which is
    * the right answer for empty input — while a non-empty corpus whose
    * vector column is entirely NULL fails with a clear message instead
    * of silently producing zero planes. */
  private[graft] def vecDim(df: DataFrame, vecCol: String): Int =
    df.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("d")).limit(1).collect()
      .headOption.map(_.getInt(0))
      .getOrElse {
        if (df.isEmpty) 0
        else throw new IllegalArgumentException(
          s"cannot infer vector dimension: '$vecCol' has no non-null values")
      }

  /** numPlanes sign-bits of the projection onto the planes of plane-set
    * `band` (plane indices are namespaced by band so every band uses an
    * independent set of hyperplanes). */
  private def planeSignature(
      vec: Column, band: Int, numPlanes: Int, dim: Int): Column = {
    // dim 0 = empty corpus (vecDim's empty-input signal): an empty plane
    // literal would type as array<null> and fail vec_dot's check — emit
    // a constant bucket instead; there are no rows to bucket anyway.
    if (dim == 0) return lit(0L)
    val v = asDouble(vec)
    (0 until numPlanes).map { p =>
      val w = array(planeVector(band * numPlanes + p, dim).map(lit): _*)
      val proj = dot(v, w)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** Multi-band hyperplane LSH (the MinHash-banding structure applied to
    * hyperplane signatures): `numBands` independent plane-sets of
    * `planesPerBand` planes each. A vector lands in one bucket per band —
    * output is exploded to one row per (band_id, bucket). Bucket space is
    * numBands·2^planesPerBand and grows with planesPerBand (pruning),
    * while recall is recovered by matching in ANY band (numBands knobs),
    * instead of a single fixed 2^8 space. */
  def lshBandBuckets(
      df: DataFrame, vecCol: String,
      numBands: Int, planesPerBand: Int): DataFrame = {
    val dim = vecDim(df, vecCol)
    val bands = (0 until numBands).map { b =>
      struct(lit(b).as("band_id"),
        planeSignature(col(vecCol), b, planesPerBand, dim).as("bucket"))
    }
    df.select(col("*"), explode(array(bands: _*)).as("__band"))
      .select(col("*"), col("__band.band_id"), col("__band.bucket"))
      .drop("__band")
  }

  /** Bucketed ANN: probe only candidates sharing one of the query's LSH
    * band buckets, then rank within the (much smaller) collision set.
    * planesPerBand controls pruning (bucket count 2^b per band); numBands
    * controls recall (a true neighbor is found if it collides in ANY
    * band). A pair colliding in several bands is deduplicated before
    * scoring. */
  def lshTopK(
      queries: DataFrame, candidates: DataFrame,
      queryIdCol: String, candIdCol: String, vecCol: String,
      k: Int, numBands: Int = 4, planesPerBand: Int = 8): DataFrame = {
    val qb = lshBandBuckets(
      queries.select(col(queryIdCol).as("query_id"), col(vecCol)),
      vecCol, numBands, planesPerBand)
      .select(col("query_id"), asDouble(col(vecCol)).as("qv"),
        col("band_id"), col("bucket"))
      .withColumn("qn", norm(col("qv")))
    val cb = lshBandBuckets(
      candidates.select(col(candIdCol).as("neighbor_id"), col(vecCol)),
      vecCol, numBands, planesPerBand)
      .select(col("neighbor_id"), asDouble(col(vecCol)).as("cv"),
        col("band_id"), col("bucket"))
      .withColumn("cn", norm(col("cv")))
    // Score BEFORE deduplicating band collisions: the cosine is
    // deterministic, so every duplicate of a pair carries the identical
    // score and dedup-after-scoring is result-identical — but the dedup
    // exchange now moves (query_id, neighbor_id, cosine_sim) scalars
    // instead of two dim-wide vectors per candidate pair.
    val scored = cb.join(broadcast(qb), Seq("band_id", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine_sim",
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"))
      .dropDuplicates("query_id", "neighbor_id") // same pair via several bands
    topKPerQuery(scored, k)
  }

  /** IVF-flat ANN: partition candidates into Voronoi cells around K
    * centroids (deterministically seeded: lowest-id vectors, optionally
    * refined by a few Lloyd iterations); queries probe only the nProbe
    * nearest cells. The inverted-list scan is the 100 TB path: cell
    * assignment is one broadcast-compare map pass, and a probe touches
    * ~nProbe/K of the corpus instead of all of it.
    */
  def ivfTopK(
      queries: DataFrame, candidates: DataFrame,
      queryIdCol: String, candIdCol: String, vecCol: String,
      k: Int, numCells: Int = 16, nProbe: Int = 4,
      lloydIters: Int = 2): DataFrame = {
    val centroids = trainCentroids(candidates, candIdCol, vecCol, numCells, lloydIters)
    probeCells(indexCells(candidates, candIdCol, vecCol, centroids),
      queries, queryIdCol, vecCol, k, nProbe, centroids)
  }

  /** Per-(key, dim) mean of an array column's components — the one
    * distributed mean-vector pipeline behind both Lloyd refinement and
    * group centroids. ALWAYS the scaled-sum exact mean
    * ([[graft.ExactAgg.davg]]): bit-identical across engines AND
    * partitionings, which makes Lloyd-trained centroids re-derivable by
    * the DuckDB oracle (q_ann_ivf) and Lloyd itself reproducible
    * run-to-run on a cluster (a float avg drifts with partition merge
    * order, so the same corpus could train different centroids on
    * different cluster widths). Output: keyCol, dim, m. */
  private def perDimMeans(
      df: DataFrame, keyCol: String, vecCol: String): DataFrame =
    df.select(col(keyCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col(keyCol), col("dim"))
      .agg(graft.ExactAgg.davg(col("x")).as("m"))

  private def prepCandidates(
      candidates: DataFrame, candIdCol: String, vecCol: String): DataFrame =
    candidates.select(col(candIdCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))

  /** Train IVF centroids: seed with the lowest-id vectors
    * (deterministic), refine with a few Lloyd iterations. The mean of
    * each cell is computed fully distributed — posexplode to (cell, dim,
    * value), partial-aggregated per (cell, dim) — so the driver only
    * ever receives K×dim scalars (the centroids themselves), never
    * candidate vectors. */
  def trainCentroids(
      candidates: DataFrame, candIdCol: String, vecCol: String,
      numCells: Int = 16, lloydIters: Int = 2): Array[(Int, List[Double])] = {
    val c = prepCandidates(candidates, candIdCol, vecCol)
    var centroids: Array[(Int, List[Double])] = c
      .orderBy(col("neighbor_id")).limit(numCells).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1).toList) }
    for (_ <- 1 to lloydIters) {
      val assigned = assignCells(c, centroids, "cv")
      val means = perDimMeans(assigned, "cell", "cv")
        .groupBy(col("cell"))
        .agg(map_from_arrays(
          collect_list(col("dim")), collect_list(col("m"))).as("mm"))
        .collect()
      centroids = means.map { r =>
        val mm = r.getMap[Int, Double](1)
        (r.getInt(0), (0 until mm.size).map(mm).toList)
      }.sortBy(_._1)
    }
    centroids
  }

  /** Standalone spherical k-means clustering (Lloyd 1982 / Dhillon &
    * Modha 2001 — cosine assignment is the standard for unit-norm text
    * embeddings): the curation-side clustering primitive behind
    * SemDeDup-style cluster-then-dedup, per-cluster diversity sampling,
    * and corpus cartography, exposed directly instead of buried inside
    * [[ivfTopK]]'s index build.
    *
    * Determinism contract: seeds are the lowest-id vectors and every
    * Lloyd mean runs through [[graft.ExactAgg.davg]] scaled-long sums,
    * so the trained centroids — and therefore every assignment — are
    * bit-identical across engines, partitionings, and cluster widths
    * (the [[trainCentroids]] property; a float mean would train
    * different clusters on different clusters). Assignment ties break
    * (sim DESC, cell DESC), mirroring assignCells.
    *
    * Scale shape: training is lloydIters × (pure-map assignment +
    * per-(cell,dim) partial-aggregated mean — the driver only ever sees
    * k×dim scalars); final assignment is one more map pass with the k
    * centroids riding as literals; cluster sizes are a k-row aggregate
    * broadcast back. No shuffle is ever keyed on anything wider than
    * (cell, dim).
    *
    * Output: idCol, cell (int), cluster_n (long members in the row's
    * cluster). */
  def kmeans(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, lloydIters: Int = 2): DataFrame = {
    require(k > 0, "k must be positive")
    val centroids = trainCentroids(df, idCol, vecCol, k, lloydIters)
    val assigned = indexCells(df, idCol, vecCol, centroids)
    val sizes = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("cluster_n"))
    assigned.select(col("neighbor_id").as(idCol), col("cell"))
      .join(broadcast(sizes), Seq("cell"))
      .select(col(idCol), col("cell"), col("cluster_n"))
  }

  /** The inverted-file index rows for a candidate set: (neighbor_id, cv
    * double vector, cn precomputed norm, cell). Pure map stage — this is
    * what a streaming maintainer appends per micro-batch
    * ([[graft.streaming.IndexStreams]]). */
  def indexCells(
      candidates: DataFrame, candIdCol: String, vecCol: String,
      centroids: Array[(Int, List[Double])]): DataFrame =
    assignCells(prepCandidates(candidates, candIdCol, vecCol), centroids, "cv")

  /** Probe an IVF index: queries visit only their nProbe nearest cells;
    * ranking is the bounded top-k aggregate. `cells` is
    * [[indexCells]]-shaped (possibly read back from a cell-partitioned
    * index on disk). */
  def probeCells(
      cells: DataFrame, queries: DataFrame,
      queryIdCol: String, vecCol: String,
      k: Int, nProbe: Int,
      centroids: Array[(Int, List[Double])]): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val qCells = assignCells(q, centroids, "qv", topN = nProbe)
    val scored = cells.join(broadcast(qCells), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine_sim",
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    topKPerQuery(scored, k)
  }

  /** Assign each row's vector to its nearest centroid(s) by cosine.
    * Centroids ride along as literal arrays (they are tiny), so this is a
    * pure map stage. topN > 1 multi-probes. */
  private def assignCells(
      df: DataFrame, centroids: Array[(Int, List[Double])],
      vc: String, topN: Int = 1): DataFrame = {
    val scoredCells = array(centroids.map { case (i, vec) =>
      val cvec = array(vec.map(lit): _*)
      struct(cosine(col(vc), cvec).as("sim"), lit(i).as("cell"))
    }: _*)
    val top = reverse(array_sort(scoredCells))
    if (topN == 1)
      df.withColumn("cell", top.getItem(0).getField("cell"))
    else
      df.withColumn("cell",
        explode(transform(slice(top, 1, topN), s => s.getField("cell"))))
  }

  /** Per-vector symmetric int8 quantization: component j maps to
    * round(x_j / scale) with scale = max|x| / 127 — the standard
    * storage layout for billion-vector ANN corpora (4× smaller than
    * float32, dequantized error ≤ scale/2 per component). Pure map
    * stage, exact IEEE arithmetic: abs/max/divide/floor are exactly
    * rounded, and rounding is floor(x + 0.5) — ties toward +inf,
    * chosen over a platform round() because round-half-even vs
    * half-away differs between engines while floor is exact on all of
    * them — so the bytes are bit-identical. An all-zero vector gets
    * scale 0 and zero bytes (no division happens).
    *
    * Output: original columns + scale (double) + qvec (array<tinyint>).
    * Reconstruct with [[dequantize]]; [[bruteForceTopK]] over
    * dequantized vectors is the recall check (spec-pinned). */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("scale",
      array_max(transform(asDouble(col(vecCol)), x => abs(x))) / lit(127.0))
      .withColumn("qvec",
        transform(asDouble(col(vecCol)), x =>
          when(col("scale") > 0,
            floor(x / col("scale") + lit(0.5)).cast("byte"))
            .otherwise(lit(0).cast("byte"))))

  /** Reconstruct a double vector from int8 quantization. */
  def dequantize(qvec: Column, scale: Column): Column =
    transform(qvec, q => q.cast("double") * scale)

  /** Embedding outlier detection: each group's centroid is the per-
    * dimension EXACT scaled-sum mean ([[graft.ExactAgg.davg]] — bit-
    * identical across engines and partitionings, unlike a naive float
    * avg), and the k members least cosine-similar to their group's
    * centroid are flagged — the "mislabeled / noisy embedding" signal a
    * curation pipeline filters on.
    *
    * Scale shape: one posexplode→aggregate for the centroids (groups ×
    * dim rows — tiny, broadcast back), one map pass to score, and the
    * bounded top-k aggregate per group (≤ k rows/group through the
    * shuffle). Never doc×doc.
    *
    * Output: groupCol, rank (1-based, most-outlying first), idCol. */
  def groupOutliers(
      df: DataFrame, idCol: String, vecCol: String, groupCol: String,
      k: Int = 10): DataFrame = {
    val v = df.select(col(groupCol), col(idCol), asDouble(col(vecCol)).as("v"))
    val cent = perDimMeans(v, groupCol, "v")
      .groupBy(col(groupCol))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("cm"))
      .select(col(groupCol),
        transform(col("cm"), s => s.getField("m")).as("centroid"))
    // negate: topk_by_score keeps the HIGHEST scores, we want the least
    // similar; ties break on the smaller id, matching ORDER BY sim, id.
    // Unscorable vectors (zero norm / length mismatch → NULL cosine)
    // are excluded EXPLICITLY: TopKByScore would skip null scores
    // anyway, but a silent skip would diverge from any external
    // re-derivation that ranks NaN rows.
    val scored = v.join(broadcast(cent), Seq(groupCol))
      .withColumn("neg_sim", -cosine(col("v"), col("centroid")))
      .filter(col("neg_sim").isNotNull)
    scored.groupBy(col(groupCol))
      .agg(call_function("topk_by_score",
        col("neg_sim"), col(idCol), lit(k)).as("tk"))
      .select(col(groupCol), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col(groupCol), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as(idCol))
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold,
    * restricted to multi-band LSH-bucket collisions (the scalable
    * formulation of "all pairs with cosine > t"). planesPerBand sets the
    * per-band bucket count (2^b — pruning grows with it), numBands sets
    * recall, and maxBucketSize bounds the per-bucket self-join fan-out so
    * one degenerate bucket (e.g. a spike of near-zero vectors) can't go
    * quadratic (see [[Dedup.boundBuckets]]). */
  def nearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numBands: Int = 4, planesPerBand: Int = 8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val b0 = lshBandBuckets(df.select(col(idCol), col(vecCol)),
      vecCol, numBands, planesPerBand)
      .select(col(idCol), asDouble(col(vecCol)).as("v"),
        col("band_id"), col("bucket"))
    val b =
      if (maxBucketSize == Int.MaxValue) b0
      else Dedup.boundBuckets(b0, Seq("band_id", "bucket"), maxBucketSize)
    // Score and threshold-filter map-side, BEFORE the band-collision
    // dedup: duplicates of a pair have the identical deterministic
    // cosine, so the result is unchanged, but the dedup exchange carries
    // (a, b, cosine_sim) scalars instead of two dim-wide vectors.
    b.select(col("band_id"), col("bucket"), col(idCol).as("a"), col("v").as("va"))
      .join(
        b.select(col("band_id"), col("bucket"), col(idCol).as("b"), col("v").as("vb")),
        Seq("band_id", "bucket"))
      .filter(col("a") < col("b"))
      .withColumn("cosine_sim", cosine(col("va"), col("vb")))
      .filter(col("cosine_sim") > threshold)
      .select(col("a"), col("b"), col("cosine_sim"))
      .dropDuplicates("a", "b") // same pair via several bands → keep once
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space into cells, and
    * inside each cell drop every vector that is ≥ threshold cosine-
    * similar to a HIGHER-PRIORITY cell-mate, where priority is
    * (lower centroid similarity, then lower id) — the paper's "keep
    * the member farthest from the centroid" rule made into a total
    * order, so the kept set is deterministic without computing
    * transitive closure. Cells here are the deterministic md5
    * [[hashCentroids]] (engine-reproducible, oracle-checkable);
    * production swaps in [[trainCentroids]] output — the paper's
    * k-means — without touching the pruning logic.
    *
    * Scale shape: cell assignment is a pure map (centroids ride along
    * as literals); the only pairwise work is the within-cell self-join,
    * which is the SemDeDup design point — numCells grows with the
    * corpus so cells stay ~constant-sized, and `maxCellSize` hard-
    * bounds the fan-out against a degenerate cell (a spike of
    * near-identical junk vectors). Unlike [[Dedup.boundBuckets]]' row
    * drop, oversized cells are EXEMPTED, not erased: their members come
    * back kept=true with bounded=true, so a caller filtering
    * kept=false never silently retains a junk spike without a signal —
    * route bounded=true rows to exact/LSH dedup (the standard
    * practice). The cell-size window uses the same hash partitioning
    * the join needs. The join carries (id, csim, vector) and exchanges
    * hash-partition on cell — never all-pairs across cells.
    *
    * Zero-norm / NULL vectors have NULL csim and NULL pair cosines:
    * they are never pruned and never prune others (comparisons with
    * NULL are false) — the caller decides their policy.
    *
    * Output: one row per input vector: idCol, cell, csim (cosine to
    * own centroid), kept (false = pruned as a semantic duplicate),
    * bounded (true = cell exceeded maxCellSize, pruning skipped). */
  def semDedup(
      df: DataFrame, idCol: String, vecCol: String,
      numCells: Int, threshold: Double,
      maxCellSize: Int = Int.MaxValue): DataFrame = {
    val dim = vecDim(df, vecCol)
    if (dim == 0)
      return df.select(col(idCol), lit(0).cast("int").as("cell"),
        lit(0.0).as("csim"), lit(true).as("kept"),
        lit(false).as("bounded")).limit(0)
    val centroids = hashCentroids(numCells, dim)
    // assignCells keeps only the winning cell id; here the winner's
    // similarity IS the priority key, so keep (cell, csim) together.
    val scoredCells = array(centroids.map { case (i, vec) =>
      val cvec = array(vec.map(lit): _*)
      struct(cosine(col("v"), cvec).as("sim"), lit(i).as("cell"))
    }: _*)
    val a0 = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("__top", reverse(array_sort(scoredCells)).getItem(0))
      .select(col(idCol), col("v"),
        col("__top").getField("cell").as("cell"),
        col("__top").getField("sim").as("csim"))
    val a =
      if (maxCellSize == Int.MaxValue) a0.withColumn("bounded", lit(false))
      else a0.withColumn("bounded",
        count(lit(1)).over(Window.partitionBy(col("cell"))) > maxCellSize)
    val joinable = a.filter(!col("bounded"))
    // x is pruned iff some cell-mate y with strictly-smaller
    // (csim, id) is ≥ threshold similar. Left-semi: the dropped set,
    // one row per x regardless of how many y's kill it.
    val dropped = joinable.select(col("cell"), col(idCol).as("__x"),
      col("csim").as("__xs"), col("v").as("__xv"))
      .join(joinable.select(col("cell"), col(idCol).as("__y"),
        col("csim").as("__ys"), col("v").as("__yv")),
        Seq("cell"))
      .filter((col("__ys") < col("__xs")) ||
        (col("__ys") === col("__xs") && col("__y") < col("__x")))
      .filter(cosine(col("__xv"), col("__yv")) >= threshold)
      .select(col("__x")).distinct()
      .withColumn("__dropped", lit(true))
    a.join(dropped, a(idCol) === dropped("__x"), "left")
      .select(a(idCol), col("cell").cast("int").as("cell"), col("csim"),
        not(coalesce(col("__dropped"), lit(false))).as("kept"),
        col("bounded"))
  }

  // ----------------------------------------- product quantization

  /** Product-quantization (PQ) encoding — the storage layout for
    * billion-vector ANN beyond [[quantizeInt8]] (Jégou et al. 2011,
    * "Product Quantization for Nearest Neighbor Search", IEEE TPAMI):
    * the vector splits into `m` contiguous subvectors, each quantized
    * to the nearest of `k` subspace centroids by squared L2 (ties to
    * the smaller code), so a dim-D float vector stores as m small codes
    * — 4·D/m× compression with distances computable from per-query
    * code tables.
    *
    * Centroids are the deterministic md5-derived stand-ins (component d
    * of code c in subspace s = hashUnit("pq{s}:{c}:{d}")) so a DuckDB
    * oracle re-derives the exact assignment — the [[hashCentroids]] /
    * QualityModel.hashWeights model seam; production swaps per-subspace
    * trained centroids (e.g. [[trainCentroids]] per slice) without
    * touching the plan shape.
    *
    * Scale shape: centroids ride into the plan as literals; encoding is
    * a PURE MAP over rows (m·k left-associated multiply-add folds,
    * codegen'd, no hashing in the hot path, NO shuffle) — a
    * billion-vector encode is one map stage fused into the scan. NULL
    * or wrong-width vectors yield NULL codes, one row per subspace
    * either way (no evidence → no silent drop, the [[quantizeInt8]]
    * convention). Argmin compares IEEE doubles computed in the same
    * order on both engines; md5 centroids make exact distance ties
    * (beyond identical subvectors, which the code tie-break handles)
    * not a practical concern — the [[semDedup]] float discipline.
    *
    * Output: idCol, sub (0-based subspace), code (0-based centroid). */
  def pqEncode(
      df: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16): DataFrame = {
    val dim = vecDim(df, vecCol)
    val codes = pqCodeArray(vecCol, m, k, dim)
    val nulls = array((0 until m).map(_ => lit(null).cast("int")): _*)
    graft.ops.Dedup.fanOut(df).select(col(idCol),
      posexplode(coalesce(codes, nulls)).as(Seq("sub", "code")))
  }

  /** The m nearest-centroid codes for one vector as ONE array column —
    * shared by the long ([[pqEncode]]) and wide ([[pqEncodeWide]])
    * layouts so the two can never disagree on an assignment. NULL (the
    * whole array) for NULL / wrong-width vectors. */
  private def pqCodeArray(vecCol: String, m: Int, k: Int, dim: Int): Column = {
    require(m >= 1 && dim % m == 0,
      s"vector dim $dim must split into m=$m equal subspaces")
    require(k >= 2 && k <= 256, "k in [2, 256] (codes are byte-sized)")
    val sub = dim / m
    def codeFor(s: Int): Column = {
      val cands = (0 until k).map { c =>
        val dist = pqSubDist(col(vecCol), s, c, sub)
        struct(dist.as("dist"), lit(c).as("code"))
      }
      // struct ordering = (dist, code) lexicographic → argmin with
      // ties to the smaller code
      array_min(array(cands: _*)).getField("code")
    }
    val valid = col(vecCol).isNotNull && size(col(vecCol)) === dim
    when(valid, array((0 until m).map(codeFor): _*))
      .otherwise(lit(null).cast("array<int>"))
  }

  /** [[pqEncode]] in the PRODUCTION (wide) layout: one row per vector,
    * codes as a single array&lt;int&gt; column — the form a 100 TB code
    * store persists, because [[pqSearchWide]] can then score straight
    * off the scan with NO reassembly aggregate. NULL / wrong-width
    * vectors keep their row with a NULL code word (no evidence → no
    * silent drop). Same pure-map scale shape as [[pqEncode]].
    *
    * Output: idCol, codes (array&lt;int&gt;, length m, or NULL). */
  def pqEncodeWide(
      df: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16): DataFrame = {
    val dim = vecDim(df, vecCol)
    graft.ops.Dedup.fanOut(df).select(col(idCol),
      pqCodeArray(vecCol, m, k, dim).as("codes"))
  }

  /** Squared L2 from the subvector starting at s·sub (1-based array
    * slots) to md5 centroid (s, c): a left-associated + chain of
    * exactly-rounded IEEE ops, mirrored token-for-token by the DuckDB
    * oracles' list_reduce fold — shared by [[pqEncode]]'s argmin and
    * [[pqSearch]]'s distance tables so the two sides can never
    * disagree on a distance. */
  private def pqSubDist(vec: Column, s: Int, c: Int, sub: Int): Column = {
    val cen = Array.tabulate(sub)(d => hashComponent(s"pq$s:$c:$d"))
    (0 until sub).map { d =>
      val diff = element_at(vec, s * sub + d + 1).cast("double") - lit(cen(d))
      diff * diff
    }.reduce(_ + _) // left-assoc: the oracle's flat + chain
  }

  /** Scaled-integer factor for ADC distance table entries: per-subspace
    * squared L2 is floored at 1e9 so per-(query, doc) sums are EXACT
    * long adds (order-independent — the ExactAgg discipline; float sums
    * across m subspaces would drift with aggregation order). Ranking
    * compares the longs directly (topk_by_score bigint scores), so
    * exactness holds to 2^63 — components up to ~3e5 in a 64-dim
    * vector; larger magnitudes overflow the long SUM loudly under
    * ANSI, never silently mis-rank. */
  private val AdcScale = 1e9

  /** PQ asymmetric-distance (ADC) top-k search — the query side of
    * [[pqEncode]] (Jégou et al. 2011 §IV): each query computes an m×k
    * table of scaled subspace distances to every centroid, and a doc's
    * distance is the sum of m table lookups selected by its codes —
    * no float vectors touched at scan time.
    *
    * Scale shape: the per-query tables are data (they depend on the
    * query vector), so they BROADCAST as one row per query; the code
    * table reassembles to wide form once (one id-keyed bounded
    * aggregate — a production layout would store codes wide and skip
    * this), then scoring is a broadcast nested-loop over docs × queries
    * fused into the scan, and ranking is the bounded topk_by_score
    * aggregate — the shuffle carries ≤ topK rows per (query, map task),
    * never the corpus. Docs with any NULL code (NULL/wrong-width
    * vectors at encode time) have no complete code word and are
    * excluded; invalid query vectors likewise contribute no output
    * rows (no evidence — the [[quantizeInt8]] convention).
    *
    * Output: query_id, rank (1-based, ascending distance, ties to the
    * smaller id), idCol, adc_scaled (exact long, floor-1e9-scaled). */
  def pqSearch(
      codes: DataFrame, queries: DataFrame, idCol: String,
      queryIdCol: String, queryVecCol: String,
      m: Int, k: Int, dim: Int, topK: Int = 10): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val wide = codes.filter(col("code").isNotNull)
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("sub"), col("code"))))
        .as("__cs")) // bounded by m — a per-vector reassembly aggregate
      .filter(size(col("__cs")) === m)
      .select(col(idCol),
        transform(col("__cs"), t => t.getField("code")).as("codes"))
    pqSearchWide(wide, queries, idCol, queryIdCol, queryVecCol,
      m, k, dim, topK)
  }

  /** [[pqSearch]] over the PRODUCTION wide layout ([[pqEncodeWide]]'s
    * (idCol, codes) rows): scoring starts straight from the code scan —
    * the reassembly aggregate is GONE from the plan, so the only
    * exchanges left are the one-row-per-query broadcast and the bounded
    * top-k ranking. Incomplete/NULL code words and invalid query
    * vectors are excluded (no evidence), matching [[pqSearch]]. */
  def pqSearchWide(
      codesWide: DataFrame, queries: DataFrame, idCol: String,
      queryIdCol: String, queryVecCol: String,
      m: Int, k: Int, dim: Int, topK: Int = 10): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    require(k >= 2 && k <= 256, "k in [2, 256]")
    val sub = dim / m
    val docs = codesWide
      .filter(col("codes").isNotNull && size(col("codes")) === m &&
        !array_contains(transform(col("codes"), c => c.isNull), lit(true)))
      .select(col(idCol), col("codes").as("__codes"))
    val valid = col(queryVecCol).isNotNull && size(col(queryVecCol)) === dim
    val tbl = array((0 until m).map(s => array((0 until k).map(c =>
      floor(pqSubDist(col(queryVecCol), s, c, sub) * lit(AdcScale))
        .cast("long")): _*)): _*)
    val q = queries.filter(valid)
      .select(col(queryIdCol).as("query_id"), tbl.as("__tbl"))
    val adc = (0 until m).map(s =>
      element_at(element_at(col("__tbl"), s + 1),
        element_at(col("__codes"), s + 1).cast("int") + 1))
      .reduce(_ + _) // long adds — exact in any order
    docs.crossJoin(broadcast(q))
      .select(col("query_id"), col(idCol), adc.as("adc_scaled"))
      .groupBy(col("query_id"))
      // negated LONG score: topk keeps the highest, we want the least
      // distance — and long comparison is exact at any magnitude
      // (a double-cast score would quantize above 2^53)
      .agg(call_function("topk_by_score",
        -col("adc_scaled"), col(idCol), lit(topK)).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as(idCol), (-col("e.score")).as("adc_scaled"))
  }

  /** Random-projection dimensionality reduction (Johnson–Lindenstrauss;
    * Achlioptas 2003 for the database framing): out[j] = ⟨vec, r_j⟩
    * over `outDim` md5-derived dense planes ("rp{j}:{d}" — a separate
    * tag family from the LSH hyperplanes, so tuning one never perturbs
    * the other). The cheap store-side companion to [[quantizeInt8]]/
    * [[pqEncode]]: distances are approximately preserved at
    * outDim ≪ dim, and downstream ANN runs on the short vectors.
    *
    * Scale shape: planes ride into the plan as literals, so projection
    * is a PURE MAP fused into the scan — no hashing in the hot path,
    * no shuffle. Components emit as floor-1e6-scaled longs: the dot is
    * a sequential multiply-add fold ([[VectorExprs]] codegen, 0.0 seed
    * benign), mirrored token-for-token by the oracle's list_reduce, so
    * the scaled values are engine-exact (raw doubles would still match
    * bit-for-bit, but scaled longs keep every downstream consumer in
    * exact integer arithmetic). NULL / wrong-width vectors yield a NULL
    * projection with the row KEPT (no evidence → no silent drop).
    *
    * Output: idCol, proj_scaled (array&lt;bigint&gt;, length outDim). */
  def randomProject(
      df: DataFrame, idCol: String, vecCol: String, outDim: Int): DataFrame = {
    require(outDim >= 1, "outDim must be >= 1")
    val dim = vecDim(df, vecCol)
    val valid = col(vecCol).isNotNull && size(col(vecCol)) === dim
    val comps = (0 until outDim).map { j =>
      val w = array(Array.tabulate(dim)(d =>
        lit(hashComponent(s"rp$j:$d"))): _*)
      floor(dot(asDouble(col(vecCol)), w) * lit(1e6)).cast("long")
    }
    df.select(col(idCol),
      when(valid, array(comps: _*))
        .otherwise(lit(null).cast("array<bigint>")).as("proj_scaled"))
  }

  /** Reconstruct PQ-encoded vectors (centroid concatenation in subspace
    * order) — the decode side for asymmetric-distance estimation and
    * quantization-quality audits. Input is [[pqEncode]]'s (idCol, sub,
    * code) rows with non-null codes; the per-id collect_list is bounded
    * by m (a per-vector bound, like every reassembly aggregate here).
    * Output: idCol, vec (array&lt;double&gt;, length dim). */
  def pqDecode(
      codes: DataFrame, idCol: String, m: Int, k: Int, dim: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, "dim must split into m subspaces")
    val sub = dim / m
    val cen = array((0 until m).map(s => array((0 until k).map(c =>
      array((0 until sub).map(d =>
        lit(hashComponent(s"pq$s:$c:$d"))): _*)): _*)): _*)
    codes.filter(col("code").isNotNull)
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("sub"), col("code"))))
        .as("__cs"))
      .select(col(idCol),
        flatten(transform(col("__cs"), t =>
          element_at(element_at(cen, t.getField("sub") + 1),
            t.getField("code") + 1))).as("vec"))
  }
}
