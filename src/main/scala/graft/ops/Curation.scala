package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: boilerplate
  * removal, leakage-safe dataset splits, and token-budget selection.
  *
  * These are the steps between "raw crawl" and "training mix" that the
  * dedup/quality operators in [[Dedup]]/[[TextOps]] feed into. All are
  * linear in corpus size — unit-keyed equi-joins and window scans, never
  * doc×doc — and every membership decision is a pure function of row
  * content (reproducible across runs, engines, and cluster sizes).
  */
object Curation {

  // ------------------------------------------------- boilerplate removal

  /** Split text into newline units — the natural unit for web text
    * (CCNet-style line-level dedup strips nav bars, cookie banners,
    * footers that repeat across a site's pages). */
  def lineUnits(text: Column): Column = split(text, "\n")

  /** Split text into fixed-width non-overlapping token segments — the
    * unit of choice when documents carry no line structure. Every doc
    * yields at least one unit (empty text → one empty unit), so
    * reassembly is total. */
  def segmentUnits(text: Column, width: Int): Column = {
    val toks = TextOps.tokens(text)
    val n = greatest(ceil(size(toks) / lit(width.toDouble)).cast("int"), lit(1))
    transform(sequence(lit(0), n - 1),
      i => array_join(slice(toks, i * width + 1, lit(width)), " "))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020, "Exploring the
    * Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", arXiv:1910.10683 §2.2) — the per-LINE rules applied
    * before any corpus-level dedup: keep only lines that
    *
    *   - end in a terminal punctuation mark (. ! ? or a closing
    *     double quote),
    *   - contain at least `minWords` whitespace words, and
    *   - trip none of the junk markers (curly braces — leaked
    *     code/templating; "lorem ipsum"; "javascript"; "cookie" —
    *     the paper's policy/banner heuristics), matched
    *     case-insensitively;
    *
    * kept lines are rejoined in original order. A doc whose every line
    * is cut keeps its row with empty clean text (the
    * [[Dedup.removeDuplicateSpans]] convention: visible, not silently
    * dropped); NULL text stays NULL (no evidence).
    *
    * Scale shape (r13): the keep rule is a pure PER-LINE function — no
    * corpus-wide evidence — so the plan is MAP-ONLY: the keep
    * predicate runs inside `filter(array, …)` higher-order functions on
    * the un-exploded line array, zero shuffles, zero sorts, one
    * codegen'd projection. The pre-r13 explode → flag → regroup plan
    * (map-only won 157–448× in the r13 A/B) paid a full
    * doc-keyed exchange plus the collect_list sort-fallback just to
    * reassemble an order the array never lost — that fallback was the
    * operator's measured above-linear 100× slope (PERF_NOTES r11/r12;
    * the OHA-threshold hypothesis was refuted, this plan change is the
    * other lever).
    *
    * Output: idCol, n_lines, n_kept, text_clean. */
  def c4LineClean(
      df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 3): DataFrame = {
    def keepLine(l: Column): Column =
      trim(l).rlike("[.!?\"]$") &&
        size(TextOps.tokens(l)) >= minWords &&
        !lower(l).rlike("[{}]|lorem ipsum|javascript|cookie")
    val arr = lineUnits(col(textCol))
    val kept = filter(arr, l => keepLine(l))
    df.select(col(idCol),
      when(col(textCol).isNotNull, size(arr)).otherwise(lit(0))
        .cast("long").as("n_lines"),
      when(col(textCol).isNotNull, size(kept)).otherwise(lit(0))
        .cast("long").as("n_kept"),
      when(col(textCol).isNotNull, array_join(kept, "\n"))
        .as("text_clean"))
  }

  /** Remove boilerplate units: a unit occurring in at least `minDocs`
    * distinct documents of the same `groupCol` value (site / source /
    * domain) is stripped from every document; remaining units are
    * rejoined in their original order with `sep`.
    *
    * Returns (idCol, groupCol, clean_text, n_units, n_removed).
    *
    * Shape at scale: one distinct+count aggregate keyed on
    * (group, unit), one anti-join of the exploded units against the
    * (small — only units repeated ≥ minDocs times) boilerplate set, one
    * reassembly aggregate keyed on doc id. Linear in total unit count;
    * the boilerplate side is broadcastable and AQE will pick that. */
  def removeBoilerplate(
      df: DataFrame, idCol: String, groupCol: String, units: Column,
      minDocs: Int, sep: String = " "): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2 (1 would strip everything)")
    val src = df.select(col(idCol), col(groupCol), units.as("units"))
    val exploded = src.select(col(idCol), col(groupCol),
      posexplode(col("units")).as(Seq("ord", "unit")))
    // Distinct before counting: a unit repeated inside ONE document is
    // not boilerplate evidence.
    val boiler = exploded.select(col(groupCol), col("unit"), col(idCol))
      .distinct()
      .groupBy(col(groupCol), col("unit"))
      .agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select(col(groupCol), col("unit"))
    val kept = exploded.join(boiler, Seq(groupCol, "unit"), "left_anti")
    val clean = kept.groupBy(col(idCol)).agg(
      array_join(
        transform(array_sort(collect_list(struct(col("ord"), col("unit")))),
          s => s.getField("unit")), sep).as("clean_text"),
      count(lit(1)).as("n_kept"))
    src.select(col(idCol), col(groupCol), size(col("units")).as("n_units"))
      .join(clean, Seq(idCol), "left")
      .select(col(idCol), col(groupCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_units").cast("int").as("n_units"),
        (col("n_units") - coalesce(col("n_kept"), lit(0L))).cast("int")
          .as("n_removed"))
  }

  // ---------------------------------------------- leakage-safe splitting

  /** Assign every document to train/val/test such that near-duplicate
    * documents NEVER straddle a split boundary: the split is keyed on
    * the duplicate-cluster canonical id (smallest member), not the doc
    * id, so a test document can't have a near-copy in train.
    *
    * `pairs` is any near-duplicate pair set (MinHash LSH, SimHash,
    * embedding LSH — see [[Dedup]]); unpaired documents are their own
    * cluster. Buckets 0-(trainPct-1) → train, next valPct → val, rest →
    * test, from the canonical id's md5 — deterministic and
    * engine-portable.
    *
    * Returns (idCol, cluster, split). */
  def leakSafeSplit(
      df: DataFrame, idCol: String, pairs: DataFrame,
      trainPct: Int = 80, valPct: Int = 10): DataFrame =
    leakSafeSplitClusters(df, idCol,
      Dedup.duplicateClusters(pairs, "a", "b").withColumnRenamed("a", idCol),
      trainPct, valPct)

  /** [[leakSafeSplit]] with clusters already computed — callers that
    * also deduped (e.g. [[CurationPipeline]]) reuse one
    * label-propagation run instead of paying the iterative job twice.
    * `clusters` columns: (idCol, cluster). */
  def leakSafeSplitClusters(
      df: DataFrame, idCol: String, clusters: DataFrame,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      "need 0 < trainPct, 0 <= valPct, trainPct + valPct < 100")
    val withCluster = df.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
    val bucket = Sampling.hashBucket(col("cluster"), 100)
    withCluster.withColumn("split",
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Leakage-safe k-fold assignment — cross-validation's twin of
    * [[leakSafeSplit]]: every document lands in fold
    * md5(cluster) mod k, keyed on the duplicate-cluster canonical id,
    * so near-duplicates NEVER straddle folds (a held-out fold can't
    * contain a near-copy of a training document). Deterministic and
    * engine-portable like every hash draw here; unpaired documents are
    * their own cluster. Expected fold sizes are uniform (md5 buckets),
    * not exact-equal — exactness would need a global rank, and fold
    * balance within ±√n is what CV needs.
    *
    * `clusters` columns: (idCol, cluster) — reuse one label-propagation
    * run across dedup, split, and folds (the
    * [[leakSafeSplitClusters]] contract). Returns (idCol, cluster,
    * fold 0-based int). */
  def leakSafeKFold(
      df: DataFrame, idCol: String, clusters: DataFrame, k: Int): DataFrame = {
    require(k >= 2, "need at least 2 folds")
    df.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
      .withColumn("fold",
        Sampling.hashBucket(col("cluster"), k).cast("int"))
  }

  /** Deterministic global shuffle + sharding — the "write training
    * shards" step: every document gets a (shard, pos) such that reading
    * shards in pos order replays ONE fixed pseudo-random permutation of
    * the corpus, reproducible across runs, engines, and cluster sizes
    * (training-order reproducibility is an audit requirement, and
    * Spark's own repartition/shuffle order is neither).
    *
    * shard = md5("shard:"+id) mod numShards; pos = the EXACT 0-based
    * rank of md5("pos:"+id) within the shard — ranked via the two-level
    * [[Bucketing]] prefix count grouped per shard, never a per-shard
    * single-partition window (the C38 lesson). The order key uses 13
    * hex digits (52 bits): exactly representable as the double the
    * bucket cuts compare, so bucket assignment and in-bucket order can
    * never disagree; key collisions tie-break on id. Rows with a NULL
    * id have no stable identity and are excluded.
    *
    * Output: idCol, shard (int), pos (long, 0-based within shard). */
  def shuffleShards(
      df: DataFrame, idCol: String, numShards: Int,
      numBuckets: Int = 64): DataFrame = {
    require(numShards >= 1, "numShards must be >= 1")
    val base = df.select(col(idCol)).filter(col(idCol).isNotNull)
      .withColumn("shard", graft.functions.HashExprs.md5Mod(
        concat(lit("shard:"), col(idCol).cast("string")), 8,
        lit(numShards.toLong)).cast("int"))
      .withColumn("__ord", graft.functions.HashExprs.md5Long(
        concat(lit("pos:"), col(idCol).cast("string")), 13))
    val bucketed = Bucketing.quantileBuckets(
      base, col("__ord"), Seq("shard"), numBuckets)
    val offsets = Bucketing.bucketOffsets(bucketed, Seq("shard"), lit(1L))
    val wIn = Window.partitionBy(col("shard"), col(Bucketing.BucketCol))
      .orderBy(col("__ord"), col(idCol))
    Bucketing.joinOffsets(bucketed, offsets, Seq("shard"))
      .withColumn("pos", col("__boffset") + row_number().over(wIn) - 1)
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Deterministic proportional-share interleave — the data-loader
    * ORDER for a weighted source mixture (stride scheduling, Waldspurger
    * & Weihl OSDI '94, applied to training-data mixing): stratum s's
    * r-th document (r = 1-based rank in a fixed per-stratum
    * pseudo-random order) gets key
    *   mix_key = (r · scale) div w_s,
    * so reading in (mix_key, stratum, id) order interleaves strata in
    * proportion to their weights IN EVERY PREFIX — stratum s holds
    * slots ~k·w_s of any k-slot prefix, the property epoch-level
    * shuffling ([[shuffleShards]]) does not give and rate-based mixing
    * ([[Sampling.temperatureMix]]) hits only in expectation. This is
    * what "the mixture holds even if training stops mid-epoch" means
    * operationally.
    *
    * All arithmetic is exact 64-bit (rank · scale must stay < 2^63 —
    * at the default scale that is 9.2e12 rows per stratum, loud under
    * ANSI beyond); the per-stratum order is the engine-stable
    * md5("mix:"+id) 52-bit key, ties to id. Ranks come from the
    * two-level [[Bucketing]] prefix count grouped per stratum — never a
    * per-stratum single-partition window (the C38 lesson; a handful of
    * strata would otherwise funnel the corpus through a few sorted
    * tasks). The weight join broadcasts (strata are bounded); strata
    * missing from `weights` — including a NULL stratum — fail LOUDLY
    * up front: silently dropping (or defaulting) a source corrupts the
    * mixture the caller declared. NULL ids have no stable identity and
    * are excluded (the [[shuffleShards]] rule).
    *
    * Output: idCol, strataCol, stratum_rank (1-based long), mix_key
    * (long). Consumers materialize the order with
    * repartitionByRange(mix_key) + sortWithinPartitions — total order
    * without a global window. */
  def interleaveMix(
      df: DataFrame, idCol: String, strataCol: String,
      weights: Map[String, Long], scale: Long = 1000000L,
      numBuckets: Int = 64): DataFrame = {
    require(weights.nonEmpty, "interleaveMix: weights must be non-empty")
    require(weights.values.forall(_ > 0L),
      "interleaveMix: weights must be positive")
    require(scale > 0L, "interleaveMix: scale must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol), col(strataCol))
      .filter(col(idCol).isNotNull)
    val wdf = weights.toSeq.toDF(strataCol, "__w")
    val unknown = base.join(broadcast(wdf), Seq(strataCol), "left_anti")
      .select(col(strataCol)).limit(1).collect()
    require(unknown.isEmpty,
      s"interleaveMix: stratum '${unknown.headOption.map(_.get(0)).orNull}' " +
        "has no declared weight — every stratum (and no NULL stratum) " +
        "must appear in weights")
    val keyed = base.join(broadcast(wdf), Seq(strataCol))
      .withColumn("__ord", graft.functions.HashExprs.md5Long(
        concat(lit("mix:"), col(idCol).cast("string")), 13))
    val bucketed = Bucketing.quantileBuckets(
      keyed, col("__ord"), Seq(strataCol), numBuckets)
    val offsets = Bucketing.bucketOffsets(bucketed, Seq(strataCol), lit(1L))
    val wIn = Window.partitionBy(col(strataCol), col(Bucketing.BucketCol))
      .orderBy(col("__ord"), col(idCol))
    Bucketing.joinOffsets(bucketed, offsets, Seq(strataCol))
      .withColumn("stratum_rank", col("__boffset") + row_number().over(wIn))
      .select(col(idCol), col(strataCol), col("stratum_rank"),
        expr(s"(stratum_rank * ${scale}L) div __w").as("mix_key"))
  }

  // ---------------------------------------------- token-budget selection

  /** Select documents per stratum (source / domain / language) in
    * priority order until a token budget is exhausted: the "fill the
    * training mix" step. A document is kept iff its stratum's running
    * token total INCLUDING itself is within `budgetTokens` — so the
    * result is a prefix of the priority order, deterministic given the
    * ordering columns.
    *
    * `priority` columns order candidates within a stratum (e.g. quality
    * DESC, then id for tie-breaks — pass a total order or ties make the
    * prefix ambiguous). The FIRST priority column doubles as the bucket
    * key and must therefore be numeric (cast to double); later priority
    * columns are unrestricted tie-breaks.
    *
    * The running sum is a two-level distributed prefix sum (see
    * [[Bucketing]]), NEVER a per-stratum single-partition window: with a
    * handful of strata (source / language — the realistic case) a plain
    * window would funnel ~N/strata corpus rows through one sorted task.
    * Here each stratum is cut into `numBuckets` priority-quantile
    * buckets, the bucket totals (strata × numBuckets rows) are
    * prefix-summed and broadcast back, and the in-bucket window is
    * partitioned by (stratum, bucket) — equal first-priority values
    * share a bucket, so the composition equals the flat window exactly.
    *
    * Returns df's rows + (n_tokens, cum_tokens), filtered to the kept
    * prefix. */
  def tokenBudget(
      df: DataFrame, strataCol: String, tokens: Column,
      budgetTokens: Long, priority: Seq[Column],
      numBuckets: Int = 64): DataFrame = {
    require(priority.nonEmpty, "priority must order candidates within a stratum")
    // Bucket key = the first priority column, with its direction AND
    // null ordering carried through (desc_nulls_first etc.) — bucket
    // placement must agree with the window's sort or the composed
    // prefix sum silently corrupts for null/NaN first-priority rows.
    val (k0, desc, nullsFirst) =
      org.apache.spark.sql.graftext.Bridge.sortKey(priority.head)
    val base = df.withColumn("n_tokens", tokens.cast("long"))
    val bucketed = Bucketing.quantileBuckets(base, k0.cast("double"),
      Seq(strataCol), numBuckets, descending = desc, nullsFirst = nullsFirst)
    val offsets = Bucketing.bucketOffsets(
      bucketed, Seq(strataCol), col("n_tokens"))
    val wIn = Window.partitionBy(col(strataCol), col(Bucketing.BucketCol))
      .orderBy(priority: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Bucketing.joinOffsets(bucketed, offsets, Seq(strataCol))
      .withColumn("cum_tokens",
        col("__boffset") + sum(col("n_tokens")).over(wIn))
      .filter(col("cum_tokens") <= budgetTokens)
      .drop(Bucketing.BucketCol, "__boffset")
  }

  // ----------------------------------------------- curriculum ordering

  /** Exact global curriculum rank: order the corpus by a difficulty
    * score (ascending — easy first, the standard curriculum-learning
    * schedule) and cut it into `stages` contiguous stages of near-equal
    * size. `rank` is the EXACT 1-based global position under
    * (score, id) — a total order, so stages are reproducible across
    * runs, engines, and partitionings; stage = ((rank−1) · stages)
    * div N (integral).
    *
    * The global rank is a two-level distributed prefix COUNT — NEVER a
    * global single-partition window (the [[Bucketing]] machinery shared
    * with [[tokenBudget]] / [[packSequences]]): rows bucket at sampled
    * score quantiles, per-bucket counts prefix-sum on a trivial
    * `numBuckets`-row partition and broadcast back, and row_number runs
    * within each bucket in parallel. Equal scores share a bucket, so
    * the composed rank equals the flat global window exactly for any
    * sketch outcome.
    *
    * Contract: `score` is numeric; rows with a NULL id are excluded (no
    * position in the order); NULL scores rank FIRST (unscored docs
    * surface at the start of the schedule, explicitly — don't let them
    * hide at a sketch-dependent position). N is one driver count, like
    * [[graft.ops.Retrieval.bm25]]'s corpus constant.
    *
    * Returns (idCol, rank, stage). */
  def curriculum(
      df: DataFrame, idCol: String, score: Column, stages: Int,
      numBuckets: Int = 256): DataFrame = {
    require(stages >= 1, "stages must be >= 1")
    val base = df.select(col(idCol), score.as("__score"))
      .filter(col(idCol).isNotNull)
    val n = base.count()
    if (n == 0L)
      return base.select(col(idCol), lit(0L).as("rank"), lit(0).as("stage"))
    val bucketed = Bucketing.quantileBuckets(
      base, col("__score"), Nil, numBuckets)
    val offsets = Bucketing.bucketOffsets(bucketed, Nil, lit(1L))
    val wIn = Window.partitionBy(col(Bucketing.BucketCol))
      .orderBy(col("__score").asc_nulls_first, col(idCol))
    Bucketing.joinOffsets(bucketed, offsets, Nil)
      .withColumn("rank", col("__boffset") + row_number().over(wIn))
      .withColumn("stage",
        expr(s"CAST(((rank - 1) * $stages) div ${n}L AS INT)"))
      .select(col(idCol), col("rank"), col("stage"))
  }

  /** Per-stratum exact quantile trimming: within each stratum (source /
    * language), keep only the rows whose EXACT rank under (score, id)
    * lies in the ((lowPct·n) div 100, (highPct·n) div 100] band — the
    * "cut the freakishly short and freakishly long tails per source"
    * curation filter, expressed as an integral rank rule so both engines
    * agree row for row (no interpolation, no float percentile).
    *
    * Ranks come from the same two-level [[Bucketing]] prefix count as
    * [[curriculum]], grouped per stratum — never a per-stratum
    * single-partition window (the C38 lesson). Stratum sizes are one
    * tiny aggregate broadcast back null-safely (a NULL stratum is a
    * legitimate group). Rows with a NULL id are excluded (no position
    * in the order); NULL scores rank first, so lowPct > 0 trims them
    * before anything scored.
    *
    * Returns df's rows + rank (1-based within the stratum), filtered to
    * the kept band. */
  def quantileTrim(
      df: DataFrame, idCol: String, strataCol: String, score: Column,
      lowPct: Int, highPct: Int, numBuckets: Int = 64): DataFrame = {
    require(0 <= lowPct && lowPct <= highPct && highPct <= 100,
      "need 0 <= lowPct <= highPct <= 100")
    val base = df.withColumn("__score", score)
      .filter(col(idCol).isNotNull)
    val bucketed = Bucketing.quantileBuckets(
      base, col("__score"), Seq(strataCol), numBuckets)
    val offsets = Bucketing.bucketOffsets(bucketed, Seq(strataCol), lit(1L))
    val wIn = Window.partitionBy(col(strataCol), col(Bucketing.BucketCol))
      .orderBy(col("__score").asc_nulls_first, col(idCol))
    val sizes = base.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
      .select(col(strataCol).as("__qt_s"), col("__n"))
    val ranked = Bucketing.joinOffsets(bucketed, offsets, Seq(strataCol))
      .withColumn("rank", col("__boffset") + row_number().over(wIn))
    ranked.join(broadcast(sizes), ranked(strataCol) <=> sizes("__qt_s"))
      .filter(col("rank") > expr(s"($lowPct * __n) div 100") &&
        col("rank") <= expr(s"($highPct * __n) div 100"))
      .drop("__score", "__qt_s", "__n", "__boffset", Bucketing.BucketCol)
  }

  /** Per-domain frequency capping — the "no domain dominates the
    * corpus" curation rule (cap docs per registered domain, keeping the
    * highest-quality ones): retain at most `maxPerDomain` rows per
    * domain by (score desc, id asc).
    *
    * Formulated as the bounded topk_by_score aggregate
    * ([[graft.functions.TopKAgg]]), NOT a per-domain ranking window:
    * partial aggregation caps what each map task ships per domain at
    * maxPerDomain rows, so a hot domain (half the crawl being one host
    * is normal) costs its cap, not its row count, through the shuffle —
    * the same hot-key discipline as boundBuckets. A NULL domain is a
    * legitimate group (capped like any other); rows with a NULL id or
    * NULL score carry no keep evidence and are dropped (the aggregate
    * skips them).
    *
    * Output: domainCol, rank (1-based within domain), idCol, score
    * (double). Join back on id for full rows. */
  def domainCap(
      df: DataFrame, idCol: String, domainCol: String, score: Column,
      maxPerDomain: Int): DataFrame = {
    require(maxPerDomain > 0, "maxPerDomain must be positive")
    df.groupBy(col(domainCol))
      .agg(call_function("topk_by_score",
        score.cast("double"), col(idCol), lit(maxPerDomain)).as("tk"))
      .select(col(domainCol), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col(domainCol), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as(idCol), col("e.score").as("score"))
  }

  // -------------------------------------------------- sequence packing

  /** Concat-and-chunk sequence packing: documents are laid end to end in
    * ascending `idCol` order into one global token stream, which is cut
    * into fixed `seqLen`-token training sequences. Each document learns
    * its global `start_offset` and the first/last sequence it lands in
    * (a document may span several sequences; several short documents may
    * share one).
    *
    * The global running sum is computed as a two-level distributed
    * prefix sum — NEVER a global single-partition window:
    *   1. docs map to buckets contiguous in id order, cut at sampled id
    *      QUANTILES (see [[Bucketing]]) — balanced for any id
    *      distribution, dense lake sequence numbers and sparse
    *      hash-derived ids alike, with no driver-side bounds pass;
    *   2. per-bucket token totals (one tiny aggregate, `numBuckets`
    *      rows) are prefix-summed on a single trivial partition and
    *      broadcast-joined back;
    *   3. the within-bucket running sum is a window PARTITIONED by
    *      bucket — all buckets proceed in parallel.
    * The cut points only steer balance: assignment is monotone in id
    * with ties impossible (ids are the sort key), so the composed sum
    * equals the flat global window for any sketch outcome.
    *
    * Rows with a null id are excluded (a null has no position in the
    * concatenation order).
    *
    * Returns (idCol, n_tokens, start_offset, first_seq, last_seq). */
  def packSequences(
      df: DataFrame, idCol: String, tokens: Column, seqLen: Int,
      numBuckets: Int = 256): DataFrame = {
    require(seqLen >= 1, "seqLen must be >= 1")
    // A null id has no position in the concatenation order; dropping it
    // silently via the bucket join would hide corpus loss, so exclude
    // explicitly and document the contract here.
    val base = df.select(col(idCol).cast("long").as(idCol),
      tokens.cast("long").as("n_tokens"))
      .filter(col(idCol).isNotNull)
    // Bucket on the id itself. The long->double key cast can collide
    // above 2^53, but collisions share a bucket (strictly-below cut
    // counting) and the in-bucket window orders by the exact long id,
    // so the layout stays exact for the full long id range.
    val bucketed = Bucketing.quantileBuckets(
      base, col(idCol), Nil, numBuckets)
    val bucketOffsets = Bucketing.bucketOffsets(bucketed, Nil, col("n_tokens"))
    val wIn = Window.partitionBy(col(Bucketing.BucketCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    Bucketing.joinOffsets(bucketed, bucketOffsets, Nil)
      .withColumn("start_offset",
        col("__boffset") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      // integral div, not float: exact for any corpus size
      .withColumn("first_seq", expr(s"start_offset div $seqLen"))
      .withColumn("last_seq",
        expr(s"(start_offset + greatest(n_tokens, 1L) - 1) div $seqLen"))
      .select(col(idCol), col("n_tokens"), col("start_offset"),
        col("first_seq"), col("last_seq"))
  }

  /** Per-stratum sequence packing — [[packSequences]] with an
    * independent token stream PER STRATUM (source, language, shard):
    * the production layout when each corpus slice trains as its own
    * shard family and a global concatenation order would interleave
    * unrelated sources into the same training sequence. Each stratum's
    * offsets start at 0 and its documents pack in ascending id order.
    *
    * Same two-level prefix-sum shape, grouped: id-quantile buckets are
    * cut per stratum, per-(stratum, bucket) totals prefix-sum inside
    * each stratum, and the in-bucket window partitions by
    * (stratum, bucket) — a giant stratum still never lands in one
    * task, and strata proceed in parallel. NULL stratum is a
    * legitimate group ([[Sampling]] discipline); NULL ids are excluded
    * (no position in any order).
    *
    * Output: strataCol, idCol, n_tokens, start_offset, first_seq,
    * last_seq (sequence numbering is per stratum). */
  def packSequencesByStratum(
      df: DataFrame, idCol: String, strataCol: String, tokens: Column,
      seqLen: Int, numBuckets: Int = 64): DataFrame = {
    require(seqLen >= 1, "seqLen must be >= 1")
    val base = df.select(col(strataCol), col(idCol).cast("long").as(idCol),
      tokens.cast("long").as("n_tokens"))
      .filter(col(idCol).isNotNull)
    val bucketed = Bucketing.quantileBuckets(
      base, col(idCol), Seq(strataCol), numBuckets)
    val offs = Bucketing.bucketOffsets(bucketed, Seq(strataCol),
      col("n_tokens"))
    val wIn = Window.partitionBy(col(strataCol), col(Bucketing.BucketCol))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    Bucketing.joinOffsets(bucketed, offs, Seq(strataCol))
      .withColumn("start_offset",
        col("__boffset") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .withColumn("first_seq", expr(s"start_offset div $seqLen"))
      .withColumn("last_seq",
        expr(s"(start_offset + greatest(n_tokens, 1L) - 1) div $seqLen"))
      .select(col(strataCol), col(idCol), col("n_tokens"),
        col("start_offset"), col("first_seq"), col("last_seq"))
  }

  /** URL canonicalization for crawl dedup keys and domain-level
    * curation (the RefinedWeb/CCNet URL-filter preamble): two URLs that
    * differ only in scheme/host case, a `www.` prefix, tracking query
    * parameters, a fragment, or a trailing slash are the same page for
    * curation purposes and must canonicalize to the same key.
    *
    * Rules, applied in order (each expressible identically in Spark and
    * DuckDB — no backreferences, no engine-specific URL parser):
    *   1. trim; drop the `#fragment`;
    *   2. lowercase the scheme and authority (everything through the
    *      first `/`, `?` past `://`) — path/query case is preserved
    *      (it is significant on real servers);
    *   3. strip a leading `www.`;
    *   4. drop tracking parameters (`utm_*`, `gclid`, `fbclid`, `ref`)
    *      wherever they appear in the query, then tidy dangling
    *      `?`/`&` separators;
    *   5. strip one trailing `/` unless it is part of `//`.
    * Port normalization (`:80`/`:443`) is deliberately out of scope —
    * it is scheme-dependent and the synthetic corpus never emits ports.
    *
    * Adds `url_canon` and `url_domain` (the registered domain: last two
    * dot-labels of the host — the eTLD+1 approximation that needs no
    * suffix list; a public-suffix-aware variant would swap only this
    * extraction). Pure map stage: every rule is a codegen'd string
    * expression, no UDF, no shuffle. NULL urls yield NULL outputs. */
  def canonicalizeUrls(df: DataFrame, urlCol: String): DataFrame = {
    val noFrag = regexp_replace(trim(col(urlCol)), "#.*$", "")
    // scheme://authority prefix, lowercased; rest untouched
    val prefix = regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)", 1)
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*", "")
    val lowered = concat(lower(prefix), rest)
    val noWww = regexp_replace(lowered, "^([a-z][a-z0-9+.-]*://)www\\.", "$1")
    // tracking params: kill `key=value` for blocked keys, then tidy
    // the key must start at a separator — without the ([?&]) boundary,
    // "ref=" would also match inside "href=" and eat legitimate params
    val noTrack0 = regexp_replace(noWww,
      "([?&])(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)=[^&#?]*", "$1")
    val tidy = regexp_replace(
      regexp_replace(regexp_replace(noTrack0, "\\?&+", "?"), "&&+", "&"),
      "[?&]+$", "")
    val canon = when(tidy.endsWith("/") && !tidy.endsWith("//"),
      tidy.substr(lit(1), length(tidy) - 1)).otherwise(tidy)
    val host = regexp_extract(canon, "^[a-z][a-z0-9+.-]*://([^/?:]+)", 1)
    val domain = regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    df.withColumn("url_canon", canon).withColumn("url_domain", domain)
  }

  /** Rendezvous (highest-random-weight) sharding — Thaler & Ravishankar
    * 1998, the assignment scheme whose defining property is MINIMAL
    * MOVEMENT: when the shard count grows k → k+1, a doc either keeps
    * its shard or moves to the NEW one (its scores against the old
    * shards didn't change), so an incremental pipeline re-shards by
    * touching ~1/(k+1) of the corpus instead of reshuffling all of it —
    * the property mod-k sharding ([[shuffleShards]]' epoch layout)
    * deliberately trades away for exact balance.
    *
    * shard(id) = argmax_s md5("rv:{s}:{id}") with the 15-hex (60-bit)
    * engine-stable [[graft.functions.HashExprs.md5Long]] score and ties
    * (astronomically unlikely at 60 bits, but determinism is a
    * contract) to the smaller shard. Pure map stage: the k candidate
    * scores ride as one literal-tagged struct array per row, fused
    * into the scan — no shuffle, no state; both engines re-derive the
    * identical argmax. NULL ids get NULL shards (no identity to hash).
    *
    * Output: df's columns + `shard` (int in [0, numShards)). */
  def rendezvousShard(
      df: DataFrame, idCol: String, numShards: Int): DataFrame = {
    require(numShards >= 1 && numShards <= 4096,
      "numShards in [1, 4096] — scores ride as per-row literals")
    val scored = array((0 until numShards).map { s =>
      struct(
        graft.functions.HashExprs.md5Long(
          concat(lit(s"rv:$s:"), col(idCol).cast("string")), 15)
          .as("score"),
        lit(-s).as("ns")) // max on -s => smaller shard wins ties
    }: _*)
    df.withColumn("shard",
      when(col(idCol).isNull, lit(null))
        .otherwise(-array_max(scored).getField("ns")).cast("int"))
  }

  /** Per-stratum exact LOWER WEIGHTED MEDIAN over a HISTOGRAM frame
    * (one row per distinct (stratum, value) with its multiplicity):
    * the value v whose cumulative count in ascending-value order first
    * reaches (n+1) div 2 — exactly the value at row-rank (n+1) div 2
    * of the underlying data (percentile_disc semantics), so both
    * engines agree exactly. Ranking runs over HISTOGRAM rows through
    * the two-level [[Bucketing]] prefix count: a stratum with billions
    * of ROWS but a bounded value range (lengths, counts, scores) ranks
    * over its distinct values only, and even an all-distinct column
    * degrades to the corpus-rows shape — never a per-stratum
    * single-partition window, never a per-group in-memory buffer
    * (Spark's own percentile aggregates buffer per group — the shape
    * this avoids). Output: one row per stratum (`__mstrat`, `__med`). */
  /** Histogram-row ceiling under which [[histMedianFlat]]'s one-window
    * extraction is safe: every stratum's histogram fits one task (rows
    * per stratum ≤ total histogram rows). 4M rows of (stratum, long,
    * long) is ~100 MB in a window buffer — comfortably one task, and
    * the same working-set constant [[graft.Checkpoints]] uses for loop
    * shuffle sizing. */
  private val FlatHistMaxRows = 4L * 1000 * 1000

  /** Histogram-row ceiling under which both medians are computed in
    * DRIVER code from the collected histogram — ~2.4 MB of (stratum,
    * long, long) rows, metadata-scale. Walking a sorted histogram to
    * rank (n+1) div 2 is exact 64-bit arithmetic either way; below
    * this bound the two window jobs are pure scheduling overhead
    * (measured: the driver tier took q_mad_outliers from 1.45 s to
    * sub-second at sf0.1). The [[collectMedian]] literal-ride-back
    * discipline already puts stratum-scale tables on the driver; this
    * extends it to explicitly-bounded histograms. */
  private val DriverHistMaxRows = 100L * 1000

  /** Driver-tier median+MAD: walk each stratum's sorted value
    * histogram to the lower median, fold it into the deviation
    * histogram, walk again. Returns (med, mad) local frames matching
    * [[histMedian]]'s output columns. */
  private def driverMedians(
      hist: DataFrame, strataCol: String): (DataFrame, DataFrame) = {
    val sIdx = hist.schema.fieldIndex(strataCol)
    val vIdx = hist.schema.fieldIndex("__v")
    val cIdx = hist.schema.fieldIndex("__cnt")
    def lowerMedian(pairs: Iterable[(Long, Long)]): Long = {
      val sorted = pairs.toArray.sortBy(_._1)
      val t = (sorted.iterator.map(_._2).sum + 1) / 2
      var c = 0L
      sorted.collectFirst {
        case (v, cnt) if { c += cnt; c >= t } => v
      }.get
    }
    val byStrata = hist.collect().toSeq.groupBy(_.get(sIdx))
    val med = byStrata.map { case (s, rs) =>
      s -> lowerMedian(rs.map(r => (r.getLong(vIdx), r.getLong(cIdx))))
    }
    val mad = byStrata.map { case (s, rs) =>
      val m = med(s)
      s -> lowerMedian(
        rs.groupBy(r => math.abs(r.getLong(vIdx) - m))
          .map { case (d, drs) => (d, drs.iterator.map(_.getLong(cIdx)).sum) })
    }
    val spark = hist.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    def local(m: Map[Any, Long], vName: String): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(
          m.toSeq.map { case (s, v) => Row(s, v) }: _*),
        StructType(Seq(
          hist.schema(sIdx).copy(name = "__mstrat"),
          StructField(vName, LongType, nullable = false))))
    (local(med, "__med"), local(mad, "__madv"))
  }

  /** Flat per-stratum variant of [[histMedian]] for SMALL histograms:
    * one window exchange computes both the running count and the
    * stratum total (same partitioning — one shuffle, two in-partition
    * passes). Per-task rows = one stratum's distinct values, so this is
    * only safe under [[FlatHistMaxRows]]; [[madOutliers]] picks it when
    * the histogram's materialized size (counted free, during the
    * truncate pass) says so, and falls back to the two-level
    * [[histMedian]] otherwise — self-tuning, no knob. */
  private def histMedianFlat(
      hist: DataFrame, strataCol: String, vCol: String,
      cntCol: String): DataFrame = {
    val wRun = Window.partitionBy(col(strataCol)).orderBy(col(vCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(strataCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("__rhi", sum(col(cntCol)).over(wRun))
      .withColumn("__n", sum(col(cntCol)).over(wAll))
      .filter(col("__rhi") >= expr("(__n + 1) div 2") &&
        col("__rhi") - col(cntCol) < expr("(__n + 1) div 2"))
      .select(col(strataCol).as("__mstrat"), col(vCol).as("__med"))
  }

  private def histMedian(
      hist: DataFrame, strataCol: String, vCol: String, cntCol: String,
      numBuckets: Int): DataFrame = {
    // Specialized (not composed from Bucketing.quantileBuckets /
    // bucketOffsets / joinOffsets, which stay the shared machinery for
    // the corpus-row prefix sums): the cut sketch and the stratum size
    // fuse into ONE aggregate here, and the size rides the bucket join
    // instead of a third aggregate + broadcast — madOutliers runs two
    // of these extractions back to back, so every exchange saved counts
    // double against the query's fixed overhead.
    val pcts = array(
      (1 until numBuckets).map(i => lit(i.toDouble / numBuckets)): _*)
    val cutsSizes = hist.groupBy(col(strataCol))
      .agg(
        percentile_approx(col(vCol).cast("double"), pcts, lit(10000))
          .as("__qcuts"),
        sum(col(cntCol)).as("__n"))
      .select(col(strataCol).as("__ms"), col("__qcuts"), col("__n"))
    // bucket = cuts strictly below the key: monotone non-decreasing in
    // v (long→double cast is monotone; equal doubles share a bucket),
    // which is all correctness needs — the sketch only controls balance
    val bucketed = hist
      .join(broadcast(cutsSizes), hist(strataCol) <=> cutsSizes("__ms"))
      .withColumn(Bucketing.BucketCol,
        size(filter(col("__qcuts"), c => c < col(vCol).cast("double"))))
      .drop("__ms", "__qcuts")
    val offsets = bucketed
      .groupBy(col(strataCol).as("__os"), col(Bucketing.BucketCol))
      .agg(sum(col(cntCol)).as("__btotal"))
      .withColumn("__boffset",
        coalesce(sum(col("__btotal")).over(
          Window.partitionBy(col("__os"))
            .orderBy(col(Bucketing.BucketCol))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__btotal")
    val wIn = Window.partitionBy(col(strataCol), col(Bucketing.BucketCol))
      .orderBy(col(vCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = bucketed
      .join(broadcast(offsets),
        bucketed(strataCol) <=> offsets("__os") &&
          bucketed(Bucketing.BucketCol) === offsets(Bucketing.BucketCol))
      .drop(offsets("__os")).drop(offsets(Bucketing.BucketCol))
      .withColumn("__rhi", col("__boffset") + sum(col(cntCol)).over(wIn))
    // the median rank falls inside this value's multiplicity run:
    // (rank_hi - cnt, rank_hi] contains (n+1) div 2
    ranked
      .filter(col("__rhi") >= expr("(__n + 1) div 2") &&
        col("__rhi") - col(cntCol) < expr("(__n + 1) div 2"))
      .select(col(strataCol).as("__mstrat"), col(vCol).as("__med"))
  }

  /** Run `medianDf` (one row per stratum: __mstrat, __med) and ride the
    * result back as a LOCAL literal frame — the [[Sampling]] discipline
    * for stratum-cardinality tables: strata are sources/domains (a
    * bounded, human-scale set even at 100 TB), and a literal re-join
    * keeps the per-stratum scalars out of every downstream plan's
    * re-execution (a lazily re-joined median sub-DAG would re-run once
    * per consumer). */
  private def collectMedian(medianDf: DataFrame): DataFrame = {
    val spark = medianDf.sparkSession
    spark.createDataFrame(
      java.util.Arrays.asList(medianDf.collect(): _*), medianDf.schema)
  }

  /** MAD-based robust outlier flagging (Hampel's rule; Leys et al. 2013
    * is the standard citation for preferring it over z-scores): a row
    * is an outlier in its stratum when |x − median| > k · MAD, with
    * MAD = median(|x − median|). Median/MAD shrug off the very
    * outliers they hunt — the property mean/stddev trims lack (one
    * 10 GB doc drags a mean far enough to hide itself).
    *
    * Exactness: the value column is integral (counts, lengths, token
    * totals), medians are exact discrete lower medians, deviations and
    * the k·MAD comparison are 64-bit integer arithmetic — no float
    * anywhere, both engines agree row for row.
    *
    * Scale shape: ONE corpus-scale pass builds the per-stratum VALUE
    * HISTOGRAM (groupBy (stratum, value) — map-side partial, hot
    * values absorbed before the exchange); both medians then extract
    * from histogram-sized frames via [[histMedian]], and the deviation
    * histogram is a PROJECTION of the value histogram (dev = |v − med|,
    * re-grouped over histogram rows — the two arms around the median
    * merge), so the second ranking pass never touches corpus rows at
    * all — this is the fusion that replaced the original two full
    * corpus-rank passes (2.9 s → sub-second at sf0.1, identical
    * results). One final broadcast join flags rows. NULL stratum is a
    * legitimate group; NULL ids or values carry no evidence and are
    * dropped.
    *
    * Output: idCol, strataCol, value, med, dev, mad, is_outlier. */
  def madOutliers(
      df: DataFrame, idCol: String, strataCol: String, valueCol: String,
      k: Int = 3, numBuckets: Int = 64): DataFrame =
    madOutliersImpl(df, idCol, strataCol, valueCol, k, numBuckets,
      DriverHistMaxRows, FlatHistMaxRows)

  /** [[madOutliers]] with the tier thresholds injectable — the test
    * seam that lets specs force the flat-window and two-level ranking
    * tiers on small data (production sizes select them by histogram
    * row count, which small specs can't reach). */
  private[ops] def madOutliersImpl(
      df: DataFrame, idCol: String, strataCol: String, valueCol: String,
      k: Int, numBuckets: Int,
      driverMaxRows: Long, flatMaxRows: Long): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val base = df.filter(col(idCol).isNotNull)
      .withColumn("__v", col(valueCol).cast("long"))
      .filter(col("__v").isNotNull)
      .select(col(idCol), col(strataCol), col("__v"))
    // truncated: the histogram feeds the median extraction(s) AND the
    // dev histogram — without it each consumer would re-run the corpus
    // aggregate. The materialization pass also counts the histogram
    // rows for free, which decides the extraction shape below.
    val (hist, histRows) = graft.Checkpoints.truncateCount(
      base.groupBy(col(strataCol), col("__v"))
        .agg(count(lit(1)).as("__cnt")))
    // dev histogram rows ≤ value histogram rows, so one decision covers
    // both extractions; three tiers by materialized histogram size
    // (counted free): driver walk ≤ flat window ≤ two-level rank
    val (med, mad) =
      if (histRows <= driverMaxRows) {
        val (m, d) = driverMedians(hist, strataCol)
        (m, d.select(col("__mstrat").as("__madstrat"),
          col("__madv").as("mad")))
      } else {
        def median(h: DataFrame, v: String): DataFrame =
          if (histRows <= flatMaxRows)
            histMedianFlat(h, strataCol, v, "__cnt")
          else histMedian(h, strataCol, v, "__cnt", numBuckets)
        val m = collectMedian(median(hist, "__v"))
        val devHist = hist
          .join(broadcast(m), hist(strataCol) <=> m("__mstrat"))
          .select(col(strataCol),
            abs(col("__v") - col("__med")).as("__dev"), col("__cnt"))
          .groupBy(col(strataCol), col("__dev"))
          .agg(sum(col("__cnt")).as("__cnt"))
        (m, collectMedian(median(devHist, "__dev"))
          .select(col("__mstrat").as("__madstrat"), col("__med").as("mad")))
      }
    base
      .join(broadcast(med), base(strataCol) <=> med("__mstrat"))
      .join(broadcast(mad), base(strataCol) <=> mad("__madstrat"))
      .withColumn("med", col("__med"))
      .withColumn("dev", abs(col("__v") - col("__med")))
      .withColumn("is_outlier", col("dev") > lit(k.toLong) * col("mad"))
      .select(col(idCol), col(strataCol), col("__v").as("value"),
        col("med"), col("dev"), col("mad"), col("is_outlier"))
  }

  /** Data-constrained epoch allocation (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models", NeurIPS — repeating
    * data is near-free for ~4 epochs, then decays): given per-source
    * unique token mass and a total training-token budget, decide how
    * many epochs each source repeats and how the remainder is spread.
    *
    * The rule, all exact 64-bit integral arithmetic (engine-replayable):
    *   U = Σ_s unique_s;  epochs = min(maxEpochs, budget div U)
    *   - budget < U (subsample): allocated_s = unique_s·budget div U,
    *     epochs 0, extra = allocated (a partial single pass);
    *   - else (repeat): rem = budget − epochs·U, zeroed at the epoch
    *     cap (repeating past maxEpochs is the regime the paper shows
    *     stops paying — the budget is deliberately left on the table,
    *     auditable in the output); extra_s = unique_s·rem div U;
    *     allocated_s = epochs·unique_s + extra_s.
    *
    * Fully distributed: per-source masses are one aggregate, U rides
    * back as a one-row broadcast cross join (never a driver collect),
    * the allocation chain is a pure projection. NULL source is a group
    * like any other ([[Sampling]] discipline); NULL token values carry
    * no mass. Output: source, unique_tokens, epochs, extra_tokens,
    * allocated_tokens — feed allocated/unique into [[Sampling
    * .weightedSample]] rates or shard-repeat manifests downstream.
    *
    * Headroom (the [[Graph.hits]] discipline): the proportional terms
    * multiply before dividing, so max(unique_s)·max(rem, budget) must
    * stay < 2^63 — with token counts that is ~3·10^9 tokens per source
    * against a ~3·10^9 budget; count in kilo- or mega-tokens (divide
    * the column once upfront) for trillion-token corpora, which moves
    * the bound far past any real mixture. */
  def epochAllocation(
      df: DataFrame, sourceCol: String, tokensCol: String,
      budget: Long, maxEpochs: Int = 4): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    require(maxEpochs >= 1, "maxEpochs must be >= 1")
    // coalesce: a stratum whose every token value is NULL has zero
    // mass, not NULL mass (and least() SKIPS nulls, so a NULL total
    // would silently turn the epoch cap into the answer)
    val per = df.groupBy(col(sourceCol).as("source"))
      .agg(coalesce(sum(col(tokensCol).cast("long")), lit(0L))
        .as("unique_tokens"))
    val u = per.agg(coalesce(sum(col("unique_tokens")), lit(0L)).as("__u"))
    per.crossJoin(broadcast(u))
      .withColumn("epochs",
        when(col("__u") <= 0L, lit(0L)).otherwise(
          least(lit(maxEpochs.toLong), expr(s"${budget}L div __u"))))
      .withColumn("__rem",
        when(col("epochs") >= maxEpochs.toLong, lit(0L))
          .otherwise(lit(budget) - col("epochs") * col("__u")))
      .withColumn("extra_tokens", // zero-mass corpus: nothing to spread
        when(col("__u") <= 0L, lit(0L))
          .otherwise(expr("(unique_tokens * __rem) div __u")))
      .withColumn("allocated_tokens",
        col("epochs") * col("unique_tokens") + col("extra_tokens"))
      .select(col("source"), col("unique_tokens"), col("epochs"),
        col("extra_tokens"), col("allocated_tokens"))
  }

  /** Drop rows whose registered domain appears in a blocklist — the
    * UT1/industry-blocklist filtering stage. The blocklist is a
    * DataFrame (read it from wherever: a config table, a seed file);
    * the join is a broadcast LEFT ANTI on the domain key, so the corpus
    * is never shuffled — blocklists are thousands of rows against
    * billions of documents. NULL domains (unparseable URLs) are kept:
    * dropping them is a separate quality rule's decision. */
  def filterBlockedDomains(
      df: DataFrame, domainCol: String,
      blocklist: DataFrame, blockCol: String): DataFrame =
    df.join(
      broadcast(blocklist.select(col(blockCol).as(domainCol)).distinct()),
      Seq(domainCol), "left_anti")
}
