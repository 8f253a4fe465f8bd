package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora: exact (hash groupBy),
  * MinHash+LSH banding, SimHash, and n-gram Jaccard verification.
  *
  * Scale posture: every stage is expressed as explode → hash-partitioned
  * aggregation — no driver-side collection, no N² pair enumeration except
  * *within* an LSH bucket (which is the entire point of banding: the
  * candidate set is bucket-local). Hashes are md5-based so results are
  * engine-portable and seed-stable across runs and executors.
  */
object Dedup {

  /** Production default for every banded-join bucket cap in this file
    * (see [[boundBuckets]]): buckets larger than this are dropped before
    * the bucket self-join. 64 is the cap the bench queries ship
    * (`ConsMaxBucket`) and is far above any honest near-dup bucket —
    * with 4+ bands a true duplicate cluster of k docs appears in SOME
    * band bucket of size ~k, and real near-dup clusters are a handful of
    * docs; a bucket of 64+ rows sharing a band signature is near-certain
    * boilerplate (handled by [[exact]] dedup instead). The uncapped run
    * measured 64×-superlinear at 30× data (r7_scale_x30_final), so the
    * quadratic path is OPT-IN: pass [[Uncapped]] explicitly for
    * oracle-exact exhaustive baselines. */
  val DefaultMaxBucketSize: Int = 64

  /** Explicit opt-out of [[boundBuckets]] capping — exhaustive candidate
    * enumeration for small-corpus oracle baselines. Never the production
    * default: a single degenerate bucket of B rows emits B² pairs. */
  val Uncapped: Int = Int.MaxValue

  /** Production default for [[similarityJoinExact]]'s candidate-pair
    * budget. 100M candidate pairs is ~10⁴× the full-corpus candidate
    * count the operator measures on open-vocabulary sf0.1 text (0.7M)
    * yet far below the 10×-scale closed-vocabulary blow-up it guards
    * against (113M from a 4k-doc slice over a 31-token vocabulary) —
    * honest workloads never see the guard, degenerate ones fail loudly
    * before the join launches. */
  val DefaultMaxCandidates: Long = 100L * 1000 * 1000

  /** Explicit opt-out of [[similarityJoinExact]]'s candidate budget —
    * exhaustive exact joins on slices the caller has already bounded.
    * Never the production default: a closed vocabulary makes the exact
    * tier inherently ~df² (see the operator's SCALE CONTRACT). */
  val UncappedCandidates: Long = Long.MaxValue

  /** One-slot registry for [[similarityJoinExact]]'s guard cache.
    * The df table must stay cached until the CALLER materializes the
    * returned (lazy) frame, so the call itself cannot unpersist it on
    * success — instead each call releases the previous call's cache,
    * bounding pinned storage to one vocabulary-sized table per JVM
    * (repeated calls — probe loops, long-lived model runs — no longer
    * accumulate). Unpersisting a cache a straggling reader still holds
    * is safe: Spark falls back to recomputing from lineage. */
  private val lastGuardCache =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** Spark conf key overriding [[eagerWorkingSetRows]] — the exploded-
    * working-set row count above which [[similarityJoinExact]] persists
    * its (id, n, unit) explode (set to Long.MaxValue to force lazy). */
  val EagerRowsConfKey = "spark.graft.simjoin.eagerRows"

  /** Exploded-working-set size (Σ document-frequency = exploded rows)
    * above which [[similarityJoinExact]] persists the (id, n, unit)
    * explode instead of re-deriving it in each of its four consumers.
    * The crossover is measured, both ends: at sf0.1 (3.8M rows) lazy
    * wins (9.4 s vs 14.4 s — re-scans stay inside whole-stage codegen);
    * at 30× (115M rows) eager wins 2× on interleaved min-of-2 medians
    * (~104 s vs the r11 lazy binary's 205.3 s; 2.5× cold-for-cold —
    * bench_results/r12_simjoin_eager_ab.json). The default splits the
    * measured regimes about a decade above the lazy-wins point — but
    * the inversion tracks how much of the MEMORY_AND_DISK persist the
    * executors can actually hold, so it scales with executor heap
    * rather than being a literal: heap/256 reproduces the calibrated
    * 32M-row point on the 8 GiB-heap bench host (~32 B of working set
    * per heap-resident row at this operator's row shape), floored at
    * 8M rows so small heaps don't go eager inside the measured
    * lazy-wins regime. The persist is cluster-wide but the heap figure
    * is per executor, so the derived point multiplies by the executor
    * count (`spark.executor.instances` when set; 1 otherwise — local
    * mode and dynamic allocation both land on the conservative
    * single-JVM calibration, where going eager early only trades
    * recompute for disk). Operators that need a different point set
    * [[EagerRowsConfKey]] explicitly; a malformed conf value falls back
    * to the derived default rather than failing the query. */
  def eagerWorkingSetRows(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(EagerRowsConfKey)
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse {
        val heapBytes = spark.conf.getOption("spark.executor.memory")
          .flatMap(v => scala.util.Try(
            org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)).toOption)
          .getOrElse(Runtime.getRuntime.maxMemory()) // local mode: same JVM
        val executors = spark.conf.getOption("spark.executor.instances")
          .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
          .filter(_ > 0).getOrElse(1)
        derivedEagerRows(heapBytes, executors)
      }

  /** Pure derivation behind [[eagerWorkingSetRows]], split out so the
    * executor-count scaling is unit-testable (`spark.executor.instances`
    * is a static conf a live test session cannot set). */
  private[ops] def derivedEagerRows(heapBytes: Long, executors: Int): Long =
    math.max(8L * 1000 * 1000, heapBytes / 256 * math.max(1, executors))

  /** One-slot registry for [[similarityJoinExact]]'s eager working-set
    * cache — same lifecycle discipline as [[lastGuardCache]]: the
    * caller's lazy result frame still reads it after the method
    * returns, so each CALL releases the PREVIOUS call's cache. */
  private val lastWorkingSetCache =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** Release the previous slot, BLOCKING, then hand the slot to `next`
    * — the caller persists AFTER this returns. Order matters:
    * CacheManager matches cache entries by LOGICAL PLAN, and repeated
    * calls over the same input build plan-identical frames — persisting
    * first makes the new persist a no-op against the previous entry,
    * and the subsequent unpersist of the previous frame then removes
    * the SHARED entry, silently uncaching the new call (measured in the
    * r12 30× eager A/B: warm samples degraded to 4–11× cold because
    * every repeated call cancelled its own cache). Blocking, so an
    * async removal can't race the re-registration of the same plan. */
  private def swapWorkingSetCache(next: DataFrame): Unit = {
    val prev = lastWorkingSetCache.getAndSet(next)
    if (prev != null && (prev ne next)) prev.unpersist(blocking = true)
  }

  // Same release-BEFORE-persist ordering and blocking rationale as
  // [[swapWorkingSetCache]]: repeated calls build plan-identical df
  // tables, so unpersisting the previous frame after the new persist
  // removes the plan-matched SHARED entry and uncaches the new call.
  private def swapGuardCache(next: DataFrame): Unit = {
    val prev = lastGuardCache.getAndSet(next)
    if (prev != null && (prev ne next)) prev.unpersist(blocking = true)
  }

  /** CPU-heavy per-row stages want full-core parallelism even when the
    * source has few splits (a single parquet row group reads as one
    * partition). One cheap round-robin shuffle of the raw rows buys
    * cluster-wide fan-out; skipped when the scan is already parallel
    * enough (the 100 TB case — thousands of row groups).
    *
    * The split count is ESTIMATED from the relation's file index
    * (max(#files, bytes/maxPartitionBytes) per scan) — `rdd
    * .getNumPartitions` would be exact but forces an RDD plan conversion
    * on every call, a per-query planning tax this runs too often to pay.
    * LogicalRDD leaves (Checkpoints.truncate output) carry their RDD
    * already, so their partition count is exact AND free — and matters
    * (r15): a truncated frame materialized after AQE coalescing is
    * often ONE partition, and without the fan-out every downstream
    * tokenize/minhash chain ran single-task (measured in
    * q_ingest_pipeline once its seams were truncated: 3 × ~1.2 s
    * one-task signature stages). Other non-file sources (in-memory test
    * frames) estimate conservatively high, so they are never
    * needlessly shuffled. */
  def fanOut(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxSplit = math.max(1L,
      spark.sessionState.conf.filesMaxPartitionBytes)
    // analyzed (not logical): reads stay UnresolvedDataSource until
    // analysis resolves them to their file relation
    val estSplits = df.queryExecution.analyzed.collectLeaves().map {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          math.max(fs.location.inputFiles.length.toLong,
            fs.location.sizeInBytes / maxSplit)
        case _ => target.toLong // unknown relation: assume parallel enough
      }
      case r: DataSourceV2Relation => r.table match {
        case ft: FileTable =>
          math.max(ft.fileIndex.inputFiles.length.toLong,
            ft.fileIndex.sizeInBytes / maxSplit)
        case _ => target.toLong
      }
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getNumPartitions.toLong
      case _ => target.toLong
    }.sum
    if (estSplits * 2 < target) df.repartition(target) else df
  }

  /** Collapse duplicate PAIRS into duplicate CLUSTERS: connected
    * components over the pair graph, labeled with the smallest member
    * id — the same canonical-representative rule as [[exact]].
    *
    * Min-label propagation WITH ADAPTIVE pointer-doubling
    * shortcutting: each round every node adopts the smallest of (its
    * label, its neighbors' labels); once the round-over-round changed
    * count plateaus (this round retires < half of last round's
    * changes), each node additionally adopts its LABEL'S label — so
    * information travels one hop by propagation and the known-distance
    * DOUBLES by shortcutting, giving O(log diameter) rounds on deep
    * graphs. Plain propagation (the first implementation) is
    * O(diameter) and failed its own convergence require on the 30×
    * scale sweep: real banded near-dup graphs contain CHAINS (doc
    * A ~ B ~ C …, one banded collision per link) deeper than any
    * reasonable fixed round budget. The doubling self-join is NOT
    * free, though — near-clique graphs (the common dedup case)
    * converge in 2–4 plain rounds, and running the shortcut join
    * unconditionally from round 3 cost the composed curation funnel
    * 1.44× at sf0.1 — hence the churn-plateau trigger: geometric
    * convergence never engages it, arithmetic (chain) convergence
    * engages it by round 3. Delegating to
    * [[Graph.connectedComponents]]' heavier star rounds instead was
    * 2.5× slower at 1×; the star operator remains the right choice
    * for general graphs (arbitrary structure, right-sized loop).
    *
    * Every distributed step is an equi-join + aggregate/projection;
    * rounds are checkpointed ([[graft.Checkpoints]]) so lineage stays
    * one round deep. Labels only DECREASE and every label is a real
    * node id, so the shortcut lookup always hits. Fixpoint = no label
    * changed; loud IllegalStateException past `maxIter`, never
    * silently-unconverged labels. The budget is log-scale but NOT
    * exactly log₂(diameter): when a smaller min floods into a region,
    * it resets that region's pointer depths, so convergence has a
    * churn tail — the 30× sweep's 297k-edge near-dup graph (75k
    * nodes, chains + bushy overlap) measured 22 rounds where pure
    * pointer jumping on a clean 150k-chain needs ~18. Default 50
    * gives that tail margin; converged loops exit early, so headroom
    * is free. Output: idCol, cluster. */
  def duplicateClusters(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    // Symmetrize via ONE explode, not a two-sided union: the pair plan
    // (often a full LSH banded self-join) appears once in the lineage,
    // so the truncation pass executes it once — the union form ran the
    // candidate generation on BOTH branches of the same job. The edge
    // count rides the same pass and right-sizes the loop below.
    val (edges0, edgeCount) = graft.Checkpoints.truncateCount(
      pairs.select(explode(array(
          struct(col(aCol).as("u"), col(bCol).as("v")),
          struct(col(bCol).as("u"), col(aCol).as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .distinct())
    // Loop-scoped shuffle right-sizing on a CLONED session (isolated
    // conf — concurrent queries on the caller's session never see the
    // lowered count), tuned for this loop's shape: the earlier A/B that
    // measured right-sizing neutral-to-worse here collapsed the 30×
    // (297k-edge) working set to ONE partition and lost the join
    // parallelism; 40k rows/partition keeps ≥8-way joins at that scale
    // while a bench-scale pair graph (hundreds of edges) drops to 1
    // partition and stops paying 32 tasks of scheduling per round for
    // tens of rows.
    val loopSpark = graft.Checkpoints.loopSession(
      pairs.sparkSession, edgeCount, rowsPerPartition = 40000L)
    val edges =
      org.apache.spark.sql.graftext.Bridge.rebind(edges0, loopSpark)
    // Labels-init FUSED with the first propagation round: with initial
    // labels = own id, round 1's min-neighbor label is just the min
    // neighbor id, so one aggregate over the symmetric edges replaces
    // the distinct-nodes frame, its truncation, and round 1's two
    // joins. The changed count (nodes whose min neighbor undercuts
    // their id) rides the same materialization pass and seeds the
    // churn-plateau detector exactly as the unfused round 1 did.
    val (l0, c0) = graft.Checkpoints.truncateCountTrue(
      edges.groupBy(col("u").as("id")).agg(min(col("v")).as("__mn"))
        .select(col("id"),
          least(col("id"), col("__mn")).as("label"),
          (col("__mn") < col("id")).as("__chg")),
      "__chg")
    var labels = l0.drop("__chg")
    var iter = 1
    var converged = c0 == 0L
    var prevChanged = c0
    var doubling = false
    while (iter < maxIter && !converged) {
      val nbrMin = edges
        .join(labels.select(col("id").as("v"), col("label").as("vl")), Seq("v"))
        .groupBy(col("u").as("id")).agg(min(col("vl")).as("nl"))
      // stepped feeds BOTH sides of the doubling self-join below and is
      // deliberately NOT persisted: its expensive inputs (the edge join
      // + min-agg) sit behind exchanges that ReuseExchange dedupes
      // across the two sides, so only the cheap post-shuffle projection
      // runs twice — persisting instead measured 21.7→31.1 s at 30×
      // (a cache materialization barrier per round beats nothing twice)
      val stepped = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"),
          col("label").as("__old"))
      // pointer doubling: adopt the label of my label (label values are
      // node ids, so the self-join key always resolves). ADAPTIVE:
      // engaged only once the plain propagation's churn plateaus (see
      // below) — near-clique dedup graphs (the common case) shrink
      // their changed set geometrically and converge in 2–4 plain
      // rounds where the shortcut self-join is pure overhead (it cost
      // q_curate_pipeline 1.44× at sf0.1 when unconditional), while
      // chain-shaped graphs plateau immediately and still get doubling
      // from round 3 — the O(log diameter) budget is unchanged.
      val doubled =
        if (!doubling) stepped
        else stepped
          .join(stepped.select(col("id").as("label"), col("label").as("__ll")),
            Seq("label"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("__ll"), col("label"))).as("label"),
            col("__old"))
      // fixpoint probe fused into the round's materialization pass
      // (Checkpoints.truncateCountTrue) — no separate changed-row job
      val (next, changed) = graft.Checkpoints.truncateCountTrue(
        doubled.withColumn("__chg", col("label") =!= col("__old"))
          .drop("__old"),
        "__chg")
      converged = changed == 0L
      // Churn-plateau detector: plain min-label propagation converges
      // geometrically on bushy/clique-like graphs (changed-count halves
      // or better each round) but only arithmetically on chains
      // (changed ≈ previous changed). When a round retires less than
      // half the previous round's changed set, propagation has hit its
      // linear tail — engage pointer doubling from the next round and
      // keep it (disengaging re-risks the chain tail). The probe is
      // free: `changed` already rides the round's materialization pass.
      if (!doubling && prevChanged > 0 && changed * 2 > prevChanged)
        doubling = true
      prevChanged = changed
      labels = next.drop("__chg")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge after $maxIter rounds; " +
          "raise maxIter (doubling + churn tail exceeded the budget)")
    // hop back: downstream operators must plan under the CALLER's conf.
    // rebindExit, not rebind: the loop ran at lowered width, and its
    // 1-partition hash layout must not be advertised to the caller's
    // planner (see Bridge.rebindExit — measured in q_curate_pipeline).
    org.apache.spark.sql.graftext.Bridge.rebindExit(
      labels.select(col("id").as(aCol), col("label").as("cluster")),
      pairs.sparkSession)
  }

  /** Exact dedup by content fingerprint: one row per distinct normalized
    * text, keeping the smallest id. Output: idCol, fingerprint, n_copies. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("fingerprint"), col("n_copies"))

  /** Word n-gram shingle array of the normalized text (may repeat;
    * consumers needing set semantics dedupe or are order/dup-invariant
    * like min). Shingle i = tokens[i..i+n-1] joined by ' ' — built with
    * native higher-order functions (transform/slice), fully codegen'd.
    * Docs shorter than n tokens yield an empty array. */
  def shingleArray(textCol: String, n: Int): Column = {
    val toks = TextOps.tokens(col(textCol))
    val idx = when(size(toks) >= n, sequence(lit(0), size(toks) - n))
      .otherwise(array().cast("array<int>"))
    transform(idx, i => array_join(slice(toks, i + 1, lit(n)), " "))
  }

  /** One row per (id, shingle), deduplicated per document. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), explode(shingleArray(textCol, n)).as("shingle")).distinct()

  /** Exact substring duplication, the Lee et al. 2021 signal
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): a w-token window is DUPLICATED when its
    * normalized text occurs more than once anywhere in the corpus —
    * across documents (copied passages, boilerplate) or within one
    * (degenerate repetition). Unlike document-level MinHash, this
    * catches a duplicated paragraph inside two otherwise-different
    * documents. One row per window position; windows are md5-hashed so
    * the shuffle carries 32-byte keys, never window text.
    *
    * Scale shape: one posexplode, ONE hash-partitioned window count on
    * the window hash (the same exchange a count-aggregate would need,
    * but with no join back re-deriving the explode — the
    * [[CorpusStats.shingleNovelty]] shape). Occurrence counts are
    * bounded by corpus size, not squared: a window appearing a million
    * times emits a million flagged rows, not 10^12 pairs.
    *
    * `maxOccurrences` (default unbounded) is the hot-key bound the rest
    * of this file applies via [[boundBuckets]]: the default path counts
    * with ONE window-hash window, which funnels all occurrences of a
    * hash through a single task — linear, but a boilerplate window
    * occurring 10^8 times is 10^8 rows on one task. With a cap set,
    * counts come from a groupBy aggregate instead (map-side partial
    * aggregation absorbs any skew; the join back is AQE-skew-splittable)
    * and positions of windows hotter than the cap are DROPPED — they are
    * certain boilerplate duplicates carrying no per-position signal;
    * route their documents to [[exact]] dedup or
    * [[removeDuplicateSpans]]' purge path, cf. [[boundBuckets]].
    *
    * Output: idCol, pos (0-based first-token index), h (window md5),
    * n_occ (corpus-wide occurrence count). */
  def windowDups(
      df: DataFrame, idCol: String, textCol: String, w: Int,
      maxOccurrences: Int = Int.MaxValue): DataFrame = {
    val wins = df.select(col(idCol),
      posexplode(shingleArray(textCol, w)).as(Seq("pos", "__s")))
      .select(col(idCol), col("pos"), md5(col("__s")).as("h"))
    if (maxOccurrences == Int.MaxValue)
      wins.withColumn("n_occ",
        count(lit(1)).over(Window.partitionBy(col("h"))))
    else
      wins.join(wins.groupBy(col("h")).agg(count(lit(1)).as("n_occ")),
        Seq("h"))
        .filter(col("n_occ") <= maxOccurrences)
        .select(col(idCol), col("pos"), col("h"), col("n_occ"))
  }

  /** Per-document summary of [[windowDups]]: how much of each document
    * is text that exists elsewhere — the removal/ranking signal a
    * curation pipeline thresholds on (Lee et al. cut documents or spans
    * above a duplicated fraction). Every input document gets a row;
    * docs too short for any w-window report 0 windows and a NULL
    * fraction (no evidence either way — callers decide the policy,
    * mirroring [[CorpusStats.shingleNovelty]]).
    *
    * `skewSafe` switches the corpus-wide occurrence count from the
    * single-exchange window (all occurrences of one hash on one task —
    * the [[windowDups]] default) to a groupBy aggregate + join back:
    * map-side partial aggregation absorbs hot window-hashes and AQE can
    * split the skewed join, at the cost of a second exchange. Output is
    * IDENTICAL either way (nothing is dropped — stats need no cap, only
    * a skew-immune plan); flip it on for corpora where one boilerplate
    * window can dominate a task.
    *
    * Output: idCol, n_windows, n_dup, dup_frac. */
  def windowDupStats(
      df: DataFrame, idCol: String, textCol: String, w: Int,
      skewSafe: Boolean = false): DataFrame = {
    val wins0 = df.select(col(idCol),
      posexplode(shingleArray(textCol, w)).as(Seq("pos", "__s")))
      .select(col(idCol), col("pos"), md5(col("__s")).as("h"))
    val wins =
      if (!skewSafe)
        wins0.withColumn("n_occ",
          count(lit(1)).over(Window.partitionBy(col("h"))))
      else
        wins0.join(wins0.groupBy(col("h")).agg(count(lit(1)).as("n_occ")),
          Seq("h"))
    val perDoc = wins
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup"))
    df.select(col(idCol)).distinct()
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        (col("n_dup").cast("double") / col("n_windows").cast("double"))
          .as("dup_frac"))
  }

  /** MinHash signatures: numHashes md5-derived min-hashes per document.
    * Hash j of shingle s is md5("j:" + s); the signature component is the
    * lexicographic min — string min is engine-portable. Computed by the
    * native MinHashSigExpr (codegen, see functions/HashExprs.scala): one
    * map-side pass over the shingle array, no explode, no shuffle at all.
    * Output: idCol, h0..h{numHashes-1}. */
  def minHashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int): DataFrame = {
    val sig = graft.functions.HashExprs
      .minhashSig(shingleArray(textCol, shingleSize), numHashes)
    // explode(array(sig)) is a generator barrier: the signature expression
    // is evaluated exactly once per row, and the h_j extractions reference
    // the generator's output attribute. Without it, projection collapsing
    // would inline the (expensive) hash computation into every h_j.
    fanOut(df).select(col(idCol), explode(array(sig)).as("__sig"))
      .filter(size(col("__sig")) > 0) // docs too short for any shingle
      .select(col(idCol) +:
        (0 until numHashes).map(j => col("__sig")(j).as(s"h$j")): _*)
  }

  /** Bound LSH bucket sizes before a bucket-keyed self-join. On real web
    * corpora one degenerate bucket (empty-ish/boilerplate docs sharing a
    * signature) turns the self-join quadratic — a bucket of B rows emits
    * B² pairs, and at 100 TB a single hot bucket emits trillions. Rows in
    * buckets larger than `maxBucketSize` are dropped before the join
    * (standard web-dedup practice: such buckets are near-certain
    * boilerplate, handled by exact dedup instead). The count is a window
    * aggregate partitioned on the bucket key — the same hash partitioning
    * the join needs, so AQE reuses the exchange. Use [[hotBuckets]] to
    * surface what was dropped. */
  def boundBuckets(
      banded: DataFrame, bucketKeys: Seq[String], maxBucketSize: Int): DataFrame = {
    noteCapOnce(maxBucketSize)
    val w = Window.partitionBy(bucketKeys.map(col): _*)
    banded.withColumn("__bucket_n", count(lit(1)).over(w))
      .filter(col("__bucket_n") <= maxBucketSize)
      .drop("__bucket_n")
  }

  // One-time (per JVM) notice that candidate generation is running
  // capped: as of the r8 API change the cap is the DEFAULT, so callers
  // who never chose it should at least see it in the log. Logged at
  // plan-construction time (the drop itself is a lazy filter — counting
  // dropped rows here would cost an extra job; `hotBuckets` is the
  // explicit audit path).
  private val capNoticeLogged = new java.util.concurrent.atomic.AtomicBoolean
  private def noteCapOnce(maxBucketSize: Int): Unit =
    if (maxBucketSize != Uncapped && capNoticeLogged.compareAndSet(false, true))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"graft.ops.Dedup: LSH candidate generation is bucket-capped " +
          s"(maxBucketSize=$maxBucketSize; default since r8 — a " +
          s"BEHAVIOR CHANGE from the earlier uncapped default). Rows in " +
          s"oversized buckets are dropped before the self-join; use " +
          s"Dedup.hotBuckets(...) to audit dropped buckets or pass " +
          s"Dedup.Uncapped for exhaustive candidates. Logged once per JVM.")

  /** Monitoring companion to [[boundBuckets]]: one row per dropped (hot)
    * bucket with its size, largest first. */
  def hotBuckets(
      banded: DataFrame, bucketKeys: Seq[String], maxBucketSize: Int): DataFrame =
    banded.groupBy(bucketKeys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)
      .orderBy(col("bucket_n").desc)

  /** Benchmark decontamination: (train doc, eval doc) pairs sharing at
    * least `minShared` distinct n-token shingles, where `isEval` marks the
    * held-out side. Shingle-keyed equi-join — candidates are shingle
    * collisions only, never doc×doc.
    *
    * `maxShingleDf` bounds the per-shingle join fan-out: a shingle
    * appearing in D distinct documents emits O(D_train × D_eval) join rows
    * for that key, so one boilerplate 7-gram present in 10^6 train docs ×
    * 10^3 eval docs would alone emit 10^9 rows. Shingles with document
    * frequency above the cap are dropped before the join — the same
    * degenerate-hot-key bound as [[boundBuckets]] (and it reuses it:
    * the (doc, shingle) rows are distinct per doc, so the bucket count IS
    * the document frequency). Standard decontamination practice: a
    * shingle shared by that many documents is boilerplate and carries no
    * contamination signal. Use [[hotBuckets]] on the exploded shingles to
    * surface what was dropped.
    *
    * Output: idCol, eval_&lt;idCol&gt;, n_shared. */
  def contaminationPairs(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      isEval: Column, minShared: Int,
      maxShingleDf: Int = Int.MaxValue): DataFrame = {
    val sh0 = df.select(col(idCol), isEval.as("__is_eval"),
      explode(array_distinct(shingleArray(textCol, n))).as("sh"))
    // The DF-cap window partitions on sh — the same hash partitioning
    // the per-shingle aggregate below needs, so no second exchange. (An
    // eval-vocabulary semi-join prefilter was A/B-measured here: it
    // wins only when the shingle shuffle dominates; at bench scale the
    // extra stages and the duplicated explode cost more than the
    // window.)
    val sh = if (maxShingleDf == Int.MaxValue) sh0
             else boundBuckets(sh0, Seq("sh"), maxShingleDf)
    // ONE aggregate per shingle replaces the train×eval SELF-JOIN the
    // r14 form used (r15). The self-join's two sides derive from the
    // same `sh` frame, but after analysis they are never canonically
    // equal again (DeduplicateRelations re-aliases one side, and
    // composition-dependent rewrites drift them further), so neither
    // the static ReuseExchange rule nor AQE's stage cache dedupes them
    // — measured in q_curate_pipeline, where the WHOLE scan → explode →
    // window subtree executed twice (its two heaviest stages,
    // tools/CurateProbe). The aggregate form shares the subtree by
    // construction: one pass collects each shingle's train and eval id
    // SETS (collect_set mirrors the old count_distinct semantics under
    // duplicate input rows), pairs fan out from the sets, and the pair
    // count per (train, eval) is exact because each shingle contributes
    // each pair at most once. Set sizes are bounded by `maxShingleDf`
    // when capped; uncapped, a hot shingle's set is O(its document
    // frequency) — linear in what the old join already streamed
    // quadratically. NULL `isEval` rows belong to neither side (when()
    // yields NULL, collect_set skips it), exactly as the old two-sided
    // filters dropped them.
    sh.groupBy(col("sh"))
      .agg(
        collect_set(when(!col("__is_eval"), col(idCol))).as("__tids"),
        collect_set(when(col("__is_eval"), col(idCol))).as("__eids"))
      .filter(size(col("__tids")) > 0 && size(col("__eids")) > 0)
      .select(explode(col("__tids")).as(idCol), col("__eids"))
      .select(col(idCol), explode(col("__eids")).as(s"eval_$idCol"))
      .groupBy(col(idCol), col(s"eval_$idCol"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** (id, band_id, sig) banding of a signature frame — the LSH bucket
    * key layout shared by every banded join (self- and cross-table).
    * Bands are concatenations of `bandSize` consecutive signature
    * components. */
  private def bandFrame(
      signatures: DataFrame, idCol: String,
      numHashes: Int, bandSize: Int): DataFrame = {
    require(numHashes % bandSize == 0, "numHashes must be divisible by bandSize")
    val numBands = numHashes / bandSize
    val bandCols = (0 until numBands).map { b =>
      struct(lit(b).as("band_id"),
        concat_ws("|", (0 until bandSize).map(k => col(s"h${b * bandSize + k}")): _*)
          .as("sig"))
    }
    signatures
      .select(col(idCol), explode(array(bandCols: _*)).as("band"))
      .select(col(idCol), col("band.band_id"), col("band.sig"))
  }

  /** LSH candidate pairs: documents sharing any band signature. A
    * self-join per band keyed on the band value yields the candidates
    * (a < b). The join is hash-partitioned on the band value — work is
    * proportional to bucket sizes, never N². `maxBucketSize` bounds the
    * per-bucket fan-out (see [[boundBuckets]]) and DEFAULTS to the
    * production cap [[DefaultMaxBucketSize]]; pass [[Uncapped]]
    * explicitly for exhaustive candidates. */
  def lshCandidatePairs(
      signatures: DataFrame, idCol: String,
      numHashes: Int, bandSize: Int,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val banded0 = bandFrame(signatures, idCol, numHashes, bandSize)
    val banded =
      if (maxBucketSize == Int.MaxValue) banded0
      else boundBuckets(banded0, Seq("band_id", "sig"), maxBucketSize)
    val left = banded.select(col("band_id"), col("sig"), col(idCol).as("a"))
    val right = banded.select(col("band_id"), col("sig"), col(idCol).as("b"))
    left.join(right, Seq("band_id", "sig"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** CONSENSUS near-dup pairs: flagged by BOTH the shingle family
    * (MinHash LSH bands — token-set overlap) AND the bit-sampling
    * family (SimHash hamming bands — weighted-feature closeness). The
    * two generators fail differently — shingles miss character-level
    * edits, simhash can collide topically-similar-but-distinct docs —
    * so their INTERSECTION is the high-precision tier used when a
    * deletion decision is irreversible (auto-dropping from a crawl
    * without human review), with either single family kept for recall
    * tiers. Ensemble-of-signals dedup is standard curation practice;
    * the agreement set is typically tiny relative to either candidate
    * list.
    *
    * Scale shape: both generators are the bounded banded joins they
    * already are (bucket caps apply to each); the consensus is ONE
    * inner join on the (a, b) pair key — pair-list sized, never
    * corpus-sized. Output: a, b (a < b). */
  def consensusPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 8, bandSize: Int = 2,
      simBands: Int = 4, maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    minHashLsh(df, idCol, textCol, shingleSize, numHashes, bandSize,
      maxBucketSize)
      .join(simHashCandidates(simHash(df, idCol, textCol), idCol,
        simBands, maxBucketSize), Seq("a", "b"))

  /** End-to-end MinHash LSH near-dup candidates. */
  def minHashLsh(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 8, bandSize: Int = 2,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    lshCandidatePairs(
      minHashSignatures(df, idCol, textCol, shingleSize, numHashes),
      idCol, numHashes, bandSize, maxBucketSize)

  /** Signature-based Jaccard ESTIMATE for LSH candidate pairs: the
    * fraction of MinHash signature components on which the two documents
    * agree — an unbiased estimator of true Jaccard with stderr
    * ~sqrt(J(1-J)/numHashes). This is the 100 TB verification path: it
    * re-joins only the (id, numHashes-strings) signature table on the
    * candidate ids, never re-touching the raw text or re-exploding
    * shingles the way exact [[jaccardPairs]] does. Use it to rank/filter
    * candidates cheaply and reserve the exact operator for the
    * survivors. Engine-portable: md5-string equality and a small-int
    * division are exact on every engine.
    *
    * Output: a, b, n_agree, est_jaccard. */
  def jaccardEstimate(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 8, bandSize: Int = 2,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    jaccardEstimateFromSignatures(
      minHashSignatures(df, idCol, textCol, shingleSize, numHashes),
      idCol, numHashes, bandSize, maxBucketSize)

  /** [[jaccardEstimate]] over an EXISTING signature frame
    * ((idCol, h0..h{numHashes-1}), from [[minHashSignatures]] or read
    * back from a materialized signature table) — the production form:
    * at corpus scale the signatures ARE the dedup index, computed once
    * and persisted, and this plan touches only that table (banding +
    * two id-keyed joins; plan-asserted to never re-derive signatures
    * or enumerate pairs). The text-facing convenience overload above
    * recomputes the map-side signature stage once per plan consumer —
    * fine for ad-hoc runs, wasteful at scale. */
  def jaccardEstimateFromSignatures(
      sigs: DataFrame, idCol: String, numHashes: Int = 8, bandSize: Int = 2,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val pairs = lshCandidatePairs(sigs, idCol, numHashes, bandSize, maxBucketSize)
    val la = sigs.select(col(idCol).as("a") +:
      (0 until numHashes).map(j => col(s"h$j").as(s"__a$j")): _*)
    val lb = sigs.select(col(idCol).as("b") +:
      (0 until numHashes).map(j => col(s"h$j").as(s"__b$j")): _*)
    val agree = (0 until numHashes)
      .map(j => when(col(s"__a$j") === col(s"__b$j"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(la, Seq("a")).join(lb, Seq("b"))
      .withColumn("n_agree", agree)
      .withColumn("est_jaccard",
        col("n_agree").cast("double") / lit(numHashes.toDouble))
      .select(col("a"), col("b"), col("n_agree"), col("est_jaccard"))
  }

  /** Span-level duplicate REMOVAL — the fix [[windowDups]] is the
    * diagnosis for (Lee et al. 2021 cut duplicated spans, not whole
    * docs): every token covered by a w-window whose normalized text
    * already occurred earlier in the corpus is dropped, and the
    * document is reassembled from the surviving tokens.
    *
    * keepFirst=true (default, the paper's semantics): the globally
    * FIRST occurrence of each window — ordered by (id, pos), a total
    * deterministic order — survives; later occurrences are removed.
    * keepFirst=false removes every occurrence of any duplicated window
    * (aggressive boilerplate purge; keeps only corpus-unique text).
    *
    * Scale shape: same single window-hash exchange as [[windowDups]]
    * (row_number and count share one partition spec), then covered
    * positions explode ×w from FLAGGED windows only (removal volume,
    * not corpus volume), one id-keyed anti-join against token
    * positions, and one id-keyed reassembly aggregate whose
    * collect_list is bounded by document length — the same per-doc
    * bound every tokenizer stage already carries. Reassembly sorts by
    * position inside the aggregate, so the result is deterministic
    * under any partitioning.
    *
    * `maxOccurrences` (default unbounded) bounds the window-hash
    * partitions the keep-first row_number scans: the default path sorts
    * all occurrences of one hash on a single task (linear but
    * single-task for a 10^8-occurrence boilerplate window — the
    * [[boundBuckets]] skew family). With a cap set, occurrence counts
    * come from a skew-immune groupBy aggregate, hashes at or below the
    * cap go through the (now-bounded) keep-first window, and hashes
    * ABOVE the cap have ALL their occurrences removed — text that
    * common is boilerplate with no meaningful "first" occurrence (the
    * purge semantics of keepFirst=false, applied only to the hot tail);
    * callers wanting to preserve one copy of such text route those
    * documents through [[exact]] dedup instead, cf. [[boundBuckets]].
    *
    * Output: idCol, n_tokens, n_removed, text_clean. */
  def removeDuplicateSpans(
      df: DataFrame, idCol: String, textCol: String, w: Int,
      keepFirst: Boolean = true,
      maxOccurrences: Int = Int.MaxValue): DataFrame = {
    val wins = df.select(col(idCol),
      posexplode(shingleArray(textCol, w)).as(Seq("pos", "__s")))
      .select(col(idCol), col("pos"), md5(col("__s")).as("h"))
    val flagged =
      if (maxOccurrences != Int.MaxValue) {
        val wc = wins.join(
          wins.groupBy(col("h")).agg(count(lit(1)).as("__n")), Seq("h"))
        val hot = wc.filter(col("__n") > maxOccurrences)
        val warm =
          if (keepFirst)
            wc.filter(col("__n") > 1 && col("__n") <= maxOccurrences)
              .withColumn("__rn", row_number().over(
                Window.partitionBy(col("h")).orderBy(col(idCol), col("pos"))))
              .filter(col("__rn") > 1).drop("__rn")
          else wc.filter(col("__n") > 1 && col("__n") <= maxOccurrences)
        hot.unionByName(warm).drop("__n")
      } else if (keepFirst)
        wins.withColumn("__rn", row_number().over(
          Window.partitionBy(col("h")).orderBy(col(idCol), col("pos"))))
          .filter(col("__rn") > 1)
      else
        wins.withColumn("__n",
          count(lit(1)).over(Window.partitionBy(col("h"))))
          .filter(col("__n") > 1)
    val covered = flagged
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("p"))
      .distinct()
    val toksPos = df.select(col(idCol),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("p", "tok")))
    val agg = toksPos.join(covered, Seq(idCol, "p"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          s => s.getField("tok")), " ").as("text_clean"))
    df.select(col(idCol),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Incremental near-duplicate detection: flag NEW documents that are
    * near-dups of an EXISTING corpus, given only the corpus's
    * materialized MinHash signature index — the continuous-ingestion
    * shape. The 100-TB corpus is never re-read, re-shingled, or
    * re-paired against itself: the new batch's signatures are computed
    * map-side, banded, and joined against the (pre-banded-on-read)
    * index on (band_id, sig); agreement is then estimated exactly like
    * [[jaccardEstimateFromSignatures]] via two id-keyed signature
    * joins. The band join's new side carries an explicit broadcast
    * hint (`broadcastBatch`, default on — an ingest batch is orders of
    * magnitude smaller than the corpus index, and a computed signature
    * frame has no stats, so leaving the choice to the optimizer risks
    * a sort-merge join that shuffles the ENTIRE corpus band index);
    * the candidate set is then ∝ colliding buckets, not batch ×
    * corpus. Disable for batches too large to broadcast.
    *
    * `maxBucketSize` bounds the CORPUS side's bucket fan-out (a hot
    * boilerplate band in a web-scale index would otherwise fan every
    * colliding new doc into millions of candidates); bounded buckets
    * mean those near-dups go undetected — standard practice routes such
    * docs to exact dedup, cf. [[boundBuckets]].
    *
    * Output: ONE row per signature-bearing new document: idCol,
    * matched, match_id (corpus doc with the highest agreement; ties →
    * smaller id), n_agree, est_jaccard — the last three NULL when
    * unmatched. Use the text-facing overload below to also surface
    * shingle-less new docs (trivially unmatched). */
  def incrementalNearDupFromSignatures(
      newSigs: DataFrame, corpusSigs: DataFrame, idCol: String,
      numHashes: Int = 8, bandSize: Int = 2, minEstimate: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize,
      broadcastBatch: Boolean = true): DataFrame = {
    val nb0 = bandFrame(newSigs, idCol, numHashes, bandSize)
      .select(col("band_id"), col("sig"), col(idCol).as("__new"))
    val nb = if (broadcastBatch) broadcast(nb0) else nb0
    val ob0 = bandFrame(corpusSigs, idCol, numHashes, bandSize)
    val ob = (if (maxBucketSize == Int.MaxValue) ob0
      else boundBuckets(ob0, Seq("band_id", "sig"), maxBucketSize))
      .select(col("band_id"), col("sig"), col(idCol).as("__old"))
    val cand = nb.join(ob, Seq("band_id", "sig"))
      .select(col("__new"), col("__old")).distinct()
    val la = newSigs.select(col(idCol).as("__new") +:
      (0 until numHashes).map(j => col(s"h$j").as(s"__a$j")): _*)
    val lb = corpusSigs.select(col(idCol).as("__old") +:
      (0 until numHashes).map(j => col(s"h$j").as(s"__b$j")): _*)
    val agree = (0 until numHashes)
      .map(j => when(col(s"__a$j") === col(s"__b$j"), 1).otherwise(0))
      .reduce(_ + _)
    val best = cand.join(la, Seq("__new")).join(lb, Seq("__old"))
      .withColumn("n_agree", agree)
      .withColumn("est_jaccard",
        col("n_agree").cast("double") / lit(numHashes.toDouble))
      .filter(col("est_jaccard") >= minEstimate)
      .withColumn("__rn", row_number().over(Window.partitionBy(col("__new"))
        .orderBy(col("n_agree").desc, col("__old"))))
      .filter(col("__rn") === 1)
      .select(col("__new").as(idCol), col("__old").as("match_id"),
        col("n_agree"), col("est_jaccard"))
    newSigs.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(col(idCol), col("match_id").isNotNull.as("matched"),
        col("match_id"), col("n_agree"), col("est_jaccard"))
  }

  /** [[incrementalNearDupFromSignatures]] from raw new-batch text; also
    * emits docs too short for any shingle (trivially unmatched), so the
    * result is one row per new document. */
  def incrementalNearDup(
      newDf: DataFrame, corpusSigs: DataFrame,
      idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 8, bandSize: Int = 2,
      minEstimate: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize,
      broadcastBatch: Boolean = true): DataFrame = {
    val res = incrementalNearDupFromSignatures(
      minHashSignatures(newDf, idCol, textCol, shingleSize, numHashes),
      corpusSigs, idCol, numHashes, bandSize, minEstimate, maxBucketSize,
      broadcastBatch)
    newDf.select(col(idCol)).distinct()
      .join(res, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("matched"), lit(false)).as("matched"),
        col("match_id"), col("n_agree"), col("est_jaccard"))
  }

  /** SimHash (60-bit, sign-safe): per token, take 15 hex chars of md5 as
    * a 60-bit integer; each bit votes +1/-1; the fingerprint sets bits
    * with positive vote sums. Computed by the native SimHash60Expr
    * (codegen, see functions/HashExprs.scala): a single map-side pass —
    * no token explode, no 60× bit explosion, no shuffles. Output: idCol,
    * simhash (long). */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    fanOut(df).select(col(idCol),
      graft.functions.HashExprs.simhash60(TextOps.tokens(col(textCol)))
        .as("simhash"))

  /** Hamming-banded SimHash near-dup candidates: split the 60 bits into
    * `numBands` chunks; docs sharing any chunk are candidates (catches
    * all pairs with hamming distance < numBands). `maxBucketSize` bounds
    * per-bucket fan-out as in [[boundBuckets]]. */
  def simHashCandidates(
      sims: DataFrame, idCol: String, numBands: Int = 4,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val chunkBits = 60 / numBands
    val mask = (1L << chunkBits) - 1
    val chunks = (0 until numBands).map { b =>
      struct(lit(b).as("band_id"),
        shiftright(col("simhash"), b * chunkBits).bitwiseAND(mask).as("sig"))
    }
    val banded0 = sims.select(col(idCol), explode(array(chunks: _*)).as("c"))
      .select(col(idCol), col("c.band_id"), col("c.sig"))
    val banded =
      if (maxBucketSize == Int.MaxValue) banded0
      else boundBuckets(banded0, Seq("band_id", "sig"), maxBucketSize)
    banded.as("l").join(banded.as("r"), Seq("band_id", "sig"))
      .filter(col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("a"), col(s"r.$idCol").as("b")).distinct()
  }

  /** Edit-distance near-dup pairs — the [[simHashCandidates]] recall
    * tier completed with a VERIFICATION tier (the Manku et al. 2007
    * pipeline, "Detecting Near-Duplicates for Web Crawling", WWW:
    * simhash → hamming bands → verify survivors), for the near-dup
    * class the shingle family misses: small CHARACTER-level edits
    * (OCR noise, template fill-ins, version strings) where token
    * shingles all change but the text is one keystroke away.
    *
    * Candidates are pairs agreeing on ≥1 of `numBands` simhash chunks
    * (catches hamming distance < numBands); each surviving pair pays
    * one `levenshtein` on the NORMALIZED text — Spark's threshold
    * variant runs the banded O(len·maxDist) DP and returns -1 above
    * the bound, so far-apart candidates exit early. Distances ≤
    * maxDist are emitted exactly (the same DP both engines implement).
    *
    * Scale shape: candidate generation is the banded equi-join with
    * [[boundBuckets]] hot-bucket capping (never all-pairs); the text
    * join-back is id-keyed. Edit distance is quadratic per pair in
    * principle — this operator is for SHORT text fields (titles,
    * headings, template lines) or capped candidate sets; corpus-body
    * near-dup stays with MinHash/SimHash banding alone.
    *
    * Output: a, b (a < b), edit_dist (int, ≤ maxDist). */
  def editDistancePairs(
      df: DataFrame, idCol: String, textCol: String, maxDist: Int,
      numBands: Int = 4, maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val cands = simHashCandidates(
      simHash(df, idCol, textCol), idCol, numBands, maxBucketSize)
    val t = df.select(col(idCol), TextOps.normalized(col(textCol)).as("__t"))
    cands
      // Explicit-width repartition of the CANDIDATES, before the text
      // joins (r15, the same byte-based-AQE-coalescing hazard as the
      // simjoin verify tail): the candidate pairs are small in BYTES,
      // so AQE coalesced their read to ONE partition, the text joins
      // broadcast onto it, and every per-pair O(len·maxDist)
      // levenshtein ran on a single task (StageProbe: a 0.8 s one-task
      // stage holding 95% of the query's task time). Pair count, not
      // byte count, is this stage's cost model. Placed BEFORE the
      // joins on purpose: placed after them, projection pushdown sinks
      // the levenshtein below the new exchange right back into the
      // 1-partition stage (measured); here the DP's text inputs don't
      // exist below the exchange, so nothing can sink. Keyed on `a`
      // ALONE on purpose: keyed (a, b) it matches the candidate
      // distinct's child partitioning exactly and EnsureRequirements
      // elides the exchange (measured — the plan lost it and the DP
      // collapsed back to one task). A REPARTITION_BY_NUM exchange is
      // exempt from both AQE coalescing and local-read conversion, so
      // the width sticks.
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("a"))
      .join(t.select(col(idCol).as("a"), col("__t").as("__ta")), Seq("a"))
      .join(t.select(col(idCol).as("b"), col("__t").as("__tb")), Seq("b"))
      .select(col("a"), col("b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).as("edit_dist"))
      .filter(col("edit_dist") >= 0) // threshold DP: -1 = above maxDist
  }

  /** Order-preserving 64-bit encoding of a string's first `nBytes`
    * bytes (big-endian, NUL-padded): numeric order equals byte order,
    * so an ASCII blocking key can drive numeric bucketing. Callers
    * guarantee ASCII (e.g. the normalized [a-z0-9 ] text the corpus
    * queries use) — a multi-byte char would widen the hex past 16
    * digits and wrap. NULL in → NULL out. */
  def prefixKey64(s: Column, nBytes: Int = 7): Column = {
    require(nBytes >= 1 && nBytes <= 7, "nBytes in [1, 7] (fits a signed long)")
    conv(hex(substring(rpad(s, nBytes, " "), 1, nBytes)), 16, 10)
      .cast("long")
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995, "The
    * merge/purge problem for large databases", SIGMOD) — the third
    * candidate-generation family next to LSH banding and simhash
    * bands: sort the corpus by a blocking key and pair each record
    * with its `window − 1` successors. Catches near-dups that agree on
    * a sort prefix even when shingles/bits diverge, and is the
    * classical record-linkage shape for entity resolution.
    *
    * The global sort position is the EXACT two-level distributed rank
    * (the [[Curation.curriculum]] machinery: quantile buckets →
    * numBuckets-row offset prefix → parallel within-bucket
    * row_number) — NEVER a single-partition window; pairing is one
    * explode of `window − 1` rank probes + ONE rank-keyed equi-join,
    * so the shuffle carries rows ∝ corpus × window, never corpus².
    * The key must be numeric (use [[prefixKey64]] for ASCII string
    * keys); ties order by id, a total order on both engines. NULL
    * ids/keys carry no position.
    *
    * Output: a, b (the rank_gap-th successor of a), key_a, key_b,
    * rank_gap ∈ [1, window−1]. */
  def sortedNeighborhoodPairs(
      df: DataFrame, idCol: String, sortKey: Column, window: Int,
      numBuckets: Int = 256): DataFrame = {
    require(window >= 2, "window must pair each record with >= 1 successor")
    val base = df.select(col(idCol), sortKey.as("__k"))
      .filter(col(idCol).isNotNull && col("__k").isNotNull)
    val bucketed = Bucketing.quantileBuckets(
      base, col("__k").cast("double"), Nil, numBuckets)
    val offsets = Bucketing.bucketOffsets(bucketed, Nil, lit(1L))
    val wIn = Window.partitionBy(col(Bucketing.BucketCol))
      .orderBy(col("__k"), col(idCol))
    val ranked = Bucketing.joinOffsets(bucketed, offsets, Nil)
      .withColumn("__rank", col("__boffset") + row_number().over(wIn))
      .select(col(idCol), col("__k"), col("__rank"))
    val probes = ranked
      .select(col(idCol).as("a"), col("__k").as("key_a"), col("__rank"))
      .withColumn("rank_gap",
        explode(array((1 until window).map(lit): _*)))
      .withColumn("__target", col("__rank") + col("rank_gap"))
    probes.join(
      ranked.select(col(idCol).as("b"), col("__k").as("key_b"),
        col("__rank").as("__target")),
      Seq("__target"))
      .select(col("a"), col("b"), col("key_a"), col("key_b"),
        col("rank_gap"))
  }

  /** Shared skeleton of [[jaccardPairs]] / [[containmentPairs]]: the
    * DF-capped shingle frame's pairwise intersection counts joined to
    * both per-doc set sizes — (a, b, inter, sza, szb). The DF-cap
    * window partitions on shingle — the same hash partitioning the
    * self-join needs, so AQE reuses the exchange; the cap applies to
    * numerator and denominators consistently (an inconsistent cap would
    * report inter > union). */
  private def shingleIntersections(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, maxShingleDf: Int): DataFrame = {
    val sh0 = shingles(df, idCol, textCol, shingleSize)
    val sh = if (maxShingleDf == Int.MaxValue) sh0
             else boundBuckets(sh0, Seq("shingle"), maxShingleDf)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    sh.select(col("shingle"), col(idCol).as("a"))
      .join(sh.select(col("shingle"), col(idCol).as("b")), Seq("shingle"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(idCol).as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col(idCol).as("b"), col("sz").as("szb")), Seq("b"))
  }

  /** Exact pairwise n-gram Jaccard similarity for a candidate id set —
    * the verification stage after LSH. Output: a, b, inter, union_n,
    * jaccard. Intersections come from a shingle-keyed self-join (shuffle
    * on shingle), set sizes from one aggregation — no N² scan.
    *
    * `maxShingleDf` bounds the per-shingle self-join fan-out exactly as
    * in [[contaminationPairs]]: a shingle present in D documents emits
    * O(D²) join rows for that key, so handing this operator a raw corpus
    * (instead of the documented LSH candidate set) with one boilerplate
    * shingle in 10^6 docs would alone emit 10^12 rows. Shingles with
    * document frequency above the cap are dropped from BOTH the
    * intersection join and the per-doc set sizes — i.e. jaccard is
    * computed over the non-boilerplate shingle space, consistently for
    * numerator and denominator (an inconsistent cap would report
    * inter > union).
    *
    * The DEFAULT is uncapped exact Jaccard — this is the verify-stage
    * operator and its contract is a bounded candidate set; callers
    * handing it corpus-shaped input opt into a cap explicitly, like
    * [[contaminationPairs]] (unlike the CANDIDATE generators —
    * [[lshCandidatePairs]] and family — which cap by default, because
    * their contract is corpus-shaped input). */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, maxShingleDf: Int = Int.MaxValue): DataFrame =
    shingleIntersections(df, idCol, textCol, shingleSize, maxShingleDf)
      .withColumn("union_n", col("sza") + col("szb") - col("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / col("union_n").cast("double"))
      .select(col("a"), col("b"), col("inter"), col("union_n"), col("jaccard"))

  /** The prefix-filter working set shared by [[similarityJoinExact]]'s
    * join and its candidate-budget pricing pass: each document keeps its
    * globally-rarest `n − ceil(p·n/100) + 1` units (ties broken by unit
    * value for determinism), each carrying its rank `pos` in the
    * document's global unit order (PPJoin's positional filter needs
    * it). Two documents can reach jaccard ≥ p only if their prefixes
    * share a unit (Chaudhuri et al. ICDE '06). */
  private def prefixEntries(
      expl: DataFrame, dfc: DataFrame, p: Int): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("__df"), col("tok"))
    expl.join(dfc, Seq("tok"))
      .withColumn("__pos", row_number().over(w))
      // long arithmetic: p·n stays exact for any document length
      .filter(col("__pos") <=
        col("n") - expr(s"($p * cast(n as bigint) + 99) div 100") + 1)
      .select(col("tok"), col("id"), col("n"), col("__pos").as("pos"))
  }

  /** EXACT set-similarity self-join via prefix filtering (Chaudhuri et
    * al. ICDE 2006 SSJoin; Xiao et al. WWW 2008 PPJoin): ALL pairs of
    * documents whose token-set Jaccard is ≥ `thresholdPct`/100 — with
    * a proof of no false negatives, unlike the LSH family
    * ([[minHashLsh]]/[[simHashCandidates]]), whose banding trades
    * recall for bounded work. This is the tier for contractual dedup
    * ("every pair above θ WILL be found": compliance scrubs, licensed-
    * content removal), where a probabilistic miss is not acceptable.
    *
    * Prefix filter: order each document's distinct tokens by GLOBAL
    * ascending document frequency (ties by token — a deterministic
    * total order that needs no materialized global rank, so no
    * single-partition dense_rank at vocabulary scale). If
    * J(A,B) ≥ θ then |A∩B| ≥ ⌈θ·|A|⌉, so A and B must share a token
    * inside each other's first |x| − ⌈θ·|x|⌉ + 1 tokens — pairs
    * sharing NO prefix token are provably below θ and are never
    * generated. Candidates therefore collide only on documents'
    * RAREST tokens (the standard PPJoin bound: fan-out per prefix
    * token is its document frequency, and prefix tokens are chosen to
    * be the rarest), plus the length filter
    * 100·min(|A|,|B|) ≥ p·max(|A|,|B|) (J ≤ min/max) and PPJoin's
    * POSITIONAL filter (Xiao et al. WWW '08 §3.2: a shared prefix unit
    * at ranks (i, j) caps the intersection at
    * min(i,j) + min(|A|−i, |B|−j); rows that cannot reach the
    * ⌈p·(|A|+|B|)/(100+p)⌉ overlap requirement are dropped) prune
    * cross-size and positionally-hopeless pairs before the verify
    * stage — both lossless, both free of extra shuffles.
    *
    * All threshold arithmetic is INTEGER (p = percent): prefix length
    * uses ⌈p·n/100⌉ = (p·n + 99) div 100 and the acceptance test is
    * 100·|A∩B| ≥ p·|A∪B| — no float θ·n whose binary representation
    * could ceil differently across engines. The reported `jaccard` is
    * the one final long/long division ([[graft.ExactAgg]] discipline).
    *
    * The set UNIT is the `shingleSize`-token w-shingle (Broder 1997
    * resemblance; `1` = single tokens). Shingles are the production
    * unit for exactly the reason prefix filtering needs: a small or
    * skewed token vocabulary makes every token common and the prefix
    * join quadratic (measured here: a 31-token corpus vocabulary blew
    * the token-level prefix join to 113M candidate rows on a 4k-doc
    * slice, while 3-shingles — a 27k-unit space — kept the FULL
    * corpus at 0.7M), and w-shingling restores the rare-unit head the
    * filter prunes with.
    *
    * SCALE CONTRACT — exactness is Ω(candidates): prefix filtering
    * bounds work by the document frequency of each document's rarest
    * units, so it stays near-linear only while the unit vocabulary
    * GROWS with the corpus (real text: shingle spaces are open). On a
    * CLOSED vocabulary every unit's df grows linearly with corpus
    * size and candidates grow ~df² — the 10× scale probe measured
    * 57× on exactly such input. That is the exact tier's inherent
    * lower bound (any no-false-negative join must touch every
    * qualifying pair), not a plan defect: hand corpus-growth
    * workloads to the LSH tiers and reserve this operator for
    * bounded slices (post-exact-dedup near-dup families, compliance
    * candidate sets) or open-vocabulary corpora.
    *
    * That inherent quadratic is LOUD, not silent: before launching the
    * prefix join the operator prices it from the already-computed df
    * table — Σ over units of df·(df−1)/2 is an upper bound on candidate
    * pairs (prefix entries per unit never exceed its df). Only when the
    * cheap bound exceeds `maxCandidates` does it pay one extra pass to
    * count the EXACT prefix-join candidates (Σ over prefix units of
    * cnt·(cnt−1)/2), and if those too exceed the budget it raises a
    * typed [[graft.model.ExecutionError]] (`execution_error`) routing
    * the caller to the LSH tiers instead of running the blow-up. On
    * open-vocabulary corpora (df≈1 head) the bound stays far under
    * budget and the guard costs one small aggregate over the cached df
    * table. Pass [[UncappedCandidates]] to skip the guard entirely
    * (oracle-exact exhaustive baselines on inputs you already know).
    *
    * Scale shape: explode → df-count aggregate (map-side partial) →
    * per-doc window (partitioned by doc, never global) → prefix-unit
    * equi-join → pair-keyed count verify. Linear in corpus plus
    * candidate-bounded join work; never doc×doc.
    *
    * Output: a, b, n_inter, n_union, jaccard (a < b). */
  def similarityJoinExact(
      df: DataFrame, idCol: String, textCol: String,
      thresholdPct: Int, shingleSize: Int = 1,
      maxCandidates: Long = DefaultMaxCandidates): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100,
      "thresholdPct must be in [1, 100]")
    require(shingleSize >= 1, "shingleSize must be >= 1")
    require(maxCandidates >= 1, "maxCandidates must be positive")
    val p = thresholdPct
    val units =
      if (shingleSize == 1) TextOps.tokens(col(textCol))
      else shingleArray(textCol, shingleSize)
    // NO size(toks)>0 filter here: `base` feeds only the explode below,
    // and explode already emits nothing for empty/null arrays, so the
    // filter was pure overhead — and EXPENSIVE overhead: the optimizer
    // pushed it below fanOut's repartition exchange, substituting the
    // whole tokenize+shingle pipeline into an interpreted (higher-order
    // functions don't codegen) Filter evaluated TWICE per row inside
    // the SINGLE-TASK scan stage (one map task per input file at bench
    // scale). Measured at sf0.1: the scan stage was 3.2 s of the
    // query's 9.8 s, twice (guard job + main job, exchange reuse does
    // not span QueryExecutions) — r14 StageProbe/MetricsProbe record.
    val base = fanOut(df).select(col(idCol).as("id"),
      array_distinct(units).as("toks"))
    // The exploded (id, n, unit) working set is read four times (df
    // counts, prefix ranking, both sides of the verify join). Whether
    // to materialize it is REGIME-DEPENDENT: at sf0.1 (3.8M exploded
    // rows) an eager truncation was A/B-measured WORSE (14.4 s vs
    // 9.4 s — the write+read costs more than three pipelined re-scans
    // inside whole-stage codegen), but at 30× (115M rows) the same A/B
    // inverts: four re-scans of a hundreds-of-millions-row explode
    // dominate, and persisting once wins. The guard's pricing aggregate
    // already sums Σdf = exploded row count for free (on the uncapped
    // path a dedicated one-pass count prices it), so the decision is
    // made from measurement, not guesswork: persist when the working
    // set exceeds [[eagerWorkingSetRows]] (threshold via the
    // spark.graft.simjoin.eagerRows conf; "1" forces the eager regime,
    // a huge value the lazy one).
    val expl = base.select(col("id"), size(col("toks")).as("n"),
      explode(col("toks")).as("tok"))
    val dfc = expl.groupBy(col("tok")).agg(count(lit(1)).as("__df"))
    def persistWorkingSet(): Unit = {
      // r14: the cached frame is BASE (id, toks array), not the explode
      // — every consumer (dfc, both pref sides, both verify sides)
      // derives from base, so one base cache stops every re-scan and
      // re-tokenize exactly like the old expl cache did, while holding
      // ~shingle-factor fewer bytes (no per-token (id, n) duplication)
      // and serving the array-verify tail below, which needs the toks
      // ARRAYS and never the explode. Consumers re-derive the explode
      // from cached arrays — generator-only CPU, no scan, no tokenize.
      swapWorkingSetCache(base) // release prev FIRST (see its Scaladoc)
      base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    if (maxCandidates != UncappedCandidates) {
      // MEMORY_ONLY: the df table is unit-vocabulary-sized (2 narrow
      // columns), the guard aggregate materializes it, and the prefix
      // join below then reads the cache instead of re-scanning the
      // explode — so the guard's steady-state cost on healthy input is
      // one near-free aggregate. Eviction just falls back to recompute.
      // Registered in the one-slot guard-cache registry: the NEXT call
      // releases it (the caller's lazy result frame still needs it
      // after this method returns, so success cannot unpersist here).
      swapGuardCache(dfc) // release prev FIRST (see its Scaladoc)
      dfc.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      val pairSum = (cnt: Column) =>
        sum(cnt.cast("decimal(38,0)") * (cnt - lit(1))).as("s")
      val asPairs = (r: org.apache.spark.sql.Row) =>
        (if (r.isNullAt(0)) BigDecimal(0) else BigDecimal(r.getDecimal(0))) / 2
      // one aggregate over the (cached) df table prices the join AND
      // sizes the working set: Σdf = exploded row count
      val head = dfc.select(pairSum(col("__df")), sum(col("__df"))).first()
      val bound = asPairs(head)
      val explRows = if (head.isNullAt(1)) 0L else head.getLong(1)
      if (explRows >= eagerWorkingSetRows(df.sparkSession))
        persistWorkingSet()
      if (bound > BigDecimal(maxCandidates)) {
        val exact = asPairs(
          prefixEntries(expl, dfc, p).groupBy(col("tok"))
            .agg(count(lit(1)).as("__pc"))
            .select(pairSum(col("__pc"))).first())
        if (exact > BigDecimal(maxCandidates)) {
          // the join these caches were materialized for will never run
          // — release them rather than pinning storage for a failed call
          dfc.unpersist(blocking = false)
          lastGuardCache.compareAndSet(dfc, null)
          base.unpersist(blocking = false)
          lastWorkingSetCache.compareAndSet(base, null)
          throw new graft.model.ExecutionError(
            "similarityJoinExact candidate budget exceeded: the prefix " +
              "join would generate more candidate pairs than maxCandidates " +
              "allows. This input has a closed or heavily skewed unit " +
              "vocabulary, where any exact no-false-negative join is " +
              "inherently ~df-squared; route corpus-growth workloads to " +
              "the LSH tiers (minhashPairs / simhashPairs / " +
              "jaccardPairs with a df cap) or raise maxCandidates / pass " +
              "Dedup.UncappedCandidates explicitly for a bounded slice.",
            Map("candidates" -> exact.toBigInt.toString,
              "maxCandidates" -> maxCandidates.toString,
              "thresholdPct" -> p.toString,
              "shingleSize" -> shingleSize.toString))
        }
      }
    } else {
      // UncappedCandidates skips the pricing guard, but the size-based
      // eager decision is general (the regime note above), with two
      // orderings that matter at scale. (1) A clearly-tiny corpus skips
      // the sizing pass entirely: exploded rows ≤ distinct-unit rows ≤
      // token count, a token is ≥2 bytes of text, and even at a
      // conservative 8× parquet compression a scan of S bytes explodes
      // to ≤ 4·S rows — when that upper bound is already under the
      // threshold the count cannot flip the decision, so it isn't paid.
      // (Unknown-stats inputs report ~Long.MaxValue and simply take the
      // counted path.) (2) When the count IS paid, persist FIRST so the
      // counting pass populates the cache — count-then-persist computed
      // the explode twice, once for the count and again to fill the
      // cache on the first real consumer; a below-threshold result just
      // releases the speculative cache (recompute-from-lineage safe).
      val threshold = eagerWorkingSetRows(df.sparkSession)
      val rowUpperBound =
        df.queryExecution.optimizedPlan.stats.sizeInBytes * 4
      if (rowUpperBound >= threshold) {
        persistWorkingSet()
        val explRows = expl.select(count(lit(1))).first().getLong(0)
        if (explRows < threshold) {
          base.unpersist(blocking = false)
          lastWorkingSetCache.compareAndSet(base, null)
        }
      }
    }
    // pref feeds both sides of the candidate self-join below and stays
    // LAZY like the expl subtree: persisting it was A/B-measured a
    // wash at sf0.1 (6 alternating warm runs each way, medians
    // identical at 6.63 s) — the cache materialization barrier eats
    // exactly what the saved second window pass buys.
    val pref = prefixEntries(expl, dfc, p)
    // PPJoin positional filter (Xiao et al. WWW '08 §3.2): both
    // documents' units are sorted by the SAME global total order
    // (df, unit), so a shared prefix unit at ranks (pa, pb) bounds the
    // whole intersection — at most min(pa,pb)−1 shared units can
    // precede it and at most min(na−pa, nb−pb) can follow, so
    // |A∩B| ≤ min(pa,pb) + min(na−pa, nb−pb). J ≥ p/100 needs
    // |A∩B| ≥ ⌈p·(na+nb)/(100+p)⌉ (from 100·i ≥ p·(na+nb−i), integer
    // i). Any join row violating the bound is dropped BEFORE the
    // distinct: the bound holds unconditionally per shared unit, so a
    // qualifying pair keeps every one of its rows and is never lost —
    // only pairs all of whose prefix collisions are positionally
    // hopeless disappear, cutting the verify join's input severalfold
    // at zero extra shuffles (the ranks ride the prefix entries the
    // join already carries).
    val alpha = expr(s"($p * (cast(na as bigint) + nb) + ${100 + p} - 1) " +
      s"div ${100 + p}")
    val cand = pref.select(col("tok"), col("id").as("a"), col("n").as("na"),
        col("pos").as("pa"))
      .join(pref.select(col("tok"), col("id").as("b"), col("n").as("nb"),
        col("pos").as("pb")), Seq("tok"))
      .filter(col("a") < col("b") &&
        lit(100) * least(col("na"), col("nb")) >=
          lit(p) * greatest(col("na"), col("nb")))
      .filter(least(col("pa"), col("pb")) +
        least(col("na") - col("pa"), col("nb") - col("pb")) >= alpha)
      .select(col("a"), col("b"), col("na"), col("nb")).distinct()
    // Verify tail — count |A∩B| per surviving candidate pair (r14):
    // attach both documents' distinct-unit ARRAYS from
    // `base` (two 1:1 id joins) and count the intersection per pair
    // with one codegen'd array_intersect. The replaced pair×token
    // exploded join + corpus-wide pair-count aggregate multiplied the
    // candidate rows by avg document length before collapsing them
    // again (sf0.1: 232k pairs → 16.2M join rows → 232k groups), and —
    // worse — AQE coalesced the candidate exchange to ONE partition
    // from its bytes (1.9 MB) with no view of that 70× downstream
    // expansion, so the whole verify ran single-threaded (1.1 s of a
    // 3.9 s query, r14 StageProbe). The explicit-width repartition
    // pins the verify's parallelism for exactly that reason. toks is
    // array_distinct'd, so the intersection size is exact (pinned
    // against brute-force all-pairs Jaccard in OpsSpec).
    cand
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("a"), col("b"))
      .join(base.select(col("id").as("a"), col("toks").as("__ta")),
        Seq("a"))
      .join(base.select(col("id").as("b"), col("toks").as("__tb")),
        Seq("b"))
      .select(col("a"), col("b"), col("na"), col("nb"),
        size(array_intersect(col("__ta"), col("__tb"))).cast("long")
          .as("n_inter"))
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
      .filter(lit(100) * col("n_inter") >= lit(p) * col("n_union"))
      .select(col("a"), col("b"), col("n_inter"), col("n_union"),
        (col("n_inter").cast("double") / col("n_union").cast("double"))
          .as("jaccard"))
  }

  /** Exact pairwise shingle CONTAINMENT — |A∩B| / |A| and |A∩B| / |B| —
    * the ASYMMETRIC near-dup signal resemblance misses: a short
    * document fully quoted inside a long one has jaccard ≈ |A|/|B|
    * (small) but containment_a = 1.0. Standard web-dedup keeps jaccard
    * for same-length near-copies and containment for
    * wrapped/quoted/expanded content (Broder 1997 distinguishes
    * resemblance and containment for exactly this reason).
    *
    * Same skeleton, cap semantics (uncapped exact by default — callers
    * opt into `maxShingleDf` explicitly), and scale shape as
    * [[jaccardPairs]]: one shingle-keyed self-join with the per-shingle
    * DF cap applied to numerator and denominators consistently, never
    * an N² scan. Pairs are emitted once (a < b) with both directions'
    * containment.
    *
    * Output: a, b, inter, sz_a, sz_b, containment_a, containment_b. */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, maxShingleDf: Int = Int.MaxValue): DataFrame =
    shingleIntersections(df, idCol, textCol, shingleSize, maxShingleDf)
      .select(col("a"), col("b"), col("inter"),
        col("sza").as("sz_a"), col("szb").as("sz_b"),
        (col("inter").cast("double") / col("sza").cast("double"))
          .as("containment_a"),
        (col("inter").cast("double") / col("szb").cast("double"))
          .as("containment_b"))

  /** Corpus-wide paragraph-level exact dedup, keep-FIRST occurrence —
    * the CCNet/RefinedWeb line-dedup stage: an exact-duplicate line
    * (header, nav boilerplate, license block, repeated paragraph)
    * survives only at its first corpus position (smallest (doc, pos))
    * and is stripped everywhere else, INCLUDING later repeats inside
    * the same document. Complements [[graft.ops.Curation.removeBoilerplate]]
    * (strip-if-common within a site group, keeps no copy when common)
    * — keep-first preserves exactly one copy corpus-wide.
    *
    * Lines shorter than `minChars` after trimming carry no duplication
    * evidence and are always kept (structure like blank separators must
    * not collapse across the corpus).
    *
    * Scale shape: one posexplode, ONE line-keyed min aggregate (the
    * first-occurrence key — map-side partials absorb a line repeated
    * 10^9×, never a window over the hot content key), one line-keyed
    * join back, one doc-keyed reassembly aggregate. The occurrence
    * order is the LEXICOGRAPHIC struct min over (id, pos) — no packed
    * long, no id-range bound: the 30× scale replicas' stride-shifted
    * ids overflowed the former `id·stride + pos` key's loud [0,
    * 2^63/stride) require, and the struct ordering is the same
    * keep-first decision with full long range on both fields.
    *
    * Output: idCol, n_lines, n_kept, text_clean (kept lines rejoined in
    * original order; NULL for NULL text). */
  def paragraphDedup(
      df: DataFrame, idCol: String, textCol: String,
      minChars: Int = 1): DataFrame = {
    require(minChars >= 1, "minChars must be >= 1")
    // The has-text bit is projected BEFORE the explode as plan
    // hygiene: it makes the pruning of raw textCol off the exploded
    // rows explicit instead of relying on the optimizer, and it
    // narrows the line-keyed join's probe input in the non-broadcast
    // regime. (The r11 before/after probe REFUTED the original
    // shuffle-volume theory for the reassembly exchange — the map-side
    // partial aggregate already evaluated isNotNull there, so text
    // never crossed that shuffle; see PERF_NOTES r11.)
    val lines = df.select(col(idCol), col(textCol).isNotNull.as("__ht"),
      posexplode_outer(split(col(textCol), "\n", -1))
        .as(Seq("pos", "line")))
    // NULL ids carry no occurrence order (a NULL-id doc can never
    // claim firstness) — gate the whole struct, since a struct with a
    // NULL field is non-NULL and would sort NULLS FIRST into firstness.
    // The id rides in its own type: keep-first is by the column's
    // natural ordering, not a numeric re-encoding.
    val key = when(col(idCol).isNull, lit(null))
      .otherwise(struct(col(idCol).as("i"), col("pos").as("p")))
    val substantive = col("line").isNotNull &&
      length(trim(col("line"))) >= minChars
    val firsts = lines.filter(substantive)
      .groupBy(col("line")).agg(min(key).as("__first"))
    // __first IS NULL = no identified doc claims the line (it lives
    // only in NULL-id docs): those copies are KEPT — without ids there
    // is no deterministic first to dedupe toward, and dropping would
    // silently blank content unique to those docs. A line claimed by
    // any identified doc still dedupes to that doc's smallest (id, pos)
    // and NULL-id copies of it are stripped.
    val flagged = lines.join(firsts, Seq("line"), "left")
      .withColumn("__keep", col("line").isNotNull &&
        (length(trim(col("line"))) < minChars ||
          key === col("__first") || col("__first").isNull))
    flagged.groupBy(col(idCol)).agg(
      count(col("line")).as("n_lines"),
      sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
      // NULL text emits a single NULL line (posexplode_outer), where
      // n_lines counts 0 — the c4LineClean convention
      max(col("__ht")).as("__has_text"),
      array_join(transform(
        array_sort(collect_list(when(col("__keep"),
          struct(col("pos"), col("line"))))),
        t => t.getField("line")), "\n").as("__clean"))
      .select(col(idCol), col("n_lines"), col("n_kept"),
        when(col("__has_text"), col("__clean")).as("text_clean"))
  }
}
