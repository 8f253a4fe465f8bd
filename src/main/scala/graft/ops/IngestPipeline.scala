package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed INCREMENTAL ingest funnel — the continuous-ingestion
  * twin of [[CurationPipeline]]'s batch flagship: a new crawl batch is
  * admitted against the EXISTING corpus using only its materialized
  * dedup artifacts (fingerprints + MinHash signature index; the corpus
  * text is never re-read), then cleaned and quality-gated:
  *
  *   1. exact:   batch docs whose normalized fingerprint already exists
  *               in the corpus OR earlier in the batch itself
  *               (keep-first by id — an admitted batch must not
  *               introduce duplicate pairs either) → `dup_exact`;
  *   2. near:    survivors whose signatures band-collide with the index
  *               at ≥ minEstimate agreement → `dup_near`
  *               ([[Dedup.incrementalNearDupFromSignatures]] — batch
  *               side broadcasts, corpus index never shuffles);
  *   3. spans:   survivors are span-cleaned WITHIN the batch
  *               ([[Dedup.removeDuplicateSpans]], keep-first) — intra-
  *               batch copied passages are cut, not whole docs;
  *   4. quality: the CLEANED text is scored by the hashed linear model
  *               ([[QualityModel.score]]); logit < minLogit (or no
  *               scorable features) → `low_quality`, else `accepted`.
  *
  * Every batch document gets exactly one output row with its terminal
  * status; accepted rows carry the cleaned text and its token count —
  * the frame a caller appends to the corpus (and whose fingerprints/
  * signatures update the index for the next batch).
  *
  * Scale shape: stage 1 is a fingerprint-keyed LEFT join against the
  * corpus fingerprint table (hash-partitioned on a 32-byte key); stage
  * 2 is the plan-asserted broadcast band join; stages 3–4 touch only
  * batch survivors. Nothing is ever corpus × corpus or batch × corpus
  * beyond colliding buckets.
  */
object IngestPipeline {

  /** corpusFps: (fingerprint) — e.g. Dedup.exact output's fingerprint
    * column, read from the corpus catalog. corpusSigs: (idCol,
    * h0..h{numHashes-1}) signature index. Output: idCol, status ∈
    * {dup_exact, dup_near, low_quality, accepted}, n_tokens_clean +
    * text_clean (NULL unless accepted).
    *
    * Contract: one output row per DISTINCT batch id. A crawl batch can
    * carry the same id twice (re-fetches); duplicate ids would fan out
    * every id-keyed join below, so the funnel keeps exactly one row per
    * id up front — deterministically (smallest text first, NULL text
    * last), never dropDuplicates' arbitrary survivor.
    *
    * Eager: calling `ingest` runs Spark jobs before it returns. The
    * exact-dup mark (which joins the corpus fingerprints), the near-dup
    * mark (which probes the corpus signatures) and the span-cleaned
    * survivors are each materialized on the spot. The returned frame
    * reads those batch-sized snapshots, so column pruning and filters
    * on it do not reach back past them: the whole batch, text
    * included, is materialized even if the caller keeps only ids and
    * status. Build the frame only when it will be used; discarding it
    * still pays for the three jobs. */
  def ingest(
      newBatch: DataFrame, corpusFps: DataFrame, corpusSigs: DataFrame,
      weights: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 8, bandSize: Int = 2,
      minEstimate: Double = 0.5, spanW: Int = 5,
      numBuckets: Int = 4096, minLogit: Double = 0.0): DataFrame = {
    // Eager phases are labeled (guide §1.5); lineage is TRUNCATED at
    // the three widest seams (r15, guide §5 "very large query plans" /
    // §3.3): `marked`, `near`, and `cleaned` each feed BOTH the next
    // funnel stage AND the final status recombination, so fully-lazy
    // composition embedded every upstream stage once per consumer — a
    // 9,495-line physical plan whose planning/serialization showed up
    // as "Broadcasting large task binary ... 2.2 MiB" warnings and
    // per-job driver tax. The truncated seams are all BATCH-sized (a
    // crawl batch, not the corpus — the corpus-side fingerprint/
    // signature tables stay lazy and are read once each), so the
    // materialization is safe at any scale, and the truncated leaves
    // carry measured statistics the recombination joins can broadcast
    // from.
    val sc = newBatch.sparkSession.sparkContext
    def labeled[T](desc: String)(body: => T): T = {
      sc.setJobDescription(s"ingest: $desc")
      try body finally sc.setJobDescription(null)
    }
    val batch = newBatch.select(col(idCol), col(textCol))
      .withColumn("__idrn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col(textCol).asc_nulls_last)))
      .filter(col("__idrn") === 1).drop("__idrn")

    // 1. exact vs corpus fingerprints + keep-first within the batch.
    //    NULL text has a NULL fingerprint = NO content evidence: it can
    //    never match a corpus fingerprint (equi-join) and is EXEMPT from
    //    the intra-batch keep-first window — two NULL-text docs are not
    //    copies of each other, they are both unjudgeable and fall
    //    through to the quality gate (which routes featureless text to
    //    low_quality). Mirrors windowDupStats / semDedup's "NULL = no
    //    evidence, caller decides" discipline.
    val fp = batch.withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__fp")).orderBy(col(idCol))))
    val marked = labeled("exact-dup mark vs corpus fingerprints")(
      graft.Checkpoints.truncate(fp.join(
        corpusFps.select(col("fingerprint").as("__fp"),
          lit(true).as("__hit")).distinct(),
        Seq("__fp"), "left")
        .withColumn("__exactDup",
          col("__hit").isNotNull || (col("__fp").isNotNull && col("__rn") > 1))))
    val exactSurvivors = marked.filter(!col("__exactDup"))
      .select(col(idCol), col(textCol))

    // 2. near-dup vs the corpus signature index
    val near = labeled("near-dup mark vs corpus signatures")(
      graft.Checkpoints.truncate(Dedup.incrementalNearDup(
        exactSurvivors, corpusSigs, idCol, textCol,
        shingleSize, numHashes, bandSize, minEstimate)))
    val nearSurvivors = exactSurvivors.join(
      near.filter(col("matched")).select(col(idCol)), Seq(idCol),
      "left_anti")

    // 3. intra-batch span cleaning (keep-first) over the survivors.
    // fanOut: the survivors frame descends from 1-partition truncated
    // leaves (AQE coalesces the tiny batch-sized seams), and the span
    // machinery is CPU-heavy per row (posexplode of every w-window) —
    // without the fan-out it ran as one ~1.1 s single-task stage.
    val cleaned = labeled("span-clean batch survivors")(
      graft.Checkpoints.truncate(Dedup.removeDuplicateSpans(
        Dedup.fanOut(nearSurvivors), idCol, textCol, spanW)))

    // 4. quality gate over the CLEANED text (fanOut: same 1-partition
    // truncated-leaf input, hashed-feature extraction is per-token work)
    val scored = QualityModel.score(
      Dedup.fanOut(cleaned.select(col(idCol), col("text_clean").as(textCol))),
      idCol, textCol, weights, numBuckets)
    val accepted = scored
      .withColumn("__ok",
        col("logit").isNotNull && col("logit") >= minLogit)

    batch.select(col(idCol))
      .join(marked.filter(col("__exactDup"))
        .select(col(idCol), lit("dup_exact").as("__s1")), Seq(idCol), "left")
      .join(near.filter(col("matched"))
        .select(col(idCol), lit("dup_near").as("__s2")), Seq(idCol), "left")
      .join(accepted.select(col(idCol),
        when(col("__ok"), "accepted").otherwise("low_quality").as("__s4")),
        Seq(idCol), "left")
      .join(cleaned.select(col(idCol),
        (col("n_tokens") - col("n_removed")).as("__ntc"),
        col("text_clean").as("__tc")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__s1"), col("__s2"), col("__s4")).as("status"),
        when(coalesce(col("__s1"), col("__s2"), col("__s4")) === "accepted",
          col("__ntc")).as("n_tokens_clean"),
        when(coalesce(col("__s1"), col("__s2"), col("__s4")) === "accepted",
          col("__tc")).as("text_clean"))
  }
}
