package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftext.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.{Dedup, IngestPipeline, TextOps}

/** Continuous corpus ingestion (the streaming driver of SURVEY §2
  * C62): each arriving micro-batch of raw documents runs the full
  * [[IngestPipeline.ingest]] funnel against the corpus's CURRENT
  * artifacts, and the accepted survivors grow those artifacts — so
  * batch N+1 dedups against everything accepted through batch N,
  * closing the loop a one-shot batch job leaves open.
  *
  * The corpus and its dedup artifacts live in ONE combined table
  * (id, text, fingerprint, h0..h{n-1}) appended with a SINGLE write
  * per micro-batch. That is the crash-replay design point: with three
  * separate tables, a crash between appends desynchronizes them —
  * e.g. fingerprints written but signatures not, so a replayed batch
  * sees its own fingerprints, accepts nothing, and the signatures are
  * lost FOREVER (every future near-dup of those docs admitted
  * silently). One append keeps every row's content, fingerprint, and
  * signature consistent under replay; the residual failure mode is
  * duplicated ROWS (a partially-visible append re-run), which dedup
  * against a duplicated fingerprint still classifies correctly — and
  * which a transactional table format (the production deployment of
  * this directory) eliminates entirely, with the funnel unchanged.
  *
  * The artifact directory must be SEEDED ([[artifacts]] over the
  * existing corpus, possibly zero rows written explicitly) — reading
  * schema from data keeps this self-contained, exactly like
  * [[IndexStreams]]' index directory contract.
  */
object IngestStreams {

  /** The combined artifact frame for a (possibly already-cleaned)
    * document set: idCol, textCol, fingerprint, h0..h{numHashes-1}.
    * Docs too short for any shingle carry NULL signature columns (they
    * participate in exact dedup; there is no signature to index). */
  def artifacts(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 8): DataFrame =
    df.select(col(idCol), col(textCol),
      TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .join(Dedup.minHashSignatures(df, idCol, textCol,
        shingleSize, numHashes), Seq(idCol), "left")

  /** Signature-index view of an artifact table ([[artifacts]] schema):
    * only signature-bearing rows, only the columns banding needs. */
  def sigView(art: DataFrame, idCol: String, numHashes: Int = 8): DataFrame =
    art.filter(col("h0").isNotNull)
      .select(col(idCol) +: (0 until numHashes).map(j => col(s"h$j")): _*)

  def ingestStream(
      docs: DataFrame, artifactDir: String,
      weights: DataFrame, idCol: String, textCol: String,
      checkpointDir: String,
      shingleSize: Int = 3, numHashes: Int = 8, bandSize: Int = 2,
      minEstimate: Double = 0.5, spanW: Int = 5,
      numBuckets: Int = 4096, minLogit: Double = 0.0,
      trigger: Option[Trigger] = None): StreamingQuery = {
    val w = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val art = Bridge.readParquet(spark, artifactDir)
        val out = IngestPipeline.ingest(
          batch, art.select(col("fingerprint")),
          sigView(art, idCol, numHashes), weights, idCol, textCol,
          shingleSize, numHashes, bandSize, minEstimate, spanW,
          numBuckets, minLogit)
        // one materialization beats re-planning the 4-stage funnel for
        // the artifact build; durability follows the deployment switch
        // (spark.graft.reliableCheckpoints) like every iterative op
        val accepted = graft.Checkpoints.truncate(
          out.filter(col("status") === "accepted")
            .select(col(idCol), col("text_clean").as(textCol)))
        artifacts(accepted, idCol, textCol, shingleSize, numHashes)
          .write.mode("append").parquet(artifactDir)
        ()
      }
    trigger.map(w.trigger).getOrElse(w).start()
  }
}
