package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftext.Bridge
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.ops.Similarity

/** Streaming ANN-index maintenance (SURVEY.md §2 C26).
  *
  * New embedding vectors arriving on a stream are assigned to their IVF
  * cell — a pure map against broadcast-literal centroids, no shuffle, no
  * state — and appended to a cell-partitioned parquet index. The index
  * is immediately probeable by the same batch probe the offline path
  * uses: at 100 TB the expensive part (centroid training) happens once
  * offline, while ingestion stays an embarrassingly-parallel append and
  * a probe touches only nProbe/K of the corpus. Centroid drift is
  * handled the way real systems do it: retrain offline, rebuild the
  * index directory, flip the reader.
  */
object IndexStreams {

  /** Continuously assign arriving vectors to cells and append them to a
    * cell-partitioned parquet index at `indexDir`. */
  def ivfIndexStream(
      vectors: DataFrame,
      centroids: Array[(Int, List[Double])],
      idCol: String, vecCol: String,
      indexDir: String, checkpointDir: String,
      trigger: Option[Trigger] = None): StreamingQuery = {
    val w = Similarity.indexCells(vectors, idCol, vecCol, centroids)
      .writeStream
      .format("parquet")
      .option("path", indexDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("cell")
      .outputMode(OutputMode.Append)
    trigger.map(w.trigger).getOrElse(w).start()
  }

  /** Top-k probe against a streamed index directory — identical ranking
    * semantics to the batch [[Similarity.ivfTopK]] (same probeCells). */
  def ivfProbe(
      spark: SparkSession, indexDir: String,
      queries: DataFrame, queryIdCol: String, vecCol: String,
      k: Int, nProbe: Int,
      centroids: Array[(Int, List[Double])]): DataFrame =
    Similarity.probeCells(Bridge.readParquet(spark, indexDir),
      queries, queryIdCol, vecCol, k, nProbe, centroids)
}
