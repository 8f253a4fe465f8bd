package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.Bridge
import graft.{QueryModule, Tables}
import graft.ops.{Curation, Dedup, Retrieval, Sampling, Similarity, Sketches}

/** Corpus indexing, hybrid retrieval, and mixture queries (SURVEY.md §2
  * C69–C73, C76): PQ asymmetric-distance ANN search, reciprocal-rank
  * fusion of the lexical and dense retrieval legs, per-domain frequency
  * capping, Bloom-filter membership pre-filtering, temperature-based
  * source mixing, and random-projection dimensionality reduction.
  * Every query hash-matches a DuckDB oracle that re-derives the full
  * pipeline — PQ code words and distance tables from the shared md5
  * centroids, integral RRF contributions, bloom bit positions via set
  * logic, the exact IEEE rate chain of the mixture sampler, and the
  * projection fold chains.
  */
object IndexingQueries extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Dedup.fanOut(Tables.load(s, dir, "documents"))
  private def embs(s: SparkSession, dir: String): DataFrame =
    Dedup.fanOut(Tables.load(s, dir, "embeddings"))

  // Shared constants — declared FIRST (object vals initialize in
  // declaration order; an oracle val interpolating one declared below
  // it silently bakes in 0).
  private val PqQueryCount = 5
  private val PqTopK = 10
  private val RrfK0 = 60
  private val RrfScale = 1000000000000L
  private val RrfTopK = 10
  private val CapPerDomain = 10
  private val BloomBits = 1 << 16
  private val BloomHashes = 7
  private val BloomCorpusMax = 400
  private val MixBudget = 200L

  // ------------------------------ C69: PQ asymmetric-distance search
  // Runs the PRODUCTION wide code layout end to end: pqEncodeWide's
  // one-row-per-vector array is MATERIALIZED to a parquet code store
  // (what a real deployment persists ONCE and queries many times) and
  // pqSearchWide scores straight off that scan — no reassembly
  // aggregate, and no re-encoding inside the scoring plan (an inline
  // codes expression would be re-evaluated by the filter above it; the
  // store is the barrier, exactly as in production). The store is
  // built once per (JVM, sf dir) and reused — repeated calls measure
  // the query side, matching the deployment's encode-once/search-many
  // cost profile; Scratch cleans it at JVM exit so no staleness
  // outlives the process. The long-layout pqSearch path is
  // differentially pinned against this one in IndexingSpec.
  private val pqStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def qPqSearch(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val store = pqStores.computeIfAbsent(dir, { _ =>
      val path = graft.Scratch.dir("graft_pq_store_") + "/codes"
      Similarity.pqEncodeWide(e, "vec_id", "embedding",
        TrainingPrepQueries.PqM, TrainingPrepQueries.PqK)
        .write.mode("overwrite").parquet(path)
      path
    })
    Similarity.pqSearchWide(Bridge.readParquet(s, store),
      e.filter(col("vec_id") < PqQueryCount),
      "vec_id", "vec_id", "embedding",
      TrainingPrepQueries.PqM, TrainingPrepQueries.PqK,
      TrainingPrepQueries.PqDim, PqTopK)
      .orderBy("query_id", "rank")
  }

  // Codes and query distance tables both read the ONE shared cands CTE
  // (TrainingPrepQueries.pqBaseCtes), exactly like the Spark side
  // shares pqSubDist between encode and search.
  private val qPqSearchSql = {
    val m = TrainingPrepQueries.PqM
    s"""WITH ${TrainingPrepQueries.pqBaseCtes},
       |codes AS (
       |  SELECT vec_id, sub, code FROM cands
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub
       |    ORDER BY dist, code) = 1),
       |qtbl AS (
       |  SELECT vec_id AS query_id, sub, code,
       |    CAST(FLOOR(dist * 1000000000.0) AS BIGINT) AS dsub
       |  FROM cands WHERE vec_id < $PqQueryCount),
       |scored AS (
       |  SELECT q.query_id, c.vec_id, SUM(q.dsub) AS adc_scaled
       |  FROM codes c JOIN qtbl q ON c.sub = q.sub AND c.code = q.code
       |  GROUP BY q.query_id, c.vec_id
       |  HAVING COUNT(*) = $m)
       |SELECT query_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc_scaled, vec_id) AS INTEGER) AS rank,
       |  vec_id, CAST(adc_scaled AS BIGINT) AS adc_scaled
       |FROM scored
       |QUALIFY rank <= $PqTopK
       |ORDER BY query_id, rank""".stripMargin
  }

  // ------------------- C70: reciprocal-rank fusion (lexical + dense)
  private def qRrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qdf = RetrievalQueries.Bm25Queries.toDF("query_id", "qtext")
    val lex = Retrieval.bm25(docs(s, dir), qdf, "doc_id", "text",
      "query_id", "qtext", k = RetrievalQueries.Bm25K,
      k1 = RetrievalQueries.Bm25K1, b = RetrievalQueries.Bm25B)
      .select(col("query_id").cast("long").as("query_id"),
        col("doc_id").as("id"), col("rank"))
    val e = embs(s, dir)
    val dense = Similarity.bruteForceTopK(
      e.filter(col("vec_id") < PqQueryCount), e,
      "vec_id", "vec_id", "embedding", k = RetrievalQueries.Bm25K)
      .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
    Retrieval.rrfFuse(Seq(lex, dense), "query_id", "id", "rank",
      k0 = RrfK0, topK = RrfTopK, scale = RrfScale)
      .orderBy("query_id", "rank")
  }

  // The lexical leg reuses RetrievalQueries.bm25Ctes verbatim (the
  // q_bm25 derivation through `agg`); the dense leg is the
  // q_ann_bruteforce shape over vec_id < 5. `//` is DuckDB integral
  // division — the twin of the Spark side's `div`.
  private val qRrfSql =
    s"""WITH ${RetrievalQueries.bm25Ctes},
       |lex AS (
       |  SELECT query_id, doc_id AS id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score_scaled DESC, doc_id) AS r
       |  FROM agg QUALIFY r <= ${RetrievalQueries.Bm25K}),
       |dq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |  WHERE vec_id < $PqQueryCount),
       |dsc AS (
       |  SELECT dq.qid AS query_id, e.vec_id AS id,
       |    list_cosine_similarity(dq.qe, e.embedding) AS sim
       |  FROM embeddings e, dq WHERE e.vec_id <> dq.qid),
       |dense AS (
       |  SELECT query_id, id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, id) AS r
       |  FROM dsc QUALIFY r <= ${RetrievalQueries.Bm25K}),
       |contrib AS (
       |  SELECT CAST(query_id AS BIGINT) AS query_id, id,
       |    $RrfScale // ($RrfK0 + r) AS c FROM lex
       |  UNION ALL
       |  SELECT CAST(query_id AS BIGINT) AS query_id, id,
       |    $RrfScale // ($RrfK0 + r) AS c FROM dense),
       |fused AS (
       |  SELECT query_id, id, SUM(c) AS rrf_scaled, COUNT(*) AS n_lists
       |  FROM contrib GROUP BY query_id, id)
       |SELECT query_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY rrf_scaled DESC, id) AS INTEGER) AS rank,
       |  id, CAST(rrf_scaled AS BIGINT) AS rrf_scaled,
       |  CAST(n_lists AS BIGINT) AS n_lists
       |FROM fused
       |QUALIFY rank <= $RrfTopK
       |ORDER BY query_id, rank""".stripMargin

  // --------------------------- C71: per-domain frequency capping
  private def qDomainCap(s: SparkSession, dir: String): DataFrame =
    Curation.domainCap(docs(s, dir), "doc_id", "source",
      col("n_chars").cast("double"), CapPerDomain)
      .orderBy("source", "rank")

  private val qDomainCapSql =
    s"""WITH r AS (
       |  SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY n_chars DESC, doc_id) AS rank
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL)
       |SELECT source, CAST(rank AS INTEGER) AS rank, doc_id, score
       |FROM r WHERE rank <= $CapPerDomain
       |ORDER BY source, rank""".stripMargin

  // --------------------------- C72: Bloom-filter membership probe
  // Build over the text of doc_id < 400 (the "corpus"), probe ALL
  // documents: members must report true (no false negatives); the
  // 400-499 tail reports true only on a textual duplicate or a
  // ~(1-e^{-kn/m})^k false positive. The oracle never builds a bitmap
  // — it re-derives membership with set logic over the same md5 bit
  // positions, so the aggregate's bit packing is differentially
  // verified end to end.
  private def qBloom(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bf = Sketches.bloomBuild(d.filter(col("doc_id") < BloomCorpusMax),
      "text", BloomBits, BloomHashes)
    Sketches.bloomMightContain(bf, d.select(col("doc_id"), col("text")), "text")
      .select(col("doc_id"), col("might_contain"))
      .orderBy("doc_id")
  }

  private val qBloomSql =
    s"""WITH corpus AS (
       |  SELECT DISTINCT text FROM documents
       |  WHERE doc_id < $BloomCorpusMax AND text IS NOT NULL),
       |setbits AS (
       |  SELECT DISTINCT CAST('0x' || substr(md5('bloom' || i.range
       |    || ':' || text), 1, 15) AS BIGINT) % $BloomBits AS pos
       |  FROM corpus, range($BloomHashes) i),
       |txt AS (SELECT DISTINCT text FROM documents WHERE text IS NOT NULL),
       |tpos AS (
       |  SELECT text, CAST('0x' || substr(md5('bloom' || i.range
       |    || ':' || text), 1, 15) AS BIGINT) % $BloomBits AS pos
       |  FROM txt, range($BloomHashes) i),
       |tmc AS (
       |  SELECT text, BOOL_AND(pos IN (SELECT pos FROM setbits)) AS mc
       |  FROM tpos GROUP BY text)
       |SELECT d.doc_id, t.mc AS might_contain
       |FROM documents d LEFT JOIN tmc t ON d.text = t.text
       |ORDER BY d.doc_id""".stripMargin

  // ------------------ C101: STREAMING Bloom-filter maintenance
  // The live twin of C72, completing the streaming-sketch family with
  // C97: BloomBuildAgg is a TypedImperativeAggregate whose partial is
  // the fixed numBits/64-long bitmap, so as a streaming global
  // aggregate its state-store entry is that same constant-size bitmap,
  // OR-merged per micro-batch — membership over an unbounded key
  // stream in a few KiB of state. Complete mode republishes the live
  // bitmap; probes read the final table through the same
  // BloomFilter/mightContain path as batch. Bitwise OR is order-free,
  // so an AvailableNow pass is exactly batch-equal — pinned to the
  // SAME oracle as q_bloom.
  private def qStreamBloom(s: SparkSession, dir: String): DataFrame = {
    val src = docs(s, dir).filter(col("doc_id") < BloomCorpusMax)
      .select(col("doc_id"), col("text"))
    val inDir = graft.Scratch.landedDir(
        s"docs2bloom$BloomCorpusMax:$dir") { p =>
      src.write.mode("overwrite").parquet(p)
    }
    val bits = Sketches.bloomBuild(
      s.readStream.schema(src.schema).parquet(inDir),
      "text", BloomBits, BloomHashes).bitmap
    val res = ScaleQueries.runStream(s, bits, "complete", "graft_bloom")
    Sketches.bloomMightContain(
      Sketches.BloomFilter(res, BloomBits, BloomHashes),
      docs(s, dir).select(col("doc_id"), col("text")), "text")
      .select(col("doc_id"), col("might_contain"))
      .orderBy("doc_id")
  }

  // --------------------- C76: random-projection dim reduction
  private val RpDim = 8

  private def qRandomProject(s: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(embs(s, dir), "vec_id", "embedding", RpDim)
      .select(col("vec_id"),
        posexplode(col("proj_scaled")).as(Seq("dim", "comp_scaled")))
      .orderBy("vec_id", "dim")

  // Per output dim: the identical multiply-add left fold as the
  // codegen'd vec_dot (0.0 seed benign), over the identical md5 plane.
  private val qRandomProjectSql = {
    val comps = (0 until RpDim).map { j =>
      s"""SELECT vec_id, $j AS dim,
         |    CAST(FLOOR(list_reduce(list_transform(v, (x, i) ->
         |      x * ((CAST('0x' || substr(md5('rp$j:' ||
         |        CAST(i - 1 AS VARCHAR)), 1, 6) AS BIGINT)
         |        / 16777216.0) - 0.5)),
         |      (a, b) -> a + b) * 1000000.0) AS BIGINT) AS comp_scaled
         |  FROM v""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL
       |    AND len(embedding) = ${TrainingPrepQueries.PqDim}),
       |comps AS (
       |  $comps)
       |SELECT vec_id, dim, comp_scaled FROM comps
       |ORDER BY vec_id, dim""".stripMargin
  }

  // --------------------------- C73: temperature-based source mixing
  private def qTemperatureMix(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMix(
      docs(s, dir).select(col("doc_id"), col("lang")),
      "doc_id", "lang", MixBudget)
      .orderBy("doc_id")

  // The rate chain mirrors temperatureMix op for op: Σ√n as a left
  // list_reduce fold in NULL-first ascending lang order, then
  // ((budget·√n)/Σ√n)/n under LEAST — every intermediate one
  // exactly-rounded IEEE op on identical inputs.
  private val qTemperatureMixSql = {
    import LlmOpsQueries.sqlHashFrac
    s"""WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
       |sw AS (
       |  SELECT list_reduce(list(sqrt(CAST(n AS DOUBLE))
       |    ORDER BY lang ASC NULLS FIRST), (a, b) -> a + b) AS sumw
       |  FROM cnt),
       |rates AS (
       |  SELECT lang, LEAST(1.0, CAST($MixBudget AS DOUBLE)
       |    * sqrt(CAST(n AS DOUBLE)) / sw.sumw / CAST(n AS DOUBLE)) AS p
       |  FROM cnt CROSS JOIN sw)
       |SELECT d.doc_id, d.lang,
       |  CAST(FLOOR(r.p * 1000000000000.0) AS BIGINT) AS p_scaled
       |FROM documents d JOIN rates r ON d.lang IS NOT DISTINCT FROM r.lang
       |WHERE $sqlHashFrac < r.p
       |ORDER BY d.doc_id""".stripMargin
  }

  // ------------------------- C96: standalone spherical k-means
  // Lloyd rounds are unrolled in the oracle exactly like q_ann_ivf's
  // (seed → assign → ExactAgg mean → re-assign …), one more round deep
  // (KmIters = 2), finishing with the final assignment plus per-cluster
  // sizes instead of an ANN probe.
  private val KmCells = 8
  private val KmIters = 2 // baked into the unrolled oracle below

  private def qKmeans(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeans(embs(s, dir).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", k = KmCells, lloydIters = KmIters)
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        col("cluster_n"))
      .orderBy("vec_id")

  private val qKmeansSql = {
    val exactMean = graft.ExactAgg.sqlAvg("x")
    // Assignment of every vector in v to the centroid set `cents`
    // (cell, v): nearest by cosine, ties (sim DESC, cell DESC) —
    // assignCells' reverse(array_sort) order.
    def assign(name: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT x.vec_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
         |        ORDER BY list_cosine_similarity(x.v, c.v) DESC, c.cell DESC) AS rn
         |    FROM v x CROSS JOIN $cents c) WHERE rn = 1)"""
    // One Lloyd refinement: per-(cell, dim) exact mean of the members
    // assigned by `a`, regathered into centroid lists.
    def refine(i: Int, a: String) =
      s"""comp$i AS (
         |  SELECT $a.cell, r.j AS dim, v.v[r.j] AS x
         |  FROM v JOIN $a USING (vec_id),
         |    UNNEST(range(1, len(v.v) + 1)) AS r(j)),
         |means$i AS (
         |  SELECT cell, dim, $exactMean AS m
         |  FROM comp$i GROUP BY cell, dim),
         |cents$i AS (
         |  SELECT cell, list(m ORDER BY dim) AS v FROM means$i GROUP BY cell)"""
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |seeds AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, v
       |  FROM v ORDER BY vec_id LIMIT $KmCells),
       |${assign("a0", "seeds")},
       |${refine(1, "a0")},
       |${assign("a1", "cents1")},
       |${refine(2, "a1")},
       |${assign("idx", "cents2")},
       |sz AS (
       |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS cluster_n
       |  FROM idx GROUP BY cell)
       |SELECT idx.vec_id, CAST(idx.cell AS INTEGER) AS cell, sz.cluster_n
       |FROM idx JOIN sz USING (cell)
       |ORDER BY vec_id""".stripMargin
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "q_kmeans" -> qKmeans _,
      "q_pq_search" -> qPqSearch _,
      "q_rrf" -> qRrf _,
      "q_domain_cap" -> qDomainCap _,
      "q_bloom" -> qBloom _,
      "q_stream_bloom" -> qStreamBloom _,
      "q_temperature_mix" -> qTemperatureMix _,
      "q_random_project" -> qRandomProject _)

  override val oracleSql: Map[String, String] = Map(
    "q_kmeans" -> qKmeansSql,
    "q_pq_search" -> qPqSearchSql,
    "q_rrf" -> qRrfSql,
    "q_domain_cap" -> qDomainCapSql,
    "q_bloom" -> qBloomSql,
    // stream == batch: the live bitmap is pinned to the SAME oracle
    "q_stream_bloom" -> qBloomSql,
    "q_temperature_mix" -> qTemperatureMixSql,
    "q_random_project" -> qRandomProjectSql)
}
