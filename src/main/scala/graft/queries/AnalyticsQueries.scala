package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}
import graft.functions.HashExprs
import graft.ops.{Bpe, Curation, Dedup, EventAnalytics, Graph, TextOps}

/** Rule-based curation, tokenizer training, link analysis, and event
  * analytics queries (SURVEY.md §2 A37–A38, C78–C81): Gopher quality
  * rules and C4 line cleaning over a deterministically synthesized
  * multi-line web-text frame, distributed BPE merge learning, integer
  * HITS hubs/authorities over the shared link graph, and the ordered
  * windowed funnel + cohort retention matrix over the events stream.
  * Every query hash-matches a DuckDB oracle that re-derives the full
  * pipeline — the line frame construction, every integer rule compare,
  * the unrolled BPE merge rounds and HITS iterations, and the exact
  * epoch-microsecond funnel chain.
  */
object AnalyticsQueries extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Dedup.fanOut(Tables.load(s, dir, "documents"))
  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  import LlmOpsQueries.{sqlNorm, sqlToks}

  // Shared constants — declared first (object init order).
  private val GopherMinWords = 20L
  private val C4MinWords = 3
  private val BpeRounds = 3
  private val HitsIters = 2
  private val HitsScale = 1000000L
  private val FunnelGapMicros = 24L * 3600 * 1000000L

  /** Deterministic synthesized multi-line "web text" frame shared by
    * the Gopher and C4 queries — the corpus documents are single-line
    * word streams, so line structure, bullets, terminators, junk
    * markers, and stopword mass are added by reproducible md5 draws
    * (the [[TrainingPrepQueries.linkEdges]] idiom; both engines derive
    * the identical frame):
    *   - tokens (alnum-only stream) grouped 8 per line;
    *   - a "- " bullet prefix when md5("bullet:{id}:{i}") mod 5 = 0;
    *   - a terminator by md5("punct:{id}:{i}") mod 6:
    *     . ! ? ... (none) " javascript." in that order;
    *   - an appended stopword line for half the docs
    *     (md5("stop:{id}") mod 2 = 0).
    */
  private def lineFrame(s: SparkSession, dir: String): DataFrame = {
    val toks = filter(
      split(regexp_replace(TextOps.normalized(col("text")),
        "[^a-z0-9 ]", ""), " "),
      t => length(t) > 0)
    val nl = greatest(ceil(size(toks) / lit(8.0)).cast("int"), lit(1))
    def tag(pfx: String, i: Column): Column =
      concat(lit(pfx + ":"), col("doc_id").cast("string"), lit(":"),
        i.cast("string"))
    val lines = transform(sequence(lit(0), nl - 1), i => {
      val bullet = when(
        HashExprs.md5Mod(tag("bullet", i), 8, lit(5L)) === 0L, lit("- "))
        .otherwise(lit(""))
      val m = HashExprs.md5Mod(tag("punct", i), 8, lit(6L))
      val term = when(m === 0L, lit(".")).when(m === 1L, lit("!"))
        .when(m === 2L, lit("?")).when(m === 3L, lit("..."))
        .when(m === 4L, lit("")).otherwise(lit(" javascript."))
      concat(bullet, array_join(slice(toks, i * 8 + 1, lit(8)), " "), term)
    })
    val stopLine = when(
      HashExprs.md5Mod(concat(lit("stop:"), col("doc_id").cast("string")),
        8, lit(2L)) === 0L,
      lit("\nbe that and of the with have to.")).otherwise(lit(""))
    docs(s, dir).select(col("doc_id"),
      concat(array_join(lines, "\n"), stopLine).as("text"))
  }

  /** The identical frame in DuckDB — a raw margin-bearing fragment
    * (embedded before the outer template's single .stripMargin). */
  private val sqlLineFrame = {
    def m5(tag: String, width: Int = 8) =
      s"CAST('0x' || substr(md5($tag), 1, $width) AS BIGINT)"
    s"""tk AS (
       |  SELECT doc_id,
       |    list_filter(string_split(
       |      regexp_replace($sqlNorm, '[^a-z0-9 ]', '', 'g'), ' '),
       |      t -> len(t) > 0) AS tk
       |  FROM documents),
       |lf AS (
       |  SELECT doc_id,
       |    array_to_string(list_transform(
       |      range(0, greatest(CAST(ceil(len(tk) / 8.0) AS INT), 1)), i ->
       |      (CASE WHEN ${m5("'bullet:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")} % 5 = 0
       |        THEN '- ' ELSE '' END)
       |      || array_to_string(tk[i*8+1 : i*8+8], ' ')
       |      || (CASE ${m5("'punct:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")} % 6
       |          WHEN 0 THEN '.' WHEN 1 THEN '!' WHEN 2 THEN '?'
       |          WHEN 3 THEN '...' WHEN 4 THEN ''
       |          ELSE ' javascript.' END)), chr(10))
       |    || (CASE WHEN ${m5("'stop:' || CAST(doc_id AS VARCHAR)")} % 2 = 0
       |        THEN chr(10) || 'be that and of the with have to.'
       |        ELSE '' END) AS text
       |  FROM tk)"""
  }

  // --------------------------------- C78: Gopher rule-based filtering
  private def qGopherRules(s: SparkSession, dir: String): DataFrame =
    TextOps.gopherSignals(lineFrame(s, dir), "doc_id", "text",
      minWords = GopherMinWords).orderBy("doc_id")

  private val qGopherRulesSql =
    s"""WITH $sqlLineFrame,
       |sig AS (
       |  SELECT doc_id,
       |    len(toks) AS nw,
       |    len(replace(norm, ' ', '')) AS nc,
       |    len(regexp_extract_all(text, '#'))
       |      + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS ns,
       |    len(lines) AS nl,
       |    len(list_filter(lines, l ->
       |      regexp_matches(trim(l), '^([-*•]|[0-9]+[.)])\\s'))) AS nb,
       |    len(list_filter(lines, l ->
       |      regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS ne,
       |    len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS na,
       |    len(list_intersect(toks,
       |      ['the','be','to','of','and','that','have','with'])) AS nst
       |  FROM (
       |    SELECT doc_id, text, $sqlNorm AS norm, $sqlToks AS toks,
       |      string_split(text, chr(10)) AS lines
       |    FROM lf))
       |SELECT doc_id,
       |  CAST(nw AS BIGINT) AS n_words,
       |  CAST((nc * 1000) // greatest(nw, 1) AS BIGINT) AS mean_word_len_x1000,
       |  CAST(ns AS BIGINT) AS n_symbols,
       |  CAST(nl AS BIGINT) AS n_lines,
       |  CAST(nb AS BIGINT) AS n_bullet_lines,
       |  CAST(ne AS BIGINT) AS n_ellipsis_lines,
       |  CAST(na AS BIGINT) AS n_alpha_words,
       |  CAST(nst AS BIGINT) AS n_stop_hits,
       |  (nw >= $GopherMinWords AND nw <= 100000
       |    AND nc >= 3 * nw AND nc <= 10 * nw
       |    AND 10 * ns <= nw
       |    AND 10 * nb <= 9 * nl AND 10 * ne <= 3 * nl
       |    AND 5 * na >= 4 * nw AND nst >= 2) AS keep
       |FROM sig ORDER BY doc_id""".stripMargin

  // --------------------------------------- C79: C4 line-level cleaning
  private def qC4Clean(s: SparkSession, dir: String): DataFrame =
    Curation.c4LineClean(lineFrame(s, dir), "doc_id", "text", C4MinWords)
      .orderBy("doc_id")

  private val qC4CleanSql =
    s"""WITH $sqlLineFrame,
       |lines AS (
       |  SELECT doc_id, t.s.pos AS pos, t.s.line AS line
       |  FROM lf, UNNEST(list_transform(string_split(text, chr(10)),
       |    (l, i) -> struct_pack(line := l, pos := i))) t(s)),
       |k AS (
       |  SELECT doc_id, pos, line,
       |    (regexp_matches(trim(line), '[.!?"]$$')
       |     AND len(string_split(regexp_replace(trim(lower(line)),
       |       '\\s+', ' ', 'g'), ' ')) >= $C4MinWords
       |     AND NOT regexp_matches(lower(line),
       |       '[{}]|lorem ipsum|javascript|cookie')) AS keep
       |  FROM lines)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  COALESCE(string_agg(line, chr(10) ORDER BY pos)
       |    FILTER (WHERE keep), '') AS text_clean
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------ C80: BPE merge-rule learning
  private def qBpeMerges(s: SparkSession, dir: String): DataFrame =
    Bpe.learnMerges(docs(s, dir), "text", BpeRounds).orderBy("round")

  /** Shared unrolled BPE chain (CTEs freq, w1..w{rounds+1}, p/c/m per
    * round) — each round the exact chain the operator runs: pair counts
    * over the pipe-delimited symbol strings, argmax with the
    * (count DESC, a, b) tie-break, then ONE left-to-right
    * non-overlapping replace (the same scan order on both engines).
    * Both the merges and encode oracles read it, like the Spark side
    * shares learnMerges between q_bpe_merges and encodeVocab. */
  private def bpeSyms(seqCol: String) =
    s"string_split(trim($seqCol, '|'), '||')"

  private val sqlBpeChain = {
    def round(r: Int) =
      s"""p$r AS (
         |  SELECT t.s.a AS a, t.s.b AS b, f
         |  FROM w$r, UNNEST(list_transform(range(1, len(${bpeSyms("seq")})),
         |    i -> struct_pack(a := ${bpeSyms("seq")}[i],
         |      b := ${bpeSyms("seq")}[i+1]))) t(s)),
         |c$r AS (
         |  SELECT a, b, CAST(SUM(f) AS BIGINT) AS cnt
         |  FROM p$r GROUP BY a, b),
         |m$r AS (SELECT a, b, cnt FROM c$r ORDER BY cnt DESC, a, b LIMIT 1),
         |w${r + 1} AS (
         |  -- LEFT JOIN ON TRUE + COALESCE: when the corpus exhausts its
         |  -- pairs before round $r (m$r empty), the vocabulary carries
         |  -- through unchanged — a CROSS JOIN would erase it, diverging
         |  -- from learnMerges/encodeVocab's early-stop path
         |  SELECT word, COALESCE(replace(seq,
         |      '|' || m$r.a || '||' || m$r.b || '|',
         |      '|' || m$r.a || m$r.b || '|'), seq) AS seq, f
         |  FROM w$r LEFT JOIN m$r ON TRUE)"""
    val rounds = (1 to BpeRounds).map(round).mkString(",\n")
    s"""freq AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS f
       |  FROM (SELECT UNNEST($sqlToks) AS word FROM documents)
       |  WHERE regexp_matches(word, '^[a-z0-9]+$$') GROUP BY word),
       |w1 AS (
       |  SELECT word, regexp_replace(word, '(.)', '|\\1|', 'g') AS seq, f
       |  FROM freq),
       |$rounds"""
  }

  private val qBpeMergesSql = {
    val out = (1 to BpeRounds).map(r =>
      s"SELECT CAST($r AS INTEGER) AS round, a AS sym_a, b AS sym_b, cnt AS pair_count FROM m$r")
      .mkString("\n  UNION ALL ")
    s"""WITH $sqlBpeChain
       |SELECT * FROM (
       |  $out)
       |ORDER BY round""".stripMargin
  }

  // --------------------- C82: BPE vocabulary encoding (apply merges)
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame =
    Bpe.encodeVocab(docs(s, dir), "text", BpeRounds).orderBy("word")

  private val qBpeEncodeSql =
    s"""WITH $sqlBpeChain
       |SELECT word, f AS n_occurrences,
       |  CAST(len(${bpeSyms("seq")}) AS BIGINT) AS n_subtokens,
       |  array_to_string(${bpeSyms("seq")}, ' ') AS segmentation
       |FROM w${BpeRounds + 1}
       |ORDER BY word""".stripMargin

  // - C112: corpus tokenize-and-count under the learned merges, wired
  //   end-to-end into sequence packing — the tokenizer loop closed into
  //   the training-layout family: per-doc BPE token counts (vocabulary
  //   segmented once, joined back to the corpus word stream; out-of-
  //   alphabet words pass as one atom) feed Curation.packSequences as
  //   its token column, replacing the whitespace counts the packing
  //   family defaults to. The oracle replays the full chain: the shared
  //   merge CTEs, the vocab segmentation, the doc join, the prefix-sum
  //   layout.
  private val TokenizeSeqLen = 64

  private def qTokenizeDocs(s: SparkSession, dir: String): DataFrame =
    Curation.packSequences(
      Bpe.tokenizeCorpus(docs(s, dir), "doc_id", "text", BpeRounds),
      "doc_id", col("n_tokens"), TokenizeSeqLen)
      .orderBy("doc_id")

  private val qTokenizeDocsSql =
    s"""WITH $sqlBpeChain,
       |seg AS (
       |  SELECT word, CAST(len(${bpeSyms("seq")}) AS BIGINT) AS n_subtokens
       |  FROM w${BpeRounds + 1}),
       |dw AS (SELECT doc_id, UNNEST($sqlToks) AS word FROM documents),
       |tok AS (
       |  SELECT doc_id,
       |    CAST(SUM(COALESCE(n_subtokens, 1)) AS BIGINT) AS n_tokens
       |  FROM dw LEFT JOIN seg USING (word) GROUP BY doc_id),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
       |  FROM tok)
       |SELECT doc_id, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
       |  CAST(start_offset // $TokenizeSeqLen AS BIGINT) AS first_seq,
       |  CAST((start_offset + GREATEST(n_tokens, 1) - 1) // $TokenizeSeqLen
       |    AS BIGINT) AS last_seq
       |FROM o ORDER BY doc_id""".stripMargin

  // ------------------------- C81: integer HITS hubs and authorities
  private def qHits(s: SparkSession, dir: String): DataFrame =
    Graph.hits(TrainingPrepQueries.linkEdges(s, dir), "src", "dst",
      HitsIters, HitsScale).orderBy("id")

  private val qHitsSql = {
    // Unrolled iterations of the exact integer recurrence (see
    // Graph.hits): raw sums over edges, then ·scale // Σ.
    // the zero/NULL-sum guard mirrors Graph.hits' normalized(): a
    // degenerate all-zero round (e.g. > scale nodes truncating a0 to 0)
    // keeps zeros on BOTH engines instead of DuckDB dividing by zero
    def norm(rawVal: String, sumRef: String) =
      s"""CASE WHEN $sumRef IS NULL OR $sumRef = 0 THEN 0
         |      ELSE (COALESCE($rawVal, 0) * $HitsScale) // $sumRef END"""
    def iter(i: Int) =
      s"""h${i}r AS (
         |  SELECT e.u AS id, CAST(SUM(a${i - 1}.a) AS BIGINT) AS h
         |  FROM e JOIN a${i - 1} ON a${i - 1}.id = e.v GROUP BY e.u),
         |sh$i AS (SELECT SUM(h) AS s FROM h${i}r),
         |h$i AS (
         |  SELECT nodes.id, ${norm(s"h${i}r.h", s"sh$i.s")} AS h
         |  FROM nodes LEFT JOIN h${i}r ON h${i}r.id = nodes.id CROSS JOIN sh$i),
         |a${i}r AS (
         |  SELECT e.v AS id, CAST(SUM(h$i.h) AS BIGINT) AS a
         |  FROM e JOIN h$i ON h$i.id = e.u GROUP BY e.v),
         |sa$i AS (SELECT SUM(a) AS s FROM a${i}r),
         |a$i AS (
         |  SELECT nodes.id, ${norm(s"a${i}r.a", s"sa$i.s")} AS a
         |  FROM nodes LEFT JOIN a${i}r ON a${i}r.id = nodes.id CROSS JOIN sa$i)"""
    val iters = (1 to HitsIters).map(iter).mkString(",\n")
    s"""WITH ${TrainingPrepQueries.sqlEdges},
       |a0 AS (SELECT id, $HitsScale // nn.nn AS a FROM nodes CROSS JOIN nn),
       |$iters
       |SELECT h$HitsIters.id, CAST(h$HitsIters.h AS BIGINT) AS hub_scaled,
       |  CAST(a$HitsIters.a AS BIGINT) AS auth_scaled
       |FROM h$HitsIters JOIN a$HitsIters ON a$HitsIters.id = h$HitsIters.id
       |ORDER BY h$HitsIters.id""".stripMargin
  }

  // ------------------------ C86: degree-ordered triangle counting
  private def qTriangles(s: SparkSession, dir: String): DataFrame =
    Graph.triangles(TrainingPrepQueries.linkEdges(s, dir), "src", "dst")
      .orderBy("id")

  private val qTrianglesSql =
    s"""WITH ${TrainingPrepQueries.sqlEdges},
       |und AS (
       |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
       |  FROM e WHERE u <> v),
       |deg AS (
       |  SELECT x AS id, COUNT(*) AS d FROM (
       |    SELECT a AS x FROM und UNION ALL SELECT b FROM und)
       |  GROUP BY x),
       |o AS (
       |  SELECT CASE WHEN (oa.d, oa.id) < (ob.d, ob.id) THEN a ELSE b
       |    END AS u,
       |    CASE WHEN (oa.d, oa.id) < (ob.d, ob.id) THEN b ELSE a END AS v,
       |    CASE WHEN (oa.d, oa.id) < (ob.d, ob.id) THEN ob.d ELSE oa.d
       |    END AS vd,
       |    CASE WHEN (oa.d, oa.id) < (ob.d, ob.id) THEN ob.id ELSE oa.id
       |    END AS vid
       |  FROM und
       |  JOIN deg oa ON oa.id = und.a JOIN deg ob ON ob.id = und.b),
       |tri AS (
       |  SELECT w1.u, w1.v AS x, w2.v AS y
       |  FROM o w1 JOIN o w2
       |    ON w1.u = w2.u AND (w1.vd, w1.vid) < (w2.vd, w2.vid)
       |  JOIN o w3 ON w3.u = w1.v AND w3.v = w2.v),
       |pern AS (
       |  SELECT id, COUNT(*) AS n FROM (
       |    SELECT u AS id FROM tri UNION ALL SELECT x FROM tri
       |    UNION ALL SELECT y FROM tri)
       |  GROUP BY id)
       |SELECT nodes.id, CAST(COALESCE(pern.n, 0) AS BIGINT) AS n_triangles
       |FROM nodes LEFT JOIN pern ON pern.id = nodes.id
       |ORDER BY nodes.id""".stripMargin

  // --------------------------- A37: ordered windowed funnel analysis
  private def qFunnel(s: SparkSession, dir: String): DataFrame =
    EventAnalytics.funnelSteps(events(s, dir), "user_id", "event_type",
      "ts", Seq("view", "click", "purchase"), FunnelGapMicros)
      .orderBy("user_id")

  private val qFunnelSql =
    s"""WITH s1 AS (
       |  SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
       |  WHERE event_type = 'view' AND user_id IS NOT NULL
       |    AND ts IS NOT NULL
       |  GROUP BY user_id),
       |s2 AS (
       |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
       |  FROM events e JOIN s1 USING (user_id)
       |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
       |    AND epoch_us(e.ts) <= s1.t1 + $FunnelGapMicros
       |  GROUP BY e.user_id),
       |s3 AS (
       |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
       |  FROM events e JOIN s2 USING (user_id)
       |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
       |    AND epoch_us(e.ts) <= s2.t2 + $FunnelGapMicros
       |  GROUP BY e.user_id)
       |SELECT s1.user_id,
       |  CAST(CASE WHEN t3 IS NOT NULL THEN 3
       |    WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS n_steps,
       |  t1, t2, t3
       |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
       |ORDER BY s1.user_id""".stripMargin

  // ------------------- C83: streaming funnel (stateful live twin)
  // Runs EventStreams.funnelStream as a real stream (AvailableNow over
  // a parquet drop of the events table, parquet sink), then keeps each
  // user's deepest emitted row. A single-batch run is exactly
  // batch-equal (events sort within the batch), so the oracle is the
  // SAME SQL as q_funnel — the streaming and batch formulations are
  // pinned to one another through DuckDB.
  private def qStreamFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.EventStreams
    // shared landed copy with q_stream_sessionize / q_stream_transitions
    // (same source, same projection, same file shape)
    val inDir = graft.Scratch.landedDir(s"events5:$dir") { p =>
      events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .write.mode("overwrite").parquet(p)
    }
    val res = ScaleQueries.runStream(s, EventStreams.funnelStream(
      EventStreams.typedEvents(EventStreams.eventStream(s, inDir)),
      Seq("view", "click", "purchase"), FunnelGapMicros)
      .toDF("user_id", "n_steps", "ts_us"),
      "append", "graft_funnel")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_steps").desc)
    res
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(Seq(col("user_id"), col("n_steps")) ++
        (1 to 3).map(i =>
          when(size(col("ts_us")) >= i, col("ts_us").getItem(i - 1))
            .as(s"t$i")): _*)
      .orderBy("user_id")
  }

  // ---------------- C87: sorted-neighborhood blocking pairs
  private val SnWindow = 4

  // Blocking key: order-preserving 7-byte prefix of the alnum-cleaned
  // normalized text (pure ASCII by construction, so numeric order ==
  // byte order on both engines).
  private def snKey: Column = graft.ops.Dedup.prefixKey64(
    regexp_replace(TextOps.normalized(col("text")), "[^a-z0-9 ]", ""), 7)

  private def qSortedNeighborhood(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.sortedNeighborhoodPairs(docs(s, dir), "doc_id",
      snKey, SnWindow).orderBy("a", "rank_gap")

  private val qSortedNeighborhoodSql =
    s"""WITH k AS (
       |  SELECT doc_id,
       |    CAST('0x' || hex(substr(rpad(
       |      regexp_replace($sqlNorm, '[^a-z0-9 ]', '', 'g'),
       |      7, ' '), 1, 7)) AS BIGINT) AS k
       |  FROM documents WHERE doc_id IS NOT NULL),
       |r AS (
       |  SELECT doc_id, k,
       |    ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rank
       |  FROM k)
       |SELECT r1.doc_id AS a, r2.doc_id AS b,
       |  r1.k AS key_a, r2.k AS key_b,
       |  CAST(r2.rank - r1.rank AS INTEGER) AS rank_gap
       |FROM r r1 JOIN r r2
       |  ON r2.rank > r1.rank AND r2.rank <= r1.rank + ${SnWindow - 1}
       |ORDER BY a, rank_gap""".stripMargin

  // ------------------ C85: edit-distance near-dup verification
  private val EditMaxDist = 25
  private val EditBands = 4
  private val EditBucketCap = 64

  private def qDedupEditdist(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.editDistancePairs(docs(s, dir), "doc_id", "text",
      EditMaxDist, EditBands, EditBucketCap).orderBy("a", "b")

  // Re-derives the whole Manku pipeline: the per-token 60-bit vote
  // simhash (the q_dedup_simhash chain), 15-bit band bucketing with the
  // boundBuckets cap, the distinct candidate self-join, and the SAME
  // Levenshtein DP both engines implement.
  private val qDedupEditdistSql = {
    val chunk = 60 / EditBands
    val mask = (1L << chunk) - 1
    s"""WITH toks AS (
       |  SELECT doc_id, UNNEST($sqlToks) AS tok FROM documents),
       |h AS (
       |  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
       |  FROM toks WHERE len(tok) > 0),
       |bits AS (
       |  SELECT doc_id, bb.b AS b,
       |    SUM(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM h, (SELECT UNNEST(range(60)) AS b) bb
       |  GROUP BY doc_id, bb.b),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER)
       |             ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, bb.b AS band_id,
       |    (simhash >> (CAST(bb.b AS INTEGER) * $chunk)) & $mask AS sig
       |  FROM sh, (SELECT UNNEST(range($EditBands)) AS b) bb),
       |bounded AS (
       |  SELECT doc_id, band_id, sig FROM (
       |    SELECT doc_id, band_id, sig,
       |      COUNT(*) OVER (PARTITION BY band_id, sig) AS n
       |    FROM banded)
       |  WHERE n <= $EditBucketCap),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bounded l JOIN bounded r
       |    ON l.band_id = r.band_id AND l.sig = r.sig
       |    AND l.doc_id < r.doc_id),
       |t AS (SELECT doc_id, $sqlNorm AS t FROM documents)
       |SELECT a, b, CAST(levenshtein(ta.t, tb.t) AS INTEGER) AS edit_dist
       |FROM cand JOIN t ta ON ta.doc_id = cand.a
       |JOIN t tb ON tb.doc_id = cand.b
       |WHERE levenshtein(ta.t, tb.t) <= $EditMaxDist
       |ORDER BY a, b""".stripMargin
  }

  // --------------------- C84: exact per-stratum quota sampling
  private val SampleQuota = 15

  private def qQuotaSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.quotaSample(docs(s, dir), "doc_id", "source",
      SampleQuota).orderBy("source", "rank")

  private val qQuotaSampleSql =
    s"""WITH keyed AS (
       |  SELECT source, doc_id,
       |    CAST('0x' || substr(md5('qsamp:' || CAST(doc_id AS VARCHAR)),
       |      1, 13) AS BIGINT) AS ord
       |  FROM documents WHERE doc_id IS NOT NULL),
       |r AS (
       |  SELECT source, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY ord, doc_id) AS rank
       |  FROM keyed)
       |SELECT source, CAST(rank AS INTEGER) AS rank, doc_id
       |FROM r WHERE rank <= $SampleQuota
       |ORDER BY source, rank""".stripMargin

  // ---------- C111: STREAMING per-stratum quota sampling (C84's twin)
  // The live reservoir with DETERMINISTIC md5 priorities: the streamed
  // bottom-k per stratum is exactly the batch sample over the same
  // rows for any batch split, so the single-batch AvailableNow run
  // pins against the SAME oracle as q_quota_sample. Cross-batch carry
  // (reservoir survives the micro-batch boundary) is pinned in
  // StreamingSpec.
  private def qStreamQuota(s: SparkSession, dir: String): DataFrame = {
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    val inDir = graft.Scratch.landedDir(s"docs_src:$dir") { p =>
      src.coalesce(1).write.mode("overwrite").parquet(p)
    }
    val res = ScaleQueries.runStream(s, graft.streaming.SampleStreams.quotaStream(
      s.readStream.schema(src.schema).parquet(inDir),
      "doc_id", "source", SampleQuota)
      .toDF("source", "n_seen", "rank", "doc_id"),
      "append", "graft_quota")
    // Latest-snapshot rule applied IN the query: the sink accumulates
    // one reservoir snapshot per micro-batch (append mode), and only
    // the rows from a stratum's final snapshot (max n_seen) are the
    // sample. The coalesce(1) landing happens to make the AvailableNow
    // run a single batch, but oracle parity must not depend on that —
    // a multi-file landing or maxFilesPerTrigger would otherwise leave
    // stale snapshots in the sink and duplicate (source, rank) pairs.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    res
      .withColumn("__max_seen", max(col("n_seen")).over(w))
      .filter(col("n_seen") === col("__max_seen"))
      .select(col("source"), col("rank").cast("int").as("rank"),
        col("doc_id"))
      .orderBy("source", "rank")
  }

  // ---------------- C91: paragraph-level keep-first corpus dedup
  // Over the same multi-line frame as C78/C79 — the synthesized
  // stopword line ("be that and of the with have to.", appended to
  // half the docs) is a genuine cross-doc repeated paragraph, so the
  // keep-first semantics are exercised for real: the copy in the
  // smallest doc survives, every other copy is stripped.
  private def qParagraphDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.paragraphDedup(lineFrame(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  private val qParagraphDedupSql =
    s"""WITH $sqlLineFrame,
       |lines AS (
       |  SELECT doc_id, t.s.pos AS pos, t.s.line AS line
       |  FROM lf, UNNEST(list_transform(string_split(text, chr(10)),
       |    (l, i) -> struct_pack(line := l, pos := i))) t(s)),
       |k AS (
       |  SELECT doc_id, pos, line,
       |    (len(trim(line)) < 1 OR ROW_NUMBER() OVER (
       |      PARTITION BY line ORDER BY doc_id, pos) = 1) AS keep
       |  FROM lines)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  COALESCE(string_agg(line, chr(10) ORDER BY pos)
       |    FILTER (WHERE keep), '') AS text_clean
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------- A40: event transition matrix (Markov view)
  private def qTransitions(s: SparkSession, dir: String): DataFrame =
    EventAnalytics.transitionMatrix(events(s, dir), "user_id",
      "event_type", "ts", "event_id").orderBy("from_type", "to_type")

  private val qTransitionsSql =
    s"""WITH seq AS (
       |  SELECT user_id, event_type AS to_type,
       |    LAG(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS from_type
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
       |SELECT from_type, to_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_transitions
       |FROM seq WHERE from_type IS NOT NULL
       |GROUP BY from_type, to_type
       |ORDER BY from_type, to_type""".stripMargin

  // ------------- C94: streaming transition matrix (stateful twin)
  // EventStreams.transitionStream as a real stream (AvailableNow over a
  // parquet drop, parquet sink), counts aggregated from the emitted
  // pairs. A single-batch run is exactly batch-equal, so it pins
  // against the SAME oracle as q_transitions.
  private def qStreamTransitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.EventStreams
    val inDir = graft.Scratch.landedDir(s"events5:$dir") { p =>
      events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .write.mode("overwrite").parquet(p)
    }
    ScaleQueries.runStream(s, EventStreams.transitionStream(
      EventStreams.typedEvents(EventStreams.eventStream(s, inDir)))
      .toDF("from_type", "to_type"),
      "append", "graft_trans")
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy("from_type", "to_type")
  }

  // ----------------------------- A38: cohort retention matrix
  private def qRetention(s: SparkSession, dir: String): DataFrame =
    EventAnalytics.retentionMatrix(events(s, dir), "user_id", "ts")
      .orderBy("cohort_week", "week_offset")

  private val qRetentionSql =
    s"""WITH active AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |coh AS (
       |  SELECT user_id, MIN(wk) AS cohort_week FROM active
       |  GROUP BY user_id)
       |SELECT cohort_week, wk - cohort_week AS week_offset,
       |  CAST(COUNT(*) AS BIGINT) AS n_users
       |FROM active JOIN coh USING (user_id)
       |GROUP BY cohort_week, week_offset
       |ORDER BY cohort_week, week_offset""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "q_gopher_rules" -> qGopherRules _,
      "q_c4_clean" -> qC4Clean _,
      "q_bpe_merges" -> qBpeMerges _,
      "q_bpe_encode" -> qBpeEncode _,
      "q_tokenize_docs" -> qTokenizeDocs _,
      "q_hits" -> qHits _,
      "q_triangles" -> qTriangles _,
      "q_funnel" -> qFunnel _,
      "q_stream_funnel" -> qStreamFunnel _,
      "q_quota_sample" -> qQuotaSample _,
      "q_stream_quota" -> qStreamQuota _,
      "q_dedup_editdist" -> qDedupEditdist _,
      "q_sorted_neighborhood" -> qSortedNeighborhood _,
      "q_paragraph_dedup" -> qParagraphDedup _,
      "q_transitions" -> qTransitions _,
      "q_stream_transitions" -> qStreamTransitions _,
      "q_retention" -> qRetention _)

  override val oracleSql: Map[String, String] = Map(
    "q_gopher_rules" -> qGopherRulesSql,
    "q_c4_clean" -> qC4CleanSql,
    "q_bpe_merges" -> qBpeMergesSql,
    "q_bpe_encode" -> qBpeEncodeSql,
    "q_tokenize_docs" -> qTokenizeDocsSql,
    "q_hits" -> qHitsSql,
    "q_triangles" -> qTrianglesSql,
    "q_funnel" -> qFunnelSql,
    // the streaming formulation is batch-equal on a single-batch run,
    // so it pins against the SAME oracle as q_funnel
    "q_stream_funnel" -> qFunnelSql,
    "q_quota_sample" -> qQuotaSampleSql,
    // identical result contract: the streamed reservoir == the batch
    // sample over the same rows (deterministic priorities)
    "q_stream_quota" -> qQuotaSampleSql,
    "q_dedup_editdist" -> qDedupEditdistSql,
    "q_sorted_neighborhood" -> qSortedNeighborhoodSql,
    "q_paragraph_dedup" -> qParagraphDedupSql,
    "q_transitions" -> qTransitionsSql,
    // the streaming formulation is batch-equal on a single-batch run,
    // so it pins against the SAME oracle as q_transitions
    "q_stream_transitions" -> qTransitionsSql,
    "q_retention" -> qRetentionSql)
}
