package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding merge learning (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units",
  * arXiv:1508.07909) — the vocabulary-training step of every BPE/
  * SentencePiece-style tokenizer, run as Spark aggregates over the
  * corpus word-frequency table instead of a single-machine loop.
  *
  * Each round counts adjacent symbol pairs across all distinct words
  * (weighted by corpus frequency), picks the most frequent pair (ties:
  * lexicographically smallest), and merges it everywhere. Words are
  * carried as pipe-delimited symbol strings — `"|a||b||c|"` — so the
  * merge step is ONE native `replace` of `"|a||b|"` with `"|ab|"`:
  * both Spark's and DuckDB's replace scan left-to-right non-overlapping,
  * which is exactly BPE's merge order ("aaa" under merge (a,a) becomes
  * [aa, a]), so the whole loop is engine-exact and oracle-replayable.
  * Symbols never contain '|' because [[wordFreq]] keeps only [a-z0-9]
  * words.
  *
  * Scale shape: the state between rounds is the distinct-WORD frequency
  * table (vocabulary-sized, not corpus-sized — the standard BPE
  * factorization); each round is one explode + one (a, b)-keyed count
  * whose map-side partials absorb hot pairs, and ONE driver-side
  * argmax row (bounded: a single (a, b, count) scalar per round — the
  * [[Sampling.temperatureMix]] bounded-collect discipline) that rides
  * into the next round's `replace` as a literal. `rounds` is small by
  * construction (a tokenizer trains thousands of merges; each is one
  * cheap aggregate over the vocab table).
  */
object Bpe {

  /** Corpus word-frequency table over [a-z0-9]+ words of the normalized
    * text: (word, f). The one corpus-sized pass; everything after runs
    * on the vocabulary. */
  def wordFreq(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("f"))

  /** One learned merge. */
  final case class Merge(round: Int, a: String, b: String, count: Long)

  /** Merge rounds between lineage truncations in [[learnMerges]].
    * Between truncations a round's merge rides as one chained `replace`
    * projection over the last materialized vocab — a narrow map the
    * next round's aggregate recomputes for pennies — so a tokenizer
    * training thousands of merges pays one materialization (and, in
    * reliable-checkpoint mode, one checkpoint WRITE) per 8 rounds
    * instead of per round. Lineage stays ≤8 cheap projections deep
    * (plan stats don't compound across projections — only joins
    * multiply sizeInBytes — so the duplicateClusters stats-blowup
    * failure mode cannot arise between truncations). */
  val DefaultTruncateEvery = 8

  private def symbols(seq: Column): Column =
    split(trim(seq, "|"), "\\|\\|")

  /** Learn `rounds` merges from the corpus. Returns one row per round:
    * (round 1-based, sym_a, sym_b, pair_count, merged). Stops early if
    * no adjacent pair remains (degenerate single-symbol vocab).
    *
    * Loop discipline (the duplicateClusters pattern, defaulted here in
    * r14): the corpus-sized pass happens once ([[wordFreq]], truncated
    * with its row count riding the same materialization), then the
    * whole merge loop runs on a CLONED loop session whose shuffle
    * partitioning is right-sized to the vocabulary
    * ([[graft.Checkpoints.loopSession]]) — thousands of rounds × a
    * 32-partition aggregate is pure scheduling overhead when the vocab
    * fits in a handful of partitions. Lineage is truncated every
    * [[DefaultTruncateEvery]] rounds rather than every round; the
    * rounds in between chain their merges as `replace` projections
    * over the last materialized snapshot. */
  def learnMerges(
      df: DataFrame, textCol: String, rounds: Int): DataFrame =
    learnMerges(df, textCol, rounds, DefaultTruncateEvery)

  /** [[learnMerges]] with an explicit truncation cadence `every` (≥1),
    * so a spec can pin that the cadence never changes the merges. */
  private[ops] def learnMerges(
      df: DataFrame, textCol: String, rounds: Int,
      every: Int): DataFrame = {
    val spark = df.sparkSession
    require(rounds >= 1, "rounds must be >= 1")
    require(every >= 1, "every must be >= 1")
    // each char c becomes "|c|"; concatenation yields "|a||b||c|"
    val (vocab0, vocabRows) = graft.Checkpoints.truncateCount(
      wordFreq(df, textCol)
        .select(regexp_replace(col("word"), "(.)", "|$1|").as("seq"),
          col("f")))
    // Vocab rows are narrow (one word + a long); the per-round explode
    // fans out ~word-length×, and the pair aggregate is join-free, so
    // 100k rows/partition keeps real corpora multi-way parallel while
    // a test-scale vocab drops to 1 partition and stops paying 32
    // tasks of scheduling per merge round.
    val loopSpark = graft.Checkpoints.loopSession(
      spark, vocabRows, rowsPerPartition = 100000L)
    var vocab = org.apache.spark.sql.graftext.Bridge.rebind(vocab0, loopSpark)
    var sinceTruncate = 0
    val merges = Seq.newBuilder[Merge]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val syms = symbols(col("seq"))
      val pairs = vocab
        .filter(size(syms) >= 2)
        .select(col("f"), explode(transform(
          sequence(lit(1), size(syms) - 1),
          i => struct(element_at(syms, i).as("a"),
            element_at(syms, i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("f")).as("cnt"))
      val top = pairs.orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect() // bounded: ONE (a, b, cnt) row per round
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(r, a, b, cnt)
        vocab = vocab.select(
          replace(col("seq"), lit(s"|$a||$b|"), lit(s"|$a$b|")).as("seq"),
          col("f"))
        sinceTruncate += 1
        if (sinceTruncate >= every) {
          vocab = graft.Checkpoints.truncate(vocab)
          sinceTruncate = 0
        }
        r += 1
      }
    }
    import spark.implicits._
    merges.result().toDF("round", "sym_a", "sym_b", "pair_count")
      .select(col("round").cast("int"), col("sym_a"), col("sym_b"),
        col("pair_count").cast("long"))
  }

  /** Apply learned merges — the ENCODE side of the tokenizer: each
    * corpus word is segmented by replaying the merge rules in learned
    * order (standard BPE application; merge i runs only after merge
    * i−1, so "abab" under [(a,b), (ab,ab)] becomes one symbol). The
    * merge list is the driver-side model (tiny — thousands of rules),
    * compiled into ONE chained-`replace` projection: a pure map fused
    * into the scan, no shuffle beyond the vocabulary aggregate.
    *
    * Output: word, n_subtokens, segmentation (symbols joined by ' ').
    */
  def applyMerges(
      df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val seq0 = regexp_replace(col("word"), "(.)", "|$1|")
    val merged = merges.foldLeft(seq0) { case (s, (a, b)) =>
      replace(s, lit(s"|$a||$b|"), lit(s"|$a$b|"))
    }
    wordFreq(df, textCol).select(col("word"), col("f"), merged.as("seq"))
      .select(col("word"), col("f").as("n_occurrences"),
        size(symbols(col("seq"))).cast("long").as("n_subtokens"),
        array_join(symbols(col("seq")), " ").as("segmentation"))
  }

  /** [[learnMerges]] + [[applyMerges]] in one call — train `rounds`
    * rules, then segment the corpus vocabulary with them. */
  def encodeVocab(
      df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val rules = learnMerges(df, textCol, rounds).orderBy("round")
      .collect() // bounded: one row per learned rule
      .map(r => (r.getString(1), r.getString(2))).toSeq
    applyMerges(df, textCol, rules)
  }

  /** DOCUMENT-level tokenization under learned merges — the apply side
    * closed over the corpus: per document, the number of BPE tokens its
    * text segments into. This is the count the packing / chunking /
    * token-budget family ([[Curation.packSequences]],
    * [[Curation.tokenBudget]], chunking) should consume when the
    * training run's real tokenizer matters — whitespace counts
    * (`TextOps.tokenCount`) mis-size sequences by the corpus's
    * subword-per-word ratio.
    *
    * Factorization (the standard one): segmentation is computed ONCE on
    * the distinct-word vocabulary ([[applyMerges]] — tiny next to the
    * corpus), then joined back to the corpus word stream. Words outside
    * the trainable `[a-z0-9]+` alphabet (punctuation-bearing — never in
    * the vocab by [[wordFreq]]'s filter) pass through as ONE atom each,
    * the byte/unknown-fallback convention.
    *
    * Scale shape: one corpus-sized explode, one word-keyed equi-join
    * against the vocabulary segment table (vocabulary-sized — AQE
    * broadcasts it when it fits; a shuffle join otherwise, keyed on the
    * word, the inverted-index shape), one doc-keyed count/sum aggregate
    * with map-side partials. No driver-side data: the merge rules are
    * the only literals and are thousands at most.
    *
    * Documents with NULL text have no token stream and are absent from
    * the output (the explode convention).
    *
    * Output: idCol, n_words (whitespace words), n_tokens (BPE tokens). */
  def tokenizeDocs(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val seg = applyMerges(df, textCol, merges)
      .select(col("word"), col("n_subtokens"))
    df.select(col(idCol),
        explode(TextOps.tokens(col(textCol))).as("word"))
      .join(seg, Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_subtokens"), lit(1L))).as("n_tokens"))
  }

  /** [[learnMerges]] + [[tokenizeDocs]] in one call — train `rounds`
    * rules on the corpus, then count each document's tokens under
    * them. */
  def tokenizeCorpus(
      df: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val rules = learnMerges(df, textCol, rounds).orderBy("round")
      .collect() // bounded: one row per learned rule
      .map(r => (r.getString(1), r.getString(2))).toSeq
    tokenizeDocs(df, idCol, textCol, rules)
  }
}
