package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-size mergeable sketches for unbounded-cardinality streams and
  * corpora. A 100-TB corpus's vocabulary does not fit anywhere; a
  * count-min sketch is d×w longs no matter the input, merges by
  * cell-wise ADDITION (commutative + associative → bit-identical on any
  * engine, partitioning, or arrival order — unlike order-sensitive
  * sketches such as Misra-Gries), and answers point frequency queries
  * with a one-sided error: estimates never undercount, and overcount by
  * ≤ εN with probability 1−δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉ (Cormode &
  * Muthukrishnan 2005).
  *
  * Hashing is md5-based like every other graft hash (row r of token t
  * buckets at int(md5("cm{r}:{t}")[0:6]) mod w), so a DuckDB oracle
  * re-derives every cell and every estimate value-for-value.
  */
object Sketches {

  /** A built count-min sketch: the (r, cell, cnt) cell table PLUS the
    * (d, w) geometry it was hashed with. Estimates must probe with the
    * SAME geometry or they silently undercount (probe cells land mod a
    * different w), which is why the geometry travels with the cells
    * instead of being re-supplied by the caller. Persist `cells` like
    * any DataFrame and rewrap: `CMSketch(Bridge.readParquet(spark, p), d, w)`. */
  final case class CMSketch(cells: DataFrame, d: Int, w: Int) {
    require(d > 0 && w > 0, "count-min needs positive depth and width")
  }

  private def cmCell(r: Int, token: Column, w: Int): Column =
    graft.functions.HashExprs.md5Mod(
      concat(lit(s"cm$r:"), token), 6, lit(w.toLong))

  private def cellArray(tokenCol: String, d: Int, w: Int): Column =
    array((0 until d).map { r =>
      struct(lit(r).as("r"), cmCell(r, col(tokenCol), w).as("cell"))
    }: _*)

  /** Build the sketch over a (possibly weighted) token column: one row
    * per touched (r, cell), cnt = number of token occurrences hashing
    * there (or sum of `weightCol`). At most d×w rows regardless of
    * corpus size; partial aggregation caps what any partition emits at
    * the same d×w, so the shuffle is sketch-sized, not corpus-sized.
    * Empty tokens are ignored (split() artifacts, cf. the shingle SQL
    * twins). */
  def countMinBuild(
      df: DataFrame, tokenCol: String, d: Int = 4, w: Int = 1024,
      weightCol: Option[String] = None): CMSketch = {
    val wcol = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    CMSketch(
      df.filter(length(col(tokenCol)) > 0)
        .select(explode(cellArray(tokenCol, d, w)).as("__rc"), wcol.as("__w"))
        .groupBy(col("__rc.r").as("r"), col("__rc.cell").as("cell"))
        .agg(sum(col("__w")).as("cnt")),
      d, w)
  }

  /** Point frequency estimates for a set of query tokens: min over the
    * d rows of that token's cell counts (0 for a never-touched cell).
    * The probe geometry comes from the sketch itself, so a build/query
    * mismatch is unrepresentable. The cell table is ≤ d×w rows —
    * broadcast; the query side is whatever the caller asks about.
    * Output: tokenCol, est. */
  def countMinEstimate(
      sketch: CMSketch, queries: DataFrame, tokenCol: String): DataFrame =
    queries.select(col(tokenCol)).distinct()
      .select(col(tokenCol),
        explode(cellArray(tokenCol, sketch.d, sketch.w)).as("__rc"))
      .select(col(tokenCol), col("__rc.r").as("r"), col("__rc.cell").as("cell"))
      .join(broadcast(sketch.cells), Seq("r", "cell"), "left")
      .groupBy(col(tokenCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  // ------------------------------------------------------ Bloom filter

  /** A built Bloom filter: the one-row bitmap DataFrame (column `bits`,
    * array&lt;bigint&gt; of numBits/64 words) plus the (numBits,
    * numHashes) geometry probes must reuse — the same
    * geometry-travels-with-the-sketch contract as [[CMSketch]]. */
  final case class BloomFilter(bitmap: DataFrame, numBits: Int, numHashes: Int)

  /** Build a Bloom filter over a string key column in ONE aggregate
    * pass ([[graft.functions.BloomBuildAgg]]): each map task ships a
    * fixed numBits/64-long partial bitmap, merged by bitwise OR — the
    * membership pre-filter for online dedup / decontamination at 100 TB
    * (a few-KiB summary of a corpus-sized key set; probes then test
    * locally against the broadcast bitmap instead of joining the
    * corpus). NULL keys set no bits. */
  def bloomBuild(
      df: DataFrame, keyCol: String,
      numBits: Int = 1 << 16, numHashes: Int = 7): BloomFilter =
    BloomFilter(
      df.agg(call_function("bloom_build",
        col(keyCol), lit(numBits), lit(numHashes)).as("bits")),
      numBits, numHashes)

  /** Membership probe: for each probe row, `might_contain` is true iff
    * ALL numHashes bit positions of the key are set — no false
    * negatives; false positives at the sized rate. The one-row bitmap
    * rides in via a broadcast nested-loop join (one row, no key), and
    * the bit tests are pure integer expressions on the probe side
    * (engine-stable md5 positions, so an oracle re-derives membership
    * with set logic). NULL probe keys report NULL (no evidence — the
    * caller decides, the [[Dedup]] NULL discipline).
    * Output: probe columns + might_contain. */
  def bloomMightContain(
      filter: BloomFilter, probes: DataFrame, keyCol: String): DataFrame = {
    val hits = (0 until filter.numHashes).map { i =>
      val pos = graft.functions.HashExprs.md5Mod(
        concat(lit(s"bloom$i:"), col(keyCol)), 15, lit(filter.numBits.toLong))
      // Column-arg shifts go through call_function (the Scala helpers
      // only take literal shift amounts); bitwiseAND sidesteps the
      // arithmetic-shift sign trap on words with bit 63 set.
      val word = element_at(col("__bloom_bits"),
        call_function("shiftright", pos, lit(6)).cast("int") + 1)
      word.bitwiseAND(
        call_function("shiftleft", lit(1L), (pos % lit(64L)).cast("int"))) =!= lit(0L)
    }.reduce(_ && _)
    probes.crossJoin(broadcast(filter.bitmap.select(col("bits").as("__bloom_bits"))))
      .withColumn("might_contain",
        when(col(keyCol).isNull, lit(null).cast("boolean")).otherwise(hits))
      .drop("__bloom_bits")
  }
}
