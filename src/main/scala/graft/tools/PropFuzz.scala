package graft.tools

import graft.Json
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Operator-PROPERTY fuzzing — [[FuzzDiff]]'s gen 5. The SQL grammar
  * over there is saturated (3450 shapes across gens 1–4, three real
  * catches, then dry); the C-family operators, meanwhile, were pinned
  * only by fixed fixtures — known corpora with known answers. This
  * main hunts the inputs the fixtures can't enumerate: each seeded
  * round draws a RANDOM synthetic corpus (size, vocabulary, length
  * distribution, duplicate rate, null rate) plus random operator
  * parameters, and asserts INVARIANTS that must hold for EVERY input
  * — properties no DuckDB oracle can state because they quantify over
  * the operator's parameter space, not one query's answer:
  *
  *   - `capped_subset` — bucket-capped LSH candidates are a SUBSET of
  *     the uncapped candidates for the same corpus and signature
  *     parameters: a cap may drop candidates, never invent them.
  *   - `quota_exact` — [[graft.ops.Sampling.quotaSample]] emits
  *     exactly min(quota, |stratum|) rows per stratum, each id drawn
  *     from its own stratum, no id twice — and the drawn SET is
  *     invariant under a repartition of the input (the determinism
  *     the "reproducible sampling" contract actually promises).
  *   - `containment_bounds` — [[graft.ops.Dedup.jaccardPairs]] and
  *     [[graft.ops.Dedup.containmentPairs]] agree on the pair set and
  *     the integer fields (inter, sizes); per pair
  *     inter ≤ min(sz_a, sz_b), union = sz_a + sz_b − inter, and both
  *     ratios are exactly their integer quotients; under a shingle-DF
  *     cap, capped inter/sizes never exceed the uncapped ones
  *     (dropping shingles can only shrink sets).
  *   - `no_straddle` — [[graft.ops.Curation.leakSafeSplit]] over a
  *     RANDOM pair graph: transitively-connected ids (union-find over
  *     the drawn pairs, computed independently here) always land in
  *     the SAME split, and the splits partition the id set.
  *   - `pack_gapless` — [[graft.ops.Curation.packSequences]] tiles
  *     the concatenated token stream with no gap and no overlap:
  *     offsets in id order telescope (start(i+1) = start(i) + n(i)
  *     from 0), first/last_seq match the integral-div arithmetic, and
  *     the layout is invariant under a repartition of the input.
  *
  * Seeded and replayable like FuzzDiff: (seed, round) regenerates the
  * corpus and parameters, so any violation becomes a fixed regression
  * spec. Usage: graft.tools.PropFuzz [rounds] [seed] — prints ONE JSON
  * line {"gen":5,"mode":"property","seed":…,"rounds":…,
  * "violations":N,…}; exits 1 on any violation.
  */
object PropFuzz {

  /** Deterministic random corpus: duplicate-heavy small-vocabulary
    * text (so LSH/shingle ops produce real candidate structure), 3–6
    * strata, occasional empty docs. Ids are distinct longs with gaps
    * (sampling/packing must not assume density). */
  private def corpus(rnd: java.util.Random, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val n = 30 + rnd.nextInt(170)
    val vocab = 8 + rnd.nextInt(50)
    val nStrata = 3 + rnd.nextInt(4)
    val dupPct = rnd.nextInt(40) // % of docs copying an earlier doc
    val docs = new scala.collection.mutable
      .ArrayBuffer[(Long, String, String, Long)](n)
    var id = 0L
    (0 until n).foreach { i =>
      id += 1 + rnd.nextInt(5) // gapped ids
      val text =
        if (i > 0 && rnd.nextInt(100) < dupPct)
          docs(rnd.nextInt(docs.size))._2 // exact/near-dup pressure
        else {
          val len = rnd.nextInt(31)
          (0 until len).map(_ => s"w${rnd.nextInt(vocab)}").mkString(" ")
        }
      docs += ((id, text, s"s${rnd.nextInt(nStrata)}",
        rnd.nextInt(31).toLong))
    }
    docs.toSeq.toDF("id", "text", "stratum", "tokens")
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  // ------------------------------------------------------- properties

  private def cappedSubset(rnd: java.util.Random, df: DataFrame,
      v: String => Unit): Unit = {
    val shingle = 1 + rnd.nextInt(3)
    val cap = 2 + rnd.nextInt(7)
    val capped = pairSet(graft.ops.Dedup.minHashLsh(
      df, "id", "text", shingle, 8, 2, maxBucketSize = cap))
    val uncapped = pairSet(graft.ops.Dedup.minHashLsh(
      df, "id", "text", shingle, 8, 2, maxBucketSize = graft.ops.Dedup.Uncapped))
    val invented = capped.diff(uncapped)
    if (invented.nonEmpty)
      v(s"capped_subset: cap=$cap shingle=$shingle invented pairs " +
        invented.take(3).toString)
  }

  private def quotaExact(rnd: java.util.Random, df: DataFrame,
      v: String => Unit): Unit = {
    val quota = 1 + rnd.nextInt(10)
    def draw(d: DataFrame) = graft.ops.Sampling
      .quotaSample(d, "id", "stratum", quota)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val got = draw(df)
    val byStratum = got.groupBy(_._1)
    val expected = df.groupBy(col("stratum"))
      .agg(countDistinct(col("id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    expected.foreach { case (s, n) =>
      val k = byStratum.get(s).map(_.length).getOrElse(0)
      if (k != math.min(quota.toLong, n))
        v(s"quota_exact: stratum=$s quota=$quota size=$n drew $k")
    }
    if (got.map(_._3).distinct.length != got.length)
      v(s"quota_exact: an id was drawn twice (quota=$quota)")
    val membership = df.select(col("id"), col("stratum")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (s, _, id) =>
      if (!membership.get(id).contains(s))
        v(s"quota_exact: id=$id drawn for stratum=$s but belongs to " +
          membership.get(id).toString)
    }
    val re = draw(df.repartition(1 + rnd.nextInt(7)))
    if (re.toSet != got.toSet)
      v(s"quota_exact: repartition changed the drawn set (quota=$quota)")
  }

  private def containmentBounds(rnd: java.util.Random, df: DataFrame,
      v: String => Unit): Unit = {
    val shingle = 1 + rnd.nextInt(3)
    type Rec = (Long, Long, Long, Long, Long, Double, Double)
    def cont(cap: Int): Map[(Long, Long), Rec] =
      graft.ops.Dedup.containmentPairs(df, "id", "text", shingle, cap)
        .collect().map { r =>
          (r.getLong(0), r.getLong(1)) ->
            ((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
              r.getLong(4), r.getDouble(5), r.getDouble(6)))
        }.toMap
    val c = cont(Int.MaxValue)
    val jac = graft.ops.Dedup.jaccardPairs(df, "id", "text", shingle)
      .collect().map { r =>
        (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getDouble(4)))
      }.toMap
    if (c.keySet != jac.keySet)
      v(s"containment_bounds: pair sets differ (shingle=$shingle): " +
        s"only-cont=${c.keySet.diff(jac.keySet).take(3)} " +
        s"only-jac=${jac.keySet.diff(c.keySet).take(3)}")
    c.foreach { case (k, (_, _, inter, sza, szb, ca, cb)) =>
      if (inter > math.min(sza, szb))
        v(s"containment_bounds: $k inter=$inter > min($sza, $szb)")
      if (ca != inter.toDouble / sza || cb != inter.toDouble / szb)
        v(s"containment_bounds: $k ratio drift")
      jac.get(k).foreach { case (jInter, jUnion, j) =>
        if (jInter != inter)
          v(s"containment_bounds: $k inter disagrees: $inter vs $jInter")
        if (jUnion != sza + szb - inter)
          v(s"containment_bounds: $k union=$jUnion != $sza+$szb-$inter")
        if (j != jInter.toDouble / jUnion)
          v(s"containment_bounds: $k jaccard drift")
        // jaccard ≤ both containments, integer form: union ≥ sz
        if (jUnion < sza || jUnion < szb)
          v(s"containment_bounds: $k union=$jUnion below a set size")
      }
    }
    // a DF cap can only shrink the shingle space, hence every count
    val capped = cont(1 + rnd.nextInt(6))
    capped.foreach { case (k, (_, _, inter, sza, szb, _, _)) =>
      c.get(k).foreach { case (_, _, ui, ua, ub, _, _) =>
        if (inter > ui || sza > ua || szb > ub)
          v(s"containment_bounds: $k capped counts exceed uncapped")
      }
    }
  }

  private def noStraddle(rnd: java.util.Random, df: DataFrame,
      v: String => Unit): Unit = {
    import df.sparkSession.implicits._
    val ids = df.select(col("id")).collect().map(_.getLong(0))
    val nPairs = rnd.nextInt(1 + ids.length / 2)
    val pairs = (0 until nPairs).map { _ =>
      (ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length)))
    }.filter(p => p._1 != p._2)
    if (pairs.isEmpty) return
    val trainPct = 40 + rnd.nextInt(50)
    val valPct = rnd.nextInt(math.min(20, 99 - trainPct))
    val split = graft.ops.Curation.leakSafeSplit(
        df, "id", pairs.toDF("a", "b"), trainPct, valPct)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // independent union-find over the drawn pairs
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val roots = ids.groupBy(find)
    roots.foreach { case (_, members) =>
      val splits = members.map(split).distinct
      if (splits.length != 1)
        v(s"no_straddle: cluster ${members.take(4).toSeq} straddles " +
          s"$splits (trainPct=$trainPct valPct=$valPct)")
    }
    if (split.keySet != ids.toSet)
      v("no_straddle: splits do not partition the id set")
    val bad = split.values.filterNot(Set("train", "val", "test")).toSeq
    if (bad.nonEmpty) v(s"no_straddle: unknown split labels $bad")
  }

  private def packGapless(rnd: java.util.Random, df: DataFrame,
      v: String => Unit): Unit = {
    val seqLen = 1 + rnd.nextInt(64)
    val buckets = 1 + rnd.nextInt(16)
    def run(d: DataFrame) = graft.ops.Curation
      .packSequences(d, "id", col("tokens"), seqLen, buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    val rows = run(df)
    var expect = 0L
    rows.foreach { case (id, n, start, firstSeq, lastSeq) =>
      if (start != expect)
        v(s"pack_gapless: id=$id start=$start expected=$expect " +
          s"(seqLen=$seqLen buckets=$buckets)")
      if (firstSeq != start / seqLen)
        v(s"pack_gapless: id=$id first_seq=$firstSeq != ${start / seqLen}")
      if (lastSeq != (start + math.max(n, 1L) - 1) / seqLen)
        v(s"pack_gapless: id=$id last_seq=$lastSeq wrong")
      expect = start + n
    }
    val re = run(df.repartition(1 + rnd.nextInt(7)))
    if (!re.sameElements(rows))
      v(s"pack_gapless: repartition changed the layout (seqLen=$seqLen)")
  }

  // ------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val rounds = args.headOption.map(_.toInt).getOrElse(200)
    val seed = args.lift(1).map(_.toLong).getOrElse(11L)
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val props: Seq[(String, (java.util.Random, DataFrame,
        String => Unit) => Unit)] = Seq(
      "capped_subset" -> cappedSubset,
      "quota_exact" -> quotaExact,
      "containment_bounds" -> containmentBounds,
      "no_straddle" -> noStraddle,
      "pack_gapless" -> packGapless)
    val violations = Seq.newBuilder[String]
    val perProp = scala.collection.mutable.Map(props.map(_._1 -> 0): _*)
    (0 until rounds).foreach { i =>
      // one Random per round keyed on (seed, round): replaying a single
      // failing round needs no history
      val rnd = new java.util.Random(seed * 1000003L + i)
      val df = corpus(rnd, spark)
      val (name, prop) = props(i % props.size)
      perProp(name) += 1
      try prop(rnd, df, m => {
        violations += s"round=$i $m"
        System.err.println(s"[propfuzz] VIOLATION round=$i $m")
      })
      catch {
        case scala.util.control.NonFatal(e) =>
          violations += s"round=$i $name CRASH ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").take(160)
          System.err.println(s"[propfuzz] CRASH round=$i $name: $e")
      }
    }
    val vs = violations.result()
    println(s"""{"gen":5,"mode":"property","seed":$seed,"rounds":$rounds,""" +
      s""""properties":{${props.map(p => s""""${p._1}":${perProp(p._1)}""")
        .mkString(",")}},""" +
      s""""violations":${vs.size},"details":[${vs.take(20).map(Json.str)
        .mkString(",")}]}""")
    spark.stop()
    if (vs.nonEmpty) sys.exit(1)
  }
}
