package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Unit coverage for the analytics/curation additions (SURVEY §2
  * A37–A38, C78–C81): Gopher rule signals, C4 line cleaning, BPE merge
  * learning, integer HITS, windowed funnels, cohort retention.
  */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------ C78: Gopher rule signals

  test("gopher: each rule trips on its planted violation") {
    val good = (Seq.fill(10)("sensible wording here and")
      .mkString(" ") + " the of") // 42 words, stop hits {and, the, of}
    val df = Seq(
      (1L, good),                                    // passes all rules
      (2L, "tiny doc the of"),                       // too few words
      (3L, Seq.fill(30)("a").mkString(" ") + " the of"), // mean len < 3
      (4L, Seq.fill(30)("# #").mkString(" ") + " the of"), // symbol ratio
      (5L, good.replace(" the of", "")),             // < 2 stop hits
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextOps.gopherSignals(df, "doc_id", "text", minWords = 20L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(9)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> false, 6L -> false))
  }

  test("gopher: bullet/ellipsis line rules and integer mean length") {
    val bulletHeavy = (1 to 10).map(i => s"- item $i listed.").mkString("\n")
    val df = Seq((1L, bulletHeavy), (2L, "one line...\nand more text here."))
      .toDF("doc_id", "text")
    val out = TextOps.gopherSignals(df, "doc_id", "text", minWords = 1L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(9))).toMap
    // doc 1: 10 lines, all bullets -> 10*10 > 9*10 fails the 90% rule
    assert(out(1L) == ((10L, 10L, 0L, false)))
    // doc 2: 2 lines, 1 ellipsis -> 10*1 > 3*2 fails the 30% rule
    assert(out(2L)._3 == 1L && !out(2L)._4)
    // integral mean word length: "ab cd" -> 4 chars / 2 words = 2000
    val m = TextOps.gopherSignals(Seq((1L, "ab cd")).toDF("doc_id", "text"),
      "doc_id", "text").collect().head
    assert(m.getLong(2) == 2000L)
  }

  // ------------------------------------------- C79: C4 line cleaning

  test("c4: keeps only terminal-punct, long-enough, non-junk lines") {
    val text = Seq(
      "this line ends properly.",        // kept
      "so does this one!",               // kept
      "and a questioning line?",         // kept
      "no terminal punctuation here",    // cut: no terminator
      "short.",                          // cut: < 3 words
      "accept our cookie policy now.",   // cut: junk marker
      "function() { return 1; }",        // cut: braces
      "quoted line stays \"intact.\"")   // kept: closing quote
      .mkString("\n")
    val out = Curation.c4LineClean(
      Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    assert(out.getLong(1) == 8L && out.getLong(2) == 4L)
    assert(out.getString(3) == Seq(
      "this line ends properly.", "so does this one!",
      "and a questioning line?", "quoted line stays \"intact.\"")
      .mkString("\n"))
  }

  test("c4: all-cut doc keeps its row empty; NULL text stays NULL") {
    val df = Seq((1L, "no punct at all"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Curation.c4LineClean(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.getString(3)))).toMap
    assert(out(1L) == ((1L, 0L, Some(""))))
    assert(out(2L) == ((0L, 0L, None)))
  }

  test("c4: map-only HOF plan ≡ per-line Scala reference") {
    val fixed = Seq(
      "keep this proper line.\nno terminator\nanother good line stays!",
      null, "", "every line cut here",
      "accept our cookie policy now.\nbut this line survives fine.",
      "two words.\n  padded line ends here.  \n\nLorem Ipsum dolor sit.")
    val pieces = Seq("short.", "a line that is long enough.", "no stop here",
      "x {y} z.", "Quote ends \"here.\"", "ok then, go!", "")
    val generated = (0 until 40).map(i =>
      (0 to i % 5).map(j => pieces((i * 3 + j * 5) % pieces.size)).mkString("\n"))
    val texts = (fixed ++ generated).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text")
    val got = Curation.c4LineClean(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)))).toSet
    // Spark's trim strips spaces only; tokens = split of the lowered,
    // space-trimmed, whitespace-collapsed line
    def sparkTrim(l: String) = l.replaceAll("^ +| +$", "")
    def keep(l: String) =
      "[.!?\"]$".r.findFirstIn(sparkTrim(l)).isDefined &&
        sparkTrim(l.toLowerCase).replaceAll("\\s+", " ").split(" ", -1).length >= 3 &&
        "[{}]|lorem ipsum|javascript|cookie".r.findFirstIn(l.toLowerCase).isEmpty
    val want = texts.map {
      case (id, null) => (id, 0L, 0L, None)
      case (id, t) =>
        val lines = t.split("\n", -1).toSeq
        val kept = lines.filter(keep)
        (id, lines.size.toLong, kept.size.toLong, Some(kept.mkString("\n")))
    }.toSet
    assert(got == want, s"only-engine=${got.diff(want).take(3)} " +
      s"only-reference=${want.diff(got).take(3)}")
  }

  // ---------------------------------------- C80: BPE merge learning

  test("bpe: learns the frequency-ordered merges of a known corpus") {
    // corpus: "abab abab cd" -> words {abab: 2, cd: 1}
    // round 1 pairs: (a,b) f=4, (b,a) f=2, (c,d) f=1 -> merge (a,b)
    // round 2: abab = [ab, ab] -> (ab,ab) f=2, (c,d) f=1 -> merge (ab,ab)
    // round 3: only (c,d) f=1 remains
    val df = Seq((1L, "abab abab cd")).toDF("doc_id", "text")
    val out = Bpe.learnMerges(df, "text", 3).orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1, "a", "b", 4L), (2, "ab", "ab", 2L), (3, "c", "d", 1L)))
  }

  test("bpe: leftmost non-overlapping merge (aaa -> [aa, a])") {
    // "aaa" x2, "aa" x1: round-1 pairs (a,a): aaa has 2, aa has 1 -> f=5
    // after merging (a,a): aaa -> [aa, a] so round 2 sees (aa, a) f=2
    val df = Seq((1L, "aaa aaa aa")).toDF("doc_id", "text")
    val out = Bpe.learnMerges(df, "text", 2).orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq((1, "a", "a", 5L), (2, "aa", "a", 2L)))
  }

  test("bpe: stops early when no pairs remain") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text") // 1-char words only
    assert(Bpe.learnMerges(df, "text", 3).count() == 0L)
  }

  test("bpe: truncation cadence is invisible to the learned merges") {
    // a corpus deep enough that 12 rounds cross several truncation
    // boundaries at every cadence: identical rules must come out
    // whether lineage is cut every round, every 3rd, or (default) 8th
    val df = (1L to 40L).map { i =>
      (i, Seq.fill(3 + (i % 4).toInt)(s"w${i % 7}abcde").mkString(" "))
    }.toDF("doc_id", "text")
    def rules(every: Option[Int]) = {
      val out = every.fold(Bpe.learnMerges(df, "text", 12))(
        Bpe.learnMerges(df, "text", 12, _))
      out.orderBy("round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
    }
    val everyRound = rules(Some(1))
    assert(everyRound.size == 12)
    assert(rules(Some(3)) == everyRound)
    assert(rules(None) == everyRound)       // default cadence (8)
  }

  test("bpe encode: merges replay in learned order") {
    val df = Seq((1L, "abab abab cd")).toDF("doc_id", "text")
    // learned rules: (a,b) then (ab,ab) then (c,d) — abab collapses to
    // ONE symbol only because rule 2 runs after rule 1
    val out = Bpe.encodeVocab(df, "text", 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out("abab") == ((2L, 1L, "abab")))
    assert(out("cd") == ((1L, 1L, "cd")))
    // partial application: only rules that fire apply
    val out2 = Bpe.applyMerges(df, "text", Seq(("a", "b")))
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(out2("abab") == "ab ab" && out2("cd") == "c d")
  }

  test("bpe tokenize: per-doc counts under learned merges, OOV words = 1") {
    // merges learned from the 3-doc corpus: (a,b) f=8, (ab,ab) f=3,
    // (c,d) f=2 — so abab, ab, cd each segment to ONE symbol
    // doc 1 "abab abab cd": abab→1 sym ×2, cd→1 sym  => 3 tokens, 3 words
    // doc 2 "abab x. cd":   abab→1, "x." OOV (punct) →1, cd→1 => 3, 3
    // doc 3 "ab ab":        "ab" segments via rule 1 → 1 sym ×2 => 2, 2
    val df = Seq((1L, "abab abab cd"), (2L, "abab x. cd"), (3L, "ab ab"))
      .toDF("doc_id", "text")
    val out = Bpe.tokenizeCorpus(df, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out == Map(1L -> ((3L, 3L)), 2L -> ((3L, 3L)), 3L -> ((2L, 2L))))
    // with NO merges every in-vocab word counts its characters
    val none = Bpe.tokenizeDocs(df, "doc_id", "text", Nil)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(none == Map(1L -> 10L, 2L -> 7L, 3L -> 4L))
  }

  // ------------------------------------ C81: integer HITS

  test("hits: directory page is the hub, its targets the authorities") {
    // 0 -> {1, 2, 3}; 4 -> 1. Node 0 is the stronger hub (it finds
    // more authority mass); node 1 the stronger authority (2 in-links).
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L), (4L, 1L)).toDF("src", "dst")
    val out = Graph.hits(e, "src", "dst", iterations = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L)._1 > out(4L)._1)            // hub: 0 over 4
    assert(out(1L)._2 > out(2L)._2)            // auth: 1 over 2
    assert(out(2L)._2 == out(3L)._2)           // symmetric authorities
    assert(out(1L)._1 == 0L && out(2L)._1 == 0L) // pure sinks: no hub mass
    assert(out(0L)._2 == 0L)                   // no in-links: no authority
  }

  test("hits: repartitioning does not change a single score") {
    val e = Seq.tabulate(60)(i => (i.toLong % 7, (i * 13L) % 11))
      .toDF("src", "dst").filter(col("src") =!= col("dst"))
    val a = Graph.hits(e, "src", "dst").collect().map(_.toSeq).toSet
    val b = Graph.hits(e.repartition(7), "src", "dst")
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  // ------------------------------- A37: ordered windowed funnel

  private def ts(min: Long) = new Timestamp(min * 60000L)

  test("funnel: order and window both gate conversion") {
    val ev = Seq(
      (1L, "view", ts(0)), (1L, "click", ts(10)), (1L, "purchase", ts(20)),
      (2L, "click", ts(0)), (2L, "view", ts(10)),   // click BEFORE view
      (3L, "view", ts(0)), (3L, "click", ts(2000)), // outside 1h window
      (4L, "purchase", ts(0)), (4L, "view", ts(10)) // purchase before all
    ).toDF("user_id", "event_type", "ts")
    val out = EventAnalytics.funnelSteps(ev, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"), maxGapMicros = 3600L * 1000000L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 1))
  }

  test("funnel: unbounded window converts late steps; min times exact") {
    val ev = Seq(
      (1L, "view", ts(0)), (1L, "view", ts(5)),
      (1L, "click", ts(2000))).toDF("user_id", "event_type", "ts")
    val r = EventAnalytics.funnelSteps(ev, "user_id", "event_type", "ts",
      Seq("view", "click")).collect().head
    assert(r.getInt(1) == 2)
    assert(r.getLong(2) == 0L)                   // first view, not second
    assert(r.getLong(3) == 2000L * 60000000L)
  }

  // --------------------------- C84: exact quota sampling

  test("quota sample: exact counts, window equality, repartition-stable") {
    val df = Seq.tabulate(100)(i => (i.toLong, s"src${i % 3}"))
      .toDF("doc_id", "source")
      .union(spark.sql(
        """SELECT CAST(900 AS BIGINT), CAST(NULL AS STRING)
          |UNION ALL SELECT CAST(NULL AS BIGINT), 'src0'""".stripMargin))
    val out = Sampling.quotaSample(df.toDF(), "doc_id", "source", 10)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    // full strata cap at the quota; the 1-doc NULL stratum keeps 1
    assert(bySrc == Map(Some("src0") -> 10L, Some("src1") -> 10L,
      Some("src2") -> 10L, None -> 1L))
    // equality with the naive per-stratum window formulation
    val ordCol = graft.functions.HashExprs.md5Long(
      concat(lit("qsamp:"), col("doc_id").cast("string")), 13)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(ordCol, col("doc_id"))
    val naive = df.filter(col("doc_id").isNotNull)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
      .select(col("source"), col("rank").cast("int"), col("doc_id"))
      .collect().map(_.toSeq).toSet
    assert(out.collect().map(_.toSeq).toSet == naive)
    val re = Sampling.quotaSample(df.repartition(13).toDF(),
      "doc_id", "source", 10)
    assert(re.collect().map(_.toSeq).toSet == naive)
  }

  // ------------------------ C86: triangle counting

  test("triangles: hand graph, exactly-once counting, zeroes kept") {
    // K4 on {1,2,3,4} (4 triangles, 3 per node) + pendant 5 + isolated
    // pair via self-loop-ish edge 6-6 (dropped) and node 7 from 7->5
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 3L), // duplicate reverse edge must not double-count
      (5L, 1L), (6L, 6L), (7L, 5L)).toDF("src", "dst")
    val out = Graph.triangles(e, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 0L, 6L -> 0L, 7L -> 0L))
  }

  test("triangles: stride-shifted 10^12-range ids count identically") {
    // The packed deg*10^10+id order key crashed the 10x scale sweep on
    // replica ids; the struct key has no bound. Same K4, ids shifted
    // into the scale-replica range, same counts.
    val S = 3L * 1000 * 1000 * 1000 * 1000
    val base = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val e = base.map { case (a, b) => (a + S, b + S) }.toDF("src", "dst")
    val out = Graph.triangles(e, "src", "dst")
      .collect().map(r => (r.getLong(0) - S, r.getLong(1))).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangles: global count matches the closed-form on a clique") {
    // K6: C(6,3) = 20 triangles, each vertex in C(5,2) = 10
    val ids = (0L until 6L)
    val e = (for (a <- ids; b <- ids if a < b) yield (a, b)).toDF("src", "dst")
    val out = Graph.triangles(e, "src", "dst").collect()
    assert(out.forall(_.getLong(1) == 10L))
    assert(out.map(_.getLong(1)).sum / 3 == 20L)
  }

  // ---------------- C87: sorted-neighborhood blocking

  test("sorted neighborhood: window pairs match the naive global sort") {
    val df = Seq.tabulate(60)(i => (i.toLong, f"doc ${(i * 37) % 60}%02d text"))
      .toDF("doc_id", "text")
    val key = Dedup.prefixKey64(
      regexp_replace(graft.ops.TextOps.normalized(col("text")),
        "[^a-z0-9 ]", ""), 7)
    val out = Dedup.sortedNeighborhoodPairs(df, "doc_id", key, window = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    // naive: global sort by (key, id), pair rank r with r+1, r+2
    val naive = df.select(col("doc_id"), key.as("k"))
      .collect().map(r => (r.getLong(1), r.getLong(0))).sorted
    val expected = (for {
      i <- naive.indices; g <- 1 until 3 if i + g < naive.length
    } yield (naive(i)._2, naive(i + g)._2, g)).toSet
    assert(out == expected && out.nonEmpty)
    // repartitioning cannot move a single pair (exact two-level rank)
    val re = Dedup.sortedNeighborhoodPairs(df.repartition(11), "doc_id",
      key, window = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    assert(re == expected)
  }

  test("prefixKey64 preserves byte order for ASCII keys") {
    val ks = Seq("a", "a b", "ab", "abc", "az", "b", "z9 x")
    val enc = Seq.tabulate(ks.length)(i => (i.toLong, ks(i)))
      .toDF("id", "s")
      .select(col("id"), Dedup.prefixKey64(col("s"), 7).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sortedByKey = ks.indices.sortBy(i => enc(i.toLong)).map(ks)
    assert(sortedByKey == ks.sorted)
  }

  // --------------------- C85: edit-distance near-dup verification

  test("edit distance: one-char edits pair up; threshold DP filters") {
    val base = Seq.tabulate(50)(i => s"tok$i").mkString(" ")
    val oneEdit = base.replace("tok7", "tok9")        // 1 substitution
    val twoEdits = base.replace("tok7", "tok9").replace("tok31", "tok99")
    val df = Seq((1L, base), (2L, oneEdit), (3L, twoEdits))
      .toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(df, "doc_id", "text", maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // a 1-token edit leaves most simhash bits intact -> band collision
    assert(out((1L, 2L)) == 1)
    assert(out((2L, 3L)) == 2)  // tok31 -> tok99: two substitutions
    assert(out((1L, 3L)) == 3)  // tok7 -> tok9 plus tok31 -> tok99
    // tight threshold: the banded DP drops distances above the bound
    val tight = Dedup.editDistancePairs(df, "doc_id", "text", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight == Set((1L, 2L)))
  }

  test("edit distance: hot buckets capped, identical docs distance 0") {
    val clones = Seq.tabulate(40)(i => (i.toLong, "same words everywhere"))
    val df = clones.toDF("doc_id", "text")
    // 40 identical docs share every band: uncapped -> C(40,2) pairs
    val full = Dedup.editDistancePairs(df, "doc_id", "text", 0)
    assert(full.count() == 40L * 39 / 2)
    assert(full.agg(max(col("edit_dist"))).head().getInt(0) == 0)
    // bucket cap drops the degenerate bucket entirely (boundBuckets)
    assert(Dedup.editDistancePairs(df, "doc_id", "text", 0,
      maxBucketSize = 10).count() == 0L)
  }

  // ----------------------------- A38: cohort retention matrix

  test("retention: triangle counts by first-event week") {
    val wk = 7L * 24 * 60 // minutes per week
    val ev = Seq(
      (1L, ts(0)), (1L, ts(wk + 1)), (1L, ts(2 * wk + 1)), // weeks 0,1,2
      (2L, ts(1)), (2L, ts(2 * wk + 2)),                   // weeks 0,2
      (3L, ts(wk + 3)))                                    // cohort week 1
      .toDF("user_id", "ts")
    val out = EventAnalytics.retentionMatrix(ev, "user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      (0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 2L) -> 2L,
      (1L, 0L) -> 1L))
  }

  // -------------------- A40: event transition matrix (Markov view)

  test("transitions: per-user lag pairs, tiebreak total order, firsts skip") {
    val ev = Seq[(Long, java.lang.Long, Timestamp, String)](
      // user 1: view -> click -> buy (in time order)
      (1L, 1L, ts(0), "view"), (2L, 1L, ts(1), "click"),
      (3L, 1L, ts(2), "buy"),
      // user 2: two events in the SAME minute — event_id breaks the tie
      (5L, 2L, ts(10), "view"), (4L, 2L, ts(10), "error"),
      // user 3: single event, no pair; null user dropped
      (6L, 3L, ts(0), "view"), (7L, null, ts(0), "click"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = EventAnalytics.transitionMatrix(ev, "user_id", "event_type",
      "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // user 2 orders (error, view) by event_id 4 < 5 at the tied minute
    assert(out == Map(
      ("view", "click") -> 1L, ("click", "buy") -> 1L,
      ("error", "view") -> 1L))
  }
}
