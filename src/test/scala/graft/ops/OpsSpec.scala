package graft.ops

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sfDir, "documents").cache()

  test("exact dedup identifies verbatim copies") {
    val df = Seq(
      (1L, "hello  world"), (2L, "Hello world"), (3L, "different text"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text").collect()
    // normalization (lower + whitespace collapse) makes 1 and 2 equal
    assert(out.length == 2)
    val kept = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_copies")).toMap
    assert(kept(1L) == 2 && kept(3L) == 1)
  }

  test("shingles produce n-grams with set semantics and honor short docs") {
    val df = Seq((1L, "a b c d"), (2L, "x y"), (3L, "a b c d a b c d a b c d")).toDF("doc_id", "text")
    val sh = Dedup.shingles(df, "doc_id", "text", 3)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == 2) // "a b c", "b c d"
    assert(!sh.contains(2L)) // too short for 3-grams
    assert(sh(3L) == 4) // {a b c, b c d, c d a, d a b} — repeats deduplicated
  }

  test("minhash LSH finds near-duplicates and skips unrelated docs") {
    val near1 = "the quick brown fox jumps over the lazy dog again and again today"
    val near2 = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    val far = "completely unrelated content talking about spark query engines at scale"
    val df = Seq((1L, near1), (2L, near2), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minHashLsh(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("duplicate clusters: min-label propagation finds connected components") {
    // chain 1-2-3-4 (diameter 3, needs >1 round), pair 10-11, and a
    // triangle 20-21-22 sharing node 20 with pair 20-23
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L), (20L, 23L))
      .toDF("a", "b")
    val got = Dedup.duplicateClusters(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    // a graph needing more rounds than maxIter must fail loudly, never
    // return silently unconverged labels (pointer doubling is
    // log-round, so the chain must be long and the budget 1)
    val chain = (1L to 64L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("a", "b")
    assertThrows[IllegalStateException](
      Dedup.duplicateClusters(chain, "a", "b", maxIter = 1).collect())
  }

  test("duplicate clusters: a deep chain converges within the default budget") {
    // The exact shape that broke at 30x under plain O(diameter)
    // propagation: a banded near-dup CHAIN (one collision per link).
    // Pointer doubling must collapse a 4096-node chain (diameter 4095)
    // well inside the default 50-round budget — log2(4095) ≈ 12 plus
    // the min-churn tail. Every node must land on the chain's min id.
    val chain = (1L to 4096L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("a", "b")
    val got = Dedup.duplicateClusters(chain, "a", "b")
    assert(got.filter(col("cluster") =!= 1L).limit(1).count() == 0)
    assert(got.count() == 4096L)
  }

  test("reliable-checkpoint conf switches truncation to the checkpoint dir") {
    // Cluster deployments flip spark.graft.reliableCheckpoints=true so
    // iterative lineage truncation survives executor loss; results must
    // be identical to the localCheckpoint default.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck_").toString
    spark.conf.set(graft.Checkpoints.ReliableConfKey, "true")
    try {
      // without a checkpoint dir the helper must fail loudly, not NPE
      // somewhere inside Spark
      spark.sparkContext.setCheckpointDir(null)
      assertThrows[IllegalStateException](
        Dedup.duplicateClusters(pairs, "a", "b").collect())
      spark.sparkContext.setCheckpointDir(ckDir)
      val got = Dedup.duplicateClusters(pairs, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // the reliable path actually wrote round snapshots to the dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable checkpoint must materialize to the checkpoint dir")
    } finally {
      spark.conf.unset(graft.Checkpoints.ReliableConfKey)
      spark.sparkContext.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckDir))
    }
  }

  test("truncate resets plan statistics: no BigInt blowup across loop rounds") {
    // Dataset.checkpoint carries the origin plan's sizeInBytes forward,
    // and the size-only visitor MULTIPLIES it at joins — an iterative
    // self-join loop then at least doubles the stat's DIGIT count per
    // round, and by round ~20 the driver grinds megadigit Karatsuba
    // multiplications inside checkpoint() itself (observed live at 30×:
    // one core pinned 20+ min in stats estimation). truncate must
    // rebuild from the RDD boundary so each round's leaf stat is the
    // constant session default.
    var df = Seq((1L, 1L), (2L, 1L), (3L, 2L)).toDF("id", "label")
    for (_ <- 1 to 12) {
      val stepped = df.join(
        df.select(col("id").as("label"), col("label").as("ll")), Seq("label"), "left")
        .select(col("id"), coalesce(col("ll"), col("label")).as("label"))
      df = graft.Checkpoints.truncate(stepped)
      val bits = df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
      assert(bits < 256,
        s"truncated plan stat has $bits-bit sizeInBytes — stats are compounding")
    }
    assert(df.count() == 3)
  }

  test("truncateCountTrue: fused probe counts true flags, NULLs are false") {
    // The fixpoint probe that rides the round's own materialization —
    // convergence loops depend on ==0 being exact when nothing changed
    // and >0 whenever anything did; NULL flags must not throw or count.
    val df = Seq(
      (1L, Some(true)), (2L, Some(false)), (3L, None), (4L, Some(true))
    ).toDF("id", "f")
    val (mat, n) = graft.Checkpoints.truncateCountTrue(df, "f")
    assert(n == 2L)
    // the frame itself is intact and truncated (stable leaf stat)
    assert(mat.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(mat.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength < 256)
    val (_, zero) = graft.Checkpoints.truncateCountTrue(
      df.withColumn("f", lit(false)), "f")
    assert(zero == 0L)
  }

  test("simhash: near-identical docs have small hamming distance") {
    val near1 = "the quick brown fox jumps over the lazy dog again and again today"
    val near2 = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    val far = "completely unrelated content talking about spark query engines at scale"
    val df = Seq((1L, near1), (2L, near2), (3L, far)).toDF("doc_id", "text")
    val sims = Dedup.simHash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sims(1L), sims(2L)) < hamming(sims(1L), sims(3L)))
    val cands = Dedup.simHashCandidates(
      Dedup.simHash(df, "doc_id", "text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
  }

  test("bucket cap bounds LSH fan-out on adversarial duplicate-heavy input") {
    // 300 boilerplate copies share every band signature: one hot bucket
    // per band. The quadratic enumeration (C(300,2) pairs) is now an
    // EXPLICIT opt-in (Dedup.Uncapped); the default is the capped
    // production shape — hot buckets dropped, only the benign near-dup
    // pair survives.
    val boiler = (1L to 300L).map(i => (i, "lorem ipsum dolor sit amet boilerplate footer text"))
    val near = Seq(
      (1001L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1002L, "the quick brown fox jumps over the lazy dog again and again tomorrow"))
    val df = (boiler ++ near).toDF("doc_id", "text")
    val uncapped =
      Dedup.minHashLsh(df, "doc_id", "text", maxBucketSize = Dedup.Uncapped)
        .count()
    assert(uncapped >= 300L * 299L / 2) // quadratic blowup demonstrated
    val capped = Dedup.minHashLsh(df, "doc_id", "text", maxBucketSize = 16)
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1001L, 1002L))) // bounded: only the benign pair
    // cap-by-default: the no-arg call ≡ the explicit production cap, on
    // both the pair generator and the consensus composition
    val byDefault = Dedup.minHashLsh(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicitDefault = Dedup.minHashLsh(df, "doc_id", "text",
        maxBucketSize = Dedup.DefaultMaxBucketSize)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(byDefault == explicitDefault && byDefault == Set((1001L, 1002L)))
    // the consensus composition inherits the same capped default: its
    // result ⊆ the capped minhash pairs, never the quadratic set
    val cons = Dedup.consensusPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cons.subsetOf(byDefault))
    // dropped buckets are observable for monitoring
    val sigs = Dedup.minHashSignatures(df, "doc_id", "text", 3, 8)
    val banded = sigs.select($"doc_id",
      explode(array((0 until 4).map(b => struct(lit(b).as("band_id"),
        concat_ws("|", col(s"h${b * 2}"), col(s"h${b * 2 + 1}")).as("sig"))): _*)).as("band"))
      .select($"doc_id", $"band.band_id", $"band.sig")
    val hot = Dedup.hotBuckets(banded, Seq("band_id", "sig"), 16).collect()
    assert(hot.length == 4 && hot.forall(_.getAs[Long]("bucket_n") == 300L))
  }

  test("capped simhash candidates drop hot buckets only") {
    val boiler = (1L to 100L).map(i => (i, "identical boilerplate page footer"))
    val near = Seq(
      (1001L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1002L, "the quick brown fox jumps over the lazy dog again and again tomorrow"))
    val sims = Dedup.simHash((boiler ++ near).toDF("doc_id", "text"), "doc_id", "text")
    val capped = Dedup.simHashCandidates(sims, "doc_id", maxBucketSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1001L, 1002L)))
  }

  test("jaccard pairs compute exact set similarity") {
    val df = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w")).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("jaccard"))).toMap
    // tokens{1}= {a,b,c,d}, tokens{2}={a,b,c,e}: inter 3, union 5
    assert(math.abs(pairs((1L, 2L)) - 0.6) < 1e-12)
    assert(!pairs.contains((1L, 3L))) // no shared shingles -> no pair row
  }

  test("similarityJoinExact equals brute-force all-pairs jaccard (no false negatives)") {
    // Random-ish corpus from a SMALL vocabulary so real overlaps occur;
    // deterministic generator (seeded by doc index, not Random) so the
    // case replays. 90 docs, lengths 3..12 over a 24-word vocab.
    val vocab = ('a' to 'x').map(c => s"w$c")
    val docs = (1L to 90L).map { i =>
      val len = 3 + (i * 7 % 10).toInt
      val toks = (0 until len).map(j => vocab(((i * 31 + j * 13) % 24).toInt))
      (i, toks.mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    for (p <- Seq(50, 60, 80, 100)) {
      val got = Dedup.similarityJoinExact(df, "doc_id", "text", p)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3)))).toMap
      // brute force over the SAME normalization (distinct tokens)
      val sets = docs.map { case (i, t) => i -> t.split(" ").toSet }.toMap
      val expect = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = (sets(a) & sets(b)).size
        union = (sets(a) | sets(b)).size
        if 100 * inter >= p * union
      } yield ((a, b), (inter.toLong, union.toLong))).toMap
      assert(got == expect,
        s"p=$p: missing=${(expect.keySet -- got.keySet).take(5)} " +
          s"extra=${(got.keySet -- expect.keySet).take(5)}")
      assert(expect.nonEmpty || p == 100, s"p=$p test has no positive pairs")
    }
    // shingle units (the production mode): same losslessness vs brute
    // force over bigram sets
    val sets2 = docs.map { case (i, t) =>
      val tk = t.split(" ")
      i -> tk.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    }.toMap
    val got2 = Dedup.similarityJoinExact(df, "doc_id", "text", 50, 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    val expect2 = (for {
      a <- sets2.keys; b <- sets2.keys
      if a < b && sets2(a).nonEmpty && sets2(b).nonEmpty
      inter = (sets2(a) & sets2(b)).size
      union = (sets2(a) | sets2(b)).size
      if 100 * inter >= 50 * union
    } yield ((a, b), (inter.toLong, union.toLong))).toMap
    assert(got2 == expect2)

    // exact duplicates survive at threshold 100 with jaccard 1.0
    val dup = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "alpha beta DELTA")).toDF("doc_id", "text")
    val at100 = Dedup.similarityJoinExact(dup, "doc_id", "text", 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(at100.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("similarityJoinExact candidate budget fails loudly on closed vocabularies") {
    // Adversarial input: 40 identical docs over a 3-token vocabulary.
    // Every token has df=40, so the df-table bound is 3·C(40,2)=2340 and
    // the EXACT prefix-join candidates (p=80 → prefix length 1, all docs
    // keep the tie-broken rarest token 'a') are C(40,2)=780.
    val closed = (1L to 40L).map(i => (i, "a b c")).toDF("doc_id", "text")
    // budget below the exact candidate count → typed loud failure
    val err = intercept[graft.model.ExecutionError] {
      Dedup.similarityJoinExact(closed, "doc_id", "text", 80,
        maxCandidates = 100).collect()
    }
    assert(err.errorClass == "execution_error")
    assert(err.getMessage.contains("candidate budget exceeded"))
    assert(err.getMessage.contains("candidates=780"))
    assert(err.getMessage.contains("LSH"))
    // budget between the exact count (780) and the cheap bound (2340):
    // the second-stage exact pricing must admit the join, and results
    // stay exact — all C(40,2) identical pairs at jaccard 1.0
    val mid = Dedup.similarityJoinExact(closed, "doc_id", "text", 80,
      maxCandidates = 1000).collect()
    assert(mid.length == 780 && mid.forall(_.getDouble(4) == 1.0))
    // explicit opt-out runs the quadratic without pricing it
    val un = Dedup.similarityJoinExact(closed, "doc_id", "text", 80,
      maxCandidates = Dedup.UncappedCandidates).collect()
    assert(un.length == 780)
  }

  test("similarityJoinExact guard cache is bounded across repeated calls") {
    // The budget guard persists the df table for the caller's lazy
    // result; the one-slot registry must release the PREVIOUS call's
    // cache so repeated calls (probe loops, long-lived model runs)
    // never accumulate pinned storage.
    val df = (1L to 30L).map(i => (i, s"tok$i alpha tok${i + 1}"))
      .toDF("doc_id", "text")
    def run(): Unit =
      { Dedup.similarityJoinExact(df, "doc_id", "text", 50).count(); () }
    run()
    val after1 = spark.sparkContext.getPersistentRDDs.size
    run(); run(); run()
    val after4 = spark.sparkContext.getPersistentRDDs.size
    assert(after4 <= after1,
      s"guard caches accumulated across calls: $after1 -> $after4")
  }

  test("similarityJoinExact verify tail: n_inter/n_union/jaccard ≡ brute force") {
    // The prefix join + array_intersect verify must emit exactly the
    // pairs (n_inter/n_union/jaccard included) an all-pairs set
    // comparison finds, on token AND shingle units — the pin the
    // verify-tail comment cites.
    val vocab = ('a' to 'x').map(c => s"w$c")
    val docs = (1L to 80L).map { i =>
      val len = 3 + (i * 7 % 10).toInt
      (i, (0 until len).map(j => vocab(((i * 29 + j * 11) % 24).toInt))
        .mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    for ((p, sh) <- Seq((50, 1), (60, 2), (80, 1))) {
      val got = Dedup.similarityJoinExact(df, "doc_id", "text", p, sh)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      val units = docs.map { case (id, t) =>
        id -> t.split(" ").sliding(sh).map(_.mkString(" ")).toSet
      }
      val want = (for {
        (a, ua) <- units; (b, ub) <- units if a < b
        inter = (ua & ub).size.toLong; union = (ua | ub).size.toLong
        if 100 * inter >= p * union
      } yield (a, b, inter, union, inter.toDouble / union.toDouble)).toSet
      assert(want.nonEmpty, s"p=$p shingle=$sh: fixture has no pairs")
      assert(got == want, s"p=$p shingle=$sh: " +
        s"missing=${want.diff(got).take(3)} extra=${got.diff(want).take(3)}")
    }
  }

  test("similarityJoinExact eager working set: identical results, bounded cache") {
    // The 30×/100× regime persists the exploded working set instead of
    // re-deriving it in each of its four consumers; results must be
    // bit-identical and the one-slot registry must release the previous
    // call's cache (same discipline as the guard cache).
    val vocab = ('a' to 'x').map(c => s"w$c")
    val docs = (1L to 60L).map { i =>
      val len = 3 + (i * 7 % 10).toInt
      (i, (0 until len).map(j => vocab(((i * 31 + j * 13) % 24).toInt))
        .mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val lazyRes = Dedup.similarityJoinExact(df, "doc_id", "text", 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    spark.conf.set(Dedup.EagerRowsConfKey, "1") // force the eager regime
    try {
      def run() = Dedup.similarityJoinExact(df, "doc_id", "text", 50)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(run() == lazyRes)
      val after1 = spark.sparkContext.getPersistentRDDs.size
      run(); run()
      val after3 = spark.sparkContext.getPersistentRDDs.size
      assert(after3 <= after1,
        s"working-set caches accumulated: $after1 -> $after3")
    } finally spark.conf.unset(Dedup.EagerRowsConfKey)
  }

  test("simjoin eager threshold: conf override, heap default, uncapped auto-eager") {
    // default derives from executor heap (heap/256, floored at 8M rows)
    val derived = Dedup.eagerWorkingSetRows(spark)
    assert(derived >= 8L * 1000 * 1000)
    // malformed conf falls back to the derived default, never throws
    spark.conf.set(Dedup.EagerRowsConfKey, "not-a-number")
    try assert(Dedup.eagerWorkingSetRows(spark) == derived)
    finally spark.conf.unset(Dedup.EagerRowsConfKey)
    // the persist is cluster-wide: the derived point scales with the
    // executor count (pure derivation — instances is a static conf a
    // live session can't set, so the scaling is pinned directly)
    val gib = 1024L * 1024 * 1024
    assert(Dedup.derivedEagerRows(8 * gib, 1) == 8 * gib / 256)
    assert(Dedup.derivedEagerRows(8 * gib, 100) == 8 * gib / 256 * 100)
    assert(Dedup.derivedEagerRows(1, 1) == 8L * 1000 * 1000)   // floor
    assert(Dedup.derivedEagerRows(8 * gib, 0) == 8 * gib / 256) // guard
    // explicit conf wins over the derivation
    spark.conf.set(Dedup.EagerRowsConfKey, "100")
    try {
      assert(Dedup.eagerWorkingSetRows(spark) == 100L)
      // threshold below this corpus's exploded size: the size-based
      // eager persist fires on BOTH the capped and the UNCAPPED path
      // (the decision is general, not guard-scoped) — results
      // identical, one-slot cache registry still bounded
      val vocab = ('a' to 'x').map(c => s"w$c")
      val df = (1L to 60L).map { i =>
        val len = 3 + (i * 7 % 10).toInt
        (i, (0 until len).map(j => vocab(((i * 31 + j * 13) % 24).toInt))
          .mkString(" "))
      }.toDF("doc_id", "text")
      def run(cap: Long) =
        Dedup.similarityJoinExact(df, "doc_id", "text", 50,
          maxCandidates = cap)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSet
      val capped = run(Dedup.DefaultMaxCandidates)
      assert(run(Dedup.UncappedCandidates) == capped)
      val after1 = spark.sparkContext.getPersistentRDDs.size
      run(Dedup.UncappedCandidates); run(Dedup.UncappedCandidates)
      assert(spark.sparkContext.getPersistentRDDs.size <= after1,
        "uncapped eager working-set caches accumulated")
    } finally spark.conf.unset(Dedup.EagerRowsConfKey)
  }

  test("signature jaccard estimate: identical docs estimate 1.0, near-dups less") {
    val near1 = "the quick brown fox jumps over the lazy dog again and again today"
    val near2 = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    val df = Seq((1L, near1), (2L, near1), (3L, near2)).toDF("doc_id", "text")
    val est = Dedup.jaccardEstimate(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getAs[Double]("est_jaccard")))).toMap
    // identical text -> identical signatures -> all components agree
    assert(est((1L, 2L)) == ((8, 1.0)))
    // one trailing token apart: LSH-collides, but not full agreement is
    // the EXPECTED shape (estimate <= 1); pairs are canonical a < b only
    assert(est.contains((1L, 3L)) && !est.contains((3L, 1L)))
    assert(est((1L, 3L))._2 <= 1.0)
    assert(est((1L, 3L))._1 == math.round(est((1L, 3L))._2 * 8).toInt)
  }

  test("jaccard DF cap bounds fan-out when one shingle is in every doc") {
    // Adversarial raw corpus: token "the" appears in all 400 docs. The
    // uncapped shingle self-join would emit C(400,2) ≈ 80k rows for that
    // one key alone; the default cap drops it before the join, and
    // jaccard is computed consistently over the remaining shingle space
    // (numerator AND denominator, so inter <= union always holds).
    val docs = (1L to 400L).map(i => (i, s"the unique$i token$i")).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 1, maxShingleDf = 100)
    assert(pairs.count() == 0, "hot shingle dropped -> no pair shares anything")
    // with two docs sharing a benign shingle, only that pair survives and
    // its sizes exclude the dropped hot shingle
    val docs2 = docs.union(Seq(
      (1001L, "the rare pair"), (1002L, "the rare solo")).toDF("doc_id", "text"))
    val p2 = Dedup.jaccardPairs(docs2, "doc_id", "text", 1, maxShingleDf = 100)
      .collect()
    assert(p2.length == 1)
    val r = p2.head
    assert((r.getLong(0), r.getLong(1)) == (1001L, 1002L))
    // shingle space sans "the": {rare, pair} vs {rare, solo} -> 1/3
    assert(r.getAs[Long]("inter") == 1L && r.getAs[Long]("union_n") == 3L)
  }

  test("brute-force ANN: nearest neighbor of a vector is its near-copy") {
    val v1 = Array(1.0f, 0.0f, 0.0f)
    val v2 = Array(0.99f, 0.1f, 0.0f) // nearly v1
    val v3 = Array(0.0f, 1.0f, 0.0f)
    val v4 = Array(0.0f, 0.0f, 1.0f)
    val df = Seq((0L, v1), (1L, v2), (2L, v3), (3L, v4)).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      df.filter($"vec_id" === 0), df, "vec_id", "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") == 1L)
    assert(top(0).getAs[Double]("cosine_sim") > 0.99)
  }

  test("LSH ANN returns a subset consistent with brute force at high recall") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter($"vec_id" < 3)
    val brute = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 2 bands of 2 planes: 4 buckets/band, match-any-band -> decent recall
    val lsh = Similarity.lshTopK(q, e, "vec_id", "vec_id", "embedding", 5,
      numBands = 2, planesPerBand = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty)
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall > 0.2, s"recall=$recall")
  }

  test("multi-band LSH beats a single band at equal probe cost; buckets scale") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter($"vec_id" < 5)
    val brute = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(numBands: Int, planesPerBand: Int): Double = {
      val got = Similarity.lshTopK(q, e, "vec_id", "vec_id", "embedding", 5,
        numBands, planesPerBand)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute & got).size.toDouble / brute.size
    }
    // 6 total plane evaluations both ways; match-any-band recovers recall
    assert(recallOf(3, 2) >= recallOf(1, 6))
    // bucket space grows with planesPerBand (pruning is a real index,
    // not a fixed constant)
    def nBuckets(planes: Int): Long =
      Similarity.lshBandBuckets(e, "embedding", 1, planes)
        .select("bucket").distinct().count()
    assert(nBuckets(8) > nBuckets(4))
  }

  test("bounded top-k aggregate equals the window formulation exactly") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter($"vec_id" < 8)
    // public API now routes through TopKByScore; rebuild the scored set
    // and compare against the retained window twin.
    val viaAgg = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val scored = {
      import org.apache.spark.sql.DataFrame
      val qq = q.select($"vec_id".as("query_id"),
        transform($"embedding", x => x.cast("double")).as("qv"))
      val cc = e.select($"vec_id".as("neighbor_id"),
        transform($"embedding", x => x.cast("double")).as("cv"))
      cc.crossJoin(broadcast(qq))
        .filter($"neighbor_id" =!= $"query_id")
        .withColumn("cosine_sim", Similarity.cosine($"qv", $"cv"))
    }
    val viaWindow = Similarity.topKPerQueryWindow(scored, 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaAgg == viaWindow)
    assert(viaAgg.nonEmpty)
  }

  test("bounded top-k aggregate supports string ids with window-equal results") {
    import org.apache.spark.sql.expressions.Window
    // scores with deliberate ties so the smaller-id tie-break is exercised
    val rows = Seq(
      (1L, "banana", 3.0), (1L, "apple", 3.0), (1L, "cherry", 5.0),
      (1L, "date", 1.0), (2L, "x", 2.0), (2L, "y", 2.0), (2L, "w", 2.0))
    val df = rows.toDF("grp", "term", "score")
    df.createOrReplaceTempView("topk_str_in")
    val viaAgg = spark.sql(
      """SELECT grp, pos + 1 AS rnk, e.id AS term, e.score AS score
        |FROM (SELECT grp, topk_by_score(score, term, 2) AS tk
        |      FROM topk_str_in GROUP BY grp)
        |LATERAL VIEW posexplode(tk) AS pos, e""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    val w = Window.partitionBy($"grp").orderBy($"score".desc, $"term")
    val viaWindow = df.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 2).select($"grp", $"rnk", $"term", $"score")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    assert(viaAgg == viaWindow)
    assert(viaAgg == Set(
      (1L, 1, "cherry", 5.0), (1L, 2, "apple", 3.0),
      (2L, 1, "w", 2.0), (2L, 2, "x", 2.0)))
  }

  test("LSH entry points yield empty results on an empty corpus") {
    val empty = Tables.load(spark, sfDir, "embeddings")
      .filter($"vec_id" < 0)
    assert(Similarity.nearDupPairs(empty, "vec_id", "embedding", 0.9).count() == 0)
    assert(Similarity.lshTopK(empty, empty, "vec_id", "vec_id", "embedding", 5)
      .count() == 0)
  }

  test("near-dup pairs by embedding cosine with bucket restriction") {
    val v = Array(1.0f, 0.0f, 0.0f)
    val df = Seq((0L, v), (1L, v.map(x => x * 2)), (2L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.99,
      numBands = 2, planesPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // same direction -> cosine 1
  }

  test("text ops: token counts, ratios, langid, fingerprint stability") {
    val df = Seq(
      (1L, "The cat and the dog, in the house!"),
      (2L, "der hund und die katze ist nicht hier"),
      (3L, "zzz qqq xxx")).toDF("doc_id", "text")
    val out = TextOps.analyze(df).collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Int]("n_tokens") == 8)
    assert(out(1L).getAs[String]("lang_pred") == "en")
    assert(out(2L).getAs[String]("lang_pred") == "de")
    assert(out(3L).getAs[String]("lang_pred") == "und")
    assert(out(1L).getAs[Double]("punct_ratio") > 0)
    assert(out(1L).getAs[String]("fingerprint").length == 32)
    // fingerprint invariant to case/whitespace
    val fp2 = TextOps.analyze(Seq((9L, "the CAT and the dog,  in the house!"))
      .toDF("doc_id", "text")).head().getAs[String]("fingerprint")
    assert(fp2 == out(1L).getAs[String]("fingerprint"))
  }

  test("quality score rewards real text over junk") {
    val real = "the engine reads parquet files and runs declarative queries with " +
      "pushdown for every operator in the plan and this is a reasonable document"
    val junk = "x"
    val df = Seq((1L, real), (2L, junk)).toDF("doc_id", "text")
    val scores = df.select($"doc_id", TextOps.qualityScore($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) > scores(2L))
    assert(scores(1L) == 1.0)
  }

  test("multimodal: header decoder recovers planted fields from real container bytes") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // Hand-built fixtures, byte-for-byte per spec (independent of the
    // synthXxx Column builders, which PlantedDecode-style queries use).
    val jpeg = b(0xFF, 0xD8) ++                              // SOI
      b(0xFF, 0xE1, 0x00, 0x04, 0x00, 0x00) ++              // APP1 to skip
      b(0xFF, 0xC2, 0x00, 0x11, 0x08, 0x01, 0x40, 0x02, 0x80) ++ // SOF2 h=320 w=640
      b(0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
    val png = b(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A) ++
      b(0x00, 0x00, 0x00, 0x0D) ++ "IHDR".getBytes ++
      b(0x00, 0x00, 0x04, 0x00) ++ b(0x00, 0x00, 0x00, 0x64) ++ // 1024 x 100
      b(0x08, 0x06, 0x00, 0x00, 0x00)
    val gif = "GIF89a".getBytes ++ b(0x20, 0x01) ++ b(0xF0, 0x00) ++ // 288 x 240 LE
      b(0x00, 0x00, 0x00, 0x00)
    // WAV: 2ch 16-bit 8000 Hz, data 64000 bytes -> 2000 ms; an extra
    // LIST chunk before fmt exercises the chunk walk
    val wav = "RIFF".getBytes ++ b(0x00, 0x00, 0x01, 0x00) ++ "WAVE".getBytes ++
      "LIST".getBytes ++ b(0x04, 0x00, 0x00, 0x00) ++ "INFO".getBytes ++
      "fmt ".getBytes ++ b(0x10, 0x00, 0x00, 0x00) ++
      b(0x01, 0x00) ++ b(0x02, 0x00) ++                      // PCM, 2 channels
      b(0x40, 0x1F, 0x00, 0x00) ++                           // 8000 Hz
      b(0x00, 0x7D, 0x00, 0x00) ++                           // byte rate 32000
      b(0x04, 0x00) ++ b(0x10, 0x00) ++                      // align 4, 16-bit
      "data".getBytes ++ b(0x00, 0xFA, 0x00, 0x00)           // 64000 bytes
    val truncatedJpeg = b(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x40) // segment past EOF
    val junk = "just some text".getBytes
    // corrupt chunk size 0xFFFFFFF8 (would truncate to a -8 step in Int
    // arithmetic): must decode as unknown, never hang the chunk walk
    val corruptWav = "RIFF".getBytes ++ b(0x24, 0x00, 0x00, 0x00) ++
      "WAVE".getBytes ++ "LIST".getBytes ++ b(0xF8, 0xFF, 0xFF, 0xFF) ++
      Array.fill(20)(0.toByte)

    val df = Seq(1 -> jpeg, 2 -> png, 3 -> gif, 4 -> wav,
      5 -> truncatedJpeg, 6 -> junk, 7 -> corruptWav).toDF("id", "payload")
    val out = Multimodal.decode(df, "payload")
      .select($"id", $"asset.format", $"asset.width", $"asset.height",
        $"asset.channels", $"asset.sample_rate", $"asset.duration_ms")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(out(1).getString(1) == "jpeg" && out(1).getInt(2) == 640 && out(1).getInt(3) == 320)
    assert(out(2).getString(1) == "png" && out(2).getInt(2) == 1024 && out(2).getInt(3) == 100)
    assert(out(3).getString(1) == "gif" && out(3).getInt(2) == 288 && out(3).getInt(3) == 240)
    assert(out(4).getString(1) == "wav" && out(4).getInt(4) == 2 &&
      out(4).getInt(5) == 8000 && out(4).getLong(6) == 2000L)
    assert(out(4).isNullAt(2) && out(4).isNullAt(3)) // no image dims on audio
    assert(out(5).getString(1) == "unknown" && out(5).isNullAt(2))
    assert(out(6).getString(1) == "unknown")
    assert(out(7).getString(1) == "unknown") // and the walk terminated
    // the synth Column builders round-trip through the same decoder
    val synth = spark.range(1, 4).select($"id".cast("int").as("id"),
      Multimodal.synthWav(lit(1), lit(16000), lit(32000 * 3)).as("payload"))
    val s0 = Multimodal.decode(synth, "payload")
      .select($"asset.format", $"asset.sample_rate", $"asset.duration_ms").head()
    assert(s0.getString(0) == "wav" && s0.getInt(1) == 16000 && s0.getLong(2) == 3000L)
  }

  test("native hash expressions match their md5 definitions") {
    // md5 of "abc" is a published constant; pins HashImpl.md5Hex.
    assert(graft.functions.HashImpl.md5Hex("abc".getBytes("UTF-8")) ==
      "900150983cd24fb0d6963f7d28e17f72")
    // simhash60 via SQL function == value computed from Spark's own md5
    val df = Seq((1L, "the quick brown fox")).toDF("id", "text")
    df.createOrReplaceTempView("hash_pin")
    val viaExpr = spark.sql(
      "SELECT simhash60(split(text, ' ')) AS s FROM hash_pin").head().getLong(0)
    val viaSql = spark.sql(
      """SELECT SUM(IF(v > 0, CAST(shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)) AS BIGINT), 0L)) FROM (
        |  SELECT b, SUM(IF((shiftright(h, CAST(b AS INT)) & 1) = 1, 1, -1)) AS v FROM (
        |    SELECT CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT) AS h
        |    FROM (SELECT explode(split(text, ' ')) AS tok FROM hash_pin))
        |  LATERAL VIEW explode(sequence(0, 59)) AS b GROUP BY b)""".stripMargin)
      .head().getLong(0)
    assert(viaExpr == viaSql)
  }

  test("frame sampling picks evenly spaced indices") {
    val idx = spark.range(1).select(
      Multimodal.sampleFrameIndices(lit(100L), 4).as("f")).head()
      .getSeq[Long](0)
    assert(idx.toSeq == Seq(0L, 25L, 50L, 75L))
  }

  test("feature extraction: deterministic stub vectors, null payloads pass through") {
    val df = Seq((1, "hello world"), (2, "hello world"), (3, "different"),
      (4, null: String)).toDF("id", "text")
      .select($"id", Multimodal.asPayload($"text").as("payload"))
    val out = Multimodal.featureExtract(df, "payload", 4)
      .select($"id", $"features").collect()
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
    assert(out(1) != null && out(1).size == 4)
    assert(out(1) == out(2))                 // same bytes -> same vector
    assert(out(1) != out(3))                 // different bytes -> different
    assert(out(1).forall(v => v >= -0.5 && v < 0.5))
    assert(out(4) == null)                   // null payload -> null features
    // pinned against the documented formula for one component
    val hex = graft.functions.HashImpl
      .md5Hex("hello world:0".getBytes("UTF-8")).substring(0, 6)
    val expected = java.lang.Long.parseLong(hex, 16).toDouble / 16777216.0 - 0.5
    assert(out(1)(0) == expected)
  }

  test("DCT perceptual feature: integer-exact transform over real pixels") {
    // Uniform-color raster: all 16 block sums equal s0, and the H.264
    // core transform's rows 1..3 sum to zero — so every coefficient
    // except (0,0) must be EXACTLY zero and dct[0] = 16 * s0. This pins
    // the luma weights, the block fold, and the transform application
    // with no reference implementation in the loop.
    val w = 12; val h = 8
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, 0xFF4080C0)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val f = Multimodal.dctFeature(bos.toByteArray)
    val lum = 299L * 0x40 + 587L * 0x80 + 114L * 0xC0
    val blockSum = lum * (w / 4) * (h / 4) // 3x2 pixels per block
    assert(f(0) == 16L * blockSum)
    assert(f.drop(1).forall(_ == 0L))
    // Banded raster (the synthRaster pattern): replay the definition
    // pixel-for-pixel and compare all 16 coefficients.
    val banded = Multimodal.synthRaster("png", 10, 7, 42L)
    val c1 = (42L * 2654435761L).toInt & 0xFFFFFF
    val c2 = ((42L + 17) * 2654435761L).toInt & 0xFFFFFF
    def l(rgb: Int) =
      299L * ((rgb >> 16) & 255) + 587L * ((rgb >> 8) & 255) + 114L * (rgb & 255)
    val s = Array.ofDim[Long](4, 4)
    for (y <- 0 until 7; x <- 0 until 10)
      s(y * 4 / 7)(x * 4 / 10) += (if (((x + y) / 4) % 2 == 0) l(c1) else l(c2))
    val t = Array(Array(1L, 1L, 1L, 1L), Array(2L, 1L, -1L, -2L),
      Array(1L, -1L, -1L, 1L), Array(1L, -2L, 2L, -1L))
    val exp = for (u <- 0 until 4; v <- 0 until 4) yield
      (for (i <- 0 until 4; j <- 0 until 4)
        yield t(u)(i) * s(i)(j) * t(v)(j)).sum
    assert(Multimodal.dctFeature(banded).toSeq == exp)
    // degrade contract: undecodable and header-only payloads yield null
    assert(Multimodal.dctFeature(Array[Byte](1, 2, 3)) == null)
    // column wrapper: null payload -> null features
    val df = Seq((1, bos.toByteArray), (2, null: Array[Byte]))
      .toDF("id", "payload")
    val out = Multimodal.dctFeatures(df, "payload").collect()
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(2)) null else r.getSeq[Long](2))).toMap
    assert(out(1) != null && out(1).size == 16)
    assert(out(2) == null)
  }

  test("resize-to-fit: integer-exact dims, round-trip decodable payload") {
    val df = Seq(
      (1, 640, 320),   // wide: width binds in 320x200 -> 320 x 160
      (2, 100, 800),   // tall: height binds -> 25 x 200
      (3, 320, 200)    // exact fit -> unchanged
    ).toDF("id", "w", "h")
      .select($"id",
        when($"id" === 2, Multimodal.synthPng($"w", $"h"))
          .otherwise(Multimodal.synthJpeg($"w", $"h")).as("payload"))
      .union(Seq(4 -> "not an image").toDF("id", "text")
        .select($"id", Multimodal.asPayload($"text").as("payload")))
    val out = Multimodal.resizeFit(df, "payload", 320, 200)
    val dims = out.select($"id", $"resized_width", $"resized_height").collect()
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) null else (r.getInt(1), r.getInt(2)))).toMap
    assert(dims(1) == (320, 160))
    assert(dims(2) == (25, 200))
    assert(dims(3) == (320, 200))
    assert(dims(4) == null)                  // non-image: null resize fields
    // the resized payload is a real image whose header carries the new dims
    val rt = Multimodal.decode(
      out.filter($"id" === 1).select($"id", $"resized_payload"),
      "resized_payload")
      .select($"asset.format", $"asset.width", $"asset.height").head()
    assert(rt.getString(0) == "jpeg" && rt.getInt(1) == 320 && rt.getInt(2) == 160)
  }

  test("source overlap: identical sources = 1, disjoint = 0, hand-mixed between") {
    val df = Seq(
      ("x", "aa bb"), ("x", "aa bb"),      // x: p(aa)=p(bb)=0.5
      ("y", "aa bb aa bb"),                // y: identical distribution
      ("z", "cc dd"),                      // z: disjoint vocabulary
      ("w", "aa cc"))                      // w: half-shared with both
      .toDF("source", "text")
    val out = CorpusStats.sourceOverlap(df, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(math.abs(out(("x", "y")) - 1.0) < 1e-6)   // same distribution
    assert(out(("x", "z")) == 0.0) // disjoint: explicit 0 row, not absent
    assert(out.size == 6)          // the full C(4,2) pair matrix
    // w vs x: min(0.5,0.5) on "aa" = 0.5; "cc" unshared
    assert(math.abs(out(("w", "x")) - 0.5) < 1e-6)
    // w vs z: min(0.5,0.5) on "cc" = 0.5
    assert(math.abs(out(("w", "z")) - 0.5) < 1e-6)
  }

  test("shingle novelty: originals score 1, copies 0, partial overlap between") {
    val df = Seq(
      (1L, "a b c d e"),        // all 3 trigrams first seen here -> 1.0
      (2L, "a b c d e"),        // exact copy of an earlier doc -> 0.0
      (3L, "a b c x y z"),      // shares trigram "a b c" with doc 1 -> 3/4
      (4L, "a b"))              // too short for a trigram -> NULL novelty
      .toDF("doc_id", "text")
    val out = CorpusStats.shingleNovelty(df, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out(1L) == ((3L, 3L, Some(1.0))))
    assert(out(2L) == ((3L, 0L, Some(0.0))))
    assert(out(3L) == ((4L, 3L, Some(0.75))))
    assert(out(4L) == ((0L, 0L, None)))
  }

  test("source overlap: a token-less source still appears in the pair matrix") {
    val df = Seq(("x", "aa bb"), ("y", "aa bb"), ("empty", "   "))
      .toDF("source", "text")
    val out = CorpusStats.sourceOverlap(df, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(out.size == 3, "all C(3,2) pairs, including the whitespace-only source")
    assert(out(("empty", "x")) == 0.0 && out(("empty", "y")) == 0.0)
    assert(math.abs(out(("x", "y")) - 1.0) < 1e-6)
  }

  test("group outliers: the planted off-centroid vector ranks first") {
    // group "a": five vectors near (1, 0), one planted at (0, 1);
    // group "b": uniform — its outlier ranking is just the id tie-break
    val df = (Seq(
      (1L, "a", Array(1.0f, 0.0f)), (2L, "a", Array(0.9f, 0.1f)),
      (3L, "a", Array(1.0f, 0.1f)), (4L, "a", Array(0.95f, 0.0f)),
      (5L, "a", Array(0.9f, 0.05f)),
      (6L, "a", Array(0.0f, 1.0f)), // the outlier
      (7L, "b", Array(0.5f, 0.5f)), (8L, "b", Array(0.5f, 0.5f))))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.groupOutliers(df, "vec_id", "embedding", "label", k = 2)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out(("a", 1)) == 6L) // least similar to the "a" centroid
    assert(out(("b", 1)) == 7L && out(("b", 2)) == 8L) // ties -> id order
  }

  test("bigram LM: conditional probabilities and doc scores match hand math") {
    // corpus bigrams: "a b" x4 (docs 1,2,3,5), "a c" x2 (docs 4,5),
    // "b a" x1 (doc 5) -> P(b|a)=4/6, P(c|a)=2/6, P(a|b)=1
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "a c"),
      (5L, "a b a c"),
      (6L, "solo"))    // single token: no bigrams
      .toDF("doc_id", "text")
    val model = LangModel.bigramModel(df, "text")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(model("a b") == 4.0 / 6.0 && model("a c") == 2.0 / 6.0)
    assert(model("b a") == 1.0)
    val out = LangModel.scoreDocuments(df, "doc_id", "text",
        LangModel.bigramModel(df, "text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2)))).toMap
    // scores go through the 1e-6-resolution scaled-int mean
    assert(out(1L)._1 == 1L)
    assert(math.abs(out(1L)._2.asInstanceOf[Double] - 4.0 / 6.0) < 1e-5)
    // doc 5: mean(4/6, 1, 2/6) = 2/3
    assert(out(5L)._1 == 3L)
    assert(math.abs(out(5L)._2.asInstanceOf[Double] - 2.0 / 3.0) < 1e-5)
    assert(out(6L) == ((0L, null))) // no bigrams -> null score, kept
  }

  test("contamination DF cap: a shingle in every doc must not go quadratic") {
    // Adversarial corpus: all 100 docs share one boilerplate 7-gram (a
    // cookie banner); docs 7 (train) and 10 (eval) additionally share a
    // unique 9-token sentence (= 3 distinct 7-gram shingles — genuine
    // leakage). Junction shingles contain doc-unique tokens, so the ONLY
    // cross-doc shingles are the boilerplate one (df=100) and the planted
    // three (df=2).
    val boiler = "this site uses cookies to improve experience"
    val leak = "the secret benchmark answer is forty two exactly here"
    val df = (1L to 100L).map { i =>
      val unique = (0 until 10).map(k => s"u${i}x$k").mkString(" ")
      val text = if (i == 7L || i == 10L) s"$boiler $unique $leak"
                 else s"$boiler $unique"
      (i, text)
    }.toDF("doc_id", "text")
    val isEval = col("doc_id") % 10 === 0

    // Uncapped at minShared=1: the hot boilerplate shingle alone fans out
    // to all 90x10 train x eval pairs — the quadratic blow-up.
    val uncapped = Dedup.contaminationPairs(df, "doc_id", "text", 7, isEval, 1)
    assert(uncapped.count() == 900)

    // Capped: the df=100 shingle is dropped; only the planted leak
    // (3 shared shingles, df=2 each) survives.
    val capped = Dedup.contaminationPairs(df, "doc_id", "text", 7, isEval,
        minShared = 3, maxShingleDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(capped.toSeq == Seq((7L, 10L, 3L)))

    // The dropped hot key is observable for monitoring.
    val hot = Dedup.hotBuckets(
      df.select(col("doc_id"),
        explode(array_distinct(Dedup.shingleArray("text", 7))).as("sh")).distinct(),
      Seq("sh"), 50).collect()
    assert(hot.length == 1 && hot.head.getAs[Long]("bucket_n") == 100L)
  }

  test("contaminationPairs aggregate form ≡ reference self-join " +
      "(duplicate rows, NULL eval flags)") {
    import spark.implicits._
    // r15 replaced the train×eval self-join with one per-shingle
    // aggregate (self-join sides are never canonically equal after
    // DeduplicateRelations, so exchange reuse can't dedupe them). This
    // pins the equivalence ON THE EDGE CASES the rewrite argued about:
    // a duplicated input row (must not double-count a shared shingle —
    // collect_set mirrors the old count_distinct) and a NULL eval flag
    // (must belong to NEITHER side).
    val leak = "alpha beta gamma delta epsilon zeta eta theta iota"
    val rows = Seq[(java.lang.Long, String, java.lang.Boolean)](
      (1L, s"one two three $leak", false),
      (1L, s"one two three $leak", false), // duplicate train row
      (2L, s"four five six $leak", true),
      (3L, s"$leak seven eight nine", null), // NULL flag: neither side
      (4L, "no overlap here at all ten eleven twelve thirteen", false))
      .toDF("doc_id", "text", "is_eval")
    val out = Dedup.contaminationPairs(
        rows, "doc_id", "text", 7, col("is_eval"), 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // Reference (old join form) computed inline:
    val sh = rows.select(col("doc_id"), col("is_eval"),
      explode(array_distinct(Dedup.shingleArray("text", 7))).as("sh"))
    val ref = sh.filter(!col("is_eval")).select(col("doc_id"), col("sh"))
      .join(sh.filter(col("is_eval"))
        .select(col("sh"), col("doc_id").as("eval_doc_id")), Seq("sh"))
      .groupBy(col("doc_id"), col("eval_doc_id"))
      .agg(count_distinct(col("sh")).as("n_shared"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out.sorted == ref.sorted)
    // and the planted leak is what both report: doc 1 × eval 2 share
    // the 3 7-gram shingles of the 9-token leak sentence, counted ONCE
    // despite doc 1's duplicated row; doc 3 (NULL flag) appears nowhere
    assert(out.sorted == Seq((1L, 2L, 3L)))
  }

  // ------- C93: priority sampling (weighted w/o replacement + estimator)

  test("prioritySample: selection order, threshold estimator, exclusions") {
    import spark.implicits._
    def u(id: Long): Long = java.lang.Long.parseLong(
      graft.functions.HashImpl.md5Hex(s"prio:$id".getBytes("UTF-8"))
        .substring(0, 13), 16)
    val rows = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 10L), (2L, 500L), (3L, 1L), (4L, 200L), (5L, 90L),
      (6L, null),  // null weight: no mass
      (7L, 0L),    // zero weight: must never be sampled
      (null, 5L))  // null id: no draw identity
      .toDF("doc_id", "n_chars")
    val eligible = Seq(1L -> 10L, 2L -> 500L, 3L -> 1L, 4L -> 200L, 5L -> 90L)
    val prios = eligible.map { case (id, w) => (id, w, u(id) / w) }
      .sortBy(t => (t._3, t._1))
    val out = Sampling.prioritySample(rows, "doc_id", "n_chars", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val tau = prios(3)._3 // 4th smallest priority
    assert(out.toSeq == prios.take(3).zipWithIndex.map {
      case ((id, w, p), i) => (i + 1, id, w, p, math.max(w, tau))
    })

    // population <= k: exhaustive sample, est_weight = weight (no tau)
    val small = Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "n_chars")
    val ex = Sampling.prioritySample(small, "doc_id", "n_chars", k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(ex.toSet == Set((1L, 10L, 10L), (2L, 20L, 20L)))
  }

  // --------------- C91: paragraph-level keep-first corpus dedup

  test("paragraphDedup: keep-first across and within docs, short lines exempt") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)](
      (1L, "dup\nunique1\n\ndup"), // dup repeats within doc 1
      (2L, "dup\nunique2"),        // and across docs
      (3L, null),                  // NULL text
      (4L, ""))                    // empty: one empty line, kept
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.getString(3)))).toMap
    assert(out(1L) == ((4L, 3L, Some("dup\nunique1\n")))) // pos-3 dup gone
    assert(out(2L) == ((2L, 1L, Some("unique2"))))        // doc-1 copy won
    assert(out(3L) == ((0L, 0L, None)))
    assert(out(4L) == ((1L, 1L, Some(""))))

    // minChars raises the substantive bar: 3-char "dup" carries no
    // dedup evidence any more and survives everywhere
    val lax = Dedup.paragraphDedup(df, "doc_id", "text", minChars = 5)
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(lax(1L).contains("dup\nunique1\n\ndup"))
    assert(lax(2L).contains("dup\nunique2"))
  }

  test("paragraphDedup: struct order key covers the full long id range") {
    import spark.implicits._
    // the former packed id*stride+pos key required id < 2^63/stride —
    // these ids (negative, near Long.Max) all order correctly now
    val df = Seq(
      (-5L, "dup\nneg"),
      (Long.MaxValue - 1L, "dup\nhuge"),
      (0L, "dup\nzero")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(-5L) == "dup\nneg") // smallest id wins firstness
    assert(out(0L) == "zero")      // stripped line leaves no placeholder
    assert(out(Long.MaxValue - 1L) == "huge")
  }

  test("paragraphDedup: NULL-id docs never claim firstness") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)](
      (null, "dup"), (7L, "dup")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", "text").collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getString(3))
      .toMap
    // the NULL-id copy is stripped; the identified doc keeps the line
    assert(out(Some(7L)) == "dup")
    assert(out(None) == "")
  }

  test("paragraphDedup: lines unique to NULL-id docs are KEPT, not blanked") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)](
      (null, "only here\nshared"), (3L, "shared")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", "text").collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getString(3))
      .toMap
    // "only here" lives in no identified doc -> kept; "shared" dedupes
    // to doc 3 and the NULL-id copy is stripped
    assert(out(None) == "only here")
    assert(out(Some(3L)) == "shared")
  }

  test("paragraphDedup ≡ keep-first-by-(id, pos) reference") {
    import spark.implicits._
    // multi-partition corpus with duplicated/unique lines, NULL ids
    // (one shared NULL group, never claiming firstness) and NULL/empty
    // texts, against a plain Scala keep-first over (id, pos)
    val docs = (1L to 200L).map { i =>
      val lines = (0 to (i % 7).toInt).map(j => s"line ${(i + j) % 23} body text")
      (if (i % 31 == 0) None else Some(i),
        if (i % 17 == 0) None
        else if (i % 13 == 0) Some("")
        else Some(lines.mkString("\n")))
    }
    val df = docs.map { case (id, t) =>
      (id.map(java.lang.Long.valueOf).orNull, t.orNull)
    }.toDF("doc_id", "text").repartition(7)
    val got = Dedup.paragraphDedup(df, "doc_id", "text").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1),
        r.getLong(2), Option(r.getString(3)))).toSet
    val occ = docs.flatMap { case (id, t) =>
      t.toSeq.flatMap(_.split("\n", -1).zipWithIndex).map { case (l, pos) =>
        (id, pos, l)
      }
    }
    val first = occ.collect { case (Some(id), pos, l) if l.trim.nonEmpty =>
      l -> (id, pos)
    }.groupMapReduce(_._1)(_._2)((x, y) => Ordering[(Long, Int)].min(x, y))
    def keep(id: Option[Long], pos: Int, l: String) =
      l.trim.isEmpty || first.get(l).forall(f => id.contains(f._1) && f._2 == pos)
    val want = docs.groupBy(_._1).map { case (id, group) =>
      val rows = occ.filter(_._1 == id)
      val kept = rows.filter { case (_, pos, l) => keep(id, pos, l) }
        .map { case (_, pos, l) => (pos, l) }.sorted.map(_._2)
      (id, rows.size.toLong, kept.size.toLong,
        if (group.exists(_._2.isDefined)) Some(kept.mkString("\n")) else None)
    }.toSet
    assert(got == want, s"only-engine=${got.diff(want).take(3)} " +
      s"only-reference=${want.diff(got).take(3)}")
  }

  // ---------- C106: consensus near-dup (minhash ∩ simhash bands)

  test("consensusPairs: exactly the intersection of both families, and a precision cut") {
    val pairSet = (df: org.apache.spark.sql.DataFrame) =>
      df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = pairSet(Dedup.minHashLsh(docs, "doc_id", "text", 3, 8, 2))
    val sh = pairSet(Dedup.simHashCandidates(
      Dedup.simHash(docs, "doc_id", "text"), "doc_id", 4))
    val cons = pairSet(Dedup.consensusPairs(docs, "doc_id", "text"))
    assert(cons == mh.intersect(sh))
    // the testdata's planted near-dups survive both families...
    assert(cons.nonEmpty)
    // ...and the consensus genuinely cuts each single family
    assert(cons.size < mh.size && cons.size < sh.size)
  }

  // ------------------ C90: co-occurrence lift (integer-exact PMI proxy)

  test("cooccurrenceLift: exact integer lift, vocab cap, min-pair cut") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "b c"),
      (5L, "a a b"), // repetition: presence counts once
      (6L, "d e"))   // d,e appear once each
      .toDF("doc_id", "text")
    // N=6; df: a=4, b=4, c=2, d=1, e=1
    val out = CorpusStats.cooccurrenceLift(df, "doc_id", "text",
      vocabSize = 10, minPairDocs = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // (a,b): c_ab=3 → ((3*1e6)//4 * 6)//4 = (750000*6)//4 = 1125000
    assert(out(("a", "b")) == ((4L, 4L, 3L, 1125000L)))
    // (a,c) and (b,c) have c_ab=1 < minPairDocs → cut
    assert(out.size == 1)

    // vocabSize=2 keeps only a and b (df 4, ties none) — (d,e) never pairs
    val capped = CorpusStats.cooccurrenceLift(df, "doc_id", "text",
      vocabSize = 2, minPairDocs = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped == Set(("a", "b")))
  }
}
