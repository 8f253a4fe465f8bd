package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for corpus quality weighting: web-scale curation
  * pipelines rank crawled documents by their position in the hyperlink
  * graph (Common-Crawl-style harmonic/PageRank centrality as a prior on
  * page quality) and audit crawl frontiers with degree statistics.
  *
  * Ref behavior: the reference (testing.py, polars_utils.py) has no
  * graph surface; this is part of the extended LLM-pipeline layer
  * (builder brief), like [[Retrieval]].
  *
  * Both operators are expressed as equi-joins + keyed aggregates — work
  * is proportional to edges, never nodes², and every iteration of
  * PageRank is one join + one aggregate shuffle with lineage truncated
  * per round (the [[Dedup.duplicateClusters]] loop discipline).
  */
object Graph {

  /** Deterministic scaled-integer PageRank.
    *
    * All arithmetic is 64-bit integer: ranks are longs that always sum
    * to ≤ `totalScaled`; per-edge contributions are `rank div outdeg`
    * (integral division) and the damping step is
    * `base + (dampingPct * Σ contribs) div 100` with
    * `base = ((100 − dampingPct) · init) div 100`,
    * `init = totalScaled div N`. Every step is exact and
    * order-independent (long sums — the [[graft.ExactAgg]] discipline),
    * so results are bit-identical across engines, partitionings, and
    * cluster sizes — the property that makes ranks usable as a stable,
    * auditable quality key in downstream sampling. The integral
    * divisions shave < 1 unit of scaled mass each; at the default scale
    * (1e12) that is relative error ~1e-9 per step — far below any
    * ranking decision threshold.
    *
    * Semantics notes: the node set is src ∪ dst of the (deduplicated)
    * edge list; NULL endpoints are dropped (no node identity);
    * self-loops are legal edges (a page may link itself). Dangling
    * nodes (no out-edges) leak their mass instead of redistributing it
    * — the usual web-graph simplification when ranks serve as a
    * RELATIVE quality signal; redistribution would add an extra
    * all-nodes aggregate per round for no ordering change.
    *
    * Scale shape: per iteration ONE edge-keyed join (edges × ranks,
    * hash-partitioned on the source id) and ONE destination-keyed
    * aggregate; ranks are checkpointed each round
    * ([[graft.Checkpoints]]) so lineage stays one round deep. N is a
    * single driver count. Hot destinations (a page everyone links) are
    * absorbed by map-side partial aggregation of the contribution sum.
    *
    * Output: id, rank_scaled (long). */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, dampingPct: Int = 85,
      totalScaled: Long = 1000000000000L): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0, 100]")
    require(totalScaled > 0, "totalScaled must be positive")
    val e = graft.Checkpoints.truncate(
      edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
        .filter(col("u").isNotNull && col("v").isNotNull)
        .distinct())
    // Truncate the node set (r14): `nodes` is re-read every round by
    // the dangling-node left join, and lazy it re-ran the two-scan
    // union + distinct exchange per round. NOT truncateCount: its
    // accumulator count can over-count under task retries, and N here
    // feeds EXACT arithmetic (init = total div N) — the count below is
    // a cheap block scan over the materialized frame instead.
    val nodes = graft.Checkpoints.truncate(
      e.select(col("u").as("id"))
        .unionByName(e.select(col("v").as("id"))).distinct())
    val n = nodes.count() // exact; reads the truncated RDD, no recompute
    if (n == 0L)
      return nodes.select(col("id"), lit(0L).as("rank_scaled"))
    val init = totalScaled / n
    val base = ((100L - dampingPct) * init) / 100L
    val outd = e.groupBy(col("u")).agg(count(lit(1)).as("od"))
    var ranks = graft.Checkpoints.truncate(
      nodes.withColumn("r", lit(init)))
    for (_ <- 1 to iterations) {
      val contribs = e.join(outd, Seq("u"))
        .join(ranks.select(col("id").as("u"), col("r")), Seq("u"))
        .select(col("v").as("id"), expr("r div od").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("cs"))
      ranks = graft.Checkpoints.truncate(
        nodes.join(contribs, Seq("id"), "left")
          .select(col("id"),
            (lit(base) +
              expr(s"($dampingPct * coalesce(cs, CAST(0 AS BIGINT))) div 100"))
              .as("r")))
    }
    ranks.select(col("id"), col("r").as("rank_scaled"))
  }

  /** Deterministic scaled-integer PERSONALIZED PageRank (Haveliwala
    * 2002, "Topic-Sensitive PageRank", WWW) — the teleport vector
    * concentrates on a trusted seed set instead of spreading uniformly,
    * so rank measures proximity-to-seeds: the curation primitive behind
    * seed-based crawl expansion ("find pages the quality seeds endorse")
    * and TrustRank-style spam demotion (Gyöngyi et al. 2004 is exactly
    * this recurrence with a hand-audited seed set).
    *
    * Integer recurrence, same exactness contract as [[pageRank]]
    * (64-bit arithmetic, order-free long sums, bit-identical across
    * engines/partitionings):
    *   r₀(v)   = total div |S| if v ∈ S else 0
    *   base(v) = ((100 − d) · (total div |S|)) div 100 if v ∈ S else 0
    *   rᵢ(v)   = base(v) + (d · Σ_{u→v} rᵢ₋₁(u) div od(u)) div 100
    * Seeds outside the edge-derived node set are ignored (they have no
    * edges to carry mass); an empty effective seed set returns all-zero
    * ranks rather than inventing a uniform prior the caller didn't ask
    * for. Unlike the global variant, nodes unreachable from S stay at
    * exactly 0 forever — the property TrustRank uses as its spam signal.
    *
    * Scale shape: identical to [[pageRank]] — per iteration one
    * edge-keyed join and one destination-keyed aggregate, lineage
    * checkpointed per round. The seed flag is resolved ONCE by a
    * left-semi membership join and rides on the nodes frame; |S| is a
    * single bounded driver count like N.
    *
    * Output: id, rank_scaled (long). */
  def personalizedPageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      iterations: Int = 3, dampingPct: Int = 85,
      totalScaled: Long = 1000000000000L): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0, 100]")
    require(totalScaled > 0, "totalScaled must be positive")
    val e = graft.Checkpoints.truncate(
      edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
        .filter(col("u").isNotNull && col("v").isNotNull)
        .distinct())
    val rawNodes = e.select(col("u").as("id"))
      .unionByName(e.select(col("v").as("id"))).distinct()
    val seedIds = seeds.select(col(seedCol).as("id"))
      .filter(col("id").isNotNull).distinct()
    // is_seed rides on the node frame for the whole loop: one membership
    // join total, not one per iteration.
    val nodes = graft.Checkpoints.truncate(
      rawNodes.join(seedIds.withColumn("__s", lit(true)), Seq("id"), "left")
        .select(col("id"), coalesce(col("__s"), lit(false)).as("is_seed")))
    // exact (feeds init = total div nSeeds): cheap scan of the
    // truncated RDD, never an accumulator (retries could over-count)
    val nSeeds = nodes.filter(col("is_seed")).count()
    if (nSeeds == 0L)
      return nodes.select(col("id"), lit(0L).as("rank_scaled"))
    val init = totalScaled / nSeeds
    val base = ((100L - dampingPct) * init) / 100L
    val seedBase = when(col("is_seed"), lit(base)).otherwise(lit(0L))
    val outd = e.groupBy(col("u")).agg(count(lit(1)).as("od"))
    var ranks = graft.Checkpoints.truncate(
      nodes.withColumn("r",
        when(col("is_seed"), lit(init)).otherwise(lit(0L))))
    for (_ <- 1 to iterations) {
      val contribs = e.join(outd, Seq("u"))
        .join(ranks.select(col("id").as("u"), col("r")), Seq("u"))
        .select(col("v").as("id"), expr("r div od").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("cs"))
      ranks = graft.Checkpoints.truncate(
        nodes.join(contribs, Seq("id"), "left")
          .select(col("id"), col("is_seed"),
            (seedBase +
              expr(s"($dampingPct * coalesce(cs, CAST(0 AS BIGINT))) div 100"))
              .as("r")))
    }
    ranks.select(col("id"), col("r").as("rank_scaled"))
  }

  /** Deterministic scaled-integer HITS (Kleinberg 1999, "Authoritative
    * Sources in a Hyperlinked Environment", JACM 46(5)) — hubs point at
    * good authorities, authorities are pointed at by good hubs: the
    * complementary link signal to [[pageRank]] (a directory page ranks
    * as a hub, the pages it curates as authorities).
    *
    * Integer recurrence, all 64-bit exact (the [[pageRank]]
    * discipline): per iteration
    *   hub_raw(u)  = Σ_{(u,v)∈E} auth(v),  hub  = hub_raw·scale div Σ hub_raw,
    *   auth_raw(v) = Σ_{(u,v)∈E} hub(u),   auth = auth_raw·scale div Σ auth_raw
    * with auth₀ = scale div N. The L1 normalization (div by the sum)
    * replaces the textbook L2 norm — no sqrt, so every step is integral
    * and bit-identical across engines/partitionings; rankings are
    * unchanged (normalization is a positive scalar either way).
    * Headroom: hub_raw ≤ scale·maxInDeg, so the normalize multiply
    * needs scale²·maxDeg < 2^63 — at the default scale 1e6 that is
    * maxDeg < ~9·10^6; raise-aware callers shrink scale.
    *
    * Scale shape: two edge-keyed join+aggregate pairs per iteration
    * (hot hubs/authorities absorbed map-side), the Σ normalizers ride
    * back as one-row broadcast cross joins (never a driver collect),
    * lineage checkpointed per round. Nodes with no out-edges have hub
    * 0; no in-edges, auth 0 — rows kept.
    *
    * Output: id, hub_scaled, auth_scaled (longs). */
  def hits(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 2, scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(scale > 0, "scale must be positive")
    val e = graft.Checkpoints.truncate(
      edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
        .filter(col("u").isNotNull && col("v").isNotNull)
        .distinct())
    // Same nodes-truncation as pageRank (r14): `normalized` re-reads
    // the node set TWICE per iteration — lazy, each read re-ran the
    // union + distinct. Exact N via a cheap count over the truncated
    // RDD (accumulator counts can over-count under retries and N feeds
    // the exact init division).
    val nodes = graft.Checkpoints.truncate(
      e.select(col("u").as("id"))
        .unionByName(e.select(col("v").as("id"))).distinct())
    val n = nodes.count()
    if (n == 0L)
      return nodes.select(col("id"), lit(0L).as("hub_scaled"),
        lit(0L).as("auth_scaled"))
    var auth = nodes.select(col("id"), lit(scale / n).as("a"))
    var hub = nodes.select(col("id"), lit(0L).as("h"))
    def normalized(raw: DataFrame, valCol: String): DataFrame = {
      // one-row Σ rides back as a broadcast cross join; Σ = 0 (all-zero
      // scores) keeps zeros rather than dividing by zero
      val s = raw.agg(sum(col(valCol)).as("__s"))
      nodes.join(raw, Seq("id"), "left").crossJoin(broadcast(s))
        .select(col("id"),
          when(col("__s").isNull || col("__s") === 0L, lit(0L))
            .otherwise(expr(s"(coalesce($valCol, 0L) * ${scale}L) div __s"))
            .as(valCol))
    }
    for (_ <- 1 to iterations) {
      val hubRaw = e.join(auth.select(col("id").as("v"), col("a")), Seq("v"))
        .groupBy(col("u").as("id")).agg(sum(col("a")).as("h"))
      hub = graft.Checkpoints.truncate(normalized(hubRaw, "h"))
      val authRaw = e.join(hub.select(col("id").as("u"), col("h")), Seq("u"))
        .groupBy(col("v").as("id")).agg(sum(col("h")).as("a"))
      auth = graft.Checkpoints.truncate(normalized(authRaw, "a"))
    }
    hub.join(auth, Seq("id"))
      .select(col("id"), col("h").as("hub_scaled"),
        col("a").as("auth_scaled"))
  }

  /** Per-node degree statistics of a link graph: out-degree, in-degree,
    * and how many of the node's out-edges are reciprocated (the reverse
    * edge exists — link farms and mutual-citation rings light up here).
    * A self-loop counts as its own reciprocal (its reverse is itself).
    *
    * Scale shape: the edge list is deduplicated once, degrees are two
    * keyed aggregates, and reciprocity is ONE edge-keyed self-join on
    * the (u, v) pair — candidates are exact key matches, never node
    * fan-outs. Every node in src ∪ dst gets a row (zeroes, not
    * missing rows).
    *
    * Output: id, out_deg, in_deg, n_reciprocal. */
  def degreeStats(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val nodes = e.select(col("u").as("id"))
      .unionByName(e.select(col("v").as("id"))).distinct()
    val outd = e.groupBy(col("u").as("id")).agg(count(lit(1)).as("out_deg"))
    val ind = e.groupBy(col("v").as("id")).agg(count(lit(1)).as("in_deg"))
    val recip = e
      .join(e.select(col("v").as("u"), col("u").as("v")), Seq("u", "v"))
      .groupBy(col("u").as("id")).agg(count(lit(1)).as("n_reciprocal"))
    nodes.join(outd, Seq("id"), "left")
      .join(ind, Seq("id"), "left")
      .join(recip, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("n_reciprocal"), lit(0L)).as("n_reciprocal"))
  }

  /** Per-node triangle counts — the local-cohesion signal on a link
    * graph (mutual-citation cells, link farms, tightly-knit template
    * networks all show up as triangle-dense neighborhoods; a page's
    * triangle count is the numerator of its clustering coefficient).
    *
    * Algorithm: degree-ordered orientation (Suri & Vassilvitskii 2011,
    * "Counting Triangles and the Curse of the Last Reducer", WWW) —
    * each undirected edge orients from its lower endpoint in the total
    * (degree, id) order, so every triangle is found EXACTLY ONCE as a
    * wedge at its minimum vertex closed by one oriented edge, and the
    * wedge fan-out at a hub is bounded by its ORIENTED out-degree
    * (O(√|E|) for any graph), not its raw degree — the curse of the
    * last reducer is the thing this orientation removes. The order key
    * is the lexicographic (degree, id) STRUCT — no packed-long id
    * bound, valid for the full long id range — and the oracle MUST
    * compare the same (d, id) tuple (row-value comparison), or a
    * packed-key oracle mis-orients edges once ids exceed the stride.
    *
    * Scale shape: two equi-joins (wedge build on the pivot, closure
    * probe on the (v, w) edge key) + one keyed count; no node ever
    * enumerates its full neighbor square. Self-loops dropped; every
    * node of the input graph gets a row (zeroes kept).
    *
    * Output: id, n_triangles (long). */
  def triangles(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).as("x"), col(dstCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val nodes = raw.select(col("x").as("id"))
      .unionByName(raw.select(col("y").as("id"))).distinct()
    val und = raw.filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
    val deg0 = und.select(col("a").as("id"))
      .unionByName(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    // Lexicographic (deg, id) STRUCT order key: same degree-orientation
    // decision as a packed deg·stride+id long, with no overflow bound —
    // the 10x scale sweep crashed the packed form on stride-shifted
    // replica ids (the paragraphDedup r7 lesson, applied here). Neither
    // field is nullable, so struct comparison is total.
    val deg = deg0
      .select(col("id"), struct(col("d"), col("id")).as("ord"))
    val o = und
      .join(deg.select(col("id").as("a"), col("ord").as("__oa")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("ord").as("__ob")), Seq("b"))
      .select(
        when(col("__oa") < col("__ob"), col("a")).otherwise(col("b")).as("u"),
        when(col("__oa") < col("__ob"), col("b")).otherwise(col("a")).as("v"),
        greatest(col("__oa"), col("__ob")).as("vord"))
    val wedges = o.as("w1")
      .join(o.select(col("u"), col("v").as("w"), col("vord").as("word"))
        .as("w2"), Seq("u"))
      .filter(col("vord") < col("word"))
      .select(col("u"), col("v"), col("w"))
    val tri = wedges.join(
      o.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
    val perNode = tri.select(col("u").as("id"))
      .unionByName(tri.select(col("v").as("id")))
      .unionByName(tri.select(col("w").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("n"))
    nodes.join(perNode, Seq("id"), "left")
      .select(col("id"), coalesce(col("n"), lit(0L)).as("n_triangles"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii
    * 2014, "Connected Components in MapReduce and Beyond", SoCC) — the
    * O(log² n)-round component finder. [[graft.ops.Dedup.duplicateClusters]]'
    * min-label propagation needs rounds proportional to the component
    * DIAMETER, which on a crawl graph with long redirect/pagination
    * chains is unbounded; star contraction halves chain lengths every
    * pair of rounds, so a 10^9-node path converges in ~60 rounds where
    * propagation needs 10^9. This operator is the scale path; the
    * propagation twin stays the right choice for the shallow, bushy
    * near-dup pair graphs it serves.
    *
    * Per round, with m(u) = min(N(u) ∪ {u}):
    *   large-star: every neighbor v > u re-attaches to m(u);
    *   small-star: every neighbor v ≤ u, and u itself, attaches to m(u).
    * Both are ONE neighbor-keyed aggregate (the min — absorbed map-side
    * on hot hubs) + ONE edge-keyed join; no step ever materializes a
    * neighborhood square. The edge set is re-symmetrized and
    * deduplicated between rounds and checkpointed
    * ([[graft.Checkpoints]]) so lineage stays one round deep.
    * Convergence: the fixpoints of the star pair are EXACTLY the star
    * forests centered at component minima, so each round tests its own
    * output directly — canonical (a<b) edges form a star forest iff no
    * node is both a center and a leaf and every leaf has one center
    * (two cheap exact aggregates) — instead of running one more full
    * round to observe "nothing changed" (the measured cost of the
    * fixpoint-diff formulation was an entire wasted round per query).
    * Loud failure past `maxRounds` (the
    * [[graft.ops.Dedup.duplicateClusters]] discipline).
    *
    * Semantics: NULL endpoints dropped; self-loops contribute no
    * connectivity; the component label is the smallest node id reachable
    * from the node (bit-identical across engines — all comparisons are
    * exact). Every node of src ∪ dst gets a row.
    *
    * Output: id, component. */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 25): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val raw = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
    // symmetric, self-loop-free neighbor relation. dedup=false skips
    // the exchange when the next consumer tolerates duplicate edges
    // (both star operations do: the min-agg is duplicate-blind and the
    // attach join only re-emits what the round-final dedup'd sym
    // collapses) — one distinct per round, not two.
    def sym(e: DataFrame, dedup: Boolean = true): DataFrame = {
      val u = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v"))
      if (dedup) u.distinct() else u
    }
    // canonical (min, max) view, for the fixpoint test
    def canon(e: DataFrame): DataFrame =
      e.select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b")).distinct()
    // one star operation: re-attach the selected side of every
    // neighborhood to its min. keepLarger=true is large-star (v > u),
    // false is small-star (v <= u, plus the center itself). Emitted
    // edges may repeat — every caller immediately re-symmetrizes, and
    // sym()'s distinct dedups once instead of paying a second
    // per-star exchange.
    def star(e: DataFrame, keepLarger: Boolean): DataFrame = {
      val m = e.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val attached =
        if (keepLarger)
          e.join(m, Seq("u")).filter(col("v") > col("u"))
            .select(col("v").as("u"), col("m").as("v"))
        else
          e.join(m, Seq("u")).filter(col("v") <= col("u"))
            .select(col("v").as("u"), col("m").as("v"))
            .unionByName(m.select(col("u"), col("m").as("v")))
      attached.filter(col("u") =!= col("v"))
    }
    // Fixpoint detection ON the round's own output: a (symmetric,
    // self-loop-free) edge set is stable under both stars iff its
    // canonical view is a star forest centered at minima — no node
    // appears as both a center (a side) and a leaf (b side), and no
    // leaf has two centers. Both tests are exact integer aggregates
    // (count / distinct / an id-keyed intersection probe), so
    // convergence semantics stay engine-exact; what they replace is a
    // whole extra contraction round whose only job was to show the
    // edge set didn't change.
    def isStarForest(e: DataFrame): Boolean = {
      val c = canon(e)
      // Both conditions in ONE job: stack (node, role) rows and look
      // for any node that is a center and a leaf, or a leaf twice.
      val roles = c.select(col("a").as("x"), lit(1L).as("ctr"), lit(0L).as("lf"))
        .unionByName(
          c.select(col("b").as("x"), lit(0L).as("ctr"), lit(1L).as("lf")))
      roles.groupBy(col("x"))
        .agg(sum(col("ctr")).as("nc"), sum(col("lf")).as("nl"))
        .filter((col("nc") > 0 && col("nl") > 0) || col("nl") > 1)
        // A plain count, not `limit(1)`: a generated limit names its
        // counter after a JVM-wide id, so every run would compile anew.
        .count() == 0L
    }
    // Materialize the cleaned edge set once: the upstream (often a
    // scan + filter chain) must not replay under both the node
    // derivation and the loop init, and its real row count is what
    // sizes the loop's partitioning below.
    val (rawT0, rawCount) = graft.Checkpoints.truncateCount(raw)
    // Right-size the WHOLE operator's shuffle partitioning to the edge
    // set on a CLONED loop session (Checkpoints.loopSession: only ever
    // lowers, isolated conf — queries running concurrently on the
    // caller's session are untouched; this operator is where the 1.7×
    // measurement behind the helper came from). The edge count rides
    // the truncation pass (truncateCount) instead of a separate count
    // job. Star contraction also shrinks the edge set every round, so
    // the session-wide default is wrong for the loop's tail even on
    // big inputs; the initial sizing is the conservative upper bound.
    // keepAqe: this loop's star joins need broadcast conversion every
    // round. Even with r15's measured leaf statistics letting the
    // STATIC planner broadcast, dropping AQE here measured 9.10 s vs
    // 5.15 s kept (OPTIMIZATION_r15.md), so the clone keeps AQE on.
    val loopSpark = graft.Checkpoints.loopSession(
      raw.sparkSession, rawCount, keepAqe = true)
    val rawT = org.apache.spark.sql.graftext.Bridge.rebind(rawT0, loopSpark)
    org.apache.spark.sql.graftext.Bridge.rebind({
      // Init fused with a PREFIX small-star pass, one materialization:
      // each node contracts straight to the min of its closed
      // neighborhood before the alternation starts, which on the
      // bushy-with-local-minima graphs this serves removes a whole
      // (large;small) round (measured 5 → 4 on the sf0.1 link graph).
      // Harmless in every case: small-star preserves components
      // (Kiveris et al., Lemma 1) and is the identity on an
      // already-converged star forest, and the O(log² n) alternation
      // bound applies unchanged from the contracted state.
      var g = graft.Checkpoints.truncate(
        sym(star(sym(rawT, dedup = false), keepLarger = false)))
      var converged = isStarForest(g)
      var round = 0
      while (!converged && round < maxRounds) {
        round += 1
        val next = graft.Checkpoints.truncate(
          sym(star(sym(star(g, keepLarger = true), dedup = false),
            keepLarger = false)))
        converged = isStarForest(next)
        g = next
      }
      require(converged,
        s"connectedComponents: no fixpoint after $maxRounds rounds — " +
          "raise maxRounds (expected O(log^2 n) for any graph)")
      val nodesT = rawT.select(col("u").as("id"))
        .unionByName(rawT.select(col("v").as("id"))).distinct()
      // Materialized INSIDE the right-sized region: returned lazily,
      // the label join would otherwise execute later under the
      // caller's partitioning.
      graft.Checkpoints.truncate(
        nodesT.join(
          g.groupBy(col("u").as("id"))
            .agg(least(min(col("v")), first(col("u"))).as("component")),
          Seq("id"), "left")
          .select(col("id"),
            coalesce(col("component"), col("id")).as("component")))
    }, raw.sparkSession) // hop the result back to the caller's session
  }

  /** Deterministic synchronous label-propagation communities (Raghavan
    * et al. 2007, Phys. Rev. E 76) — the cheap community detector that
    * complements [[connectedComponents]]: components answer "is there
    * ANY path", communities answer "where is the density" (mirror
    * clusters and template families inside one giant crawl component,
    * topic pockets in a citation graph).
    *
    * Determinism contract: the textbook algorithm is asynchronous with
    * random visit order and random tie-breaks — unreproducible across
    * runs, let alone engines. This is the SYNCHRONOUS variant with a
    * total tie order: every node simultaneously adopts the most
    * frequent label among its neighbors, ties broken toward the
    * SMALLEST label, for a FIXED round count. Every step is integer
    * counting + lexicographic argmax, so two engines (and any
    * partitioning) replay it bit-identically. Synchronous LPA can
    * oscillate on bipartite-ish structure instead of converging — with
    * a fixed round budget the output is still well-defined and
    * engine-exact, which is what a reproducible pipeline needs (run-
    * to-run label stability, not optimality).
    *
    * Scale shape: per round ONE neighbor-keyed join (edges × labels)
    * and ONE node-keyed aggregate; the argmax rides inside the
    * aggregate as max(struct(count, -label)) — partial-aggregated
    * map-side, so a hub costs its distinct-neighbor-label count, never
    * a window sort; lineage checkpointed per round. Labels init to the
    * node's own id. Edges are symmetrized and de-self-looped; NULL
    * endpoints dropped.
    *
    * Output: id, community (long — the final label). */
  def labelPropagation(
      edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val raw = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
    val e = graft.Checkpoints.truncate(
      raw.unionByName(raw.select(col("v").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v")).distinct())
    // full node set from RAW endpoints: a node with only self-loop
    // edges has no propagation neighbors but still gets a community
    // row (its own id), like connectedComponents' left-join backfill
    val allNodes = raw.select(col("u").as("id"))
      .unionByName(raw.select(col("v").as("id"))).distinct()
    val nodes = e.select(col("u").as("id")).distinct()
    var labels = graft.Checkpoints.truncate(
      nodes.withColumn("l", col("id")))
    for (_ <- 1 to rounds)
      labels = graft.Checkpoints.truncate(lpaRound(e, labels))
    allNodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("l"), col("id")).as("community"))
  }

  /** One synchronous LPA round over symmetric edges e(u, v) and labels
    * (id, l): per-neighbor-label counts, then the (count DESC, label
    * ASC) argmax as max(struct(c, −l)) — a plain aggregate with
    * map-side partials, never a per-node window sort. Factored out so
    * the plan shape is assertable despite the per-round checkpoint
    * truncating lineage (PlanShapeSpec). */
  private[graft] def lpaRound(e: DataFrame, labels: DataFrame): DataFrame =
    e.join(labels.select(col("id").as("u"), col("l")), Seq("u"))
      .groupBy(col("v"), col("l"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("v").as("id"))
      .agg(max(struct(col("c"), (-col("l")).as("nl"))).as("m"))
      .select(col("id"), (-col("m.nl")).as("l"))

  /** Hierarchy flattening by pointer doubling: (id, parent) rows →
    * (id, root, depth) — org trees, category taxonomies, reply-thread
    * ancestry. The relational-engine answer to recursive CTEs, shaped
    * for distribution: each round joins the ancestor relation WITH
    * ITSELF (anc ← anc(anc), depth-so-far summed), so reachable depth
    * DOUBLES per round — a depth-10^6 chain needs 20 rounds, not 10^6
    * sequential self-joins (Valiant-style pointer jumping; the same
    * log-round discipline as [[connectedComponents]]).
    *
    * The state is self-stabilizing: a root's row is (r, r, 0), so any
    * row whose ancestor reached a root re-joins to (id, r, depth)
    * unchanged, and a row whose ancestor is MISSING from the id set
    * (dangling parent) keeps that ancestor via the left join — reported
    * as its root, auditable, never silently dropped. Fixpoint = no row
    * changed; loud failure past `maxRounds`, which is also the cycle
    * detector (a parent cycle never reaches a terminal ancestor —
    * hierarchies must be acyclic, and a silent infinite loop is the
    * failure mode this replaces).
    *
    * Scale shape: one id-keyed self-join + checkpoint per round
    * (lineage one round deep), rows constant at |nodes|; depth sums are
    * exact longs. Duplicate-id inputs are rejected loudly — with two
    * parent rows for one id the doubling join would fan out
    * multiplicatively.
    *
    * Output: id, root, depth (root rows: id, id, 0). */
  def flattenHierarchy(
      nodes: DataFrame, idCol: String, parentCol: String,
      maxRounds: Int = 25): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val h = nodes.select(col(idCol).as("id"), col(parentCol).as("anc"))
      .filter(col("id").isNotNull)
    // A plain count, not `limit(1)`, as in connectedComponents.
    val dup = h.groupBy(col("id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1L).count()
    require(dup == 0L,
      "flattenHierarchy: duplicate id rows — one parent per id required")
    val (state0, nodeCount) = graft.Checkpoints.truncateCount(
      h.select(col("id"),
        coalesce(col("anc"), col("id")).as("anc"),
        when(col("anc").isNull, 0L).otherwise(1L).as("depth")))
    var converged = false
    var round = 0
    // node-sized loop shuffles on a cloned, right-sized session (the
    // node count rides the truncation pass, not a separate job); the
    // caller's session conf is never touched
    val loopSpark =
      graft.Checkpoints.loopSession(nodes.sparkSession, nodeCount)
    var state = org.apache.spark.sql.graftext.Bridge.rebind(state0, loopSpark)
    while (!converged && round < maxRounds) {
      round += 1
      // Rows are keyed uniquely by id and the id set is constant, so
      // a row-local "did my (anc, depth) move?" flag is exactly the
      // old exceptAll(state).isEmpty fixpoint — minus one shuffle AND
      // one job per round (the probe rides the round's own
      // materialization via Checkpoints.truncateCountTrue). anc is
      // non-null (coalesced at init) and depth only grows, so the
      // anc comparison alone would suffice; both are kept for the
      // self-stabilizing-state invariant to stay locally checkable.
      val (next, changed) = graft.Checkpoints.truncateCountTrue(
        state.as("s1").join(
          state.select(col("id").as("__a"), col("anc").as("__anc2"),
            col("depth").as("__d2")),
          col("anc") === col("__a"), "left")
          .select(col("id"),
            coalesce(col("__anc2"), col("anc")).as("anc"),
            (col("depth") + coalesce(col("__d2"), lit(0L))).as("depth"),
            (coalesce(col("__anc2"), col("anc")) =!= col("anc") ||
              coalesce(col("__d2"), lit(0L)) =!= lit(0L)).as("__chg")),
        "__chg")
      converged = changed == 0L
      state = next.drop("__chg")
    }
    require(converged,
      s"flattenHierarchy: no fixpoint after $maxRounds rounds — a parent " +
        "CYCLE, or depth beyond 2^maxRounds; hierarchies must be acyclic")
    org.apache.spark.sql.graftext.Bridge.rebindExit(
      state.select(col("id"), col("anc").as("root"), col("depth")),
      nodes.sparkSession)
  }

  /** Top anchor texts per link target — the Common-Crawl-style "what do
    * other pages call this page" quality/topicality signal fed into
    * crawl curation: for each destination, the `topN` anchor strings by
    * number of DISTINCT referring pages (a page repeating an anchor
    * counts once — link-farm repetition must not inflate the signal).
    *
    * Shapes: one distinct over (src, dst, anchor) triples, one
    * (dst, anchor)-keyed count (map-side partial absorbs hot
    * boilerplate anchors), then the bounded topk_by_score aggregate
    * with STRING ids — each map task ships ≤ topN anchors per dst, so
    * a hub page with millions of in-links costs its cap through the
    * final shuffle. Ranking ties (equal counts) break toward the
    * binary-ascending anchor — UTF8String comparison is UTF-8 byte
    * order, the same collation the DuckDB oracle sorts by. Counts ride
    * as exact doubles (distinct referrers ≪ 2^53). NULL src/dst/anchor
    * and empty anchors carry no evidence.
    *
    * Output: dstCol, rank (1-based), anchorCol, n_refs. */
  def anchorTexts(
      edges: DataFrame, srcCol: String, dstCol: String, anchorCol: String,
      topN: Int): DataFrame = {
    require(topN > 0, "topN must be positive")
    edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(anchorCol).isNotNull && length(col(anchorCol)) > 0)
      .select(col(srcCol), col(dstCol), col(anchorCol)).distinct()
      .groupBy(col(dstCol), col(anchorCol))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col(dstCol))
      .agg(call_function("topk_by_score",
        col("__n").cast("double"), col(anchorCol), lit(topN)).as("tk"))
      .select(col(dstCol), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col(dstCol), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as(anchorCol), col("e.score").cast("long").as("n_refs"))
  }
}
