package graft.tools

import graft.Json
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Fuzz differential vs the DuckDB oracle: generate N seeded-random
  * query shapes (filter/project, aggregate, HAVING, joins, windows,
  * set ops, scalar subqueries) over the testdata schema in a PORTABLE
  * ANSI subset, run them in Spark, and dump `oracle_sql.json` +
  * per-shape parquet in the exact layout `scripts/check.py` compares —
  * so one `python3 scripts/check.py <sfDir> <outDir>` afterwards
  * value-compares every shape in DuckDB.
  *
  * The 171 fixed SparkEntry queries pin known shapes; this hunts the
  * UNKNOWN ones — null ordering, overflow edges, type-coercion corners
  * — in the composition space the fixed set can't enumerate. Seeded and
  * replayable: the same (seed, n) always regenerates the same SQL, so a
  * divergence becomes a fixed regression spec by copying its entry.
  *
  * Portability rules baked into the generator (the lessons the fixed
  * oracle suite already encodes):
  *   - SUM/COUNT(DISTINCT) wrapped in CAST(... AS BIGINT) — DuckDB
  *     SUM(int) is HUGEINT;
  *   - EXTRACT(...) cast to INTEGER — DuckDB returns BIGINT, Spark INT;
  *   - no SUM/AVG over raw doubles (accumulation order drifts the low
  *     bits); doubles only pass through, compare, MIN/MAX, or enter
  *     integer space via CAST(FLOOR(x) AS BIGINT) (CAST alone disagrees:
  *     DuckDB rounds, Spark truncates);
  *   - int arithmetic promoted to BIGINT first (Spark 4 ANSI overflow);
  *   - windows ordered by EVERY column of the table with explicit
  *     NULLS FIRST — the testdata's nominal keys are NOT unique
  *     (11k duplicate (l_orderkey, l_linenumber) pairs at sf0.01, a
  *     divergence this fuzzer itself caught on its first run), and the
  *     engines disagree on default null ordering; a full-row total
  *     order makes ties interchangeable, so ROW_NUMBER/running sums
  *     compare deterministically;
  *   - events (TIMESTAMP_NANOS) and embeddings (FLOAT[]) excluded —
  *     the two engines legitimately read those differently.
  *
  * Usage: graft.tools.FuzzDiff <sfDir> <outDir> [n] [seed]
  *
  * Grammar versions: changing the shape set changes the (seed, n) →
  * SQL mapping, so every record carries `"gen"` and replay is defined
  * per generator version (v1 = 9 families, r11 seeds 11/42; v2 adds
  * FK-chain joins, conditional aggregation, EXISTS/NOT EXISTS,
  * IN-subquery semi joins, ROLLUP+GROUPING(), global ORDER BY+LIMIT
  * top-k, and CTE aggregate-join-back; v3 adds the TYPED corners —
  * decimal arithmetic/casts with explicit result types (division
  * excluded: the engines' published result-scale rules legitimately
  * differ), timestamp/interval arithmetic and DATE_TRUNC bucketing
  * over the DST-free UTC session, LIKE/_-wildcard/string-comparison
  * edges, and NULL-in-IN / NOT-IN-vs-NULL-subquery three-valued-logic
  * corners); v4 adds the WINDOW-FRAME corners — RANGE frames over
  * deliberately LOW-cardinality order keys so peer groups are real
  * (RANGE CURRENT ROW spans all peers; only tie-insensitive aggregates
  * ride them), numeric-offset RANGE windows, bounded ROWS frames and
  * first/last_value over a full-row total order (ANSI frame EXCLUDE is
  * absent from Spark's grammar, so peer-group shapes are the portable
  * way to stress tie handling) — and explicit GROUPING SETS with
  * overlapping columns, the () set, and occasional DUPLICATE sets
  * (ANSI says a repeated set emits its rows twice).
  *
  * v5 changes one v4 shape and adds a sibling MODE: case 15's RANGE
  * order key is COALESCEd (a NULL int column formed a NULL peer group,
  * and NULL-vs-value ordering inside offset frames is a legitimate
  * engine-divergence surface — the case stresses ties, not NULL-frame
  * semantics), and operator-PROPERTY fuzzing over the C-family ships
  * as [[PropFuzz]] (random corpora + parameter draws, invariants
  * asserted engine-side — see its Scaladoc for the property list).
  *
  * v4 also adds a SPARK-vs-SPARK family the DuckDB oracle can't cover:
  * batch-vs-stream equivalence on the watermarked operators. Each
  * round draws (window/slide/gap, key, watermark delay), runs the SAME
  * declarative aggregate once as a Structured Streaming query (file
  * source, AvailableNow, memory sink) and once as a batch DataFrame,
  * and requires identical result sets — the single-batch finite-input
  * reasoning the fixed q_stream_* oracle entries rely on, here
  * stress-tested across the parameter space (tumbling + sliding
  * windows, session_window, watermarked dropDuplicates).
  */
object FuzzDiff {

  /** Bumped whenever the shape grammar changes (see Scaladoc). */
  private val GenVersion = 5

  private final case class Col(name: String, t: Char) // i/d/s/t
  private final case class Tbl(name: String, keys: Seq[String], cols: Seq[Col]) {
    def of(c: Char): Seq[Col] = cols.filter(_.t == c)
  }

  private val tables = Seq(
    Tbl("region", Seq("r_regionkey"),
      Seq(Col("r_regionkey", 'i'), Col("r_name", 's'))),
    Tbl("nation", Seq("n_nationkey"),
      Seq(Col("n_nationkey", 'i'), Col("n_name", 's'), Col("n_regionkey", 'i'))),
    Tbl("customer", Seq("c_custkey"),
      Seq(Col("c_custkey", 'i'), Col("c_name", 's'), Col("c_nationkey", 'i'),
        Col("c_acctbal", 'd'), Col("c_mktsegment", 's'))),
    Tbl("supplier", Seq("s_suppkey"),
      Seq(Col("s_suppkey", 'i'), Col("s_name", 's'), Col("s_nationkey", 'i'),
        Col("s_acctbal", 'd'))),
    Tbl("part", Seq("p_partkey"),
      Seq(Col("p_partkey", 'i'), Col("p_name", 's'), Col("p_brand", 's'),
        Col("p_type", 's'), Col("p_size", 'i'), Col("p_retailprice", 'd'))),
    Tbl("orders", Seq("o_orderkey"),
      Seq(Col("o_orderkey", 'i'), Col("o_custkey", 'i'),
        Col("o_orderstatus", 's'), Col("o_totalprice", 'd'),
        Col("o_orderdate", 't'), Col("o_orderpriority", 's'))),
    Tbl("lineitem", Seq("l_orderkey", "l_linenumber"),
      Seq(Col("l_orderkey", 'i'), Col("l_partkey", 'i'), Col("l_suppkey", 'i'),
        Col("l_linenumber", 'i'), Col("l_quantity", 'd'),
        Col("l_extendedprice", 'd'), Col("l_discount", 'd'),
        Col("l_returnflag", 's'), Col("l_linestatus", 's'),
        Col("l_shipdate", 't'))),
    Tbl("documents", Seq("doc_id"),
      Seq(Col("doc_id", 'i'), Col("lang", 's'), Col("source", 's'),
        Col("n_chars", 'i'))))

  /** Known categorical domains, for IN-list predicates that actually
    * select something. */
  private val domains: Map[String, Seq[String]] = Map(
    "o_orderstatus" -> Seq("F", "O", "P"),
    "l_returnflag" -> Seq("A", "N", "R"),
    "l_linestatus" -> Seq("F", "O"),
    "c_mktsegment" -> Seq("MACHINERY", "BUILDING", "FURNITURE",
      "AUTOMOBILE", "HOUSEHOLD"),
    "o_orderpriority" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW"),
    "lang" -> Seq("en", "de", "fr", "es", "zh"))

  // FK edges for join shapes: (left table, left col, right table, right col)
  private val fks = Seq(
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"))

  /** Composable FK paths for multi-way join shapes (each edge's right
    * table is the next edge's left table). */
  private val chains: Seq[Seq[(String, String, String, String)]] = Seq(
    Seq(("lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("orders", "o_custkey", "customer", "c_custkey"),
      ("customer", "c_nationkey", "nation", "n_nationkey")),
    Seq(("orders", "o_custkey", "customer", "c_custkey"),
      ("customer", "c_nationkey", "nation", "n_nationkey"),
      ("nation", "n_regionkey", "region", "r_regionkey")),
    Seq(("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("supplier", "s_nationkey", "nation", "n_nationkey")))

  private final class Gen(seed: Long) {
    val rnd = new java.util.Random(seed)
    def int(n: Int): Int = rnd.nextInt(n)
    def pick[A](xs: Seq[A]): A = xs(int(xs.length))
    def tbl(): Tbl = pick(tables)
    /** A factish table (enough rows for aggregates to be interesting). */
    def factTbl(): Tbl = pick(tables.filter(t =>
      Set("orders", "lineitem", "customer", "part", "documents")(t.name)))

    /** Integer-typed SQL expression over `t` (BIGINT-safe). */
    def intExpr(t: Tbl, q: String = ""): String = {
      def c(n: String) = if (q.isEmpty) n else s"$q.$n"
      val ic = t.of('i'); val dc = t.of('d')
      int(3) match {
        case 0 => s"CAST(${c(pick(ic).name)} AS BIGINT)"
        case 1 if dc.nonEmpty => s"CAST(FLOOR(${c(pick(dc).name)}) AS BIGINT)"
        case _ =>
          s"CAST(${c(pick(ic).name)} AS BIGINT) * ${1 + int(5)} + ${int(7)}"
      }
    }

    /** One predicate over table `t` (optionally alias-qualified). */
    def pred(t: Tbl, q: String = ""): String = {
      def c(n: String) = if (q.isEmpty) n else s"$q.$n"
      val choices = Seq.newBuilder[() => String]
      for (col <- t.of('i'))
        choices += (() => int(3) match {
          case 0 => s"${c(col.name)} % ${2 + int(9)} = ${int(2)}"
          case 1 => s"${c(col.name)} > ${int(800)}"
          case _ => s"${c(col.name)} BETWEEN ${int(300)} AND ${300 + int(900)}"
        })
      for (col <- t.of('d'))
        choices += (() => int(2) match {
          case 0 => s"${c(col.name)} > ${100 + int(5000)}.${int(100)}"
          case _ => s"${c(col.name)} <= ${5000 + int(95000)}.${int(100)}"
        })
      for (col <- t.of('s'))
        choices += (() => domains.get(col.name) match {
          case Some(vals) if int(2) == 0 =>
            val k = 1 + int(math.min(3, vals.length))
            val distinct = scala.util.Random.javaRandomToRandom(rnd)
              .shuffle(vals).take(k).sorted
            s"${c(col.name)} IN (${distinct.map(v => s"'$v'").mkString(", ")})"
          case _ =>
            s"${c(col.name)} LIKE '%${('a' + int(5)).toChar}%'"
        })
      for (col <- t.of('t'))
        choices += (() => int(2) match {
          case 0 =>
            s"${c(col.name)} >= TIMESTAMP '${1995 + int(6)}-0${1 + int(9)}-01 00:00:00'"
          case _ =>
            s"CAST(EXTRACT(YEAR FROM ${c(col.name)}) AS INTEGER) = ${1995 + int(7)}"
        })
      val cs = choices.result()
      val one = pick(cs)()
      if (int(3) == 0) s"($one ${if (int(2) == 0) "AND" else "OR"} ${pick(cs)()})"
      else one
    }

    /** Projection expression list incl. computed columns; always
      * includes the table keys so rows stay distinguishable. */
    def proj(t: Tbl): Seq[String] = {
      val extras = Seq.newBuilder[String]
      val ss = t.of('s')
      if (ss.nonEmpty && int(2) == 0) {
        val s = pick(ss).name
        extras += (int(3) match {
          case 0 => s"UPPER($s) AS u_$s"
          case 1 => s"SUBSTRING($s, 1, ${1 + int(6)}) AS sub_$s"
          case _ => s"CAST(LENGTH($s) AS INTEGER) AS len_$s"
        })
      }
      if (int(2) == 0)
        extras += s"CASE WHEN ${pred(t)} THEN 'hit' ELSE 'miss' END AS tag"
      if (int(2) == 0) extras += s"${intExpr(t)} AS ie"
      val plain = scala.util.Random.javaRandomToRandom(rnd)
        .shuffle(t.cols.map(_.name)).take(1 + int(3))
      (t.keys ++ plain).distinct ++ extras.result()
    }

    /** Group keys: categorical string, small int, or year-of. */
    def groupKeys(t: Tbl, q: String = ""): Seq[(String, String)] = {
      def c(n: String) = if (q.isEmpty) n else s"$q.$n"
      val cands = Seq.newBuilder[(String, String)]
      for (col <- t.of('s') if domains.contains(col.name) || int(3) == 0)
        cands += ((c(col.name), col.name))
      for (col <- t.of('i'))
        cands += ((s"${c(col.name)} % ${2 + int(7)}", s"g_${col.name}"))
      for (col <- t.of('t'))
        cands += ((s"CAST(EXTRACT(YEAR FROM ${c(col.name)}) AS INTEGER)",
          s"y_${col.name}"))
      val all = cands.result()
      scala.util.Random.javaRandomToRandom(rnd).shuffle(all)
        .take(1 + int(2))
    }

    def aggList(t: Tbl, q: String = ""): Seq[String] = {
      def c(n: String) = if (q.isEmpty) n else s"$q.$n"
      val aggs = Seq.newBuilder[String]
      aggs += "CAST(COUNT(*) AS BIGINT) AS cnt"
      if (int(2) == 0) aggs += s"CAST(SUM(${intExpr(t, q)}) AS BIGINT) AS s_ie"
      val any = pick(t.cols).name
      if (int(2) == 0) aggs += s"MIN(${c(any)}) AS mn_$any"
      if (int(2) == 0) aggs += s"MAX(${c(pick(t.cols).name)}) AS mx"
      if (int(2) == 0)
        aggs += s"CAST(COUNT(DISTINCT ${c(pick(t.cols).name)}) AS BIGINT) AS cd"
      aggs.result().distinct
    }
  }

  /** Generate one named shape. Returns (kind, sql). */
  private def shape(g: Gen): (String, String) = {
    g.int(23) match {
      case 0 => // filter + project (+computed columns)
        val t = g.tbl()
        ("filter_project",
          s"SELECT ${g.proj(t).mkString(", ")} FROM ${t.name} WHERE ${g.pred(t)}")
      case 1 => // aggregate, optional HAVING
        val t = g.factTbl()
        val gks = g.groupKeys(t)
        val sel = gks.map { case (e, a) => s"$e AS $a" } ++ g.aggList(t)
        val having = if (g.int(2) == 0) s" HAVING COUNT(*) > ${1 + g.int(5)}" else ""
        ("agg",
          s"SELECT ${sel.mkString(", ")} FROM ${t.name} WHERE ${g.pred(t)} " +
            s"GROUP BY ${gks.map(_._1).mkString(", ")}$having")
      case 2 => // FK inner join + aggregate
        val (lt, lc, rt, rc) = g.pick(fks)
        val l = tables.find(_.name == lt).get
        val r = tables.find(_.name == rt).get
        val gks = g.groupKeys(r, "b")
        val sel = gks.map { case (e, a) => s"$e AS $a" } ++ g.aggList(l, "a")
        ("join_agg",
          s"SELECT ${sel.mkString(", ")} FROM $lt a JOIN $rt b ON a.$lc = b.$rc " +
            s"WHERE ${g.pred(l, "a")} GROUP BY ${gks.map(_._1).mkString(", ")}")
      case 3 => // LEFT join: null-bearing right columns + COALESCE
        val (lt, lc, rt, rc) = g.pick(fks)
        val l = tables.find(_.name == lt).get
        val r = tables.find(_.name == rt).get
        val rCol = g.pick(r.cols).name
        ("left_join",
          s"SELECT ${l.keys.map("a." + _).mkString(", ")}, b.$rCol, " +
            s"CASE WHEN b.$rc IS NULL THEN 'none' ELSE 'some' END AS side " +
            s"FROM $lt a LEFT JOIN " +
            s"(SELECT * FROM $rt WHERE ${g.pred(r)}) b ON a.$lc = b.$rc " +
            s"WHERE ${g.pred(l, "a")}")
      case 4 => // window top-k per group (full-row total-order tie-break)
        val t = g.factTbl()
        val (gk, ga) = g.groupKeys(t).head
        val oc = g.pick(t.cols).name
        val ord = (oc +: t.cols.map(_.name)).distinct
          .map(_ + " NULLS FIRST").mkString(", ")
        ("window_topk",
          s"SELECT * FROM (SELECT ${t.cols.map(_.name).mkString(", ")}, " +
            s"$gk AS grp_$ga, ROW_NUMBER() OVER " +
            s"(PARTITION BY $gk ORDER BY $ord) AS rn " +
            s"FROM ${t.name} WHERE ${g.pred(t)}) w WHERE w.rn <= ${1 + g.int(4)}")
      case 5 => // running sum over a full-row total order
        val t = g.factTbl()
        val (gk, ga) = g.groupKeys(t).head
        val e = g.intExpr(t)
        val ord = t.cols.map(_.name + " NULLS FIRST").mkString(", ")
        ("window_running",
          s"SELECT ${t.cols.map(_.name).mkString(", ")}, $gk AS grp_$ga, " +
            s"CAST(SUM($e) OVER (PARTITION BY $gk " +
            s"ORDER BY $ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
            s"AS BIGINT) AS run FROM ${t.name} WHERE ${g.pred(t)}")
      case 6 => // set operation between two filtered slices
        val t = g.tbl()
        val c = g.pick(t.of('i')).name
        val op = g.pick(Seq("INTERSECT", "EXCEPT", "UNION", "UNION ALL"))
        (s"setop",
          s"SELECT $c FROM ${t.name} WHERE ${g.pred(t)} $op " +
            s"SELECT $c FROM ${t.name} WHERE ${g.pred(t)}")
      case 7 => // scalar subquery threshold
        val t = g.factTbl()
        val c = g.pick(t.of('i')).name
        val t2 = g.factTbl()
        val c2 = g.pick(t2.of('i')).name
        ("scalar_subquery",
          s"SELECT ${(t.keys :+ c).distinct.mkString(", ")} FROM ${t.name} WHERE " +
            s"CAST($c AS BIGINT) > (SELECT CAST(MIN($c2) AS BIGINT) + " +
            s"${g.int(5)} FROM ${t2.name} WHERE ${g.pred(t2)})")
      case 8 => // distinct projection
        val t = g.tbl()
        val cols = scala.util.Random.javaRandomToRandom(g.rnd)
          .shuffle(t.cols.filter(_.t != 'd').map(_.name)).take(1 + g.int(2))
        ("distinct",
          s"SELECT DISTINCT ${cols.mkString(", ")} FROM ${t.name} " +
            s"WHERE ${g.pred(t)}")
      case 9 => // multi-way FK chain join (+aggregate on the first hop)
        val chain = g.pick(chains)
        val hops = chain.take(2 + g.int(chain.length - 1)) // 2..len edges
        val first = tables.find(_.name == hops.head._1).get
        val last = tables.find(_.name == hops.last._3).get
        val aliases = ("t0" +: hops.indices.map(i => s"t${i + 1}")).toIndexedSeq
        val joins = hops.zipWithIndex.map { case ((_, lc, rt, rc), i) =>
          s"JOIN $rt ${aliases(i + 1)} ON ${aliases(i)}.$lc = ${aliases(i + 1)}.$rc"
        }.mkString(" ")
        val gks = g.groupKeys(last, aliases.last)
        val sel = gks.map { case (e, a) => s"$e AS $a" } ++ g.aggList(first, "t0")
        ("chain_join",
          s"SELECT ${sel.mkString(", ")} FROM ${first.name} t0 $joins " +
            s"WHERE ${g.pred(first, "t0")} " +
            s"GROUP BY ${gks.map(_._1).mkString(", ")}")
      case 10 => // conditional aggregation (CASE inside SUM)
        val t = g.factTbl()
        val gks = g.groupKeys(t)
        val sel = gks.map { case (e, a) => s"$e AS $a" } ++ Seq(
          s"CAST(SUM(CASE WHEN ${g.pred(t)} THEN 1 ELSE 0 END) AS BIGINT) AS hits",
          s"CAST(SUM(CASE WHEN ${g.pred(t)} THEN ${g.intExpr(t)} ELSE 0 END) AS BIGINT) AS cond_sum",
          "CAST(COUNT(*) AS BIGINT) AS cnt")
        ("conditional_agg",
          s"SELECT ${sel.mkString(", ")} FROM ${t.name} " +
            s"GROUP BY ${gks.map(_._1).mkString(", ")}")
      case 11 => // EXISTS / NOT EXISTS correlated semi/anti join
        val (ct, cc, pt, pc) = g.pick(fks)
        val child = tables.find(_.name == ct).get
        val parent = tables.find(_.name == pt).get
        val op = if (g.int(2) == 0) "EXISTS" else "NOT EXISTS"
        val cols = (parent.keys ++
          Seq(g.pick(parent.cols).name)).distinct.map("p." + _)
        ("exists_join",
          s"SELECT ${cols.mkString(", ")} FROM $pt p WHERE $op " +
            s"(SELECT 1 FROM $ct c WHERE c.$cc = p.$pc AND ${g.pred(child, "c")})" +
            (if (g.int(2) == 0) s" AND ${g.pred(parent, "p")}" else ""))
      case 12 => // IN / NOT IN subquery on a (non-null) key column
        val (ct, cc, pt, pc) = g.pick(fks)
        val child = tables.find(_.name == ct).get
        val parent = tables.find(_.name == pt).get
        val op = if (g.int(3) == 0) "NOT IN" else "IN"
        val cols = (child.keys ++ Seq(cc, g.pick(child.cols).name)).distinct
        ("in_subquery",
          s"SELECT ${cols.mkString(", ")} FROM $ct WHERE $cc $op " +
            s"(SELECT $pc FROM $pt WHERE ${g.pred(parent)}) " +
            s"AND ${g.pred(child)}")
      case 13 => // ROLLUP with GROUPING() level markers
        val t = g.factTbl()
        // Two keys with DISTINCT aliases (two draws can hit the same
        // column with different moduli — same alias would emit duplicate
        // output column names).
        val gks = {
          var ks = g.groupKeys(t).distinctBy(_._2)
          var guard = 0
          while (ks.size < 2 && guard < 8) {
            ks = (ks ++ g.groupKeys(t)).distinctBy(_._2); guard += 1
          }
          ks.take(2)
        }
        // Near-unreachable fallback when 8 redraws never produced two
        // distinct keys: a SINGLE-key rollup, not ROLLUP(k1, k1) —
        // duplicate grouping-set expansion and GROUPING() resolution
        // for a repeated expression are not guaranteed to agree across
        // engines, so the duplicated-key shape could only ever yield a
        // false-positive divergence.
        val (k1, a1) = gks.head
        val (keySel, rollupKeys) = gks match {
          case Seq(_, (k2, a2)) =>
            (Seq(s"$k1 AS $a1", s"$k2 AS $a2",
              s"CAST(GROUPING($k1) AS INTEGER) AS g1",
              s"CAST(GROUPING($k2) AS INTEGER) AS g2"), s"$k1, $k2")
          case _ =>
            (Seq(s"$k1 AS $a1",
              s"CAST(GROUPING($k1) AS INTEGER) AS g1"), k1)
        }
        val sel = keySel ++ Seq(
          "CAST(COUNT(*) AS BIGINT) AS cnt",
          s"CAST(SUM(${g.intExpr(t)}) AS BIGINT) AS s_ie")
        // HAVING COUNT(*) > 0 is a no-op on every non-empty grouping-set
        // row (each aggregates >= 1 input row) and exists ONLY for the
        // empty-input corner this fuzzer caught on its first gen-2 run:
        // the ANSI expansion of ROLLUP includes the () set, which
        // aggregates globally and yields one cnt=0 row over an empty
        // input (DuckDB does this); Spark's grouping-sets Expand+
        // Aggregate yields zero rows. Pinned in ExtraQueriesSpec
        // ("rollup over an EMPTY input"); the clause makes the SHAPE
        // portable without losing rollup coverage.
        ("rollup",
          s"SELECT ${sel.mkString(", ")} FROM ${t.name} WHERE ${g.pred(t)} " +
            s"GROUP BY ROLLUP($rollupKeys) HAVING COUNT(*) > 0")
      case 14 => // global ORDER BY + LIMIT top-k (full-row total order)
        val t = g.tbl()
        val ord = t.cols.map(_.name + " NULLS FIRST").mkString(", ")
        ("order_limit",
          s"SELECT ${t.cols.map(_.name).mkString(", ")} FROM ${t.name} " +
            s"WHERE ${g.pred(t)} ORDER BY $ord LIMIT ${1 + g.int(30)}")
      case 15 => // RANGE frames over a LOW-cardinality key (v4 corner):
        // peer groups are real, so RANGE CURRENT ROW spans all peers and
        // the running frame includes the whole tie group at once. Only
        // tie-INSENSITIVE aggregates (SUM/COUNT/MIN/MAX of frame
        // members) ride these frames — any per-row choice among peers
        // would be legitimately nondeterministic on both engines.
        val t = g.factTbl()
        val ic = g.pick(t.of('i')).name
        // COALESCE the order key: a NULL int column would otherwise form
        // a NULL peer group, and NULL-vs-value ordering inside RANGE
        // offset frames is a classic Spark-vs-oracle divergence surface
        // — this case stresses TIES, not NULL-frame semantics. The
        // sentinel joins the modulo ring as an ordinary tie value.
        val ordK =
          s"COALESCE(CAST($ic AS BIGINT), 0) % ${3 + g.int(8)}" // ties guaranteed
        val (gk, ga) = g.groupKeys(t).head
        val e = g.intExpr(t)
        val off = 1 + g.int(4)
        val sel = Seq(
          s"${t.keys.mkString(", ")}", s"$gk AS grp_$ga", s"$ordK AS ok",
          s"CAST(SUM($e) OVER (PARTITION BY $gk ORDER BY $ordK " +
            "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)" +
            " AS r_run",
          s"CAST(COUNT(*) OVER (PARTITION BY $gk ORDER BY $ordK " +
            "RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS peers",
          s"CAST(SUM($e) OVER (PARTITION BY $gk ORDER BY $ordK " +
            s"RANGE BETWEEN $off PRECEDING AND CURRENT ROW) AS BIGINT)" +
            " AS r_win",
          s"CAST(MIN($e) OVER (PARTITION BY $gk ORDER BY $ordK " +
            s"RANGE BETWEEN CURRENT ROW AND $off FOLLOWING) AS BIGINT)" +
            " AS r_min")
        ("range_frame",
          s"SELECT ${sel.mkString(", ")} FROM ${t.name} WHERE ${g.pred(t)}")
      case 16 => // decimal arithmetic + casts (v3 typed corner)
        // Every result column carries an EXPLICIT decimal type: + and *
        // follow the standard (s1+s2 / max-scale) rules both engines
        // share. DIVISION is deliberately absent — Spark's and DuckDB's
        // published result-scale rules for '/' genuinely differ, so it
        // can never be a same-type comparison. Down-scaling goes
        // through ROUND(x, 1) (half away from zero on BOTH engines),
        // never a bare down-scale CAST: this generator's first v3 run
        // caught that Spark's decimal→decimal cast ROUNDS half-up while
        // DuckDB's TRUNCATES toward zero (0.15 → 0.2 vs 0.1) — a REAL
        // cross-engine semantics difference, pinned as a spec in
        // ExtraQueriesSpec ("decimal down-scale cast rounds half-up").
        val t = g.pick(tables.filter(_.of('d').nonEmpty))
        val d1 = g.pick(t.of('d')).name
        val d2 = g.pick(t.of('d')).name
        val i1 = g.pick(t.of('i')).name
        val sel = (t.keys ++ Seq(
          s"CAST($d1 AS DECIMAL(18,2)) AS dec2",
          // exact 2-dec source → 1-dec via ROUND exercises decimal
          // rounding portably (see the cast-vs-truncate note above)
          s"CAST(ROUND(CAST($d1 AS DECIMAL(18,2)), 1) AS DECIMAL(18,1)) " +
            "AS dec1",
          s"CAST(CAST($d1 AS DECIMAL(18,2)) + CAST($d2 AS DECIMAL(18,2)) " +
            s"AS DECIMAL(20,2)) AS dsum",
          s"CAST(CAST($d1 AS DECIMAL(18,2)) * CAST(${1 + g.int(9)} " +
            s"AS DECIMAL(4,0)) AS DECIMAL(24,2)) AS dmul",
          s"CAST(CAST($i1 AS DECIMAL(18,0)) - CAST($d2 AS DECIMAL(18,2)) " +
            s"AS DECIMAL(20,2)) AS ddiff")).distinct
        ("decimal",
          s"SELECT ${sel.mkString(", ")} FROM ${t.name} WHERE ${g.pred(t)}")
      case 17 => // decimal aggregate (SUM over exact decimals)
        val t = g.pick(tables.filter(t =>
          t.of('d').nonEmpty && Set("orders", "lineitem", "customer")(t.name)))
        val d1 = g.pick(t.of('d')).name
        val gks = g.groupKeys(t)
        val sel = gks.map { case (e, a) => s"$e AS $a" } ++ Seq(
          s"CAST(SUM(CAST($d1 AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS dsum",
          s"MIN(CAST($d1 AS DECIMAL(18,2))) AS dmin",
          s"MAX(CAST($d1 AS DECIMAL(18,2))) AS dmax",
          "CAST(COUNT(*) AS BIGINT) AS cnt")
        ("decimal_agg",
          s"SELECT ${sel.mkString(", ")} FROM ${t.name} WHERE ${g.pred(t)} " +
            s"GROUP BY ${gks.map(_._1).mkString(", ")}")
      case 18 => // timestamp/interval arithmetic + DATE_TRUNC buckets
        val t = g.pick(tables.filter(_.of('t').nonEmpty))
        val ts = g.pick(t.of('t')).name
        val unit = g.pick(Seq("DAY", "MONTH"))
        val nU = 1 + g.int(if (unit == "DAY") 90 else 11)
        val bucket = g.pick(Seq("month", "year", "quarter", "week"))
        val cmp = s"TIMESTAMP '${1995 + g.int(6)}-0${1 + g.int(9)}-15 00:00:00'"
        val sel = Seq(
          s"CAST(DATE_TRUNC('$bucket', $ts) AS DATE) AS bkt",
          "CAST(COUNT(*) AS BIGINT) AS cnt",
          // shifted-bucket marker: month arithmetic clamps end-of-month
          // identically (add_months semantics) or this diverges loudly
          s"CAST(MIN(CAST($ts + INTERVAL $nU $unit AS DATE)) AS DATE) AS mn_shift",
          s"CAST(MAX(EXTRACT(${g.pick(Seq("MONTH", "DAY", "QUARTER"))} " +
            s"FROM $ts)) AS INTEGER) AS mx_part")
        ("interval_arith",
          s"SELECT ${sel.mkString(", ")} FROM ${t.name} " +
            s"WHERE $ts + INTERVAL $nU $unit ${g.pick(Seq("<=", ">"))} $cmp " +
            s"GROUP BY DATE_TRUNC('$bucket', $ts)")
      case 19 => // LIKE/_-wildcard/string-order edges + NULL 3VL in IN
        val (ct, cc, pt, pc) = g.pick(fks)
        val child = tables.find(_.name == ct).get
        val parent = tables.find(_.name == pt).get
        val sc = g.pick(child.of('s')).name
        val letter = ('a' + g.int(26)).toChar
        val strPred = g.int(4) match {
          case 0 => s"$sc LIKE '%${letter}_%'" // _ wildcard after a literal
          case 1 => s"$sc NOT LIKE '%$letter%'"
          case 2 => s"$sc ${g.pick(Seq("<", ">="))} '${letter.toUpper}'"
          case _ => s"UPPER($sc) LIKE '%${letter.toUpper}%'"
        }
        if (g.int(2) == 0) {
          // NULL-bearing NOT IN subquery: NULLIF plants a NULL, so NOT
          // IN must yield ZERO rows under three-valued logic on both
          // engines whenever the subquery is non-empty; IN is unfazed.
          val op = if (g.int(3) == 0) "NOT IN" else "IN"
          val nullAt = g.int(1000)
          ("null_3vl",
            s"SELECT ${(child.keys :+ cc).distinct.mkString(", ")} " +
              s"FROM $ct WHERE $cc $op " +
              s"(SELECT NULLIF($pc, $nullAt) FROM $pt WHERE ${g.pred(parent)}) " +
              s"AND $strPred")
        } else {
          // IN-list carrying an explicit NULL: matches stay true, the
          // rest evaluate UNKNOWN and filter out — never an error
          val ic = g.pick(child.of('i')).name
          val vals = Seq.fill(2)(g.int(2000)).distinct.mkString(", ")
          ("null_3vl",
            s"SELECT ${(child.keys :+ ic).distinct.mkString(", ")}, " +
              s"CASE WHEN $strPred THEN 'y' ELSE 'n' END AS sp " +
              s"FROM $ct WHERE $ic IN ($vals, NULL)")
        }
      case 20 => // bounded ROWS frames + first/last_value (v4 corner):
        // full-row total order makes ROWS frames deterministic even on
        // nominal-key duplicates; first/last_value read the ORDER key
        // itself so tie members are interchangeable by construction.
        val t = g.factTbl()
        val (gk, ga) = g.groupKeys(t).head
        val e = g.intExpr(t)
        val ord = t.cols.map(_.name + " NULLS FIRST").mkString(", ")
        val p = 1 + g.int(3); val f = g.int(3)
        val lead = t.keys.head
        val sel = Seq(
          s"${t.cols.map(_.name).mkString(", ")}", s"$gk AS grp_$ga",
          s"CAST(SUM($e) OVER (PARTITION BY $gk ORDER BY $ord " +
            s"ROWS BETWEEN $p PRECEDING AND $f FOLLOWING) AS BIGINT)" +
            " AS w_sum",
          s"CAST(COUNT(*) OVER (PARTITION BY $gk ORDER BY $ord " +
            s"ROWS BETWEEN $p PRECEDING AND $f FOLLOWING) AS BIGINT)" +
            " AS w_cnt",
          s"CAST(FIRST_VALUE(CAST($lead AS BIGINT)) OVER (PARTITION BY $gk " +
            s"ORDER BY $ord ROWS BETWEEN $p PRECEDING AND CURRENT ROW) " +
            "AS BIGINT) AS fv",
          s"CAST(LAST_VALUE(CAST($lead AS BIGINT)) OVER (PARTITION BY $gk " +
            s"ORDER BY $ord ROWS BETWEEN CURRENT ROW AND $f FOLLOWING) " +
            "AS BIGINT) AS lv",
          s"CAST(LAG(CAST($lead AS BIGINT), ${1 + g.int(2)}) OVER " +
            s"(PARTITION BY $gk ORDER BY $ord) AS BIGINT) AS lg")
        ("rows_frame",
          s"SELECT ${sel.mkString(", ")} FROM ${t.name} WHERE ${g.pred(t)}")
      case 21 => // explicit GROUPING SETS (v4 corner): overlapping
        // columns, the () set, and (1-in-4) a DUPLICATE set — ANSI says
        // a repeated set contributes its rows again; a divergence here
        // becomes a pinned spec. HAVING COUNT(*) > 0 guards the
        // empty-input () corner exactly like the ROLLUP family.
        val t = g.factTbl()
        val gks = {
          var ks = g.groupKeys(t).distinctBy(_._2)
          var guard = 0
          while (ks.size < 2 && guard < 8) {
            ks = (ks ++ g.groupKeys(t)).distinctBy(_._2); guard += 1
          }
          ks.take(2)
        }
        if (gks.size < 2) {
          // degenerate redraw fallback: single-key grouping sets
          val (k1, a1) = gks.head
          ("grouping_sets",
            s"SELECT $k1 AS $a1, CAST(GROUPING($k1) AS INTEGER) AS g1, " +
              s"CAST(COUNT(*) AS BIGINT) AS cnt FROM ${t.name} " +
              s"WHERE ${g.pred(t)} GROUP BY GROUPING SETS (($k1), ()) " +
              "HAVING COUNT(*) > 0")
        } else {
          val Seq((k1, a1), (k2, a2)) = gks
          // the (k1, k2) set is always present: the SELECT list and the
          // GROUPING() markers reference both keys, which is only valid
          // when each appears in at least one grouping set
          val chosen = {
            val extras = Seq(s"($k1)", s"($k2)", "()")
              .filter(_ => g.int(3) > 0)
            val subset = s"($k1, $k2)" +: extras
            if (g.int(4) == 0) subset :+ subset(g.int(subset.size))
            else subset // 1-in-4: a DUPLICATE set (ANSI: rows emitted twice)
          }
          val sel = Seq(s"$k1 AS $a1", s"$k2 AS $a2",
            s"CAST(GROUPING($k1) AS INTEGER) AS g1",
            s"CAST(GROUPING($k2) AS INTEGER) AS g2",
            "CAST(COUNT(*) AS BIGINT) AS cnt",
            s"CAST(SUM(${g.intExpr(t)}) AS BIGINT) AS s_ie")
          ("grouping_sets",
            s"SELECT ${sel.mkString(", ")} FROM ${t.name} " +
              s"WHERE ${g.pred(t)} " +
              s"GROUP BY GROUPING SETS (${chosen.mkString(", ")}) " +
              "HAVING COUNT(*) > 0")
        }
      case _ => // CTE aggregate joined back to its base table
        val t = g.factTbl()
        val (gk, _) = g.groupKeys(t).head
        val cols = (t.keys ++ Seq(g.pick(t.cols).name)).distinct
        ("cte_join_back",
          s"WITH grp AS (SELECT $gk AS k, CAST(COUNT(*) AS BIGINT) AS c " +
            s"FROM ${t.name} WHERE ${g.pred(t)} GROUP BY $gk) " +
            s"SELECT ${cols.mkString(", ")}, grp.c FROM ${t.name} " +
            s"JOIN grp ON $gk = grp.k WHERE ${g.pred(t)}")
    }
  }

  // --------------------------------------------------------------------
  // v4 Spark-vs-Spark family: batch-vs-stream equivalence on the
  // watermarked operators. Finite input landed as ONE file +
  // Trigger.AvailableNow = a single micro-batch, so no row is ever late
  // against the watermark and the streaming result must equal the batch
  // result of the SAME declarative plan — the invariant the fixed
  // q_stream_* oracle entries rely on, stress-tested here across random
  // (window, slide, gap, key, delay) draws. Returns divergence records.
  private def streamEquivalence(
      spark: SparkSession, sfDir: String, g: Gen,
      rounds: Int): Seq[String] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.{DataFrame, Row}
    val inDir = graft.Scratch.landedDir(s"fuzz_events:$sfDir") { p =>
      graft.Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .coalesce(1).write.mode("overwrite").parquet(p)
    }
    val divergences = Seq.newBuilder[String]
    var runId = 0
    def runStreamLocal(df: DataFrame, mode: String): Array[Row] = {
      runId += 1
      val nm = s"fz_stream_$runId"
      val q = df.writeStream.format("memory").queryName(nm).outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val rows = spark.table(nm).collect()
      spark.catalog.dropTempView(nm)
      rows
    }
    def src(streaming: Boolean): DataFrame =
      (if (streaming) graft.streaming.EventStreams.eventStream(spark, inDir)
       else spark.read.parquet(inDir))
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
    (0 until rounds).foreach { i =>
      g.int(3) match {
        case 0 => // tumbling/sliding windowed aggregate
          val w = Seq(30, 60, 120, 240)(g.int(4))
          val slide = if (g.int(2) == 0) w else w / Seq(2, 3)(g.int(2))
          val delay = Seq(5, 10, 30)(g.int(3))
          val key =
            if (g.int(2) == 0) col("event_type").cast("string")
            else (col("user_id") % 8).cast("string")
          def plan(df: DataFrame, streaming: Boolean): DataFrame = {
            val in = if (streaming)
              df.withWatermark("ts", s"$delay minutes") else df
            in.groupBy(
                window(col("ts"), s"$w minutes", s"$slide minutes").as("w"),
                key.as("k"))
              .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
              .select(unix_micros(col("w.start")).as("ws"), col("k"),
                col("n"), col("s"))
          }
          val sRes = runStreamLocal(plan(src(true), true), "update")
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
              r.getLong(3))).toSet
          val bRes = plan(src(false), false).collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
              r.getLong(3))).toSet
          if (sRes != bRes) divergences +=
            s"window w=$w slide=$slide delay=$delay round=$i: " +
              s"stream-only=${sRes.diff(bRes).take(2)} " +
              s"batch-only=${bRes.diff(sRes).take(2)}"
        case 1 => // session_window aggregate (same expression both modes;
          // update output is unsupported for streaming session windows —
          // complete mode re-emits everything, which for the single
          // AvailableNow batch IS the final merged session set)
          val gap = Seq(10, 30, 60)(g.int(3))
          val delay = Seq(5, 15)(g.int(2))
          def plan(df: DataFrame, streaming: Boolean): DataFrame = {
            val in = if (streaming)
              df.withWatermark("ts", s"$delay minutes") else df
            in.groupBy(session_window(col("ts"), s"$gap minutes").as("w"),
                col("user_id"))
              .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
              .select(unix_micros(col("w.start")).as("ws"),
                unix_micros(col("w.end")).as("we"), col("user_id"),
                col("n"), col("s"))
          }
          val sRes = runStreamLocal(plan(src(true), true), "complete")
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4))).toSet
          val bRes = plan(src(false), false).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4))).toSet
          if (sRes != bRes) divergences +=
            s"session gap=$gap delay=$delay round=$i: " +
              s"stream-only=${sRes.diff(bRes).take(2)} " +
              s"batch-only=${bRes.diff(sRes).take(2)}"
        case _ => // watermark-bounded streaming dedup vs batch distinct:
          // WHICH row survives per key is arrival-order-dependent, so
          // the invariant is the KEY SET, not the surviving rows.
          val delay = Seq(5, 30)(g.int(2))
          val keys =
            if (g.int(2) == 0) Seq("user_id", "event_type")
            else Seq("event_type")
          val sRes = runStreamLocal(
            src(true).withWatermark("ts", s"$delay minutes")
              .dropDuplicates("ts" +: keys), "append")
            .map(r => keys.map(k => String.valueOf(r.getAs[Any](k)))
              .mkString("|") + "|" + r.getAs[java.sql.Timestamp]("ts"))
            .toSet
          val bRes = src(false).dropDuplicates("ts" +: keys).collect()
            .map(r => keys.map(k => String.valueOf(r.getAs[Any](k)))
              .mkString("|") + "|" + r.getAs[java.sql.Timestamp]("ts"))
            .toSet
          if (sRes != bRes) divergences +=
            s"dedup keys=${keys.mkString(",")} delay=$delay round=$i: " +
              s"|stream|=${sRes.size} |batch|=${bRes.size} " +
              s"stream-only=${sRes.diff(bRes).take(2)} " +
              s"batch-only=${bRes.diff(sRes).take(2)}"
      }
    }
    divergences.result()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/fuzz_out")
    val n = args.lift(2).map(_.toInt).getOrElse(200)
    val seed = args.lift(3).map(_.toLong).getOrElse(11L)
    val spark = graft.Bench.session()
    graft.Tables.registerAll(spark, sfDir)
    new java.io.File(outDir).mkdirs()

    val g = new Gen(seed)
    val sqls = (0 until n).map { i => val (k, s) = shape(g)
      (f"f_${k}_$i%04d", k, s) }
    val kindCounts = sqls.groupBy(_._2).map { case (k, v) => k -> v.size }
    val failures = Seq.newBuilder[(String, String)]
    sqls.foreach { case (name, _, sql) =>
      try spark.sql(sql).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        failures += name -> (e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("").take(160))
        System.err.println(s"[fuzz] $name SPARK-SIDE FAILURE: $sql")
      }
    }
    val failed = failures.result()
    val okSqls = sqls.filterNot(s => failed.exists(_._1 == s._1))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      okSqls.map { case (name, _, sql) => s"${Json.str(name)}: ${Json.str(sql)}" }
        .mkString("{", ",", "}"))
    val streamRounds = args.lift(4).map(_.toInt).getOrElse(9)
    val streamDiv =
      if (streamRounds > 0) streamEquivalence(spark, sfDir, g, streamRounds)
      else Nil
    streamDiv.foreach(d => System.err.println(s"[fuzz] STREAM DIVERGENCE: $d"))
    println(s"""{"gen":$GenVersion,"seed":$seed,"n":$n,"sf":"$sfDir","spark_failures":${failed.size},""" +
      s""""kinds":{${kindCounts.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")}},""" +
      s""""stream_rounds":$streamRounds,"stream_divergences":${streamDiv.size},""" +
      s""""stream_diffs":[${streamDiv.map(Json.str).mkString(",")}],""" +
      s""""failed":[${failed.map(f => Json.str(f._1) + ":" + Json.str(f._2)).mkString(",")}]}""")
    spark.stop()
    if (failed.nonEmpty || streamDiv.nonEmpty) sys.exit(1)
  }
}
