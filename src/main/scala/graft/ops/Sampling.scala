package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus sampling for training-data pipelines.
  *
  * The workhorse is *deterministic hash sampling*: membership is a pure
  * function of the row's id, so samples are reproducible across runs,
  * engines, and cluster sizes, subsets nest (a 5% sample is contained in
  * the 10% sample), and resuming a pipeline never re-rolls the dice.
  * RNG-based sampling (sample/sampleBy) is kept for statistical use but
  * is seed+partitioning dependent.
  */
object Sampling {

  /** Stable bucket in [0, buckets) from the id's md5. */
  def hashBucket(id: Column, buckets: Int = 100): Column =
    graft.functions.HashExprs.md5Long(id.cast("string"), 8) % buckets

  /** Deterministic pct% sample (0-100) keyed on `idCol`. */
  def deterministicSample(df: DataFrame, idCol: String, pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, "pct in [0,100]")
    df.filter(hashBucket(col(idCol)) < pct)
  }

  /** Deterministic per-stratum sampling: fractions as percent per value
    * of `strataCol` (missing strata keep nothing). */
  def deterministicStratified(
      df: DataFrame, idCol: String, strataCol: String,
      pctByStratum: Map[String, Int]): DataFrame = {
    val pctExpr = pctByStratum.foldLeft(lit(0)) { case (acc, (k, p)) =>
      when(col(strataCol) === k, p).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol)) < pctExpr)
  }

  /** Stable uniform fraction in [0, 1) from the id's md5 (first 8 hex
    * digits — exact in a double, engine-portable). */
  def hashFrac(id: Column): Column =
    graft.functions.HashExprs.md5Long(id.cast("string"), 8)
      .cast("double") / lit(4294967296.0)

  /** Deterministic importance sampling: keep each row with probability
    * `weight` (per-row column, clamped to [0, 1]; NaN/NULL keep
    * nothing — an unknown weight must not admit rows). Same
    * reproducibility contract as [[deterministicSample]] — membership is
    * a pure function of id and weight, so re-runs, engines, and cluster
    * sizes agree. */
  def weightedSample(df: DataFrame, idCol: String, weight: Column): DataFrame = {
    val w = weight.cast("double")
    // NaN guard is explicit: Spark orders NaN above all doubles, so
    // least(greatest(NaN, 0), 1) would otherwise clamp NaN to 1.0.
    val clamped = when(w.isNull || isnan(w), lit(0.0))
      .otherwise(least(greatest(w, lit(0.0)), lit(1.0)))
    df.filter(hashFrac(col(idCol)) < clamped)
  }

  /** Source-mixture rebalancing — the training-data "data mixing" step:
    * downsample strata so the kept corpus moves toward `targetShares`
    * (shares of the ORIGINAL total; no upsampling, rates cap at 1).
    * rate_s = min(1, share_s · N / n_s). One count aggregate; the rates
    * ride back into the plan as literals, so the filter is a pure map
    * pass. Strata not named in the target are dropped. */
  def rebalance(
      df: DataFrame, idCol: String, strataCol: String,
      targetShares: Map[String, Double]): DataFrame = {
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val total = counts.values.sum
    val rateExpr = targetShares.foldLeft(lit(0.0)) { case (acc, (k, share)) =>
      val n = counts.getOrElse(k, 0L)
      val rate = if (n == 0) 0.0 else math.min(1.0, share * total / n)
      when(col(strataCol) === k, lit(rate)).otherwise(acc)
    }
    weightedSample(df, idCol, rateExpr)
  }

  /** Temperature-based source mixing at τ = 1/2 — the multilingual /
    * multi-source LLM recipe (mT5, XLM-R: sample stratum s with
    * probability ∝ n_s^τ, τ < 1 upweighting small strata): keep each
    * row of stratum s with rate min(1, budget·√n_s / Σ√n / n_s), so
    * kept counts target budget·√n_s/Σ√n — small sources keep a larger
    * share of themselves than large ones. τ is FIXED at 1/2 because
    * sqrt is IEEE-exactly-rounded on every engine while pow(x, τ) is
    * libm-dependent — the one τ where rates are bit-reproducible
    * cross-engine (the [[hashFrac]] determinism contract; other τ
    * would need scaled-integer root extraction).
    *
    * The per-stratum rate math runs driver-side over the stratum-count
    * collect (bounded by stratum cardinality — the [[rebalance]]
    * precedent), folding Σ√n in NULL-first, ascending-key order so an
    * external oracle reproduces the exact double. Rates ride back as
    * literals: the filter is a pure map pass. A NULL stratum is a
    * legitimate group (matched null-safely); NULL ids have no stable
    * sampling identity and keep nothing (the [[deterministicSample]]
    * rule). Requires budget < 2^53 (exact in a double).
    *
    * Output: df's rows (kept only) + p_scaled (floor 1e12-scaled kept
    * rate — the auditable mixture weight). */
  def temperatureMix(
      df: DataFrame, idCol: String, strataCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0 && budget < (1L << 53), "budget in [0, 2^53)")
    // Stratum values stay NATIVE for rate matching (a toString
    // round-trip would silently mis-match non-string strata — lit()
    // fails loudly on an unsupported type instead); the string form is
    // used ONLY to fix the fold order. That order is NULL first, then
    // ascending UTF-8 BYTE order — DuckDB's VARCHAR ORDER BY — because
    // Scala's default String ordering (UTF-16 code units) disagrees on
    // supplementary characters and would shift the Σ√n fold's last ulp.
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.get(0)), r.getLong(1)))
      .sortWith {
        case ((None, _), _) => true
        case (_, (None, _)) => false
        case ((Some(a), _), (Some(b), _)) =>
          java.util.Arrays.compareUnsigned(
            a.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            b.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
      }
    if (counts.isEmpty) return df.withColumn("p_scaled", lit(0L)).limit(0)
    // Σ√n as a left fold in the sorted order above — the oracle's
    // list_reduce twin. 0.0 + w0 == w0 exactly, so the seed is benign.
    val sumW = counts.foldLeft(0.0) { case (acc, (_, n)) =>
      acc + math.sqrt(n.toDouble)
    }
    val rateExpr = counts.foldLeft(lit(0.0)) { case (acc, (k, n)) =>
      // exact left-assoc op chain, mirrored in SQL: ((B·w)/Σw)/n
      val rate = math.min(1.0,
        budget.toDouble * math.sqrt(n.toDouble) / sumW / n.toDouble)
      val cond = k.map(v => col(strataCol) <=> lit(v))
        .getOrElse(col(strataCol).isNull)
      when(cond, lit(rate)).otherwise(acc)
    }
    df.withColumn("__p", rateExpr)
      .filter(hashFrac(col(idCol)) < col("__p"))
      .withColumn("p_scaled", floor(col("__p") * lit(1e12)).cast("long"))
      .drop("__p")
  }

  /** Exact per-stratum QUOTA sampling — "exactly N docs per source"
    * (eval-set construction, per-class balancing): keep the `quota`
    * rows of each stratum with the smallest md5 order keys — a
    * deterministic draw, reproducible across runs/engines/cluster
    * sizes, unlike rate-based sampling ([[rebalance]]/
    * [[temperatureMix]]) which hits the target only in expectation.
    * Strata smaller than the quota keep everything.
    *
    * Formulated as the bounded topk_by_score aggregate (the
    * [[graft.ops.Curation.domainCap]] shape), NOT a per-stratum
    * ranking window: each map task ships ≤ quota rows per stratum
    * through the shuffle, so one giant stratum costs its quota, not
    * its row count. Order keys are 52-bit md5 longs ("qsamp:{id}"),
    * NEGATED and fed to the aggregate's bigint-score mode (exact long
    * comparison — no float anywhere); ties (key collisions) break
    * toward the smaller id inside the aggregate, matching the oracle's
    * (ord, id) sort. A NULL stratum is a legitimate group; NULL ids
    * carry no draw identity.
    *
    * Output: stratumCol, rank (1-based within stratum, in draw
    * order), idCol. Join back on id for full rows. */
  def quotaSample(
      df: DataFrame, idCol: String, stratumCol: String,
      quota: Int): DataFrame = {
    require(quota > 0, "quota must be positive")
    val ord = graft.functions.HashExprs.md5Long(
      concat(lit("qsamp:"), col(idCol).cast("string")), 13)
    df.filter(col(idCol).isNotNull)
      .groupBy(col(stratumCol))
      .agg(call_function("topk_by_score", -ord, col(idCol), lit(quota))
        .as("tk"))
      .select(col(stratumCol), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col(stratumCol), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as(idCol))
  }

  /** Priority sampling (Duffield, Lund & Thorup 2007, "Priority
    * sampling for estimation of arbitrary subset sums", JACM 54(6)):
    * the weighted-without-replacement scheme whose k-sample supports
    * UNBIASED subset-sum estimation — the right way to keep "k docs,
    * long ones proportionally likelier" while still being able to
    * estimate corpus token totals from the sample. Each row draws
    * priority = u div w (u a fixed 52-bit md5 draw on the id, w its
    * integer weight); the k SMALLEST priorities win, and each winner's
    * weight estimator is ŵ = max(w, τ) with τ the (k+1)-th smallest
    * priority — Σ ŵ over the sample is unbiased for Σ w (the paper's
    * scheme in exact integer arithmetic: engine-identical, no RNG
    * state).
    *
    * Scale shape: priorities are a pure map; selection is ONE bounded
    * topk_by_score aggregate over negated longs (each map task ships
    * ≤ k+1 rows — corpus-size-independent memory, exact comparison,
    * ties to smaller id). The τ threshold comes out of the same
    * (k+1)-array — no second pass, no driver collect. Rows with NULL
    * id or NULL/non-positive weight carry no mass and are excluded
    * (a zero weight must never be sampled).
    *
    * Output: rank (1-based by priority), idCol, weight, priority,
    * est_weight (= max(w, τ); τ undefined and est = w when the
    * population has ≤ k rows — the sample is then exhaustive). */
  def prioritySample(
      df: DataFrame, idCol: String, weightCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val u = graft.functions.HashExprs.md5Long(
      concat(lit("prio:"), col(idCol).cast("string")), 13)
    val keyed = df
      .filter(col(idCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol).cast("long") > 0L)
      .select(col(idCol), col(weightCol).cast("long").as("__w"),
        u.as("__u"))
      // IntegralDivide (`div`), never `/`: Column `/` on longs is DOUBLE
      // division whose rounded quotient can land one off the exact
      // integer quotient (the rrfFuse lesson)
      .withColumn("__p", expr("__u div __w")).drop("__u")
    // k+1 smallest priorities in ONE bounded aggregate: the winner set
    // and the estimator threshold come out together
    val top = keyed
      .agg(call_function("topk_by_score", -col("__p"), col(idCol),
        lit(k + 1)).as("tk"))
      .select(col("tk"),
        // τ: the (k+1)-th smallest priority, when it exists
        when(size(col("tk")) === k + 1,
          -col("tk").getItem(k).getField("score")).as("__tau"))
    top.select(posexplode(col("tk")).as(Seq("pos", "e")), col("__tau"))
      .filter(col("pos") < k)
      .select((col("pos") + 1).cast("int").as("rank"),
        col("e.id").as(idCol), (-col("e.score")).as("priority"),
        col("__tau"))
      .join(keyed.select(col(idCol), col("__w")), Seq(idCol))
      .select(col("rank"), col(idCol), col("__w").as("weight"),
        col("priority"),
        greatest(col("__w"), col("__tau")).as("est_weight"))
  }
}
