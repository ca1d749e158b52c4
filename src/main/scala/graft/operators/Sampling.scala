package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.hash60

/**
 * Deterministic sampling for training-data pipelines. `Dataset.sample` is
 * seed-dependent AND partitioning-dependent — rerun the job with a
 * different split layout and you get a different corpus. Hash-slice
 * sampling keys membership on a content-stable hash of the ID alone, so
 * the same row is in or out on every engine, every layout, every rerun —
 * which also makes it oracle-checkable and incrementally stable (new data
 * doesn't resample old data). Map-only: no shuffle, no state.
 */
object Sampling {

  /** Membership of the `permille`‰ hash slice for this id (0 ≤ p ≤ 1000).
    * The md5-derived hash60 is uniform over ids and engine-reproducible. */
  def hashSlice(id: Column, permille: Int): Column =
    hash60(id.cast("string")) % 1000L < permille.toLong

  /** Uniform deterministic sample: keep the `permille`‰ slice. */
  def sample(df: DataFrame, idCol: String, permille: Int): DataFrame =
    df.where(hashSlice(col(idCol), permille))

  /**
   * Stratified deterministic sample: per-stratum keep rates (‰), e.g.
   * rebalancing languages or sources before training. Strata not in
   * `rates` fall back to `defaultPermille`.
   */
  def stratified(df: DataFrame, idCol: String, strataCol: String,
                 rates: Map[String, Int], defaultPermille: Int): DataFrame = {
    val rate = rates.foldLeft(lit(defaultPermille)) { case (acc, (s, p)) =>
      when(col(strataCol) === s, lit(p)).otherwise(acc)
    }
    df.where(hash60(col(idCol).cast("string")) % 1000L < rate.cast("long"))
  }

  /**
   * Deterministic per-stratum QUOTA: keep exactly min(cap, stratum size)
   * rows per stratum — the data-mixing primitive when targets are
   * absolute document COUNTS (tokens-per-language budgets) rather than
   * rates. Membership is the `cap` smallest content-stable hashes of the
   * stratum (ties by id), so the kept set is layout/rerun-stable and
   * shrinking a cap yields a subset of the larger sample — budgets can be
   * tightened without resampling.
   *
   * Scale: one shuffle on the stratum; the rank-≤cap filter plans as a
   * WindowGroupLimit, so each map task pre-prunes to its local top-cap
   * before the exchange — the shuffle carries O(strata × cap), not the
   * corpus.
   */
  def quotaPerStratum(df: DataFrame, idCol: String, strataCol: String,
                      caps: Map[String, Int], defaultCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = caps.foldLeft(lit(defaultCap)) { case (acc, (s, n)) =>
      when(col(strataCol) === s, lit(n)).otherwise(acc)
    }
    val w = Window.partitionBy(col(strataCol))
      .orderBy(hash60(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= cap.cast("long"))
      .drop("__rk")
  }

  /**
   * Fractional-epoch domain mixing — the training-mixture primitive when
   * targets are per-stratum sampling RATES (epochs), not counts: weight
   * 2.25 replays every row twice and a deterministic 25% slice a third
   * time; weight 0.5 keeps half the rows once; weight 0 drops the
   * stratum. The fractional slice is the content-stable hash of the id
   * (quantized to milli-epochs), so membership is layout/rerun-stable and
   * raising a weight only ADDS copies — mixtures can be retuned without
   * reshuffling what's already scheduled.
   *
   * Scale: map-only — a per-row copy count and an `explode(sequence)`;
   * no shuffle, output size = Σ weights × stratum sizes, exactly what a
   * mixture must materialize. Output: input columns + `epoch` (0-based
   * replay index).
   */
  /**
   * Deterministic global training shuffle — the write-side ordering
   * primitive: every row gets a shard (content-stable hash mod N) and a
   * dense 0-based position within its shard (hash order, id tie-break).
   * The resulting (shard, pos) is a reproducible pseudo-random
   * permutation of the corpus: independent of layout, partition count,
   * or rerun — the property seed-based `orderBy(rand)` cannot give — so
   * a training run can be resumed or exactly re-created from the data
   * alone.
   *
   * Scale: ONE shuffle on the shard id (uniform by construction — no
   * skew), per-shard `row_number` windows run on N-way parallel
   * partitions; no global sort and no single-partition stage. Shard
   * count is the parallelism floor — pick ≥ the writer parallelism.
   */
  def shardAssignment(df: DataFrame, idCol: String, numShards: Int): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(hash60(col(idCol).cast("string")), col(idCol))
    df.withColumn("shard", pmod(hash60(col(idCol).cast("string")), lit(numShards.toLong)))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
  }

  /**
   * Per-stratum TOKEN budgets — quota sampling in the unit that actually
   * matters for a training mixture: keep documents in content-stable hash
   * order until the stratum's cumulative token count reaches its budget;
   * the first document CROSSING the budget is included (so every stratum
   * with any data meets its budget). Same nesting property as
   * `quotaPerStratum`: shrinking a budget keeps a prefix of the same
   * hash order — a subset — never a resample.
   *
   * Scale: one shuffle on the stratum; the running sum is a partitioned
   * window (no single-partition stage). Token counts arrive as a column
   * (computed map-side), so the pass over text happens before the
   * exchange and only (id, stratum, count) shuffles. Like
   * `Chunking.packSequences`, the parallelism axis is the STRATUM — a
   * running sum is inherently sequential within one. With few, huge
   * strata, sub-shard first (stratum × hash-bucket with per-bucket
   * budgets) — the nesting property keeps sub-shard unions exact.
   *
   * CAUTION — `largeInput = None` (the default) runs `df.count()`, an
   * EAGER action that re-executes the caller's upstream plan once per
   * call: cheap for a pruned parquet scan, a silent recompute for a
   * derived/joined input. Call sites with non-trivial upstreams should
   * pass `largeInput` explicitly (as `crawlFunnel` does) or cache the
   * input first.
   */
  def tokenBudgetPerStratum(df: DataFrame, idCol: String, strataCol: String,
                            tokenCol: String, budgets: Map[String, Long],
                            defaultBudget: Long,
                            largeInput: Option[Boolean] = None): DataFrame = {
    val budget = budgets.foldLeft(lit(defaultBudget)) { case (acc, (s, n)) =>
      when(col(strataCol) === s, lit(n)).otherwise(acc)
    }
    val twoPhase = largeInput.getOrElse(df.count() > TwoPhaseThreshold)
    strataRunningSum(df, idCol, strataCol, tokenCol, "__cumb", twoPhase)
      .where(col("__cumb") < budget)
      .drop("__cumb")
  }

  /** Input size past which per-stratum running sums switch to the
    * two-phase distributed form: below it a single sort task per stratum
    * is cheaper than the extra aggregate + broadcast join; above it one
    * stratum can be half the corpus — at 100 TB a per-stratum window is a ~10⁹-row
    * single-task sort, the exact shape `Ids.denseIds`' two-phase rank
    * exists to avoid. */
  val TwoPhaseThreshold: Long = 10L * 1000 * 1000

  /** Range-bucket count for the two-phase running sum: the top 8 bits of
    * the 60-bit order hash — 256 ordered slices per stratum, so the
    * bucket-sum table is ≤ 256·|strata| rows (always broadcastable) and
    * the widest single sort is ~1/256 of the largest stratum. */
  private val BudgetBuckets = 256

  /**
   * EXCLUSIVE per-stratum running sum of `tokenCol` in content-stable
   * (hash60(id), id) order — the primitive under every token-budget
   * window (q80, the crawl funnel's budget stage). Emits `cumCol` =
   * sum of all strictly-preceding rows in the stratum (0 for the first).
   *
   * `twoPhase = false`: one partitioned window — a single sort task PER
   * STRATUM, fine while strata fit a task. `twoPhase = true`: the
   * distributed form, exact by construction —
   *
   *  1. bucket each row by the top 8 bits of its order hash (bucket
   *     boundaries respect the (hash, id) order: every hash in bucket b
   *     precedes every hash in bucket b+1, and hash ties share a bucket);
   *  2. per-(stratum, bucket) token sums — a map-side partial aggregate
   *     over ≤ 256·|strata| cells;
   *  3. per-stratum EXCLUSIVE prefix over the bucket sums (a window over
   *     the tiny cell table) → each bucket's starting offset;
   *  4. within-bucket exclusive running sum (sort partitioned by
   *     stratum × bucket — 256-way parallel per stratum) + broadcast-
   *     joined bucket offset.
   *
   * offset(bucket) + within-bucket prefix ≡ the global per-stratum
   * prefix, row for row (spec-gated equal to the one-window form in
   * `PipelineExtrasSpec`, plan-gated no stratum-wide sort).
   */
  private[graft] def strataRunningSum(df: DataFrame, idCol: String,
                                      strataCol: String, tokenCol: String,
                                      cumCol: String,
                                      twoPhase: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hv = hash60(col(idCol).cast("string"))
    if (!twoPhase) {
      val w = Window.partitionBy(col(strataCol))
        .orderBy(hv, col(idCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
      df.withColumn(cumCol, coalesce(sum(col(tokenCol)).over(w), lit(0L)))
    } else {
      val shift = 60 - (31 - Integer.numberOfLeadingZeros(BudgetBuckets))
      val keyed = df.withColumn("__bkt", shiftright(hv, shift).cast("int"))
      val offs = keyed.groupBy(col(strataCol), col("__bkt"))
        .agg(sum(col(tokenCol)).as("__bsum"))
        .withColumn("__off", coalesce(sum(col("__bsum")).over(
          Window.partitionBy(col(strataCol)).orderBy(col("__bkt"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)),
          lit(0L)))
        .select(col(strataCol), col("__bkt"), col("__off"))
      val w = Window.partitionBy(col(strataCol), col("__bkt"))
        .orderBy(hv, col(idCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
      keyed.join(broadcast(offs), Seq(strataCol, "__bkt"))
        .withColumn(cumCol,
          col("__off") + coalesce(sum(col(tokenCol)).over(w), lit(0L)))
        .drop("__bkt", "__off")
    }
  }

  /**
   * DoReMi-lite learned domain weights (after Xie et al. 2023, "DoReMi:
   * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
   * public algorithm) — the LEARNED face of the mixing tier: instead of
   * a hand-set n^α temperature, domain weights are trained by
   * multiplicative-weights updates on per-domain EXCESS LOSS, here
   * measured under unigram language models (the q120 machinery) rather
   * than a trained proxy network:
   *
   *  - reference loss L*_d: domain d's mean token NLL under its OWN
   *    add-one-smoothed unigram distribution — the "model trained on d"
   *    best case. An invariant, computed once.
   *  - mixture loss L_d(α): d's mean token NLL under the α-mixture
   *    p_α(t) = Σ_d α_d · p_d(t). The smoothed mixture decomposes as a
   *    sum over OBSERVED (domain, token) rows + one per-α constant, so
   *    the dense domain × vocabulary grid never materializes (the q132
   *    closed-form move).
   *  - update: w'_d = α_d · (1 + η · max(L_d − L*_d, 0)), renormalized.
   *    The LINEARIZED multiplicative-weights rule replaces exp(η·x) —
   *    deliberately: ×, +, / are correctly-rounded IEEE ops in every
   *    engine while libm exp implementations differ in the last ulp, so
   *    this trajectory is exactly engine-reproducible. Losses round
   *    1e-6 and weights 1e-9 before each round (the q137 discipline).
   *
   * Scale: the per-(domain, token) count table is the ONLY corpus-sized
   * aggregate and it is computed once and cached (it saturates with the
   * vocabulary); each round is one token-keyed aggregate + one join +
   * one k-row collect. Driver state = one weight per domain. The output
   * feeds `mixEpochs` / the q119 quota machinery directly.
   *
   * Output: (round, source, excess, weight) for rounds 1..`rounds` —
   * `excess` the clipped pre-update excess loss, `weight` the
   * post-update renormalized weight.
   */
  /** Largest-remainder apportionment of `budget` units across `quotas`
    * (stratum → fractional quota, caller-sorted by stratum): floor every
    * quota, hand leftover units to the largest fractional parts (ties to
    * the alphabetically-first stratum). On the pathological OVER-floor
    * side — possible only when 1e-6 quota rounding pushes several quotas
    * up across an integer, so Σfloor exceeds the budget — units are taken
    * back from the SMALLEST fractional parts among strata with base > 0
    * (a zero-base stratum has nothing to give back; decrementing it would
    * allocate a negative count). The strata that caused the over-floor
    * all rounded UP to an integer, so they have base ≥ 1 and fractional
    * part exactly 0 — the takeback naturally lands on them first.
    * Returns allocations aligned with the input order; Σ = budget. */
  private[graft] def apportion(quotas: Seq[(String, Double)],
                               budget: Long): Seq[Long] = {
    val based = quotas.map { case (s, q) => (s, q, math.floor(q).toLong) }
    val rem = budget - based.map(_._3).sum
    val order =
      if (rem >= 0) based.sortBy { case (s, q, b) => (-(q - b), s) }
      else based.filter(_._3 > 0).sortBy { case (s, q, b) => (q - b, s) }
    require(rem >= 0 || order.size >= -rem,
      s"apportion: over-floor remainder ${-rem} exceeds the " +
        s"${order.size} strata with nonzero base — cannot apportion")
    val step = if (rem >= 0) 1L else -1L
    val adjust = order.take(math.abs(rem).toInt).map(_._1).toSet
    based.map { case (s, _, b) => b + (if (adjust(s)) step else 0L) }
  }

  /**
   * Neyman-optimal sample allocation (Neyman 1934 — the survey-sampling
   * design rule): a fixed evaluation/labeling budget split across strata
   * ∝ N_h·σ_h, which minimizes the variance of the stratified mean —
   * high-spread strata earn more of the budget than proportional
   * allocation gives them, uniform strata less. The integer split uses
   * largest-remainder apportionment (floor every 1e-6-rounded quota,
   * hand the leftover units to the largest fractional parts, ties to
   * the alphabetically-first stratum) so allocations sum EXACTLY to the
   * budget and replay in oracle SQL.
   *
   * One corpus aggregate (count + sample stddev per stratum); the
   * apportionment runs driver-side on the collected stratum table
   * (bounded — strata are sources/languages, index parameters). All
   * strata with zero spread everywhere → proportional-to-size fallback
   * (the Neyman weights all vanish). An allocation may exceed its
   * stratum's population when the budget is large relative to a small
   * high-variance stratum; `feasible` flags it (capping-and-
   * redistributing is a different design decision the caller owns).
   * Output: (stratum, n_rows, sd, quota, alloc, feasible).
   */
  def neymanAllocation(df: DataFrame, strataCol: String, valueCol: String,
                       budget: Long): DataFrame = {
    require(budget > 0, "neymanAllocation: budget must be > 0")
    val spark = df.sparkSession
    def rnd6(x: Double) = math.rint(x * 1e6) / 1e6
    val stats = df
      .groupBy(col(strataCol).cast("string").as("stratum"))
      .agg(count(lit(1)).as("n"),
        coalesce(stddev_samp(col(valueCol).cast("double")), lit(0.0)).as("sd"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    require(stats.nonEmpty, "neymanAllocation: empty input")
    val tot = stats.map { case (_, n, sd) => n * sd }.sum // sorted fold
    val quotas = stats.map { case (s, n, sd) =>
      val q = if (tot == 0.0) budget.toDouble * n / stats.map(_._2).sum
      else budget * (n * sd) / tot
      (s, n, sd, rnd6(q))
    }
    val alloc = quotas.map { case (s, n, sd, q) => (s, n, sd, q) }
      .zip(apportion(quotas.map { case (s, _, _, q) => (s, q) }, budget))
      .map { case ((s, n, sd, q), a) => (s, n, sd, q, a) }
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("stratum", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("sd", DoubleType, nullable = false),
      StructField("quota", DoubleType, nullable = false),
      StructField("alloc", LongType, nullable = false),
      StructField("feasible", BooleanType, nullable = false)))
    val rows = alloc.sortBy(_._1).map { case (s, n, sd, q, a) =>
      Row(s, n, rnd6(sd), q, a, a <= n)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  def doremiWeights(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
                    rounds: Int, eta: Double = 1.0,
                    sourceCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    import graft.functions.TextFunctions.tokensWs
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(rounds >= 1, "doremiWeights: rounds must be >= 1")
    def rnd(x: Double, s: Double) = math.rint(x * s) / s
    val dtok = graft.core.Caches.cacheOnce(
      docs.select(col(sourceCol).as("source"),
          explode(tokensWs(col(textCol))).as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("cnt")))
    val nd = dtok.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(nd.nonEmpty, "doremiWeights: no tokens in any domain")
    val vocabV = dtok.select(col("tok")).distinct().count()
    val domains = nd.keys.toSeq.sorted
    // reference losses, invariant: L*_d = Σ (cnt/n_d)·(−ln((cnt+1)/(n_d+V)))
    val ndLit = typedlit(nd)
    val lstar = dtok
      .select(col("source"), col("cnt"),
        element_at(ndLit, col("source")).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("cnt").cast("double") / col("n").cast("double") *
        -log((col("cnt") + 1.0) / (col("n") + lit(vocabV)).cast("double")))
        .as("ls"))
      .collect().map(r => r.getString(0) -> rnd(r.getDouble(1), 1e6)).toMap
    var w: Map[String, Double] =
      domains.map(_ -> rnd(1.0 / domains.size, 1e9)).toMap
    val traj = Seq.newBuilder[(Long, String, Double, Double)]
    for (r <- 1 to rounds) {
      val wLit = typedlit(w)
      // per-α constant: the unobserved-cell mass Σ_d α_d/(n_d+V),
      // summed in sorted-domain order (deterministic fold)
      val cAlpha = domains.map(d => w(d) / (nd(d) + vocabV)).sum
      val pAlpha = dtok
        .select(col("tok"),
          (element_at(wLit, col("source")) * col("cnt").cast("double") /
            (element_at(ndLit, col("source")) + lit(vocabV)).cast("double"))
            .as("contrib"))
        .groupBy(col("tok"))
        .agg((sum(col("contrib")) + lit(cAlpha)).as("p"))
      val losses = dtok
        .join(pAlpha, Seq("tok"))
        .select(col("source"), col("cnt"),
          element_at(ndLit, col("source")).as("n"), col("p"))
        .groupBy(col("source"))
        .agg(sum(col("cnt").cast("double") / col("n").cast("double") *
          -log(col("p"))).as("l"))
        .collect().map(r2 => r2.getString(0) -> rnd(r2.getDouble(1), 1e6)).toMap
      val excess = domains.map(d =>
        d -> math.max(losses(d) - lstar(d), 0.0)).toMap
      val raw = domains.map(d => d -> w(d) * (1.0 + eta * excess(d)))
      val norm = raw.map(_._2).sum // sorted-domain fold
      w = raw.map { case (d, x) => d -> rnd(x / norm, 1e9) }.toMap
      domains.foreach(d => traj += ((r.toLong, d, excess(d), w(d))))
    }
    // dtok stays cached (r13): the (source, token) table saturates with
    // the vocabulary, and per-call release forced every re-invocation to
    // replay the corpus token explode. Session lifecycle (clearAll) owns
    // the release — the cacheOnce contract everywhere else.
    val schema = StructType(Seq(
      StructField("round", LongType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("excess", DoubleType, nullable = false),
      StructField("weight", DoubleType, nullable = false)))
    val rows = traj.result().map { case (r, d, e, ww) => Row(r, d, e, ww) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Tier-weighted token allocation — the sampling plan CCNet's tiering
    * exists to feed (Wenzek et al. 2020 keep the head, sample the
    * middle, downsample the tail): given per-doc (lang, tier, n_tokens)
    * rows (the `LanguageModel.perplexityTiers` shape), allocate a global
    * token budget across (lang, tier) cells proportionally to
    * tierWeight · cellTokens, and report the implied epochs per cell
    * (epochs > 1 = upsample, < 1 = subsample). One grouped aggregate +
    * one broadcast scalar — driver-sized output (|langs|·3 rows) at any
    * corpus scale; arithmetic order mirrors the oracle exactly (the q119
    * closed-form-mixing pattern). Output: (lang, tier, n_docs, n_tokens,
    * share, quota_tokens, epochs). */
  def tierQuotas(tiers: DataFrame, budgetTokens: Long,
                 wHead: Double = 0.6, wMiddle: Double = 0.3,
                 wTail: Double = 0.1,
                 langCol: String = "lang", tierCol: String = "tier",
                 tokensCol: String = "n_tokens"): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(Seq(wHead, wMiddle, wTail).forall(_ > 0),
      "tier weights must be positive")
    // explicit tail match + raise on anything else: silently weighting a
    // typo'd or NULL tier as "tail" would mis-allocate the whole budget
    val w = when(col(tierCol) === "head", lit(wHead))
      .when(col(tierCol) === "middle", lit(wMiddle))
      .when(col(tierCol) === "tail", lit(wTail))
      .otherwise(raise_error(concat(
        lit("tierQuotas: unknown tier '"), coalesce(col(tierCol), lit("NULL")),
        lit("' (expected head|middle|tail)"))).cast("double"))
    val g = tiers.groupBy(col(langCol), col(tierCol))
      .agg(count(lit(1)).as("n_docs"), sum(col(tokensCol)).as("n_tokens"))
      .withColumn("wt", w * col("n_tokens").cast("double"))
    val tot = g.agg(sum(col("wt")).as("wtot"))
    g.crossJoin(broadcast(tot))
      .select(col(langCol), col(tierCol), col("n_docs"), col("n_tokens"),
        round(col("wt") / col("wtot"), 6).as("share"),
        floor(lit(budgetTokens.toDouble) * col("wt") / col("wtot"))
          .cast("long").as("quota_tokens"),
        // 0-token cells (possible when every doc in a tier has empty
        // text) would divide to NaN — which DuckDB renders NULL; emit
        // NULL explicitly so both engines agree the value is undefined
        when(col("n_tokens") === 0L, lit(null).cast("double"))
          .otherwise(round(lit(budgetTokens.toDouble) * col("wt") / col("wtot")
            / col("n_tokens").cast("double"), 6)).as("epochs"))
  }

  def mixEpochs(df: DataFrame, idCol: String, strataCol: String,
                weights: Map[String, Double], defaultWeight: Double): DataFrame = {
    require((defaultWeight +: weights.values.toSeq).forall(_ >= 0),
      "mixture weights must be non-negative")
    def milli(w: Double) = math.round(w * 1000)
    val mw = weights.foldLeft(lit(milli(defaultWeight))) { case (acc, (s, w)) =>
      when(col(strataCol) === s, lit(milli(w))).otherwise(acc)
    }
    df.withColumn("__mw", mw)
      .withColumn("__copies",
        floor(col("__mw") / 1000).cast("long") +
          when(pmod(hash60(col(idCol).cast("string")), lit(1000L)) <
               pmod(col("__mw"), lit(1000L)), 1L).otherwise(0L))
      .where(col("__copies") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__mw", "__copies")
  }
}
