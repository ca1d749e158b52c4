package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{hash60, tokensWs}

/**
 * Targeted data selection via importance resampling — the DSIR recipe
 * [Xie et al. 2023, "Data Selection for Language Models via Importance
 * Resampling"]: rank a raw pool by how much more likely each document is
 * under a TARGET domain's hashed-n-gram distribution than under the
 * pool's own. The standard way to carve "quality-like-my-seed-corpus"
 * subsets out of a web-scale crawl without training a classifier.
 *
 * Feature space: unigrams + bigrams hashed into `numBuckets` buckets
 * (md5-derived `hash60`, so every count is engine-reproducible); both
 * distributions are Laplace-smoothed bag-of-buckets multinomials. The
 * per-document log importance weight is
 *   log w(x) = Σ_features [ log p_target(b) − log p_pool(b) ].
 *
 * Shape at 100 TB: the bucket tables are FIXED-SIZE (≤ numBuckets rows,
 * regardless of corpus size) — the log-ratio table broadcasts onto the
 * pool's single feature explode, and the per-document sum rides that
 * exchange. Nothing driver-side; one pass over target, one over pool.
 */
object Selection {

  /** Hashed unigram+bigram feature buckets of a token array. */
  private[graft] def featureBuckets(tk: Column, numBuckets: Int): Column = {
    val unis = tk
    val bis = zip_with(
      slice(tk, lit(1), greatest(size(tk) - 1, lit(0))),
      slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    transform(concat(unis, bis), t => pmod(hash60(t), lit(numBuckets.toLong)))
  }

  /** Per-bucket Laplace-smoothed log-probability table from observed
    * (bucket, cnt) rows: dense over all `numBuckets` buckets (absent
    * buckets get the smoothing floor — they must still contribute to
    * the ratio), p(b) = (cnt(b)+1)/(N+numBuckets). */
  private def bucketLogProbs(cnts: DataFrame, numBuckets: Int,
                             out: String): DataFrame = {
    // Loud-failure guard (pqEncode's stance): an EMPTY count table — e.g.
    // a targetPred matching no documents — makes the total NULL, the
    // log-probs NULL, and every downstream log-ratio coalesce to 0, so
    // every pool document silently scores logw = 0. The guard rides the
    // expression that consumes the total (raise_error on NULL), so it
    // costs zero extra jobs — unlike a driver-side isEmpty probe, which
    // would re-run the full feature explode + aggregate per side.
    val total = cnts.agg(sum(col("cnt")).as("__n"))
      .select(when(col("__n").isNull, raise_error(lit(
          s"bucketLogProbs('$out'): the bucket count table is empty — " +
            "the side it was built from (target or pool) matched no " +
            "documents with at least one feature")).cast("long"))
        .otherwise(col("__n")).as("n"))
    cnts.sparkSession.range(numBuckets.toLong)
      .select(col("id").as("bucket"))
      .join(cnts, Seq("bucket"), "left")
      .crossJoin(broadcast(total))
      .select(col("bucket"),
        log((coalesce(col("cnt"), lit(0L)) + 1L).cast("double") /
          (col("n") + numBuckets.toLong).cast("double")).as(out))
  }

  /** DSIR log importance weights for every pool document (the rows NOT
    * matching `targetPred`), scored against the target side (rows that
    * do match): (doc_id, n_feats, logw), logw rounded 1e-6. Documents
    * with zero features (blank text) score logw = 0 with n_feats = 0.
    *
    * The pool's bucket marginals re-aggregate the per-(doc, bucket)
    * table the scoring pass needs anyway, so the expensive feature
    * explode + first-level aggregate is an identical subtree on both
    * paths (exchange-reused), not recomputed. */
  def dsirLogWeights(docs: DataFrame, targetPred: Column,
                     numBuckets: Int = 2048,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val feats = docs.select(col(idCol), targetPred.as("is_target"),
        explode_outer(featureBuckets(tokensWs(col(textCol)), numBuckets))
          .as("bucket"))
    // Per-(doc, bucket) counts: one addend per distinct bucket in the
    // final weight sum (count × ratio, fewer and larger addends → the
    // rounded sum is stable across engines), and the base table both
    // marginals below reuse.
    val poolDocBuckets = feats.where(!col("is_target"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(col("bucket")).as("c"))
    val targetCnts = feats.where(col("is_target") && col("bucket").isNotNull)
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    val poolCnts = poolDocBuckets.where(col("bucket").isNotNull)
      .groupBy(col("bucket")).agg(sum(col("c")).as("cnt"))
    val lrs = bucketLogProbs(targetCnts, numBuckets, "lp_t")
      .join(bucketLogProbs(poolCnts, numBuckets, "lp_p"), Seq("bucket"))
      .select(col("bucket"), (col("lp_t") - col("lp_p")).as("lr"))
    poolDocBuckets
      .join(broadcast(lrs), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c").cast("double") * coalesce(col("lr"), lit(0.0))).as("lw"))
      .select(col(idCol), coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        round(coalesce(col("lw"), lit(0.0)), 6).as("logw"))
  }

  /** The trained per-bucket log-ratio table (bucket, lr) behind
    * `dsirLogWeights` — the MODEL a deployment freezes after training on
    * (target, pool): ≤ numBuckets rows regardless of corpus size, small
    * enough to collect and ship as a literal into the streaming face. */
  def dsirLogRatios(docs: DataFrame, targetPred: Column,
                    numBuckets: Int = 2048,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val feats = docs.select(col(idCol), targetPred.as("is_target"),
        explode(featureBuckets(tokensWs(col(textCol)), numBuckets))
          .as("bucket"))
    def cnts(side: Column) = feats.where(side)
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    bucketLogProbs(cnts(col("is_target")), numBuckets, "lp_t")
      .join(bucketLogProbs(cnts(!col("is_target")), numBuckets, "lp_p"),
        Seq("bucket"))
      .select(col("bucket"), (col("lp_t") - col("lp_p")).as("lr"))
  }

  /** Deterministic weighted sampling WITHOUT replacement — the selection
    * step that turns importance weights into a training subset, via the
    * Efraimidis–Spirakis one-pass reservoir criterion [IPL 2006]: draw
    * u_i ∈ (0,1] per item, keep the n largest u_i^(1/w_i) — here ranked
    * in log space as key_i = ln(u_i)/w_i (same order, no pow underflow).
    * u_i comes from the engine's keyed hash-permutation family instead
    * of RNG state, so the sample is reproducible across engines, runs,
    * and partitionings — and the whole operator is one map-only
    * projection + TakeOrdered (no shuffle, no reservoir state: the
    * "reservoir" IS the top-n).
    *
    * `logwCol` holds LOG weights (the DSIR output); they are clamped to
    * ±`logwClamp` before exponentiation so one extreme document cannot
    * push the key arithmetic into overflow — the clamp only reorders
    * items whose weights already differ by > e^40, where selection is
    * effectively deterministic anyway.
    * Output: (idCol, logwCol, key) — the n sampled rows, key desc. */
  def weightedSample(scored: DataFrame, n: Int, perm: Int = 17,
                     logwClamp: Double = 20.0,
                     idCol: String = "doc_id",
                     logwCol: String = "logw"): DataFrame = {
    require(n > 0, "weightedSample: n must be positive")
    import graft.functions.TextFunctions.{hashPerm, HashPermMod}
    val u = (hashPerm(col(idCol).cast("string"), perm) + 1.0) /
      (HashPermMod + 1.0)
    val w = exp(greatest(lit(-logwClamp), least(lit(logwClamp), col(logwCol))))
    scored.select(col(idCol), col(logwCol),
        round(log(u) / w, 6).as("key"))
      .orderBy(col("key").desc, col(idCol))
      .limit(n)
  }

  /** In-engine trained logistic quality classifier — full-batch gradient
    * descent over the same hashed unigram+bigram feature space as DSIR,
    * labels from `labelPred` (the fastText-classifier recipe production
    * pipelines train per quality tier, run entirely as Spark aggregates).
    *
    * Per round: score every document under the current weights (one
    * bucket-join + per-doc aggregate over the CACHED feature table),
    * take the mean log-loss, aggregate the mean gradient per bucket
    * (≤ numBuckets rows), and update the weights DRIVER-SIDE — the
    * Lloyd-round pattern: the model is bounded index state (like the PQ
    * codebooks and the BPE merge table), the corpus never is. Weights
    * round to 1e-9 each update so the trajectory is engine-reproducible
    * (the oracle replays every round; rounding absorbs aggregation-order
    * float noise at each boundary exactly as the float32-rounded Lloyd
    * means do).
    *
    * Documents with no features (blank text) carry no gradient and are
    * excluded. Returns the learning curve — (round, mean_loss) for
    * rounds 1..iters, loss measured under the PRE-update weights (round
    * 1 is the w=0 baseline, ln 2). */
  def logisticTrain(docs: DataFrame, labelPred: Column, iters: Int = 5,
                    rate: Double = 0.5, numBuckets: Int = 256,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val fb = featureTable(docs, labelPred, numBuckets, idCol, textCol)
    val (curve, _) = trainLoop(fb, iters, rate, numBuckets)
    import spark.implicits._
    curve.toDF("round", "mean_loss")
  }

  /** The hashed (id, y, bucket, count) feature table both the trainer and
    * the calibration pass score against — built and cached once. */
  private def featureTable(docs: DataFrame, labelPred: Column, numBuckets: Int,
                           idCol: String, textCol: String): DataFrame =
    graft.core.Caches.cacheOnce(
      docs.select(col(idCol).as("id"),
          when(labelPred, 1.0).otherwise(0.0).as("y"),
          explode(featureBuckets(tokensWs(col(textCol)), numBuckets))
            .as("bucket"))
        .groupBy(col("id"), col("y"), col("bucket"))
        .agg(count(lit(1)).cast("double").as("c")))

  /** The GD rounds: loss curve + final weights (both bounded driver
    * state — one scalar per round, one weight per bucket). */
  private def trainLoop(fb: DataFrame, iters: Int, rate: Double,
                        numBuckets: Int): (Seq[(Long, Double)], Array[Double]) = {
    require(iters >= 1, "logisticTrain: iters must be >= 1")
    val w = Array.fill(numBuckets)(0.0)
    val curve = Array.newBuilder[(Long, Double)]
    for (iter <- 1 to iters) graft.core.Caches.scoped {
      val wlit = typedlit(w.zipWithIndex.map { case (v, b) => b.toLong -> v }.toMap)
      // cached per iteration: the loss aggregate AND the gradient join
      // both consume p — uncached, each iteration scored the feature
      // table twice. p is read only inside its own iteration, so the
      // scope releases it when the iteration ends: a run holds one
      // narrow row per document, not one per document and iteration.
      val p = graft.core.Caches.cacheOnce(fb
        .groupBy(col("id"), col("y"))
        .agg(sum(col("c") * element_at(wlit, col("bucket"))).as("z"))
        .select(col("id"), col("y"),
          (lit(1.0) / (lit(1.0) + exp(-col("z")))).as("p")))
      val loss = p.agg(
          round(avg(-(col("y") * log(col("p")) +
            (lit(1.0) - col("y")) * log(lit(1.0) - col("p")))), 6).as("l"),
          count(lit(1)).cast("double").as("n"))
        .collect()(0)
      curve += ((iter.toLong, loss.getDouble(0)))
      val n = loss.getDouble(1)
      // mean gradient per bucket: ≤ numBuckets rows back to the driver
      fb.join(p.select(col("id"), col("p")), Seq("id"))
        .groupBy(col("bucket"))
        .agg((sum(col("c") * (col("p") - col("y"))) / n).as("g"))
        .collect().foreach { r =>
          val b = r.getLong(0).toInt
          w(b) = math.rint((w(b) - rate * r.getDouble(1)) * 1e9) / 1e9
        }
    }
    (curve.result().toSeq, w)
  }

  /**
   * Calibration report for the trained classifier — the eval face the
   * trainer lacks: a quality gate that says "0.9" should be RIGHT 90%
   * of the time, or its threshold means nothing. Trains the same GD
   * rounds, scores every document under the FINAL weights, and bins the
   * (1e-6-rounded) probabilities into `bins` equal-width reliability
   * bins: per bin the document count, mean predicted probability,
   * observed positive fraction, and their absolute gap — the per-bin
   * term of expected calibration error (Guo et al. 2017). A perfectly
   * calibrated classifier has gap ≈ 0 everywhere; over-confidence shows
   * as mean_p ≫ frac_pos in the top bins.
   *
   * Scale: one extra scoring pass over the cached feature table
   * (weights ship as a literal — no join), then a `bins`-row aggregate.
   * Output: (bin, n_docs, mean_p, frac_pos, gap), all rounded 1e-6.
   */
  def logisticCalibration(docs: DataFrame, labelPred: Column, bins: Int,
                          iters: Int = 5, rate: Double = 0.5,
                          numBuckets: Int = 256, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    require(bins >= 2, "logisticCalibration: need at least 2 bins")
    val fb = featureTable(docs, labelPred, numBuckets, idCol, textCol)
    val (_, w) = trainLoop(fb, iters, rate, numBuckets)
    val wlit = typedlit(w.zipWithIndex.map { case (v, b) => b.toLong -> v }.toMap)
    fb.groupBy(col("id"), col("y"))
      .agg(sum(col("c") * element_at(wlit, col("bucket"))).as("z"))
      .select(col("y"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("p6"))
      .withColumn("bin",
        least(floor(col("p6") * bins).cast("long"), lit(bins - 1L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("p6")), 6).as("mean_p"),
        round(avg(col("y")), 6).as("frac_pos"))
      .withColumn("gap", round(abs(col("mean_p") - col("frac_pos")), 6))
      .orderBy(col("bin"))
  }

  /** Map-only DSIR scoring column over a FROZEN log-ratio table — the
    * streaming face: score each arriving document against the trained
    * model with no shuffle and no state (EXT-S7's stance: a pure Column
    * streams unchanged). `lr` is the collected `dsirLogRatios` table —
    * bounded by construction (≤ numBuckets entries), the one
    * driver-side object in the DSIR pipeline and a deliberate one: a
    * deployed scorer ships its model as a literal, not a join.
    * Buckets absent from the map contribute 0 (the batch face's
    * convention for null ratios). */
  def dsirScoreColumn(text: Column, lr: Map[Long, Double],
                      numBuckets: Int): Column = {
    val lrMap = typedlit(lr)
    round(aggregate(featureBuckets(tokensWs(text), numBuckets),
      lit(0.0), (acc, b) => acc + coalesce(element_at(lrMap, b), lit(0.0))), 6)
  }

  /**
   * Precision-gated threshold curve — how a quality-classifier cutoff is
   * actually chosen in a filtering pipeline: for every candidate cut
   * (the lower edge of each score bin over [0, 1]), the precision and
   * recall of keeping documents scoring AT OR ABOVE the cut, plus the
   * flag marking cuts that meet a target precision (the smallest such
   * cut is the operating point — maximal recall subject to the
   * precision constraint).
   *
   * Scale shape: ONE map-side-combinable (bin × label) histogram
   * aggregate over the corpus; the suffix-cumulative curve runs on the
   * ≤ `bins`-row table (bounded window). Precision/recall round 1e-6
   * BEFORE the target comparison so the flag boundary replays in SQL.
   * Output: (bin, cut, n_above, pos_above, precision, recall,
   * meets_target) — one row per OCCUPIED bin, ascending.
   */
  def precisionGate(df: DataFrame, scoreCol: String, labelCol: String,
                    targetPrecision: Double, bins: Int = 100): DataFrame = {
    require(bins >= 2, "precisionGate: bins must be >= 2")
    require(targetPrecision > 0.0 && targetPrecision <= 1.0,
      "precisionGate: targetPrecision in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val h = df.select(
        least(greatest(floor(round(col(scoreCol).cast("double"), 6) * bins),
          lit(0)), lit(bins - 1)).cast("long").as("bin"),
        when(col(labelCol), 1L).otherwise(0L).as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    // bounded suffix-cumulative window: ≤ bins rows by construction
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = h.agg(sum(col("pos")).as("all_pos"))
    h.withColumn("n_above", sum(col("n")).over(w))
      .withColumn("pos_above", sum(col("pos")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("bin"),
        round(col("bin").cast("double") / bins, 6).as("cut"),
        col("n_above"), col("pos_above"),
        round(col("pos_above").cast("double") / col("n_above"), 6).as("precision"),
        when(col("all_pos") === 0, lit(null).cast("double"))
          .otherwise(round(col("pos_above").cast("double") / col("all_pos"), 6))
          .as("recall"))
      .withColumn("meets_target", col("precision") >= targetPrecision)
      .orderBy(col("bin"))
  }

  /**
   * Pareto-frontier (skyline) corpus selection over two maximized
   * criteria — the multi-criteria face of the selection tier: with a
   * quality score AND a length/informativeness signal, any single
   * threshold trades them arbitrarily; the skyline keeps exactly the
   * documents no other document beats on BOTH axes (Börzsönyi et al.
   * 2001, "The Skyline Operator"). The x criterion is quantized into
   * `tiers` equal-width tiers over [0, 1] (1e-6-rounded, clamped) and
   * the skyline is taken over (tier, y) — quantization is part of the
   * declared semantics and what makes the operator one bounded
   * aggregate instead of an all-pairs dominance join.
   *
   * dominated(d) ⟺ some document has a strictly higher tier and y ≥ y_d,
   * or the same tier and y > y_d. Relationally: per-tier max y (bounded
   * `tiers`-row table), suffix-max over strictly higher tiers (window on
   * that bounded table), one broadcast join back — corpus-side work is
   * ONE map-side-combinable aggregate; no all-pairs join at any scale.
   * Output: (idCol, x, y, tier, on_frontier).
   */
  def paretoFrontier(df: DataFrame, idCol: String, xCol: String,
                     yCol: String, tiers: Int = 100): DataFrame = {
    require(tiers >= 2, "paretoFrontier: tiers must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val base = graft.core.Caches.cacheOnce(df.select(col(idCol),
      round(col(xCol).cast("double"), 6).as("x"),
      col(yCol).cast("long").as("y"))
      .withColumn("tier",
        least(greatest(floor(col("x") * tiers), lit(0)), lit(tiers - 1))
          .cast("long")))
    val tierMax = base.groupBy(col("tier")).agg(max(col("y")).as("m"))
    // bounded unpartitioned window: ≤ tiers rows by construction
    val suffix = tierMax.withColumn("hi",
      max(col("m")).over(Window.orderBy(col("tier").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)))
    base.join(broadcast(suffix), Seq("tier"))
      .select(col(idCol), col("x"), col("y"), col("tier"),
        (!(col("y") < col("m") ||
          (col("hi").isNotNull && col("y") <= col("hi")))).as("on_frontier"))
  }
}
