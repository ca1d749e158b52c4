package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Exact grouped quantiles from a value HISTOGRAM — the scale-correct
 * shape when the value domain is small relative to the data (status
 * codes, quantities, prices in cents, token counts): a naive exact
 * `percentile` drags every ROW into its group's partition (and fused
 * with other aggregates plans an Expand); here every full-data pass is
 * a map-side-combinable hash agg on (group, value), and the
 * rank/interpolation windows run over the tiny histogram. Continuous
 * interpolation (`percentile` / `quantile_cont` semantics): rank
 * r = 1 + (n−1)·p over value-ordered cumulative counts, interpolating
 * between the values at ⌊r⌋ and ⌈r⌉.
 *
 * At 100 TB: histogram size = groups × distinct values — if the value
 * domain is genuinely high-cardinality, use `percentile_approx` (the
 * q69 sketch gate measures that tradeoff); this operator is the EXACT
 * path that stays cheap when cardinality allows.
 */
object Profiling {

  /** (groupCol, p, q) for every group × requested quantile. NULL values of
    * `valCol` are ignored — `percentile` / `quantile_cont` semantics; a
    * NULL histogram row would inflate the rank denominator and shift every
    * cumulative count. A group whose values are all NULL emits no rows. */
  def histQuantiles(df: DataFrame, groupCol: String, valCol: String,
                    ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "quantiles must be within [0, 1]")
    val hist = df.where(col(valCol).isNotNull)
      .groupBy(col(groupCol), col(valCol).cast("double").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col("__v"))
    hist
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(col(groupCol))))
      .withColumn("p", explode(array(ps.map(lit(_)): _*)))
      .withColumn("__r", lit(1.0) + (col("__n") - 1) * col("p"))
      .groupBy(col(groupCol), col("p"))
      .agg(
        min(when(col("__cum") >= floor(col("__r")), col("__v"))).as("__vlow"),
        min(when(col("__cum") >= ceil(col("__r")), col("__v"))).as("__vhigh"),
        (max(col("__r")) - floor(max(col("__r")))).as("__frac"))
      .select(col(groupCol), col("p"),
        (col("__vlow") + col("__frac") * (col("__vhigh") - col("__vlow"))).as("q"))
  }

  /**
   * Key-skew diagnosis — the measurement BEHIND every salting/AQE-skew
   * decision (`Joins.saltedEquiJoin`, `Correlation.sparsePairs`'
   * `maxContextDegree` cap):
   * one report row quantifying how unevenly a join/agg key distributes.
   *   - top1_share / topk_share: the hot key's (top-k keys') row share —
   *     what a single reducer would carry;
   *   - p99_over_p50: tail-to-median ratio of per-key counts — exact
   *     `quantile_cont` semantics, read off the SAME distributed rank
   *     the Gini pass builds (interpolation rows selected by rank — no
   *     unpartitioned window, no histogram assumption: correct even
   *     when every key has a distinct count);
   *   - gini: 0 = uniform, →1 = one key owns everything, computed from
   *     the rank identity G = 2·Σ rᵢcᵢ / (n·Σc) − (n+1)/n with rᵢ the
   *     1-based (count, key) rank via the two-phase distributed rank —
   *     no single-partition stage on the |keys|-row table.
   * All passes are keyed aggregates over (key) then (count) — the raw
   * table is scanned once.
   *
   * Output: (n_rows, n_keys, top1_share, topk_share, p99_over_p50, gini),
   * shares and ratios rounded 1e-6.
   */
  def keySkew(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val counts = graft.core.Caches.cacheOnce(
      df.groupBy(col(keyCol)).agg(count(lit(1)).as("c")))
    val totals = counts.agg(sum(col("c")).as("n_rows"),
      count(lit(1)).as("n_keys"))
    val top = counts.orderBy(col("c").desc, col(keyCol).asc).limit(topK)
      .agg(max(col("c")).as("top1"), sum(col("c")).as("topk"))
    val ranked = graft.core.Caches.cacheOnce(
      Ids.denseIds(counts, Seq(col("c").asc, col(keyCol).asc), "__r"))
    val giniNum = ranked.agg(sum((col("__r") + 1L) * col("c")).as("rc"))
    // quantile_cont over the count distribution, read off the rank:
    // r_p = 1 + (n−1)·p; interpolate between the values at ⌊r_p⌋/⌈r_p⌉
    val qs = ranked.crossJoin(broadcast(totals.select(col("n_keys").as("__n"))))
      .select(col("c").cast("double").as("cv"), (col("__r") + 1L).as("r1"),
        (lit(1.0) + (col("__n") - 1L) * 0.5).as("r50"),
        (lit(1.0) + (col("__n") - 1L) * 0.99).as("r99"))
      .where(col("r1") === floor(col("r50")) || col("r1") === ceil(col("r50")) ||
        col("r1") === floor(col("r99")) || col("r1") === ceil(col("r99")))
      .agg(
        min(when(col("r1") === floor(col("r50")), col("cv"))).as("v50lo"),
        min(when(col("r1") === ceil(col("r50")), col("cv"))).as("v50hi"),
        min(when(col("r1") === floor(col("r99")), col("cv"))).as("v99lo"),
        min(when(col("r1") === ceil(col("r99")), col("cv"))).as("v99hi"),
        min(col("r50") - floor(col("r50"))).as("f50"),
        min(col("r99") - floor(col("r99"))).as("f99"))
      .select(
        (col("v50lo") + col("f50") * (col("v50hi") - col("v50lo"))).as("p50"),
        (col("v99lo") + col("f99") * (col("v99hi") - col("v99lo"))).as("p99"))
    totals.crossJoin(broadcast(top)).crossJoin(broadcast(qs))
      .crossJoin(broadcast(giniNum))
      .select(col("n_rows"), col("n_keys"),
        round(col("top1").cast("double") / col("n_rows").cast("double"), 6)
          .as("top1_share"),
        round(col("topk").cast("double") / col("n_rows").cast("double"), 6)
          .as("topk_share"),
        round(col("p99") / col("p50"), 6).as("p99_over_p50"),
        round(lit(2.0) * col("rc").cast("double") /
          (col("n_keys") * col("n_rows")).cast("double") -
          (col("n_keys") + 1L).cast("double") / col("n_keys").cast("double"), 6)
          .as("gini"))
  }

  /**
   * Zipf rank-frequency fit (Zipf 1949; Piantadosi 2014, Psychon Bull
   * Rev — the modern review) — the corpus-health law every natural-
   * language corpus obeys and templated/synthetic/spam-heavy corpora
   * bend: least-squares fit of ln f = intercept + slope·ln r over the
   * top-`topK` vocabulary terms (rank by count desc, term asc — a total
   * order). Natural text sits near slope ≈ −1 with r² close to 1; a
   * flattened head (|slope| ≪ 1) means template spam repeating a small
   * vocabulary, a collapsed r² means the corpus mixes regimes — the
   * one-row report a data-quality dashboard leads with.
   *
   * Scale: ONE (term) hash aggregate over the exploded token stream
   * (map-side combine), a TakeOrdered head of `topK` rows, ranks via
   * the two-phase distributed rank (no unpartitioned window — the
   * keySkew discipline), then one 5-sum aggregate over the bounded
   * head. Arithmetic order mirrors the oracle exactly; outputs rounded
   * 1e-6. Output: one row (n_terms, slope, intercept, r2) — r2 NULL on
   * a degenerate (zero-variance) head.
   */
  def zipfFit(docs: DataFrame, topK: Int,
              textCol: String = "text"): DataFrame =
    zipfFitFromVocab(
      docs.select(explode(
          graft.functions.TextFunctions.tokensWs(col(textCol))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")),
      topK)

  /** The Zipf law fit over an already-aggregated vocabulary table
    * (tok, cnt) — the arithmetic half of [[zipfFit]], shared with the
    * ledger-served face (`TokenCountLedger.zipf`) so one-shot and
    * incremental fits cannot drift. */
  def zipfFitFromVocab(vocab: DataFrame, topK: Int): DataFrame = {
    require(topK >= 2, "zipfFit: need at least 2 ranks to fit a line")
    val head = vocab.orderBy(col("cnt").desc, col("tok").asc).limit(topK)
    val pts = Ids.denseIds(head, Seq(col("cnt").desc, col("tok").asc), "__r")
      .select(log((col("__r") + 1L).cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    leastSquaresFit(pts, "n_terms")
  }

  /** One-aggregate least-squares line fit over a (x, y) point frame —
    * shared by the log-log law fits (Zipf, Heaps). Output: one row
    * (countName, slope, intercept, r2), 1e-6-rounded, r2 NULL on a
    * zero-variance y (arithmetic order is the oracle's, verbatim). */
  private def leastSquaresFit(pts: DataFrame, countName: String): DataFrame =
    pts.agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").cast("long").as(countName),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6)
          .as("slope"),
        round((col("sy") -
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
          col("n"), 6).as("intercept"),
        round(when(col("n") * col("syy") - col("sy") * col("sy") === 0.0,
            lit(null).cast("double"))
          .otherwise(
            pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
              ((col("n") * col("sxx") - col("sx") * col("sx")) *
                (col("n") * col("syy") - col("sy") * col("sy")))), 6)
          .as("r2"))

  /**
   * Heaps' law vocabulary-growth fit (Heaps 1978; Herdan 1960) — the
   * companion corpus-health number to [[zipfFit]]: V(n) ≈ K·n^β, the
   * distinct-vocabulary count as a function of tokens consumed. Natural
   * corpora grow with β ≈ 0.4–0.6; β near 0 means the corpus exhausts a
   * closed template vocabulary (duplication/boilerplate), β near 1
   * means near-random token soup — either way the fit is the one-row
   * early-warning a curation dashboard wants beside the Zipf slope.
   *
   * Documents are consumed in content-stable (hash60(id), id) order —
   * rerun/partitioning/engine stable, the q80 convention — and every
   * document contributes one (ln n_i, ln V_i) point with n_i / V_i the
   * INCLUSIVE running token / distinct-vocabulary counts.
   *
   * Scale: tokenization is map-only; each token's FIRST document is one
   * (token) hash aggregate of a lexicographic min-struct (map-side
   * combine — never a per-token window, which a stopword would turn
   * into a corpus-sized single-task sort); both running sums ride the
   * two-phase distributed form (`Sampling.strataRunningSum`, no
   * stratum-wide sort); the fit is one 5-sum aggregate. Output: one row
   * (n_points, slope, intercept, r2) — slope IS β, e^intercept is K.
   */
  /**
   * Corpus entropy-rate report (Shannon 1951, "Prediction and entropy
   * of printed English") — the third corpus-health number beside
   * [[zipfFit]] / [[heapsFit]]: how PREDICTABLE the token stream is.
   *
   *  - h_unigram: H(W) = −Σ_w p(w)·ln p(w), maximum-likelihood over the
   *    corpus unigram distribution;
   *  - h_cond: H(W_{i+1} | W_i) = −Σ_{a,b} p(a,b)·ln(C(a,b)/C_L(a))
   *    over within-document bigrams (C_L(a) = a's count as a LEFT
   *    context, so the conditionals normalize exactly);
   *  - redundancy: 1 − h_unigram/ln V — how far below the uniform
   *    maximum the unigram distribution sits.
   *
   * Natural text shows h_cond well below h_unigram (context predicts);
   * h_cond ≈ h_unigram means shuffled/token-soup data, abnormally LOW
   * h_cond means templated boilerplate — the duplication signals at the
   * statistics level, before any dedup pass runs.
   *
   * Scale: two hash aggregates (unigram, within-doc bigram — both
   * map-side-combinable) + one token-keyed join of bigram counts to
   * left-context counts; every Σ is one aggregate, nats throughout.
   * Output: one row (n_tokens, n_bigrams, vocab, h_unigram, h_cond,
   * redundancy), 1e-6-rounded. Degenerate corpora: an EMPTY corpus
   * yields NULL entropies (no distribution to measure); a single-token
   * corpus yields h_unigram = 0.0 (p=1 ⇒ −p·ln p = 0) with h_cond NULL
   * (no bigrams).
   */
  def entropyReport(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import graft.functions.TextFunctions.tokensWs
    val tks = docs.select(tokensWs(col(textCol)).as("tk"))
    val uni = graft.core.Caches.cacheOnce(
      tks.select(explode(col("tk")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c")))
    val bi = graft.core.Caches.cacheOnce(
      tks.where(size(col("tk")) >= 2)
        .select(slice(col("tk"), lit(1), size(col("tk")) - 1).as("la"),
          slice(col("tk"), lit(2), size(col("tk")) - 1).as("lb"))
        .select(explode(arrays_zip(col("la"), col("lb"))).as("g"))
        .select(col("g.la").as("a"), col("g.lb").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab")))
    entropyFromCounts(uni, bi)
  }

  /** The entropy-rate arithmetic over already-aggregated count tables —
    * unigram (w, c) and within-document bigram (a, b, cab) — the second
    * half of [[entropyReport]], shared with the ledger-served face
    * (`TokenCountLedger.entropy`) so one-shot and incremental reports
    * cannot drift. Both Σ are one aggregate each; the only join keys
    * bigram rows to their left-context totals. */
  def entropyFromCounts(uni: DataFrame, bi: DataFrame): DataFrame = {
    val nTok = broadcast(uni.agg(sum(col("c")).as("n"),
      count(lit(1)).as("v")))
    val h1 = uni.crossJoin(nTok)
      .select((col("c").cast("double") / col("n")).as("p"))
      .agg(sum(-col("p") * log(col("p"))).as("h1"))
    val left = bi.groupBy(col("a")).agg(sum(col("cab")).as("cl"))
    val mTot = broadcast(bi.agg(sum(col("cab")).as("m")))
    val h2 = bi.join(left, Seq("a")).crossJoin(mTot)
      .agg(sum(-(col("cab").cast("double") / col("m")) *
        log(col("cab").cast("double") / col("cl").cast("double"))).as("h2"))
    nTok.crossJoin(broadcast(h1)).crossJoin(broadcast(mTot))
      .crossJoin(broadcast(h2))
      .select(coalesce(col("n"), lit(0L)).as("n_tokens"),
        coalesce(col("m"), lit(0L)).as("n_bigrams"),
        col("v").as("vocab"),
        round(col("h1"), 6).as("h_unigram"),
        round(col("h2"), 6).as("h_cond"),
        round(when(col("v") <= 1L, lit(null).cast("double"))
          .otherwise(lit(1.0) - col("h1") / log(col("v").cast("double"))), 6)
          .as("redundancy"))
  }

  def heapsFit(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    import graft.functions.TextFunctions.{hash60, tokensWs}
    val base = graft.core.Caches.cacheOnce(
      docs.select(col(idCol).as("doc_id"),
        hash60(col(idCol).cast("string")).as("hv"),
        tokensWs(col(textCol)).as("tk")))
    val firstDoc = base
      .select(col("hv"), col("doc_id"), explode(array_distinct(col("tk"))).as("tok"))
      .groupBy(col("tok"))
      .agg(min(struct(col("hv"), col("doc_id"))).as("f"))
      .groupBy(col("f.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("new_toks"))
    val perDoc = base.select(col("doc_id"), size(col("tk")).cast("long").as("nt"))
      .join(firstDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), lit("all").as("__s"), col("nt"),
        coalesce(col("new_toks"), lit(0L)).as("nw"))
    val cumT = graft.operators.Sampling.strataRunningSum(
      perDoc, "doc_id", "__s", "nt", "ct", twoPhase = true)
    val cumV = graft.operators.Sampling.strataRunningSum(
      cumT, "doc_id", "__s", "nw", "cv", twoPhase = true)
    val pts = cumV
      .select((col("ct") + col("nt")).as("n_i"), (col("cv") + col("nw")).as("v_i"))
      .where(col("n_i") > 0L)
      .select(log(col("n_i").cast("double")).as("x"),
        log(col("v_i").cast("double")).as("y"))
    leastSquaresFit(pts, "n_points")
  }
}
