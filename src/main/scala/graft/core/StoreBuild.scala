package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * EP-2 store build over the FULL catalog — the reference's
 * `populate_similar_items` loop (`/root/reference/propius/data.py:116-149`)
 * semantics (per-item min-max scale of the COMPLETE correlation vector,
 * then keep neighbors with scaled score ≥ mean + k·σ) — WITHOUT ever
 * materializing the I×I matrix.
 *
 * The trick: split each item's full correlation vector into
 *
 *  - co-occurring partners (sparse — avg degree rows per item), whose
 *    correlations come from `Correlation.sparseCoMoments`; and
 *  - never-co-occurring partners, whose correlation has the CLOSED FORM
 *        corr(a,b) = (n·0 − sx_a·sx_b) / (den_a·den_b) = −u_a·u_b,
 *        u_i = sx_i / den_i,  den_i = √(n·sxx_i − sx_i²)
 *    — a product of per-item quantities. So the vector-wide statistics
 *    decompose:
 *        Σ corr   = Σ_sparse corr  − u_a·(U − u_a − Σ_sparse u_b)
 *        Σ corr²  = Σ_sparse corr² + u_a²·(V − u_a² − Σ_sparse u_b²)
 *        min corr = min(min_sparse, −u_a · max{u_b : b zero-partner})
 *        max corr = max(max_sparse, −u_a · min{u_b : b zero-partner})
 *    with U = Σ u, V = Σ u² over all non-degenerate items — one global
 *    row. Items with zero variance (den = 0) produce NULL correlations
 *    everywhere and are skipped, exactly like the windowed/pandas path.
 *
 * The zero-partner u-extrema are exact, not sampled: rank all items by u
 * (one global sort of the SMALL per-item stats table), then for each item
 * find the first rank not occupied by itself or a co-occurring partner —
 * a first-gap scan over its sparse partner list (two window passes over
 * the pair table). Because row_number is a total order monotone in u, the
 * first gap in the descending (ascending) ranking IS the zero-partner
 * max (min) u.
 *
 * Output rows are then produced from (a) the sparse pairs filtered by the
 * per-item threshold and (b) a zero-partner theta join that only runs for
 * items whose threshold dips below the best zero-pair score
 * (−u_a·min u ≥ rawThr): in real corpora the mean+k·σ cutoff sits above
 * the zero-pair band and this candidate set is EMPTY (verified at
 * sf0.01: 0 of 231k emitted rows are zero pairs), so the a-side is a
 * tiny broadcast and the join costs nothing. Total cost: the sparse
 * pipeline + one global sort of the item-stats table — linear in the
 * co-occurrence data, never I².
 *
 * Emitted scores use the IDENTICAL arithmetic (term order included) as
 * `Correlation.fullPairs` + `Neighbors.scaledStdDevThreshold`, so results
 * hash-match the windowed oracle after 1e-6 rounding: the correlation is
 * `Correlation.corrExpr`, the one copy both paths call. The windowed path
 * is the reference the specs compare against; every EP-2 store, including
 * `SimilarityModel.storeIn`'s selections, is built here.
 */
object StoreBuild {

  /**
   * All-items store table: (item_a_id, item_b_id, scaled_score).
   *
   * One plan for every catalog. Its catalog-sized work is the per-item
   * stats table (item, sx, sxx, u — about 24 B/item): it is broadcast
   * into every join, and the global u-rank is one unpartitioned
   * row_number window over it, i.e. one single-partition sort. That is
   * the ceiling: no catalog above about 2 M items (local `ScaleData`
   * sf10) has been run through this build.
   */
  def scaledNeighbors(crosstab0: DataFrame, k: Double = 2.0,
                      itemPredicate: Option[Column] = None): DataFrame =
    fromCrosstab(crosstab0, k, itemPredicate).neighbors

  /** All-items store build from a SUFFICIENT-STATISTICS snapshot
    * (`Incremental.Stats`) — the incremental-ingest composition: after a
    * delta update, the store refresh reuses the merged item-stat and
    * co-moment summaries instead of recomputing them from the cell table
    * (gated by q57 against the same full-rebuild oracle as q38).
    *
    * NOTE the refresh is inherently Ω(catalog co-occurrence data), never
    * Ω(delta): the mean+kσ-over-the-COMPLETE-vector semantics couples
    * every item to every other — corr(a,b) moves whenever b's stats (or
    * the context count n) move, and a's scaling bounds/threshold
    * aggregate over ALL partners — so an untouched item's emitted
    * row-set can change under a delta that never mentions it
    * (counterexample spec-gated in StoreBuildSpec). The delta-BOUNDED
    * production pattern is `touched`-selection refresh + stored rows
    * for the rest (bounded staleness, q177): pass `touched` to rebuild
    * only those item_a rows at |touched|×avg-degree emission cost. The
    * catalog-wide per-item stats table (24 B/item) is still broadcast and
    * sorted once on one partition for the u-rank, as the closed form
    * requires — the same ceiling as `scaledNeighbors`. */
  def scaledNeighborsFromStats(stats: Incremental.Stats, k: Double = 2.0,
                               touched: Option[DataFrame] = None): DataFrame = {
    // Seal each summary's lineage behind a leaf scan: an in-session
    // `Incremental.update` leaves summaries whose logical plans reference
    // the base snapshot's plans many times over, and the in-session q57
    // build planned 13 k Exchange nodes (a 15.6 MB plan string) before
    // sealing, against 95 for the same data loaded from a saved snapshot.
    new Build(Caches.pinPlan(stats.items), Caches.pinPlan(stats.co),
      Caches.pinPlan(stats.n), k, None, touched).neighbors
  }

  /** OP-20 at scale: per-item mean/σ of the COMPLETE correlation vector
    * (NULL-skipping, sample σ — exactly `avg`/`stddev_samp` over
    * `fullPairs`' dense vectors), computed from the same closed-form
    * decomposition as the store build — |selection| × avg-degree work,
    * never the |selection| × |catalog| dense table. Degenerate items
    * (den = 0: NULL correlation everywhere) keep their row with NULL
    * moments, matching the windowed pipeline's aggregate-over-all-NULLs.
    * Output: (item_a, mean_corr, std_corr). */
  def vectorMoments(crosstab0: DataFrame,
                    itemPredicate: Option[Column] = None): DataFrame =
    fromCrosstab(crosstab0, 2.0, itemPredicate).moments

  private def fromCrosstab(crosstab0: DataFrame, k: Double,
                           itemPredicate: Option[Column]): Build = {
    val ct = Caches.cacheOnce(crosstab0)
    new Build(Correlation.itemStats(ct),
      Caches.cacheOnce(Correlation.sparseCoMoments(ct)),
      Correlation.nContexts(ct), k, itemPredicate)
  }

  /** The shared build: per-item stats (item, sx, sxx), upper-triangle
    * co-moments (item_a, item_b, sxy), 1-row context count.
    *
    * `itemPredicate` (over column `item`, like `Correlation.fullPairs`)
    * restricts the item_a SIDE ONLY — each selected item still scales and
    * thresholds against its COMPLETE vector (all items as partners), so
    * output rows equal `fullPairs(ct, pred) |> scaledStdDevThreshold`
    * filtered to the selection (spec: `StoreBuildSpec`). The pushdown
    * keeps the per-item_a stats shuffle and both emission branches at
    * |selection| × avg-degree instead of catalog × avg-degree, and —
    * unlike the fullPairs parity path — never materializes the
    * |selection| × |catalog| dense vector table, which is what OOM'd the
    * sf1 probe (800M cached rows for a 1/50 sample of a 200k catalog).
    * Partner stats, globals (ΣU/ΣV/|D|), and the zero-partner u-ranking
    * remain catalog-wide: they are what the closed form needs to stand in
    * for the absent dense vectors. */
  private final class Build(itemSt: DataFrame, co: DataFrame, n: DataFrame,
                            k: Double, itemPredicate: Option[Column],
                            itemSet: Option[DataFrame] = None) {
    // item_a-side restriction, Column- or set-valued: the set form
    // (single-column `item` frame) is the delta-refresh face — a
    // LEFT SEMI join keyed on item, so the selection never needs to
    // fit in a driver-side IN-list. Both compose (predicate AND set).
    private def restrictItems(df: DataFrame): DataFrame = {
      val p = itemPredicate.map(df.where(_)).getOrElse(df)
      itemSet.map(s => p.join(s.select(col("item")), Seq("item"), "left_semi"))
        .getOrElse(p)
    }
    private val restricted = itemPredicate.nonEmpty || itemSet.nonEmpty

    // Per-item stats with den/u; D = non-degenerate items (den > 0).
    val d = Caches.cacheOnce(
      itemSt.crossJoin(broadcast(n))
        .withColumn("den", sqrt(col("n") * col("sxx") - col("sx") * col("sx")))
        .where(col("den") > 0.0)
        .withColumn("u", col("sx") / col("den")))

    // item_a-side selection (complete-vector stats are per-item_a, so the
    // b-side/globals/ranking must stay catalog-wide regardless).
    val dSel = restrictItems(d)

    // One global row: ΣU, ΣV, |D|, min/max u.
    val globals = broadcast(d.agg(
      sum(col("u")).as("gU"), sum(col("u") * col("u")).as("gV"),
      count(lit(1)).as("cntD"), min(col("u")).as("uming")))

    val da = d.select(col("item").as("item_a"), col("sx").as("sx_a"),
      col("sxx").as("sxx_a"), col("u").as("u_a"))
    val db = d.select(col("item").as("item_b"), col("sx").as("sx_b"),
      col("sxx").as("sxx_b"), col("u").as("u_b"))

    // Sparse side: the UPPER-TRIANGLE co-moments arrive persisted (the
    // expensive ctx self-join, cached by the caller) — the narrowest
    // table that every consumer can rebuild its view from with
    // broadcast-only work. The symmetric closure and stat joins are
    // recomputed per consumer: map-side, no shuffle.
    val sym = co.unionByName(
      co.select(col("item_b").as("item_a"), col("item_a").as("item_b"), col("sxy")))
    // The symmetric closure restricted to selected item_a (semi-join on the
    // small selection — the whole point of the pushdown: every downstream
    // shuffle carries |selection| × avg-degree rows). The zero-partner
    // anti-join below deliberately keeps the UNRESTRICTED sym: its left
    // side is already selection-only, and the full table is the correct
    // co-occurrence ledger either way.
    val symA =
      if (!restricted) sym
      else sym.join(broadcast(dSel.select(col("item").as("item_a"))), Seq("item_a"), "left_semi")
    // CACHED: the correlation pipeline feeds BOTH the fused stats shuffle
    // and the sparse-emission branch; as a `def` the symmetric closure +
    // two stat joins + corr arithmetic ran once per consumer (the probe
    // measured it as the dominant duplicated work in the q57 build —
    // ~2× the crosstab path's final-stage task time). The table is
    // (item_a, item_b, u_b, corr) — the same size class as the co-moment
    // cache it derives from.
    val sp = Caches.cacheOnce(symA.join(broadcast(da), Seq("item_a"))
      .join(broadcast(db), Seq("item_b"))
      .crossJoin(broadcast(n))
      .select(col("item_a"), col("item_b"), col("u_b"),
        Correlation.corrExpr(col("n"), col("sxy"), col("sx_a"), col("sxx_a"),
          col("sx_b"), col("sxx_b")).as("corr")))

    // Global u-ranking of D. r is descending in u; the ascending rank of
    // the same row is cntD+1−r, so ONE ranking serves both extrema.
    // One unpartitioned row_number window: a DELIBERATE single-partition
    // sort of the per-item stats table, the same table the plan broadcasts
    // anyway, so its size class is already bounded by driver/executor
    // memory and the sort is a negligible fraction of the build. (The
    // tempting orderBy + rdd.zipWithIndex produces an RDD-backed plan with
    // a fresh identity per call, which defeats canonical-plan cache reuse
    // across queries — measured 2× SLOWER end-to-end. The distributed
    // `Ids.denseIds` rank was slower and used more memory on the store
    // benchmark's workloads.)
    val rk = broadcast(d.select(col("item"), col("u"))
      .withColumn("r",
        row_number().over(Window.orderBy(col("u").desc, col("item").asc)).cast("long")))

    // ONE shuffle on item_a computes every per-item statistic: the sparse
    // moment aggregates (NULL-corr rows — degenerate partners and the
    // self row — excluded, matching NULL-skipping window stats) AND the
    // first-gap scan that locates the zero-partner u-extrema. The two
    // window sorts and the final aggregate share the same hash partitioning,
    // so Catalyst plans a single exchange. Self rows (corr = NULL) give
    // every D item a group and put its own rank into the gap scan.
    val withSelf = sp
      .unionByName(dSel.select(col("item").as("item_a"), col("item").as("item_b"),
        lit(null).cast("double").as("u_b"), lit(null).cast("double").as("corr")))
      .join(rk.select(col("item").as("item_b"), col("r")), Seq("item_b"))
      .crossJoin(globals)
    val wAsc = Window.partitionBy(col("item_a")).orderBy(col("r").asc)
    // The descending rank is DERIVED, not sorted for: within an item_a
    // group of m rows, row_number over r desc = m + 1 − row_number over
    // r asc (r is unique — a global ranking). The unordered count window
    // shares wAsc's exchange and needs no sort, so the fused stage pays
    // ONE partition sort instead of two.
    val wPart = Window.partitionBy(col("item_a"))
    val fused = withSelf
      .withColumn("pos", row_number().over(wAsc))
      .withColumn("pos2", count(lit(1)).over(wPart) + 1 - col("pos"))
      .groupBy("item_a")
      .agg(sum(col("corr")).as("sSp"),
           sum(col("corr") * col("corr")).as("qSp"),
           min(col("corr")).as("minSp"),
           max(col("corr")).as("maxSp"),
           sum(when(col("corr").isNotNull, col("u_b"))).as("uSp"),
           sum(when(col("corr").isNotNull, col("u_b") * col("u_b"))).as("vSp"),
           count(col("corr")).as("degD"),
           coalesce(min(when(col("r") =!= col("pos"), col("pos"))),
             max(col("pos")) + 1).as("gapD"),
           coalesce(min(when(col("cntD") + 1 - col("r") =!= col("pos2"), col("pos2"))),
             max(col("pos2")) + 1).as("gapA"),
           first(col("cntD")).as("cntDg"))
    val stats = fused
      .join(rk.select(col("r").as("gapD"), col("u").as("zMaxU")), Seq("gapD"), "left")
      .join(rk.select(col("r").as("rAsc"), col("u").as("zMinU")),
        col("rAsc") === col("cntDg") + 1 - col("gapA"), "left")
      .drop("gapD", "gapA", "rAsc", "cntDg")

    // Closed-form per-item vector statistics → scaling bounds + threshold.
    // One row per item; CACHED because both emission branches broadcast it
    // — without the cache each broadcast build would re-run the whole
    // fused shuffle pipeline above.
    val perItem = Caches.cacheOnce(
      d.select(col("item").as("item_a"), col("sx").as("sx_a"),
          col("sxx").as("sxx_a"), col("u").as("u_a"), col("n"))
        .join(stats, Seq("item_a"))
        .crossJoin(globals)
        .withColumn("c", col("cntD") - 1)
        .withColumn("zCnt", col("c") - coalesce(col("degD"), lit(0L)))
        .withColumn("sZero", when(col("zCnt") === 0, lit(0.0)).otherwise(
          -col("u_a") * (col("gU") - col("u_a") - coalesce(col("uSp"), lit(0.0)))))
        .withColumn("qZero", when(col("zCnt") === 0, lit(0.0)).otherwise(
          col("u_a") * col("u_a") *
            (col("gV") - col("u_a") * col("u_a") - coalesce(col("vSp"), lit(0.0)))))
        .withColumn("mn", least(col("minSp"),
          when(col("zCnt") > 0, -col("u_a") * col("zMaxU"))))
        .withColumn("mx", greatest(col("maxSp"),
          when(col("zCnt") > 0, -col("u_a") * col("zMinU"))))
        .withColumn("mean", when(col("c") > 0,
          (coalesce(col("sSp"), lit(0.0)) + col("sZero")) / col("c")))
        .withColumn("variance",
          (coalesce(col("qSp"), lit(0.0)) + col("qZero") -
            col("c") * col("mean") * col("mean")) / nullif(col("c") - 1, lit(0L)))
        // clip tiny negative cancellation residue to 0, but PRESERVE NULL
        // (c == 1 → sample σ undefined → no emissions, like stddev_samp);
        // greatest() would skip the NULL and wrongly yield σ = 0
        .withColumn("sigma", sqrt(when(col("variance") < 0.0, lit(0.0))
          .otherwise(col("variance"))))
        // constant vector (mx == mn, ≥2 values): every scaled score is 0.0
        // and the threshold is 0.0 — everything passes, like the window path.
        .withColumn("isConst", col("mx") === col("mn") && col("c") >= 2)
        // mx == mn with c < 2 (single-value vector): σ undefined → NULL
        // threshold → no emissions; the explicit branch also keeps ANSI
        // mode from throwing on the zero-range division.
        .withColumn("thr", when(col("isConst"), lit(0.0))
          .when(col("mx") === col("mn"), lit(null).cast("double"))
          .otherwise(
            (col("mean") - col("mn")) / (col("mx") - col("mn")) +
              col("sigma") / (col("mx") - col("mn")) * lit(k)))
        .select(col("item_a"), col("sx_a"), col("sxx_a"), col("u_a"), col("n"),
          col("mn"), col("mx"), col("thr"), col("isConst"), col("uming"),
          col("mean"), col("sigma")))

    /** Closed-form OP-20 moments (see `vectorMoments`). Non-degenerate
      * items read off the cached perItem table; degenerate selected items
      * (dropped from D) are restored with NULL moments — the windowed
      * pipeline aggregates their all-NULL vectors to NULL, not absence.
      * A one-item catalog has no partner, hence no vector and no row. */
    def moments: DataFrame = {
      val degenerate = itemSt.crossJoin(broadcast(n))
        .where(col("n") * col("sxx") - col("sx") * col("sx") <= 0.0)
      val degSel = restrictItems(degenerate)
        .select(col("item").as("item_a"),
          lit(null).cast("double").as("mean_corr"),
          lit(null).cast("double").as("std_corr"))
      val partnered = itemSt.agg((count(lit(1)) > 1).as("partnered"))
      perItem.select(col("item_a"), col("mean").as("mean_corr"),
          col("sigma").as("std_corr"))
        .unionByName(degSel)
        .crossJoin(broadcast(partnered)).where(col("partnered")).drop("partnered")
    }

    def scaledScore: Column =
      when(col("isConst"), lit(0.0))
        .when(col("mx") === col("mn"), lit(null).cast("double")) // thr NULL → dropped
        .otherwise((col("corr") - col("mn")) / (col("mx") - col("mn")))
    def passes: Column = {
      val s = scaledScore
      col("isConst") || (s >= col("thr"))
    }

    /** The store table itself: sparse emissions + (usually-empty)
      * zero-partner emissions, both gated by the per-item threshold. */
    def neighbors: DataFrame = {
      // (a) Sparse emissions: per-row scaled score vs per-item threshold.
      val sparseOut = sp
        .join(broadcast(perItem.drop("sx_a", "sxx_a", "u_a", "n", "uming",
          "mean", "sigma")), Seq("item_a"))
        .where(passes)
        .select(col("item_a").as("item_a_id"), col("item_b").as("item_b_id"),
          scaledScore.as("scaled_score"))

      // (b) Zero-partner emissions. Candidate a-items: threshold at or below
      // the best zero-pair score (loose by a relative epsilon so the exact
      // per-row filter below makes the boundary call). Typically EMPTY —
      // and provably the seed of every zero-pair row, so one cheap probe on
      // the CACHED perItem table skips the whole branch (its theta join AND
      // the co-occurrence anti-join shuffle) in the common case. At any
      // threshold a real store uses, the build is exactly the sparse
      // pipeline; the probe is one filter over catalog-sized cached rows.
      val rawThr = col("mn") + col("thr") * (col("mx") - col("mn"))
      val aCand = perItem.where(col("isConst") ||
        (-col("u_a") * col("uming") >= rawThr - abs(rawThr) * 1e-9 - lit(1e-12)))
      if (aCand.isEmpty) sparseOut
      else {
        val zeroOut = db
          .join(broadcast(aCand), col("item_a") =!= col("item_b") &&
            (col("isConst") ||
              (-col("u_a") * col("u_b") >= rawThr - abs(rawThr) * 1e-9 - lit(1e-12))))
          .join(sym.select(col("item_a"), col("item_b")), Seq("item_a", "item_b"), "left_anti")
          .withColumn("corr", Correlation.corrExpr(col("n"), lit(0.0),
            col("sx_a"), col("sxx_a"), col("sx_b"), col("sxx_b")))
          .where(passes)
          .select(col("item_a").as("item_a_id"), col("item_b").as("item_b_id"),
            scaledScore.as("scaled_score"))
        sparseOut.unionByName(zeroOut)
      }
    }
  }
}
