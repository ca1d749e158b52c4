package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Incremental model maintenance — the operational gap the reference never
 * closes: `/root/reference/propius/similarity.py:92-117` rebuilds the whole
 * model from the full occurrence log on every ingest. This engine's
 * sufficient-statistics core is ADDITIVE, so appending new occurrences
 * costs one aggregate over the DELTA plus merges against persisted
 * summaries — never a rescan of the occurrence history.
 *
 * The persisted state is the `Stats` snapshot:
 *
 *  - `cells` — the sparse crosstab (item, ctx, cnt): cell counts add, so
 *    `Crosstab.merge(base, delta)` IS the update (cells are the one
 *    summary the co-moment update must consult, see below);
 *  - `items` — per-item (sx, sxx);
 *  - `co` — upper-triangle pair co-moments (item_a, item_b, sxy);
 *  - `n` — the 1-row context count.
 *
 * Why the update is O(delta), not O(history): a new occurrence only
 * changes statistics through the CONTEXTS it touches. For every context
 * absent from the delta, its cells, its item-stat contributions, and its
 * pair products are untouched. So the update
 *
 *  1. semi-joins the base cell summary down to the delta's context set
 *     (`touched` — |delta contexts| × avg degree rows, independent of
 *     history size),
 *  2. recomputes item stats and co-moments over `merged = touched ∪ delta`
 *     and over `touched` alone, and
 *  3. folds `base + (merged − touched)` — every sum is an exact integer
 *     in binary64, so the merged statistics are BIT-IDENTICAL to a full
 *     rebuild over the unioned history (gated by q53 against the
 *     full-rebuild oracle, and by the randomized battery in
 *     `IncrementalSpec`).
 *
 * The expensive quadratic step — the ctx self-join behind `sxy` — runs
 * only over delta-context cells. The base OCCURRENCE LOG appears nowhere
 * in the update plan (spec-guarded); the base cell/stat SUMMARIES are
 * scanned once each, and they are orders of magnitude smaller than the
 * history (distinct cells vs raw events). At 100 TB: persist `Stats` as
 * parquet after each ingest; the daily update reads yesterday's summaries
 * + today's events only.
 */
object Incremental {

  /** Additive sufficient-statistics snapshot. All four tables are plain
    * DataFrames — persist them with `save` / any writer and read back to
    * resume; nothing here executes until an action. */
  final case class Stats(cells: DataFrame, items: DataFrame,
                         co: DataFrame, n: DataFrame)

  /** Build a snapshot from an occurrence log (the from-scratch path —
    * what the reference does on EVERY ingest; here it runs once). */
  def fromOccurrences(occ: DataFrame): Stats = fromCells(Crosstab.build(occ))

  /** Build a snapshot from an existing crosstab cell table. The item-stat
    * and co-moment summaries are session-cached (same policy as
    * `sparsePairs`' result cache): they are the model state, and every
    * consumer — pairs, the next delta update, a store build — reads them
    * repeatedly. MEMORY_AND_DISK spills when the pair summary outgrows
    * executor memory. */
  def fromCells(cells0: DataFrame): Stats = {
    val cells = Caches.cacheOnce(cells0) // feeds three aggregations
    Stats(cells, Caches.cacheOnce(Correlation.itemStats(cells)),
      Caches.cacheOnce(Correlation.sparseCoMoments(cells)),
      // 1 row, but its plan is a full distinct over the cell table —
      // and every broadcast that consumes it re-executes it uncached
      Caches.cacheOnce(Correlation.nContexts(cells)))
  }

  /** Apply a delta occurrence log to a base snapshot. */
  def update(base: Stats, deltaOcc: DataFrame): Stats =
    updateCells(base, Crosstab.build(deltaOcc))

  /** Retract an occurrence log from a base snapshot — the
    * deletion/correction path (the GDPR request every operational store
    * eventually serves): the result is BIT-identical to a full rebuild
    * over (history − removedOcc), at delta cost (gated by q98 against
    * exactly that oracle, and by the randomized add/remove battery in
    * `IncrementalSpec`). Input contract: every removed occurrence must
    * exist in the folded history — cell counts never go negative; a
    * retraction of something never ingested produces undefined
    * statistics (garbage in, garbage out, like any ledger). */
  def retract(base: Stats, removedOcc: DataFrame): Stats =
    updateCells(base, Crosstab.build(removedOcc)
      .withColumn("cnt", -col("cnt")))

  /** Apply a delta CELL table — a crosstab of the new occurrences, with
    * SIGNED counts: positive cells append (the `update` face), negative
    * cells retract (the `retract` face); one batch may mix both. The
    * inclusion-exclusion fold below is linear in the cell values, so the
    * same plan serves both signs; the sign-specific work is pruning —
    * cells, item rows, and pair co-moments that a retraction drives to
    * exactly zero must LEAVE their summaries (the integer arithmetic is
    * exact in binary64, so the zero test is exact), and the context
    * count must drop for contexts whose last cell disappears.
    *
    * Operational note: `save` the snapshot between batches (or stream
    * through `streaming.Ingest` with `IncrementalIngest.applyBatch`,
    * which does). Each in-session fold
    * references the previous snapshot's plans several times, so chaining
    * MANY folds without persisting grows the logical plan
    * multiplicatively — the driver, not the data, becomes the limit. */
  def updateCells(base: Stats, deltaCells0: DataFrame): Stats = {
    val deltaCells = Caches.cacheOnce(deltaCells0)
    val dctx = deltaCells.select("ctx").distinct()

    // Base summary pruned to the touched contexts: the only base rows any
    // recomputation below ever reads.
    val touched = Caches.cacheOnce(
      base.cells.join(dctx, Seq("ctx"), "left_semi"))
    // Zero-pruned: a cell whose count a retraction cancels exactly must
    // not survive as a (item, ctx, 0) row — it would re-enter the next
    // update's touched set and (worse) the crosstab no longer equals the
    // crosstab of the remaining history.
    val merged = Caches.cacheOnce(
      Crosstab.merge(touched, deltaCells).where(col("cnt") =!= 0))

    // Item stats: sxx is NOT additive across overlapping cells
    // ((c₁+c₂)² ≠ c₁²+c₂²), so recompute the touched contribution and fold
    // base + add − sub. Three integer-valued rows per item — exact.
    val addI = Correlation.itemStats(merged)
    val subI = Correlation.itemStats(touched)
    // Fully-retracted items (all cells gone) fold to sx = sxx = 0 — prune
    // them so the summary matches a rebuild over the remaining history
    // (surviving cells are positive counts, so sxx > 0 iff any remain;
    // the sums are exact integers in binary64, so the test is exact).
    val items = base.items
      .unionByName(addI)
      .unionByName(subI.select(col("item"),
        (-col("sx")).as("sx"), (-col("sxx")).as("sxx")))
      .groupBy("item")
      .agg(sum(col("sx")).as("sx"), sum(col("sxx")).as("sxx"))
      .where(col("sxx") =!= 0.0)

    // Pair co-moments. Naive add − sub would self-join `merged` and
    // `touched` — two joins QUADRATIC in the touched contexts' degree.
    // Inclusion-exclusion puts the (small) DELTA on one side of every
    // join instead: per context, the co-moment change for a pair {a, b}
    //
    //   (a_b+a_d)(b_b+b_d) − a_b·b_b  =  a_d·m_b + m_a·b_d − a_d·b_d
    //
    // (m = merged cell). The delta×merged join emits d·m for every
    // orientation with the delta on one side — items absent from the
    // delta contribute exactly the missing orientation (d = 0) — and the
    // delta×delta join removes the double-counted d·d term. The identity
    // is LINEAR in the signed cell values, so retraction rides the same
    // plan; merged's zero-pruning only removes m = 0 factors, whose terms
    // are zero anyway. Cost: |delta cells| × context degree, never
    // |touched|². All terms are integer products summed exactly in
    // binary64, so the fold equals the full rebuild bit-for-bit. A pair
    // whose shared contexts are all retracted folds to sxy = 0 exactly
    // (and a surviving shared context keeps sxy > 0), so the zero-prune
    // below restores the sparse invariant: a co-moment row exists iff the
    // pair still co-occurs.
    val dm = deltaCells.select(col("item").as("d_item"), col("ctx"), col("cnt").as("d_cnt"))
      .join(merged.select(col("item").as("m_item"), col("ctx"), col("cnt").as("m_cnt")),
        Seq("ctx"))
      .where(col("d_item") =!= col("m_item"))
      .select(least(col("d_item"), col("m_item")).as("item_a"),
        greatest(col("d_item"), col("m_item")).as("item_b"),
        (col("d_cnt") * col("m_cnt")).as("term"))
    val dd = deltaCells.select(col("item").as("item_a"), col("ctx"), col("cnt").as("cnt_a"))
      .join(deltaCells.select(col("item").as("item_b"), col("ctx"), col("cnt").as("cnt_b")),
        Seq("ctx"))
      .where(col("item_a") < col("item_b"))
      .select(col("item_a"), col("item_b"), (-col("cnt_a") * col("cnt_b")).as("term"))
    val diff = dm.unionByName(dd)
      .groupBy("item_a", "item_b")
      .agg(sum(col("term")).cast("double").as("sxy"))
    val co = base.co
      .unionByName(diff)
      .groupBy("item_a", "item_b")
      .agg(sum(col("sxy")).as("sxy"))
      .where(col("sxy") =!= 0.0)

    // Context count: + contexts the corpus has never seen (that survive
    // the merge — a batch netting to zero introduces nothing), − touched
    // contexts whose last cell a retraction removed. Both signs fold in
    // ONE aggregate over the delta's context set: within dctx,
    // ctx ∈ base ⟺ ctx ∈ touched (touched IS base ∩ dctx), so the
    // membership flags come from the two small cached tables — the full
    // base cell summary is never scanned here. Cached like the other
    // summaries: every consuming broadcast would otherwise re-run it.
    val delta_n = dctx
      .join(touched.select("ctx").distinct().withColumn("__in_base", lit(true)),
        Seq("ctx"), "left")
      .join(merged.select("ctx").distinct().withColumn("__after", lit(true)),
        Seq("ctx"), "left")
      .agg(coalesce(sum(
        when(col("__in_base").isNull && col("__after").isNotNull, 1.0)
          .when(col("__in_base").isNotNull && col("__after").isNull, -1.0)
          .otherwise(0.0)), lit(0.0)).as("dn"))
    val n = Caches.cacheOnce(
      base.n.crossJoin(delta_n).select((col("n") + col("dn")).as("n")))

    // New cell summary for the NEXT update: untouched base cells + merged.
    // Lazy — consumers that only read `pairs` never execute this branch.
    val cells = base.cells.join(dctx, Seq("ctx"), "left_anti").unionByName(merged)

    // The merged summaries are the NEW model state — cached like
    // `fromCells`' (and like `sparsePairs`' result), so repeated
    // consumers fold the delta once per session, not once per action.
    Stats(cells, Caches.cacheOnce(items), Caches.cacheOnce(co), n)
  }

  /** Correlation pairs from a snapshot — identical arithmetic (and
    * therefore identical binary64 output) to `Correlation.sparsePairs`
    * over the equivalent full crosstab. */
  def pairs(stats: Stats): DataFrame =
    Correlation.pairsFromStats(stats.items, stats.co, stats.n)

  /** Persist a snapshot as four parquet tables under `path`. */
  def save(stats: Stats, path: String): Unit = {
    stats.cells.write.mode("overwrite").parquet(s"$path/cells")
    stats.items.write.mode("overwrite").parquet(s"$path/items")
    stats.co.write.mode("overwrite").parquet(s"$path/co")
    stats.n.write.mode("overwrite").parquet(s"$path/n")
  }

  /** Load a snapshot persisted by `save`. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Stats =
    Stats(spark.read.parquet(s"$path/cells"), spark.read.parquet(s"$path/items"),
      spark.read.parquet(s"$path/co"), spark.read.parquet(s"$path/n"))
}
