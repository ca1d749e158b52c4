package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * OP-19 (SURVEY §2.4): all-pairs Pearson correlation between items over the
 * sparse crosstab, computed RELATIONALLY from sufficient statistics
 * (SURVEY §7.2 strategy B) instead of the reference's dense
 * `A·Aᵀ` Gram matrix (`/root/reference/propius/similarity.py:16-44`).
 *
 * For items x, y over n contexts (zero cells included):
 *
 *   corr(x,y) = (n·Σxy − Σx·Σy) / sqrt(n·Σx² − (Σx)²) / sqrt(n·Σy² − (Σy)²)
 *
 * Per-item stats (Σx, Σx²) come from one pass over the crosstab; the pair
 * term Σxy only needs the contexts where BOTH items occur, so the self-join
 * preserves sparsity — zero cells never materialize. All arithmetic on the
 * co-moments is exact in binary64 (integer counts), so the only rounding is
 * the final sqrt/divide: reproducible across engines at 1e-6 (SURVEY §5.3).
 *
 * Scale notes (100 TB): `sparseCoMoments` shuffles on ctx then on the pair
 * key — both hash-partitioned, no driver materialization, no dense I×I
 * matrix anywhere. Hot contexts (a ctx shared by k items produces k² pair
 * rows) are the skew risk: AQE skew-join handles moderate skew, and
 * `maxContextDegree` caps pathological contexts (a context shared by
 * thousands of items carries almost no correlation signal but quadratic
 * cost — standard practice in co-occurrence mining). The FULL matrix
 * (including never-co-occurring pairs, which the reference's dense path
 * emits with small negative correlations) is only produced by `fullPairs`,
 * which requires an item predicate to bound the I×I blow-up (SURVEY §7.4.10).
 *
 * There is one co-moment layout (the ctx self-join, optionally degree
 * capped) and one Pearson expression (`corrExpr`). The pair paths are
 * `sparsePairs` (co-occurring pairs), `fullPairs` (parity and the
 * windowed reference the store build is tested against) and
 * `StoreBuild`'s internal join over `sparseCoMoments`.
 */
object Correlation {

  /** Per-item sufficient statistics: Σx and Σx² over contexts (zero cells
    * contribute nothing to either sum). One hash-aggregate on item. */
  def itemStats(crosstab: DataFrame): DataFrame =
    crosstab.groupBy("item").agg(
      sum(col("cnt")).cast("double").as("sx"),
      sum(col("cnt") * col("cnt")).cast("double").as("sxx"))

  /** n = number of context columns of the (virtual) matrix. */
  def nContexts(crosstab: DataFrame): DataFrame =
    crosstab.agg(countDistinct(col("ctx")).cast("double").as("n"))

  /** Σxy for co-occurring pairs only, upper triangle (item_a < item_b).
    * Self-join on ctx + hash aggregate on the pair key. */
  def sparseCoMoments(crosstab: DataFrame, maxContextDegree: Option[Int] = None): DataFrame = {
    val ct = maxContextDegree match {
      case Some(d) =>
        val deg = crosstab.groupBy("ctx").agg(count(lit(1)).as("deg"))
        crosstab.join(deg.where(col("deg") <= d).select("ctx"), Seq("ctx"), "left_semi")
      case None => crosstab
    }
    val a = ct.select(col("item").as("item_a"), col("ctx"), col("cnt").as("cnt_a"))
    val b = ct.select(col("item").as("item_b"), col("ctx"), col("cnt").as("cnt_b"))
    a.join(b, Seq("ctx"))
      .where(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(sum(col("cnt_a") * col("cnt_b")).cast("double").as("sxy"))
  }

  /** The Pearson expression from co-moments; zero-variance denominators →
    * NULL (the engine's normalization of the reference's NaN, SURVEY §7.4.1).
    * The one copy: `pairsFromStats`, `fullPairs` and `StoreBuild` all call
    * it, so every path rounds identically. */
  private[core] def corrExpr(n: Column, sxy: Column, sxA: Column, sxxA: Column,
                             sxB: Column, sxxB: Column): Column = {
    val den = sqrt(n * sxxA - sxA * sxA) * sqrt(n * sxxB - sxB * sxB)
    when(den === 0.0 || isnan(den), lit(null).cast("double"))
      .otherwise((n * sxy - sxA * sxB) / den)
  }

  /**
   * Pearson pairs from a sufficient-statistics triple — the shared tail of
   * `sparsePairs` and the incremental path (`Incremental.pairs`): item
   * stats (item, sx, sxx), upper-triangle co-moments (item_a, item_b,
   * sxy), and the 1-row context count. Item stats are small (one row per
   * item) — broadcast both joins; n is a 1-row broadcast.
   */
  def pairsFromStats(st: DataFrame, co: DataFrame, n: DataFrame): DataFrame = {
    val sym = co.unionByName(
      co.select(col("item_b").as("item_a"), col("item_a").as("item_b"), col("sxy")))
    val sa = st.select(col("item").as("item_a"), col("sx").as("sx_a"), col("sxx").as("sxx_a"))
    val sb = st.select(col("item").as("item_b"), col("sx").as("sx_b"), col("sxx").as("sxx_b"))
    sym
      .join(broadcast(sa), Seq("item_a"))
      .join(broadcast(sb), Seq("item_b"))
      .crossJoin(broadcast(n))
      .select(col("item_a"), col("item_b"),
        corrExpr(col("n"), col("sxy"), col("sx_a"), col("sxx_a"),
                 col("sx_b"), col("sxx_b")).as("corr"))
  }

  /**
   * Scalable path: correlations for CO-OCCURRING pairs, symmetric output
   * (both (a,b) and (b,a)), self excluded.
   */
  def sparsePairs(crosstab0: DataFrame, maxContextDegree: Option[Int] = None): DataFrame = {
    // The crosstab feeds three independent aggregations (item stats,
    // pair co-moments, context count); Catalyst has no cross-branch
    // subplan reuse, so persist it — MEMORY_AND_DISK spills cleanly when
    // the cell table outgrows executor memory at scale. `cacheOnce`
    // reuses an already-cached equal plan instead of re-persisting.
    val crosstab = Caches.cacheOnce(crosstab0)
    val co = sparseCoMoments(crosstab, maxContextDegree)
    // Cache the RESULT too: several queries consume the same pair table
    // (raw, top-k, matrix export), and CacheManager dedups by canonical
    // plan, so they share one materialization per session.
    Caches.cacheOnce(pairsFromStats(itemStats(crosstab), co, nContexts(crosstab)))
  }

  /**
   * Parity path: the reference's FULL correlation matrix restricted to the
   * query items selected by `itemPredicate` (on column `item_a`): every
   * other item appears as item_b, including never-co-occurring pairs
   * (sxy = 0), self excluded. Per-item_a vectors are COMPLETE — required by
   * the reference's vector-wide mean/σ and min-max statistics
   * (`similarity.py:153-158`, `data.py:132-143`).
   *
   * Cost is |selected items| × |items|: the predicate is mandatory at scale
   * (the unrestricted matrix is the I² cliff this engine exists to avoid;
   * use `sparsePairs` + `Neighbors.topK` for the all-items kNN path).
   */
  def fullPairs(crosstab0: DataFrame, itemPredicate: Column): DataFrame = {
    val crosstab = Caches.cacheOnce(crosstab0) // see sparsePairs
    val st = itemStats(crosstab)
    // Predicate pushdown INTO the co-moment join: only the selected items'
    // cells enter the ctx self-join (broadcast semi-join against the small
    // selected-item set), so the quadratic pair work scales with
    // |selected| × avg-degree instead of all items. Keeping the full
    // crosstab on the b-side covers both orientations — no symmetric
    // union needed.
    val selCells = crosstab.join(
      broadcast(st.where(itemPredicate).select(col("item"))), Seq("item"), "left_semi")
    val a = selCells.select(col("item").as("item_a"), col("ctx"), col("cnt").as("cnt_a"))
    val b = crosstab.select(col("item").as("item_b"), col("ctx"), col("cnt").as("cnt_b"))
    val symSel = a.join(b, Seq("ctx"))
      .where(col("item_a") =!= col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(sum(col("cnt_a") * col("cnt_b")).cast("double").as("sxy"))
    val left = st.where(itemPredicate) // predicate over column "item"
      .select(col("item").as("item_a"), col("sx").as("sx_a"), col("sxx").as("sxx_a"))
    val right = st.select(col("item").as("item_b"), col("sx").as("sx_b"), col("sxx").as("sxx_b"))
    val n = nContexts(crosstab)
    // Result cached: the full-vector table for one predicate feeds several
    // downstream queries (raw stats, store thresholding, store stats,
    // moments) — plan-equal calls share one materialization per session.
    Caches.cacheOnce(left.crossJoin(right)
      .where(col("item_a") =!= col("item_b"))
      .join(symSel, Seq("item_a", "item_b"), "left")
      .na.fill(0.0, Seq("sxy"))
      .crossJoin(broadcast(n))
      .select(col("item_a"), col("item_b"),
        corrExpr(col("n"), col("sxy"), col("sx_a"), col("sxx_a"),
                 col("sx_b"), col("sxx_b")).as("corr")))
  }
}
