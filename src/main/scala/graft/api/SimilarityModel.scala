package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.core.{Correlation, Crosstab, Neighbors, StoreBuild}
import graft.store.{Serving, SimilarityStore}

/**
 * One-class facade mirroring the reference's public API
 * (`/root/reference/propius/__init__.py:27-46`, and the documented
 * `SimilarityModel` surface in `docs/api/sim-model.md:3-10`:
 * build / as_dataframe / save / store_in_db), over the functional core.
 *
 * Train (EP-1):  SimilarityModel.fit(occurrences)
 * Store (EP-2):  model.storeIn(path, dictionary)
 * Serve (EP-3):  SimilarityModel.Store(path).retrieve(itemId, limit)
 */
object SimilarityModel {

  /** `build_similarity_matrix` (`similarity.py:92-117`): occurrences →
    * crosstab → correlation model. Lazy — nothing runs until an action. */
  def fit(occurrences: DataFrame): SimilarityModel =
    new SimilarityModel(Crosstab.build(occurrences))

  def fromCrosstab(crosstab: DataFrame): SimilarityModel =
    new SimilarityModel(crosstab)

  /** Incremental EP-1 — the ingest loop the reference cannot run (it
    * rebuilds from the full log every time): resume from a
    * sufficient-statistics snapshot (`graft.core.Incremental.load`) and
    * serve/store from it. `pairs` reuses the snapshot's persisted
    * co-moments instead of re-deriving them from the crosstab. */
  def fromStats(stats: graft.core.Incremental.Stats): SimilarityModel =
    new SimilarityModel(stats.cells, Some(stats))

  /** One ingest step: fold a delta occurrence log into a snapshot and
    * return the refreshed model plus the snapshot to persist for the
    * next ingest. */
  def updated(stats: graft.core.Incremental.Stats,
              deltaOccurrences: DataFrame): (SimilarityModel, graft.core.Incremental.Stats) = {
    val next = graft.core.Incremental.update(stats, deltaOccurrences)
    (fromStats(next), next)
  }

  /** The inverse ingest step: retract an occurrence log (deletions /
    * corrections — `graft.core.Incremental.retract`); the refreshed
    * model is bit-identical to one rebuilt over the surviving history
    * (q98-gated). Removed occurrences must exist in the folded history. */
  def retracted(stats: graft.core.Incremental.Stats,
                removedOccurrences: DataFrame): (SimilarityModel, graft.core.Incremental.Stats) = {
    val next = graft.core.Incremental.retract(stats, removedOccurrences)
    (fromStats(next), next)
  }

  /** Serving handle over a persisted store (EP-3). The handle reads the
    * store as it is when first used: its first `retrieve` lists the pair
    * files, reads their footers and collects the dictionary into a driver
    * map (`Serving.PointLookup`); every `retrieve` after that reads the
    * item's rows on the driver with parquet's page index and runs no Spark
    * job. `retrieve` reads when called, not at the DataFrame's action.
    * Open a new handle to serve a rewritten store. */
  final case class Store(spark: SparkSession, path: String) {
    private lazy val sim = SimilarityStore.readSimilarItems(spark, path)
    private lazy val dict = SimilarityStore.readCorrelatedItems(spark, path)
    private lazy val lookup = new Serving.PointLookup(spark, path)
    def retrieve(itemId: Long, limit: Option[Int] = None): DataFrame =
      lookup.retrieve(itemId, limit)
    def itemInfo(ids: Seq[Long]): DataFrame = Serving.getItemInfo(dict, ids)
    def search(term: String, limit: Int = 10): DataFrame =
      Serving.searchItemsByName(dict, term, limit)
    def stats: DataFrame = Serving.databaseStats(sim, dict)
  }
}

final class SimilarityModel private (
    val crosstab: DataFrame,
    precomputed: Option[graft.core.Incremental.Stats] = None) {
  import org.apache.spark.sql.functions._

  /** Scalable correlation pairs (co-occurring, symmetric, self excluded).
    * A model resumed from a statistics snapshot serves them from the
    * persisted item-stats/co-moment summaries — no crosstab recompute. */
  def pairs: DataFrame = precomputed match {
    case Some(st) => graft.core.Incremental.pairs(st)
    case None => Correlation.sparsePairs(crosstab)
  }

  /** Reference-parity full vectors for selected items (SURVEY §7.4.10). */
  def fullPairs(itemPredicate: Column): DataFrame =
    Correlation.fullPairs(crosstab, itemPredicate)

  /** `get_similar_items` (`similarity.py:133-167`): raw-corr mean+k·σ
    * threshold for one item, best first. */
  def similarItems(itemId: Long, k: Double = 2.0): DataFrame =
    Neighbors.rawStdDevThreshold(fullPairs(col("item") === itemId), k)
      .orderBy(col("corr").desc, col("item_b"))

  /** kNN per item over the sparse pairs — the scale path. */
  def topK(k: Int): DataFrame = Neighbors.topK(pairs, k)

  /** `store_similarities_in_database` (EP-2, `data.py:19-41`): min-max
    * scale + mean+k·σ threshold per item, one bulk write of both tables.
    * `itemPredicate` (over column `item`) selects the items whose rows are
    * stored; each still scales and thresholds against its complete vector,
    * and the I×I matrix is never materialized (see `core.StoreBuild`). */
  def storeIn(path: String, dictionary: DataFrame,
              itemPredicate: Column = lit(true), k: Double = 2.0): Unit =
    writeStore(path, dictionary, k, Some(itemPredicate))

  /** `storeIn` with a JDBC destination instead of the parquet layout —
    * the reference's literal SQLite sink shape (`data.py:44-87` tables +
    * unique indexes), for a consumer already reading that database. */
  def storeInJdbc(url: String, dictionary: DataFrame,
                  itemPredicate: Column = lit(true), k: Double = 2.0,
                  props: java.util.Properties = new java.util.Properties): Unit =
    graft.store.JdbcStore.storeIn(dictionary,
      storeTable(k, Some(itemPredicate)), url, props)

  /** All-items EP-2 (`populate_similar_items` over the FULL catalog,
    * `data.py:116-149`): `storeIn` without a selection. The production
    * full-catalog build. */
  def storeAllIn(path: String, dictionary: DataFrame, k: Double = 2.0): Unit =
    writeStore(path, dictionary, k, None)

  private def writeStore(path: String, dictionary: DataFrame, k: Double,
                         itemPredicate: Option[Column]): Unit = {
    SimilarityStore.writeCorrelatedItems(dictionary, path)
    SimilarityStore.writeSimilarItems(storeTable(k, itemPredicate), path)
  }

  /** The thresholded store table (item_a_id, item_b_id, scaled_score) that
    * every EP-2 face writes, built by `core.StoreBuild`. A model resumed
    * from a statistics snapshot builds the unrestricted table from the
    * persisted summaries — no co-moment recompute (q57-gated). */
  private[api] def storeTable(k: Double, itemPredicate: Option[Column]): DataFrame =
    (precomputed, itemPredicate) match {
      case (Some(st), None) => StoreBuild.scaledNeighborsFromStats(st, k)
      case _ => StoreBuild.scaledNeighbors(crosstab, k, itemPredicate)
    }

  /** `save_correlation_matrix` parity (OP-04) — long-form pairs, CSV. */
  def save(path: String): Unit =
    graft.sources.Sources.saveCsv(pairs, path)

  /** `correlation_matrix_to_dataframe` parity (`similarity.py:120-130`):
    * the item×item correlation matrix as a WIDE DataFrame — one row per
    * item_a, one column per item_b, diagonal 1.0 (NULL for zero-variance
    * items, like the dense path's NaN). A DEBUG view for small catalogs:
    * the long pair form is the scale representation, so this guards at
    * `maxItems` (pivot requires collecting the column key set).
    * Column order follows ascending item id. */
  def wideMatrix(maxItems: Int = 1000): DataFrame = {
    val itemIds = crosstab.select(col("item")).distinct()
      .orderBy(col("item")).collect().map(_.getLong(0))
    require(itemIds.length <= maxItems,
      s"wideMatrix is a small-catalog debug view (${itemIds.length} items > $maxItems); " +
        "use pairs/fullPairs at scale")
    val st = Correlation.itemStats(crosstab)
      .crossJoin(broadcast(Correlation.nContexts(crosstab)))
    val diag = st.select(col("item").as("item_a"), col("item").as("item_b"),
      when(col("n") * col("sxx") - col("sx") * col("sx") > 0.0, lit(1.0))
        .otherwise(lit(null).cast("double")).as("corr"))
    fullPairs(lit(true)).unionByName(diag)
      .groupBy(col("item_a"))
      .pivot(col("item_b"), itemIds.map(_.asInstanceOf[AnyRef]).toSeq)
      .agg(first(col("corr")))
      .orderBy(col("item_a"))
  }
}
