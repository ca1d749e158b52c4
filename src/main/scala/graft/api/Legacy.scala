package graft.api

import org.apache.spark.sql.DataFrame
import graft.store.SimilarityStore

/**
 * Deprecated compatibility surface mirroring the reference's legacy names
 * (`/root/reference/propius/data.py:362-462`): the `ModelStorer` class and
 * its function aliases. Everything delegates to the `SimilarityModel` /
 * `SimilarityStore` core — these exist so reference call-sites port
 * 1:1, and they carry `@deprecated` the way the originals carry
 * `DeprecationWarning`.
 */
object Legacy {

  /** `store_similarity_model_in_database` (`data.py:363-386`). */
  @deprecated("Use SimilarityModel.storeIn / storeAllIn", "0.1.0")
  def storeSimilarityModelInDatabase(model: SimilarityModel, dictionary: DataFrame,
                                     storePath: String): Unit =
    model.storeAllIn(storePath, dictionary)

  /** `prepare_model_storage` (`data.py:401-409`): SQLite DDL in the
    * reference; the parquet store's "DDL" is `mode("overwrite")` at write
    * time, so preparation is a no-op kept for call-site compatibility. */
  @deprecated("The parquet store needs no preparation step", "0.1.0")
  def prepareModelStorage(storePath: String): Unit = ()

  /** `store_model_similarities` (`data.py:412-422`). */
  @deprecated("Use SimilarityModel.storeIn / storeAllIn", "0.1.0")
  def storeModelSimilarities(model: SimilarityModel, dictionary: DataFrame,
                             storePath: String): Unit =
    model.storeAllIn(storePath, dictionary)

  /** `ModelStorer` (`data.py:388-398`): prepare / populate_correlated_items /
    * populate_similar_items, step by step. `populateSimilarItems` writes
    * the same table as `storeAllIn` — the reference's all-items loop
    * without the I×I cliff. */
  @deprecated("Use SimilarityModel.storeIn / storeAllIn", "0.1.0")
  final class ModelStorer(model: SimilarityModel, dictionary: DataFrame,
                          storePath: String) {
    def prepare(): Unit = ()
    def populateCorrelatedItems(): Unit =
      SimilarityStore.writeCorrelatedItems(dictionary, storePath)
    def populateSimilarItems(): Unit =
      SimilarityStore.writeSimilarItems(model.storeTable(2.0, None), storePath)
  }
}
