package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The persisted similarity store (SURVEY §2.1: OP-06..08).
 *
 * Reference: SQLite tables `correlated_items(id, key, human_label)` and
 * `similar_items(item_a_id, item_b_id, scaled_score)` with unique indexes
 * for point lookups (`/root/reference/propius/data.py:44-87`), populated by
 * per-item `executemany` round-trips (`data.py:90-214`).
 *
 * Spark-first: both tables are parquet directories written in ONE bulk job
 * each. The SQLite unique indexes become physical layout: `similar_items`
 * is repartitioned and sorted by item_a_id so parquet row-group min/max
 * statistics prune point lookups (the index-like access path, SURVEY §4);
 * at warehouse scale the same call writes bucketed tables. "DDL" is
 * `mode("overwrite")`.
 */
object SimilarityStore {

  val CorrelatedItems = "correlated_items"
  val SimilarItems = "similar_items"

  /** OP-06+07: write the item dictionary (id, key, human_label=NULL —
    * the reference never populates human_label, `data.py:109`). */
  def writeCorrelatedItems(dictionary: DataFrame, storePath: String): Unit =
    dictionary
      .select(col("id").cast("long"), col("key").cast("string"),
        lit(null).cast("string").as("human_label"))
      .write.mode("overwrite").parquet(s"$storePath/$CorrelatedItems")

  /** OP-06+08: write the thresholded pair table, laid out for per-item
    * point lookups (sorted within files by item_a_id → row-group pruning). */
  def writeSimilarItems(pairs: DataFrame, storePath: String): Unit =
    pairs.select(col("item_a_id").cast("long"),
        col("item_b_id").cast("long"), col("scaled_score").cast("double"))
      .repartition(col("item_a_id"))
      .sortWithinPartitions("item_a_id", "item_b_id")
      .write.mode("overwrite").parquet(s"$storePath/$SimilarItems")

  /**
   * Warehouse-scale layout: the pair table as a BUCKETED catalog table —
   * `bucketBy(item_a_id)` + in-bucket sort. Serving joins, self-joins,
   * and repeated aggregations on item_a_id are then co-partitioned at
   * read time: no Exchange in the plan (guarded by the spec). This is
   * what the parquet-dir layout's row-group sorting becomes once a table
   * catalog is available (at 100 TB: the store is a warehouse table, not
   * a directory).
   */
  def writeSimilarItemsBucketed(pairs: DataFrame, tableName: String, buckets: Int,
                                path: Option[String] = None): Unit = {
    val w = pairs.select(col("item_a_id").cast("long"),
        col("item_b_id").cast("long"), col("scaled_score").cast("double"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "item_a_id")
      .sortBy("item_a_id", "item_b_id")
    path.fold(w)(p => w.option("path", p)).saveAsTable(tableName)
  }

  def readCorrelatedItems(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(s"$storePath/$CorrelatedItems")

  def readSimilarItems(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(s"$storePath/$SimilarItems")
}
