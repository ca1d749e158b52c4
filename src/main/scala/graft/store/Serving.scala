package graft.store

import java.util.Locale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/**
 * Serving reads over the similarity store (SURVEY §2: OP-13..17, OP-22/23,
 * OP-25, OP-29, OP-31; reference `/root/reference/propius/data.py:217-359`).
 *
 * Each read is a declarative plan Catalyst compiles to the index-like shape
 * the reference gets from SQLite: a parquet scan pruned by the pushed
 * `item_a_id = ?` for the point lookup, and TakeOrderedAndProject for
 * ORDER BY … LIMIT (true distributed top-k — never a full sort). The pair
 * table is hash-partitioned by item id and sorted within each file, so
 * min/max statistics skip whole row groups once a file has several. A
 * small store (about 71 k pairs, where AQE coalesces the write to one
 * partition) is one file with one row group, and there parquet's page
 * index does the pruning: a lookup reads the page holding its id, about
 * 19 k rows, to return about 10. The point lookup attaches keys from an [[ItemDictionary]] shipped to
 * the executors once per serving handle, so a lookup is one Spark job:
 * pruned scan → key probe → top-k, with no join, no dictionary scan and no
 * exchange. Like a prepared statement, the lookup compiles once per
 * handle: the id reaches the generated code as a bound parameter
 * (`graft.plans.BindScanFilterLiterals`), so every later lookup, whatever
 * its id, reuses the compiled classes from Spark's codegen cache.
 */
object Serving {

  /**
   * The item dictionary as a serving value: `correlated_items`' (id, key)
   * rows collected once on the driver and held in a broadcast variable,
   * so every lookup that uses it probes a map instead of re-scanning and
   * re-broadcasting the dictionary. Keys are kept as a list per id so the
   * probe has the inner join's semantics: an id absent from the dictionary
   * drops its neighbor rows, a NULL key is kept, a duplicated id repeats
   * them. Catalog-sized, like the broadcast side of the join it replaces;
   * the broadcast is released when the value is garbage-collected.
   */
  final class ItemDictionary private[Serving] (private[Serving] val keysOf: UserDefinedFunction)

  /** Collect `correlatedItems`' (id, key) rows into an [[ItemDictionary]]
    * (one Spark job). NULL ids are dropped: they never equal a neighbor. */
  def itemDictionary(correlatedItems: DataFrame): ItemDictionary = {
    val rows = correlatedItems.where(col("id").isNotNull)
      .select(col("id").cast("long"), col("key").cast("string")).collect()
    val keys = correlatedItems.sparkSession.sparkContext.broadcast(
      rows.groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getString(1)) })
    val none = Array.empty[String]
    new ItemDictionary(udf((id: Long) => keys.value.getOrElse(id, none)))
  }

  /**
   * EP-3 `retrieve_similar_items` (`data.py:217-250`): neighbors of one
   * item with names attached, best first.
   * SQL shape: `SELECT si.item_b_id, ci.key, si.scaled_score FROM
   * similar_items si JOIN correlated_items ci ON si.item_b_id = ci.id
   * WHERE si.item_a_id = ? ORDER BY scaled_score DESC [LIMIT n]`, with the
   * join answered by `dictionary` (same rows, same schema).
   */
  def retrieveSimilarItems(similarItems: DataFrame, dictionary: ItemDictionary,
                           itemId: Long, limit: Option[Int] = None): DataFrame = {
    val named = similarItems
      .where(col("item_a_id") === lit(itemId)) // OP-14: pruned point lookup
      .select(col("item_b_id"), // OP-16: one output row per dictionary key
        explode(dictionary.keysOf(col("item_b_id"))).as("key"), col("scaled_score"))
      .orderBy(col("scaled_score").desc, col("item_b_id").asc) // OP-24
    limit.map(named.limit).getOrElse(named) // OP-26
  }

  /** `get_item_info` (`data.py:253-278`): dictionary rows for an id set
    * (OP-15 IN-list — semi-join semantics, never SQL string splicing). */
  def getItemInfo(correlatedItems: DataFrame, ids: Seq[Long]): DataFrame =
    correlatedItems.where(col("id").isin(ids: _*))
      .select(col("id"), col("key"), col("human_label"))
      .orderBy(col("id"))

  /**
   * `search_items_by_name` (`data.py:281-313`): case-insensitive contains
   * on key OR human_label (OP-13/29 — SQLite `LIKE '%t%'` is ASCII
   * case-insensitive, SURVEY §7.4.8), ordered by key (OP-25), default
   * limit 10 (`data.py:283`).
   */
  def searchItemsByName(correlatedItems: DataFrame, term: String,
                        limit: Int = 10): DataFrame = {
    val t = lit(term.toLowerCase(Locale.ROOT))
    correlatedItems
      .where(lower(col("key")).contains(t) ||
        lower(coalesce(col("human_label"), lit(""))).contains(t))
      .select(col("id"), col("key"))
      .orderBy(col("key"), col("id"))
      .limit(limit)
  }

  /**
   * `get_database_stats` (`data.py:316-359`): table row counts (OP-22) and
   * the average neighbor-list length — AVG over a grouped COUNT, rounded to
   * 2, 0 when empty (OP-23, OP-31). One row out.
   */
  def databaseStats(similarItems: DataFrame, correlatedItems: DataFrame): DataFrame = {
    val items = correlatedItems.agg(count(lit(1)).as("correlated_items"))
    // Single pass over the (potentially expensive) similar-items plan: the
    // grouped neighbor counts yield BOTH the total pair count (Σc) and the
    // average list length — evaluating the input twice would recompute the
    // whole store pipeline per branch (Catalyst has no cross-branch reuse).
    val pairsAndAvg = similarItems.groupBy("item_a_id")
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).cast("long").as("similar_items"),
        coalesce(round(avg(col("c").cast("double")), 2), lit(0.0)).as("avg_similar_items"))
    items.crossJoin(pairsAndAvg)
      .select(col("correlated_items"), col("similar_items"), col("avg_similar_items"))
  }
}
