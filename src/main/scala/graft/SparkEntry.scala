package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are contributed by packs under `graft.queries`. */
object SparkEntry {

  private[graft] val packs: Seq[QueryPack] = Seq(
    ParityQueries,
    TextQueries,
    DedupQueries,
    AnnQueries,
    MultimodalQueries,
    StreamingQueries,
    ScaleQueries
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * EP-1 end-to-end: occurrences → crosstab → Pearson → kNN per item. */
  def entry(spark: SparkSession): DataFrame = {
    val occ = Tables.occOrders(spark, "/root/testdata/sf0.001")
    graft.api.SimilarityModel.fit(occ).topK(5)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → weaker rows-only check. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracleSql).toMap
}
