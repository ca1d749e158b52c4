package graft.store

import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/**
 * Serving reads over the similarity store (SURVEY §2: OP-13..17, OP-22/23,
 * OP-25, OP-29, OP-31; reference `/root/reference/propius/data.py:217-359`).
 *
 * The point lookup is answered on the driver, as the reference answers it
 * with one SQLite index probe: a [[PointLookup]] holds the footers of the
 * store's pair files and the item dictionary, and reads one item's rows
 * with parquet's own reader. Row-group min/max statistics and the page
 * index (the pair table is sorted by item id within each file) skip every
 * row group and page that cannot hold the id; the rows read are joined to
 * the dictionary, ordered and limited in driver memory and returned as a
 * local DataFrame, whose `collect()` runs no Spark job.
 *
 * The other reads are declarative plans over the store's DataFrames:
 * IN-list and contains filters, TakeOrderedAndProject for ORDER BY … LIMIT
 * (true distributed top-k — never a full sort) and grouped counts.
 */
object Serving {

  /** The schema `retrieve` answers in (the reference's SELECT list). */
  private val NeighborSchema = StructType(Seq(StructField("item_b_id", LongType),
    StructField("key", StringType), StructField("scaled_score", DoubleType)))

  /** `ORDER BY scaled_score DESC, item_b_id` over answer rows, in Spark's
    * order: NULL scores last, NaN above every number, −0.0 equal to 0.0. */
  private val NeighborOrder: Ordering[Row] = (x, y) => {
    val byScore = (x.isNullAt(2), y.isNullAt(2)) match {
      case (false, false) =>
        java.lang.Double.compare(y.getDouble(2) + 0.0, x.getDouble(2) + 0.0) // −0.0 + 0.0 is 0.0
      case (xNull, yNull) => java.lang.Boolean.compare(xNull, yNull)
    }
    if (byScore != 0) byScore else java.lang.Long.compare(x.getLong(0), y.getLong(0))
  }

  private val ItemA = FilterApi.longColumn("item_a_id")

  /**
   * A persisted store's point-lookup index on the driver, made once per
   * serving handle: the data files of `similar_items` with their parquet
   * footers, and the item dictionary as a map `id → keys` (one Spark job
   * to collect it). Keys are kept as a list per id so the probe has the
   * inner join's semantics: an id absent from the dictionary drops its
   * neighbor rows, a NULL key is kept, a duplicated id repeats them, and
   * NULL ids are dropped (they never equal a neighbor). Catalog-sized,
   * like the broadcast side of the join it replaces. The index sees the
   * store as it was when it was made.
   */
  final class PointLookup private[graft] (spark: SparkSession, storePath: String) {
    private val conf = spark.sparkContext.hadoopConfiguration

    private val files: Seq[(HadoopInputFile, ParquetMetadata)] = {
      val dir = new Path(s"$storePath/${SimilarityStore.SimilarItems}")
      dir.getFileSystem(conf).listStatus(dir).toSeq
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith(".")) // Spark's data-file rule
        .map { f =>
          val in = HadoopInputFile.fromStatus(f, conf)
          in -> Using.resource(ParquetFileReader.open(in))(_.getFooter)
        }
    }

    private val keys: Map[Long, Array[String]] =
      SimilarityStore.readCorrelatedItems(spark, storePath).where(col("id").isNotNull)
        .select(col("id").cast("long"), col("key").cast("string")).collect()
        .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getString(1)) }

    /**
     * EP-3 `retrieve_similar_items` (`data.py:217-250`): neighbors of one
     * item with names attached, best first, as `SELECT si.item_b_id,
     * ci.key, si.scaled_score FROM similar_items si JOIN correlated_items
     * ci ON si.item_b_id = ci.id WHERE si.item_a_id = ? ORDER BY
     * scaled_score DESC, item_b_id [LIMIT n]` answers it. The rows are read
     * when this is called, not at the returned DataFrame's action.
     */
    def retrieve(itemId: Long, limit: Option[Int] = None): DataFrame = {
      require(limit.forall(_ >= 0), s"limit must be non-negative, got ${limit.get}")
      val options = HadoopReadOptions.builder(conf)
        .withRecordFilter(FilterCompat.get(FilterApi.eq(ItemA, java.lang.Long.valueOf(itemId))))
        .build()
      val rows = mutable.ArrayBuffer.empty[Row]
      for ((file, footer) <- files) Using.Manager { use =>
        val reader = use(ParquetFileReader.open(file, footer, options, use(file.newStream())))
        val schema = footer.getFileMetaData.getSchema
        val columns = new MessageType(schema.getName, Seq("item_a_id", "item_b_id", "scaled_score")
          .map(c => schema.getType(schema.getFieldIndex(c))).asJava)
        reader.setRequestedSchema(columns)
        var group = reader.readNextFilteredRowGroup() // OP-14: pruned point lookup
        while (group != null) {
          val store = new ColumnReadStoreImpl(group, new GroupRecordConverter(columns).getRootConverter,
            columns, footer.getFileMetaData.getCreatedBy)
          val Seq(a, b, s) = columns.getColumns.asScala.toSeq.map(c => store.getColumnReader(c))
          var n = group.getRowCount
          while (n > 0) {
            if (present(a) && a.getLong == itemId && present(b)) {
              val neighbor = b.getLong
              val score = if (present(s)) s.getDouble else null
              // OP-16: one output row per dictionary key
              keys.getOrElse(neighbor, NoKeys).foreach(k => rows += Row(neighbor, k, score))
            }
            next(a); next(b); next(s)
            n -= 1
          }
          group = reader.readNextFilteredRowGroup()
        }
      }.get
      val ordered = rows.sorted(NeighborOrder) // OP-24
      spark.createDataFrame(limit.fold(ordered)(ordered.take).asJava, NeighborSchema) // OP-26
    }
  }

  private val NoKeys = Array.empty[String]

  private def present(c: ColumnReader): Boolean =
    c.getCurrentDefinitionLevel == c.getDescriptor.getMaxDefinitionLevel

  /** Move to the next row, skipping a value that was not read. */
  private def next(c: ColumnReader): Unit = {
    if (present(c)) c.skip()
    c.consume()
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
