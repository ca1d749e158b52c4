package perfbench

import graft.core.{Correlation, Crosstab, Incremental, Neighbors, StoreBuild}
import graft.store.SimilarityStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Untimed output checks. Each returns a description of the mismatch, or
  * None when the engine's output matches the independent computation. */
object Checks {

  private val Tolerance = 1e-9

  /** Store rows (item_a_id, item_b_id, scaled_score) that differ between
    * two tables: missing on either side or scores apart by more than the
    * tolerance. */
  private def mismatches(expected: DataFrame, actual: DataFrame): Long = {
    val e = expected.select(col("item_a_id"), col("item_b_id"), col("scaled_score").as("e"))
    val a = actual.select(col("item_a_id"), col("item_b_id"), col("scaled_score").as("a"))
    e.join(a, Seq("item_a_id", "item_b_id"), "full_outer")
      .where(col("e").isNull || col("a").isNull || abs(col("e") - col("a")) > Tolerance)
      .count()
  }

  /** The built store's rows for `sample` items against the windowed
    * reference path: the items' complete correlation vectors
    * (`Correlation.fullPairs`) thresholded by
    * `Neighbors.scaledStdDevThreshold`. */
  def buildStore(spark: SparkSession, occ: DataFrame, store: String,
                 sample: Seq[Long]): Option[String] = {
    val pred = col("item").isin(sample: _*)
    val expected = Neighbors.scaledStdDevThreshold(
      Correlation.fullPairs(Crosstab.build(occ), pred), 2.0)
    val actual = SimilarityStore.readSimilarItems(spark, store)
      .where(col("item_a_id").isin(sample: _*))
    val bad = mismatches(expected, actual)
    if (bad == 0) None else Some(s"$bad store rows differ from the reference on ${sample.size} items")
  }

  /** The folded snapshot's correlation pairs equal those of a snapshot
    * built from scratch over the surviving history. */
  def snapshot(folded: Incremental.Stats, survivors: DataFrame): Option[String] = {
    val a = Incremental.pairs(folded).withColumnRenamed("corr", "a").withColumn("in_a", lit(true))
    val b = Incremental.pairs(Incremental.fromOccurrences(survivors))
      .withColumnRenamed("corr", "b").withColumn("in_b", lit(true))
    // Bit-identical is the contract: every pair on both sides, with
    // NULL-safe exact equality of the correlations.
    val bad = a.join(b, Seq("item_a", "item_b"), "full_outer")
      .where(col("in_a").isNull || col("in_b").isNull || !(col("a") <=> col("b")))
      .count()
    if (bad == 0) None else Some(s"$bad folded pairs differ from a from-scratch snapshot")
  }

  /** The refreshed store's rows for the last batch's touched items equal a
    * full rebuild's rows for them. */
  def touchedRows(spark: SparkSession, store: String, survivors: DataFrame,
                  touched: DataFrame): Option[String] = {
    val sel = touched.select(col("item").as("item_a_id"))
    val rebuilt = StoreBuild.scaledNeighbors(Crosstab.build(survivors))
      .join(sel, Seq("item_a_id"), "left_semi")
    val stored = SimilarityStore.readSimilarItems(spark, store)
      .join(sel, Seq("item_a_id"), "left_semi")
    val bad = mismatches(rebuilt, stored)
    if (bad == 0) None else Some(s"$bad touched-item rows differ from a full rebuild")
  }

  /** What `retrieve(id, Some(10))` must answer for each id: the store's
    * rows for that item, best score first, ties by neighbor id, with the
    * neighbor's dictionary key. */
  def lookupExpectation(spark: SparkSession, store: String, ids: Seq[Long],
                        keys: Map[Long, String]): Map[Long, Array[Row]] = {
    val rows = SimilarityStore.readSimilarItems(spark, store)
      .where(col("item_a_id").isin(ids: _*)).collect()
    val byItem = rows.groupBy(_.getLong(0))
    ids.map { id =>
      id -> byItem.getOrElse(id, Array.empty[Row])
        .sortWith((x, y) => x.getDouble(2) > y.getDouble(2) ||
          (x.getDouble(2) == y.getDouble(2) && x.getLong(1) < y.getLong(1)))
        .take(10)
        .map(r => Row(r.getLong(1), keys(r.getLong(1)), r.getDouble(2)))
    }.toMap
  }

  def sameAnswer(got: Array[Row], expected: Array[Row]): Boolean =
    got.length == expected.length && got.zip(expected).forall { case (g, e) =>
      g.getLong(0) == e.getLong(0) && g.getString(1) == e.getString(1) &&
        g.getDouble(2) == e.getDouble(2)
    }
}
