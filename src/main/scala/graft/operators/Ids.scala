package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Caches

/**
 * Stable dense ID assignment — contiguous 0-based longs in a caller-given
 * total order, with NO single-partition stage anywhere in the plan.
 *
 * The naive forms both break at 100 TB: `row_number()` over an
 * unpartitioned window funnels the corpus through one sort task, and
 * `monotonically_increasing_id()` is neither dense nor stable across
 * re-runs. This is the two-phase distributed rank: range-partition by
 * the order, number rows locally per partition, then add each
 * partition's global offset —
 * a broadcast prefix sum over at most `spark.sql.shuffle.partitions`
 * per-partition totals. Correct for ANY contiguous-range placement, so
 * it does not depend on the range sampler's exact bounds; deterministic
 * whenever the order key is a total order (unique), which training-data
 * pipelines need anyway for reproducible shard assignment.
 */
object Ids {

  /** Append `idName` = 0-based dense rank of each row under `order`
    * (must be a total order for a deterministic assignment). */
  def denseIds(df: DataFrame, order: Seq[Column], idName: String = "uid"): DataFrame = {
    // Cached: feeds both the local numbering and the per-partition
    // counts; without it each consumer re-runs the range exchange.
    val parts = Caches.cacheOnce(
      df.repartitionByRange(order: _*).withColumn("__pid", spark_partition_id()))
    val wLocal = Window.partitionBy(col("__pid")).orderBy(order: _*)
    val local = parts.withColumn("__lr", row_number().over(wLocal).cast("long"))
    val counts = parts.groupBy(col("__pid")).agg(count(lit(1)).as("pcnt"))
    val offs = counts
      .join(broadcast(counts.select(col("__pid").as("qid"), col("pcnt").as("qcnt"))),
        col("qid") < col("__pid"), "left")
      .groupBy(col("__pid")).agg(coalesce(sum(col("qcnt")), lit(0L)).as("off"))
    local.join(broadcast(offs), Seq("__pid"))
      .withColumn(idName, col("__lr") - lit(1L) + col("off"))
      .drop("__pid", "__lr")
  }
}
