package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import graft.core.{Crosstab, Incremental}
import graft.store.Compaction

/**
 * Continuous model maintenance — the batch function of the incremental
 * core (EXT-C5) for `Ingest.start`: fold `Incremental.updateCells` over a
 * micro-batched occurrence stream, persisting the sufficient-statistics
 * snapshot after every batch. Each batch costs one delta aggregate plus
 * summary merges bounded by the batch's contexts; the occurrence history
 * is NEVER rescanned — this is the operational loop the reference cannot
 * run (it retrains from the full log on every ingest, propius
 * `similarity.py:92-117`).
 *
 * Snapshot layout: the `Compaction` version layout — batch `k`'s snapshot
 * in `$statePath/v<k>`, the `LATEST` marker committed LAST, so a crash
 * mid-write leaves the previous snapshot served, and a redelivered batch
 * at or below the marker is skipped. The fold reads the PERSISTED
 * previous snapshot, not live plans, so the driver's release of the
 * batch's caches once the snapshot is on disk is safe.
 */
object IncrementalIngest {

  /** Load the latest durable snapshot, if any. */
  def loadLatest(spark: SparkSession, statePath: String): Option[Incremental.Stats] =
    Compaction.currentVersion(spark, statePath)
      .map(v => Incremental.load(spark, s"$statePath/v$v"))

  /** Apply one occurrence micro-batch: fold into the latest snapshot,
    * persist the result as version `batchId`, advance the marker, then
    * (optionally) prune superseded snapshots. `keepLast = Some(k)` bounds
    * on-disk state to the k newest durable snapshots — without it a
    * long-running ingest grows `v<batchId>` directories without bound. */
  def applyBatch(batch: DataFrame, batchId: Long, statePath: String,
                 keepLast: Option[Int] = None): Unit =
    applyCells(Crosstab.build(batch), batchId, statePath, keepLast)

  /** CDC face of the ingest: each occurrence row carries a signed `opCol`
    * (+1 insert, −1 delete/correction); one batch may mix both. Cells
    * aggregate the signed ops, so the fold rides `updateCells`' signed
    * path (EXT-C15) — the stream that keeps a model in sync with a
    * mutable upstream store, deletions included. Deletes must refer to
    * occurrences actually in the folded history (the `retract`
    * contract); on the very FIRST batch — no history at all — net
    * negative cells are dropped rather than folded into nonsense. */
  def applyCdcBatch(batch: DataFrame, batchId: Long, statePath: String,
                    keepLast: Option[Int] = None, opCol: String = "op"): Unit = {
    val cells = batch
      .select(col("item_id").cast("long").as("item"),
        col("reference_id").cast("long").as("ctx"),
        col(opCol).cast("long").as("op"))
      .groupBy("item", "ctx")
      .agg(sum(col("op")).as("cnt"))
      .where(col("cnt") =!= 0)
    applyCells(cells, batchId, statePath, keepLast)
  }

  private def applyCells(cells: DataFrame, batchId: Long, statePath: String,
                         keepLast: Option[Int]): Unit = {
    val spark = cells.sparkSession
    val latest = Compaction.currentVersion(spark, statePath)
    // Exactly-once across crash/redelivery: the checkpoint may replay the
    // last uncommitted batch after the marker already advanced — a batch
    // at or below the marker is already folded in, so skip it.
    if (latest.exists(_ >= batchId)) return
    val next = latest.map(v => Incremental.load(spark, s"$statePath/v$v")) match {
      case Some(prev) => Incremental.updateCells(prev, cells)
      case None => Incremental.fromCells(cells.where(col("cnt") > 0))
    }
    Incremental.save(next, s"$statePath/v$batchId")
    Compaction.commit(spark, statePath, batchId)
    keepLast.foreach(Compaction.prune(spark, statePath, _))
  }
}
