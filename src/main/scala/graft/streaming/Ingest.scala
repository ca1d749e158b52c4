package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Caches

/**
 * The one streaming-ingest driver: fold a micro-batched stream into a
 * persisted store with `foreachBatch`. A store supplies only its batch
 * function — `Bm25Store.append`, `QuantileLedger.append`,
 * `FrequencyLedger.append`, `AnnStore.appendIvf/appendSrp`,
 * `DedupStore.dedupDelta`, `LineDedupStore.dedupDelta`,
 * `FrontierStore.offer` (writing its kept or fetch output to
 * `<path>/batch=<id>`) or `IncrementalIngest.applyBatch/applyCdcBatch` —
 * called with the batch and its id:
 *
 * {{{
 *   Ingest.start(docs, checkpoint) { (batch, id) =>
 *     Bm25Store.append(batch, store, Some(Ingest.batchName(id)))
 *   }
 * }}}
 *
 * So the stream fold equals calling the batch function sequentially on
 * the same batches, and a nightly batch job shares the exact code path.
 *
 * Redelivery (the checkpoint replays the last uncommitted batch after a
 * crash) lands under the same batch name, and each store's own rule
 * makes it a no-op on the served state: `AnnStore` skips a batch whose
 * marker exists; the dedup, line-dedup and frontier stores compute
 * against a view that excludes the batch's own name, so the retry
 * rewrites identical content; the ledgers and `Bm25Store` overwrite their
 * own batch directory; `IncrementalIngest` skips a batch at or below the
 * snapshot marker. Serving keeps running throughout: readers resolve
 * committed batches at call time, and the marker-last protocol
 * (`store.Compaction`) means a half-written batch is never visible.
 *
 * Each batch runs inside `Caches.scoped`, not `clearAll`: the batch's
 * own caches are released once its output is durable, while concurrent
 * serving queries on the same session keep theirs — a long-running
 * ingest holds O(1) cache entries, not O(batches).
 */
object Ingest {

  /** The committed batch name of stream batch `id` — every store's
    * identity of a redelivered batch. */
  def batchName(id: Long): String = s"stream$id"

  /** Start the ingest: `rows` is a STREAMING DataFrame in the columns
    * `apply` reads, and the store `apply` writes must already exist. */
  def start(rows: DataFrame, checkpoint: String)
           (apply: (DataFrame, Long) => Unit): StreamingQuery = {
    val fn: (Dataset[Row], Long) => Unit =
      (batch, id) => Caches.scoped(apply(batch.toDF(), id))
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(fn)
      .start()
  }
}
