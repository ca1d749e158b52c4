package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Caches
import graft.operators.Dedup

/**
 * Persisted ExactSubstr state — the incremental face of the any-offset
 * substring tier (Lee et al. 2022), completing the crawl-delta matrix:
 * every other dedup tier already folds deltas (`DedupStore` for
 * MinHash-LSH, the streaming corpus folds for exact), and ExactSubstr is
 * the most expensive one to re-run from scratch because a full rebuild
 * re-windows the ENTIRE kept corpus. Here the kept corpus is represented
 * on disk by its stride-1 WINDOW-HASH set — 8 bytes per token position,
 * no text — and each delta folds with one pass over the DELTA only: the
 * base corpus text is never re-read (plan-guarded in
 * `ExactSubstrStoreSpec`).
 *
 * Semantics are KEEP-FIRST in ARRIVAL order (the `DedupStore` rule): a
 * token window whose hash is already stored is a later occurrence — its
 * [pos, pos+L) interval is removed wholesale (including the delta's own
 * first copy; the stored occurrence arrived earlier). Within one delta,
 * occurrences rank by (id, pos) and only the first survives. Removed
 * intervals coalesce into maximal islands and each document is
 * reassembled from the complement — exactly `Dedup.exactSubstrDedup`'s
 * protocol, sharing its interval/reassembly dataflow. When delta ids
 * sort after base ids, a delta fold is EQUAL to a full
 * `exactSubstrDedup` rebuild over (kept base ∪ delta) — the spec gates
 * that equality on the fixture.
 *
 * LAYOUT — versioned, batch-committed (the `Compaction` protocol, as
 * `DedupStore`): `substr_hashes/v<k>/` holds one `batch_<name>` parquet
 * directory of distinct window hashes per ingest, committed by a
 * `_committed_<name>` marker written LAST. A `dedupDelta` RETRY under
 * the same `deltaId` is exact: the reader view excludes the delta's own
 * batch name, so the retry recomputes the identical kept set and
 * overwrites the same directory. `compact` folds committed batches into
 * the next version's distinct base batch.
 *
 * Scale: the store holds ONE long per kept token position (~2% of kept
 * text bytes); the delta pass is delta windowing (map-only explode) +
 * one hash-keyed exchange shared by the keep-first rank and the stored-
 * hash anti-check + one doc-keyed exchange for island coalescing and
 * reassembly — the `exactSubstrDedup` shuffle bill, on delta-sized
 * inputs. Survivor hashes re-window only the KEPT delta text (so
 * junction-straddling windows created by reassembly enter the store
 * too, keeping sequential folds equal to full rebuilds).
 */
object ExactSubstrStore {

  val WindowHashes = "substr_hashes"

  private def root(storePath: String) = s"$storePath/$WindowHashes"

  private def distinctHashes(docs: DataFrame, windowTokens: Int,
                             idCol: String, textCol: String): DataFrame =
    Dedup.substrWindowHashes(
        Dedup.substrTokens(docs, idCol, textCol), windowTokens, idCol)
      .select(col("h")).distinct()

  /** Initialize the store: persist the distinct window-hash set of an
    * (ideally already ExactSubstr-deduplicated) base corpus as version
    * 0's base batch. A base with internal duplicate windows still folds
    * deltas correctly — but the rebuild-equality guarantee assumes the
    * base is its own kept text. */
  def write(docs: DataFrame, windowTokens: Int, storePath: String,
            idCol: String = "doc_id", textCol: String = "text"): Unit = {
    require(windowTokens > 0, "windowTokens must be positive")
    Compaction.init(docs.sparkSession, storePath, root(storePath), "substr:write") { dir =>
      distinctHashes(docs, windowTokens, idCol, textCol)
        .write.mode("overwrite").parquet(dir)
    }
  }

  /** The stored window-hash table (h), at the version served when this
    * is CALLED. Batches may repeat a hash (junction windows); consumers
    * test EXISTENCE, so duplicates are harmless until `compact` folds
    * them. */
  def hashes(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(Compaction.served(spark, root(storePath)): _*)

  /** Compact the hash table: fold committed batches into the next
    * version's distinct base batch and advance the marker (listing +
    * per-tiny-file footers otherwise come to dominate the probe join's
    * scan on a long-lived store). Dedup decisions are unaffected — same
    * hash SET. */
  def compact(spark: SparkSession, storePath: String): Unit =
    Compaction.compact(spark, storePath, root(storePath), "substr:compact") { (vdir, dest) =>
      spark.read.parquet(Compaction.committed(spark, vdir): _*).distinct()
        .write.mode("overwrite").parquet(dest)
    }

  /**
   * Fold one DELTA against the store, append the survivors' kept-text
   * window hashes (the ingest step — the append is this call's action),
   * and return the delta documents reassembled: (idCol, textCol,
   * n_removed), every delta document present, whitespace-normalized, ''
   * if fully covered — `exactSubstrDedup`'s output contract. `deltaId`
   * names the batch for crash/redelivery idempotence (a retry under the
   * same id recomputes and rewrites exactly); omitted, a fresh unique
   * name is used.
   */
  def dedupDelta(delta: DataFrame, storePath: String, windowTokens: Int,
                 idCol: String = "doc_id", textCol: String = "text",
                 deltaId: Option[String] = None): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val spark = delta.sparkSession
    val L = windowTokens
    val name = Compaction.batchName(deltaId)
    Compaction.append(spark, storePath, root(storePath),
        s"substr:delta:$name", name) { (vdir, dir) =>
      // the view excludes this delta's own batch, so a retry is exact
      val stored = spark.read.parquet(Compaction.committed(spark, vdir, Some(name)): _*)
      val toks = Dedup.substrTokens(delta, idCol, textCol)
      val wins = Dedup.substrWindowHashes(toks, L, idCol)
      // one hash-keyed exchange serves both rules: the intra-delta
      // keep-first rank and the stored-hash probe (a stored hash removes
      // EVERY delta occurrence — the store's copy arrived first)
      val wFirst = Window.partitionBy(col("h"))
        .orderBy(col(idCol).asc, col("pos").asc)
      val dups = wins
        .withColumn("rnk", row_number().over(wFirst))
        .join(stored.select(col("h"), lit(true).as("in_store")).distinct(),
          Seq("h"), "left")
        .where(col("rnk") > 1 || col("in_store"))
        .select(col(idCol), col("pos"), (col("pos") + L).as("end"))
      val kept = Caches.cacheOnce(
        Dedup.substrRemoveIntervals(toks, dups, idCol, textCol))
      // Ingest: survivors' KEPT text re-windows (junction-straddling
      // windows included) — overwrite, so a crashed attempt's partials
      // vanish.
      distinctHashes(kept, L, idCol, textCol)
        .write.mode("overwrite").parquet(dir)
      kept
    }
  }
}
