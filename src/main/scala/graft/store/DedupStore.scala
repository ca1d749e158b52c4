package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Caches
import graft.operators.Dedup

/**
 * Persisted dedup state — the incremental face of the MinHash-LSH tier
 * (the crawl-increment protocol): the kept corpus is represented on disk
 * by its SIGNATURE table, and each day's delta dedups against that state
 * with one pass over the DELTA — the base corpus TEXT is never rescanned
 * (plan-guarded in `DedupStoreSpec`).
 *
 * Semantics are KEEP-FIRST, the streaming-corpus rule: an earlier-kept
 * document always beats a later near-duplicate (`dedupKeepFirst`'s
 * contract at the near-dup tier). Within one delta, EXACT duplicates
 * collapse to the minimum id first (`Dedup.exactDroppedIds` — identical
 * text means identical signature, so this is the same decision the
 * signature estimate makes, taken before any band join sees the copies);
 * then near-dup components keep their minimum id — unless that survivor
 * itself near-matches the store, in which case nothing of its component
 * survives (the others were only ever near-dups of a doc that lost to
 * kept content). The drop criterion is the SIGNATURE similarity estimate
 * (`Dedup.estSim` ≥ threshold) — the decision an index-only system can
 * make without refetching base text; an exact Jaccard re-check would need
 * base shingle sets, i.e. a second, far larger persisted table. Documents
 * too short to shingle (< n tokens) carry no signature and always pass —
 * no evidence, no drop (their exact copies pass too, for the same
 * reason).
 *
 * LAYOUT — versioned, batch-committed (the `Compaction` protocol):
 * `minhash_sigs/v<k>/` holds one `batch_<name>` parquet directory per
 * ingest with a `_committed_<name>` marker written LAST, plus
 * `tomb_<name>` retraction batches under `_retracted_<name>` markers.
 * Readers see only committed batches minus committed tombstones, so a
 * crash mid-append is invisible and a `dedupDelta` RETRY under the same
 * `deltaId` is exact: the store view excludes the delta's own batch
 * directory, so the retry recomputes the identical kept set and
 * overwrites the same directory (crash-idempotent ingest — no restore
 * step). Compaction folds committed-minus-tombstones into `v<k+1>` and
 * advances the `LATEST` marker; live readers keep their resolved version.
 *
 * Scale: the store holds numPerms longs per kept document; the delta
 * pass is delta shingling (map-only) + band hash joins whose candidate
 * cost tracks LSH collision probability (`maxBandDegree` guards hot
 * buckets); band keys are recomputed from stored signatures map-side
 * (signatures are the state — persisting the derivable band table would
 * only trade IO for md5).
 */
object DedupStore {

  val Signatures = "minhash_sigs"

  private def root(storePath: String) = s"$storePath/$Signatures"

  /** Initialize the store: persist the signature table of an
    * (ideally already-deduplicated) base corpus as version 0's base
    * batch. */
  def write(docs: DataFrame, n: Int, numPerms: Int, storePath: String,
            idCol: String = "doc_id", textCol: String = "text"): Unit =
    Compaction.init(docs.sparkSession, storePath, root(storePath), "dedup:write") { dir =>
      Dedup.minHashSignatures(docs, n, numPerms, idCol, textCol)
        .write.mode("overwrite").parquet(dir)
    }

  /** The signature view over one version dir: committed batches minus
    * committed tombstones. `exclude` drops one batch name from the view —
    * `dedupDelta` passes its own, making retries exact. */
  private def viewOf(spark: SparkSession, vdir: String,
                     exclude: Option[String]): DataFrame = {
    val sigs = spark.read.parquet(Compaction.committed(spark, vdir, exclude): _*)
    val tombs = Compaction.committedDirs(spark, vdir, "_retracted_", "tomb_")
    if (tombs.isEmpty) sigs
    else sigs.join(spark.read.parquet(tombs: _*).select(col("id")), Seq("id"), "left_anti")
  }

  /** The stored signature table (id, sig): committed batches minus
    * retracted ids, at the version served when this is CALLED. */
  def signatures(spark: SparkSession, storePath: String): DataFrame =
    viewOf(spark, Compaction.currentDir(spark, root(storePath)), None)

  /**
   * Retraction face (the GDPR / upstream-delete path the model store
   * handles via signed cells): remove the signatures of previously-kept
   * documents, so a FUTURE near-duplicate of their content SURVIVES the
   * next `dedupDelta` — a store that only ever appends would suppress
   * near-dups of deleted content forever. Tombstone batches are
   * marker-committed like signature batches (`_retracted_<name>` last),
   * anti-joined by every reader, and folded away at the next `compact`.
   * Re-running the same retraction (same `retractId`) overwrites the same
   * tombstone directory — idempotent, composing with a CDC redelivery.
   */
  def retract(ids: DataFrame, storePath: String,
              retractId: Option[String] = None,
              idCol: String = "doc_id"): Unit = {
    val spark = ids.sparkSession
    val name = Compaction.batchName(retractId)
    Compaction.withLease(spark, storePath, s"dedup:retract:$name") {
      val vdir = Compaction.currentDir(spark, root(storePath))
      ids.select(col(idCol).cast("long").as("id")).distinct()
        .write.mode("overwrite").parquet(s"$vdir/tomb_$name")
      Compaction.touch(spark, s"$vdir/_retracted_$name")
    }
  }

  /** Compact the signature table: every `dedupDelta` appends a batch
    * directory and every `retract` a tombstone, and a long-lived store
    * accumulates them until listing + one footer per tiny file dominates
    * the band join's scan. One id-partitioned rewrite folds committed
    * batches minus tombstones into the next VERSION's base batch and
    * advances the marker (`Compaction`'s reader guarantees apply); dedup
    * decisions are unaffected (same live rows). Writers (deltas /
    * retractions) are excluded by the store lease — a delta racing the
    * point-in-time copy would land in the superseded version, so it now
    * fails loudly instead. */
  def compact(spark: SparkSession, storePath: String): Unit =
    Compaction.compact(spark, storePath, root(storePath), "dedup:compact") { (vdir, dest) =>
      viewOf(spark, vdir, None).repartition(col("id"))
        .write.mode("overwrite").parquet(dest)
    }

  /**
   * Dedup one DELTA against the store, append the survivors' signatures
   * (the ingest step — the append is this call's action), and return the
   * kept delta documents schema-preserving. `estThreshold` is on
   * signature agreement; `bands` must divide `numPerms`; `maxBandDegree`
   * guards the band joins against hot buckets (safe here precisely
   * because the exact collapse runs first — see `Dedup.capBandDegree`).
   * `deltaId` names the batch for crash/redelivery idempotence (a retry
   * under the same id recomputes and rewrites exactly); omitted, a fresh
   * unique name is used.
   */
  def dedupDelta(delta: DataFrame, storePath: String, n: Int, numPerms: Int,
                 bands: Int, estThreshold: Double,
                 idCol: String = "doc_id", textCol: String = "text",
                 deltaId: Option[String] = None,
                 maxBandDegree: Option[Int] = None): DataFrame = {
    require(numPerms % bands == 0, s"bands $bands must divide numPerms $numPerms")
    val spark = delta.sparkSession
    val r = numPerms / bands
    val name = Compaction.batchName(deltaId)
    Compaction.append(spark, storePath, root(storePath),
        s"dedup:delta:$name", name) { (vdir, dir) =>
      // Exact-first: copies of shingleable delta docs collapse to their
      // minimum id before any signature or band join exists — the template
      // mega-cluster never reaches the candidate stage.
      val exactDropped = Caches.cacheOnce(
        Dedup.exactDroppedIds(delta, Some(n), idCol, textCol)
          .withColumnRenamed("id", idCol))
      val nExact = exactDropped.count()
      val reps = Dedup.keepCorpus(delta, exactDropped, idCol, nExact)
      val dsig = Caches.cacheOnce(
        Dedup.minHashSignatures(reps, n, numPerms, idCol, textCol))
      val bsig = viewOf(spark, vdir, exclude = Some(name))
      val dBands = Dedup.lshBands(dsig, bands, r)
      val bBands = Dedup.lshBands(bsig, bands, r)
      // Delta docs whose signature near-matches ANY stored doc: first
      // arrival wins, the delta copy drops.
      val dupOfStore = dBands
        .join(bBands.select(col("id").as("bid"), col("band"), col("bk")), Seq("band", "bk"))
        .select(col("id"), col("bid")).distinct()
        .join(dsig.select(col("id"), col("sig").as("dsg")), Seq("id"))
        .join(bsig.select(col("id").as("bid"), col("sig").as("bsg")), Seq("bid"))
        .where(Dedup.estSim(col("dsg"), col("bsg"), numPerms) >= estThreshold)
        .select(col("id")).distinct()
      // Intra-delta components: min-id survivor (keep-first has no quality
      // tier — arrival order, then id, is the rule).
      val pairs = Dedup.lshCandidates(dsig, bands, r, maxBandDegree)
        .where(col("est_sim") >= estThreshold)
        .select(col("doc_a"), col("doc_b"))
      val comps = Dedup.connectedComponents(pairs)
      val intraDropped = comps.where(col("id") =!= col("component")).select(col("id"))
      val dropped = Caches.cacheOnce(
        dupOfStore.unionByName(intraDropped).distinct()
          .withColumnRenamed("id", idCol)
          .unionByName(exactDropped))
      val kept = Dedup.keepCorpus(delta, dropped, idCol, dropped.count())
      // Ingest: survivors' signatures join the store for the NEXT delta
      // (overwrite: a crashed attempt's partials vanish).
      dsig.join(kept.select(col(idCol).as("id")), Seq("id"), "left_semi")
        .write.mode("overwrite").parquet(dir)
      kept
    }
  }
}
