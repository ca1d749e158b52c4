package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted frontier URL ledger (EXT-T45) — the seen-URL keep-first
 * store that lets an incremental crawl SKIP RE-FETCHING: content dedup
 * (`DedupStore`, `LineDedupStore`, `ExactSubstrStore`) can only drop what
 * was already fetched; the frontier ledger is the store the fetch loop
 * consults BEFORE spending the request. State is one row per seen
 * canonical URL — `(canonical, doc_id)`, the id that first brought it —
 * and each delta of frontier entries folds in with one pass over the
 * DELTA (the stored URLs are never re-canonicalized or rescanned;
 * plan-wise the delta meets the store only in a canonical-keyed
 * anti-join).
 *
 * Semantics are KEEP-FIRST over CANONICAL urls (`UrlFunctions
 * .canonicalUrl` — scheme/host case, default ports, www, tracking
 * params, fragments all fold): within one delta, entries canonicalizing
 * equal collapse to the minimum id; across deltas, an earlier-committed
 * batch always beats a later offer — so folding deltas in arrival order
 * equals the one-shot keep-first over their union (the q225 oracle law).
 *
 * LAYOUT — the `Compaction` protocol: versioned
 * root `frontier_urls/v<k>/` with one `batch_<name>` parquet per offer
 * committed by a trailing `_committed_<name>` marker, `tomb_<name>`
 * retraction batches under `_retracted_<name>`, a writer lease, and
 * `compact` folding committed-minus-tombstones into `v<k+1>`. An `offer`
 * RETRY under the same `batchId` is exact: the store view excludes the
 * batch's own directory, so the retry recomputes the identical new-URL
 * set and overwrites the same directory (crash-idempotent ingest).
 *
 * Retraction is BY ROW `(canonical, doc_id)` — the exact ledger rows
 * (as served by `seen`) are tombstoned, not the bare URL: a canonical-
 * keyed tombstone would also suppress the NEW row a legitimate re-offer
 * appends after the retraction, silently re-admitting the URL on every
 * subsequent delta. Row-level tombstones make the re-offered URL (new
 * first_doc) a normal live row while the retracted claim stays dead.
 *
 * Scale: the ledger holds one short string + one long per distinct
 * canonical URL — orders of magnitude below the corpus. The delta pass
 * is map-only canonicalization + one canonical-keyed aggregate +
 * one anti-join against the ledger (both sides shuffle on the canonical
 * string — co-keyed, no driver collect, no text). Hot frontiers dedup
 * map-side: the keep-first aggregate partial-aggregates before the
 * exchange.
 */
object FrontierStore {

  val Root = "frontier_urls"

  private def root(storePath: String) = s"$storePath/$Root"

  /** Keep-first collapse of one entry frame: (canonical, doc_id = min id
    * per canonical). Canonicalization is map-only; the collapse is one
    * hash aggregate that partial-aggregates map-side. */
  private def canonMin(entries: DataFrame, urlCol: String,
                       idCol: String): DataFrame =
    entries.select(
        graft.functions.UrlFunctions.canonicalUrl(col(urlCol)).as("canonical"),
        col(idCol).cast("long").as("doc_id"))
      .groupBy(col("canonical")).agg(min(col("doc_id")).as("doc_id"))

  /** Initialize the ledger: keep-first collapse of the base frontier as
    * version 0's base batch. */
  def write(entries: DataFrame, storePath: String,
            urlCol: String = "url", idCol: String = "doc_id"): Unit =
    Compaction.init(entries.sparkSession, storePath, root(storePath), "frontier:write") { dir =>
      canonMin(entries, urlCol, idCol).write.mode("overwrite").parquet(dir)
    }

  /** The ledger view over one version dir: committed batches minus
    * row-level tombstones; `exclude` drops one batch from the view so an
    * `offer` retry under the same name recomputes exactly. */
  private def viewOf(spark: SparkSession, vdir: String,
                     exclude: Option[String]): DataFrame = {
    val rows = spark.read.parquet(Compaction.committed(spark, vdir, exclude): _*)
    val tombs = Compaction.committedDirs(spark, vdir, "_retracted_", "tomb_")
    if (tombs.isEmpty) rows
    else rows.join(spark.read.parquet(tombs: _*),
      Seq("canonical", "doc_id"), "left_anti")
  }

  /** The seen-URL ledger (canonical, doc_id): committed batches minus
    * retracted rows, at the version served when this is CALLED. */
  def seen(spark: SparkSession, storePath: String): DataFrame =
    viewOf(spark, Compaction.currentDir(spark, root(storePath)), None)

  /**
   * Offer one DELTA of frontier entries: canonicalize, keep-first
   * collapse within the delta, drop every URL the ledger has seen,
   * append the survivors (the ingest step — the append is this call's
   * action), and return them as the fetch list `(canonical, doc_id)`.
   * `batchId` names the batch for crash/redelivery idempotence.
   */
  def offer(entries: DataFrame, storePath: String,
            batchId: Option[String] = None,
            urlCol: String = "url", idCol: String = "doc_id"): DataFrame = {
    val spark = entries.sparkSession
    val name = Compaction.batchName(batchId)
    Compaction.append(spark, storePath, root(storePath),
        s"frontier:offer:$name", name) { (vdir, dir) =>
      canonMin(entries, urlCol, idCol)
        .join(viewOf(spark, vdir, exclude = Some(name))
          .select(col("canonical")), Seq("canonical"), "left_anti")
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
  }

  /** Retraction face: remove exact ledger ROWS (canonical, doc_id) — as
    * served by [[seen]] — so those URLs become fetchable again (the
    * recrawl / upstream-delete path). Tombstones are marker-committed
    * like batches, anti-joined by every reader, folded away at the next
    * `compact`; re-running the same `retractId` overwrites the same
    * tombstone directory (idempotent). */
  def retract(rows: DataFrame, storePath: String,
              retractId: Option[String] = None): Unit = {
    val spark = rows.sparkSession
    val name = Compaction.batchName(retractId)
    Compaction.withLease(spark, storePath, s"frontier:retract:$name") {
      val vdir = Compaction.currentDir(spark, root(storePath))
      rows.select(col("canonical"), col("doc_id").cast("long").as("doc_id"))
        .distinct()
        .write.mode("overwrite").parquet(s"$vdir/tomb_$name")
      Compaction.touch(spark, s"$vdir/_retracted_$name")
    }
  }

  /** Fold committed batches minus tombstones into the next version's
    * base batch and advance the marker (writers are excluded by the
    * lease; live readers keep their resolved version). */
  def compact(spark: SparkSession, storePath: String): Unit =
    Compaction.compact(spark, storePath, root(storePath), "frontier:compact") { (vdir, dest) =>
      viewOf(spark, vdir, None).repartition(col("canonical"))
        .write.mode("overwrite").parquet(dest)
    }
}
