package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/**
 * Persisted line-dedup state — the crawl-delta face of the CCNet line
 * tier (`Dedup.lineDedup`): boilerplate is defined by corpus-wide
 * DOCUMENT frequency, so an incremental pipeline must carry the df
 * counts forward or every delta re-scans history. The kept state is the
 * per-line-hash df table — 16 bytes per DISTINCT line corpus-wide, no
 * text — and each delta folds with one pass over the delta only.
 *
 * Semantics: a delta line is struck iff its MERGED document frequency
 * (stored + this delta) exceeds `maxDocFreq`. Since the store carries
 * every previously-seen document's counts, merged df IS the full-corpus
 * df — so a delta fold is row-identical to the one-shot
 * `lineDedup(base ∪ delta)` RESTRICTED to delta documents (the spec and
 * the q167 oracle both gate that equality). Already-published base
 * documents are not retro-struck when a line crosses the threshold
 * later — republishing history is a compaction-time decision, not a
 * streaming one (the DedupStore stance).
 *
 * LAYOUT — versioned, batch-committed (the `Compaction` protocol):
 * `line_df/v<k>/batch_<name>` holds one (h, df) parquet per ingest,
 * committed by a `_committed_<name>` marker written LAST; the reader
 * view SUMS df across committed batches. A `dedupDelta` retry under the
 * same `deltaId` is exact: the view excludes the delta's own batch, so
 * the retry recomputes identical strikes and overwrites the same
 * directory. `compact` folds batches into the next version's summed
 * base batch AND records the folded batch names in a cumulative
 * `_folded` manifest — df counts SUM, so once a delta's batch is folded
 * into base, directory exclusion alone can no longer carve it out of
 * the view. A redelivery whose `deltaId` appears in the manifest
 * subtracts its own recomputed counts from the stored totals instead
 * (first-delivery-identical strikes) and does NOT re-append its batch —
 * without this, a retry racing a compaction would double-count the
 * delta's lines forever.
 *
 * Scale: the delta pass is one hash-keyed exchange family for the
 * distinct/df/merge joins (28-byte rows) and one id-keyed join for the
 * body — `lineDedup`'s shuffle bill on delta-sized inputs. The merge
 * probes the store by hash; the store side is df counts only, never
 * document text.
 */
object LineDedupStore {

  val LineDf = "line_df"

  private def root(storePath: String) = s"$storePath/$LineDf"

  /** Batch names folded into this version's base batch by compactions —
    * cumulative across versions; absent file = empty (pre-manifest
    * stores and fresh v0 trees). One name per line, UTF-8. */
  private def foldedNames(spark: SparkSession, vdir: String): Set[String] = {
    val f = Compaction.fs(spark, vdir)
    val p = new org.apache.hadoop.fs.Path(s"$vdir/_folded")
    if (!f.exists(p)) Set.empty
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().map(_.trim).filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  private def writeFolded(spark: SparkSession, vdir: String,
                          names: Set[String]): Unit = {
    val f = Compaction.fs(spark, vdir)
    val out = f.create(new org.apache.hadoop.fs.Path(s"$vdir/_folded"), true)
    try out.write(names.toSeq.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def dfCounts(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    Dedup.lineDf(Dedup.lineKeyed(docs, idCol, textCol), idCol)

  /** Initialize the store: persist the base corpus's per-line-hash
    * document-frequency table as version 0's base batch. */
  def write(docs: DataFrame, storePath: String,
            idCol: String = "doc_id", textCol: String = "text"): Unit =
    Compaction.init(docs.sparkSession, storePath, root(storePath), "linedf:write") { dir =>
      dfCounts(docs, idCol, textCol).write.mode("overwrite").parquet(dir)
    }

  private def viewOf(spark: SparkSession, vdir: String,
                     exclude: Option[String]): DataFrame =
    spark.read.parquet(Compaction.committed(spark, vdir, exclude): _*)

  /** The stored df table (h, df), SUMMED across committed batches, at
    * the version served when this is called. */
  def counts(spark: SparkSession, storePath: String): DataFrame =
    viewOf(spark, Compaction.currentDir(spark, root(storePath)), None)
      .groupBy(col("h")).agg(sum(col("df")).as("df"))

  /** Compact: fold committed batches into the next version's summed base
    * batch and advance the marker. Decisions are unaffected — same
    * per-hash totals. */
  def compact(spark: SparkSession, storePath: String): Unit =
    Compaction.compact(spark, storePath, root(storePath), "linedf:compact") { (vdir, dest) =>
      viewOf(spark, vdir, None)
        .groupBy(col("h")).agg(sum(col("df")).as("df"))
        .write.mode("overwrite").parquet(dest)
      // Record WHICH delta batches this base now contains (cumulative
      // with earlier folds) BEFORE the marker flips: a dedupDelta retry
      // consults this manifest to avoid re-appending counts the base
      // already carries. Crash before commit → old version still served,
      // manifest unreferenced; crash after → manifest committed with it.
      // The manifest sits beside the base batch, in the next version.
      writeFolded(spark, new org.apache.hadoop.fs.Path(dest).getParent.toString,
        foldedNames(spark, vdir) ++ Compaction.committedNames(spark, vdir))
    }

  /**
   * Fold one DELTA against the store: strike delta lines whose merged
   * (stored + delta) document frequency exceeds `maxDocFreq`, append
   * the delta's df batch, and return the delta documents reassembled —
   * `lineDedup`'s output contract: (idCol, n_lines, n_removed, textCol),
   * every delta document present, '' if fully boilerplate.
   */
  def dedupDelta(delta: DataFrame, storePath: String, maxDocFreq: Long,
                 idCol: String = "doc_id", textCol: String = "text",
                 deltaId: Option[String] = None): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq must be positive")
    val spark = delta.sparkSession
    val name = Compaction.batchName(deltaId)
    Compaction.append(spark, storePath, root(storePath),
        s"linedf:delta:$name", name) { (vdir, dir) =>
      val keyed = Dedup.lineKeyed(delta, idCol, textCol)
      val ddf = Dedup.lineDf(keyed, idCol)
      // Redelivery after a compaction folded this delta's batch into
      // base: the counts can't be excluded by directory anymore, so
      // subtract the delta's own recomputed df from the stored totals —
      // (sdf − df) + df reproduces the first delivery's merged df
      // exactly — and do NOT re-append the batch (base carries it; with
      // no batch directory written, nothing is committed).
      val folded = foldedNames(spark, vdir).contains(name)
      val stored0 = viewOf(spark, vdir, exclude = Some(name))
        .groupBy(col("h")).agg(sum(col("df")).as("sdf"))
      val stored =
        if (!folded) stored0
        else stored0.join(ddf.select(col("h"), col("df").as("__own")),
            Seq("h"), "left")
          .select(col("h"),
            (col("sdf") - coalesce(col("__own"), lit(0L))).as("sdf"))
      val hot = ddf.join(stored, Seq("h"), "left")
        .where(col("df") + coalesce(col("sdf"), lit(0L)) > maxDocFreq)
        .select(col("h"))
      val out = Dedup.lineStrike(delta, keyed, hot, idCol, textCol)
      // Ingest: the delta's OWN df batch (pre-strike counts — the lines
      // existed in these documents; striking is presentation, the df
      // ledger records what was seen).
      if (!folded) ddf.write.mode("overwrite").parquet(dir)
      out
    }
  }
}
