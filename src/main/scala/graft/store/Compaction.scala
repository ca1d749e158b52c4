package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * The batch-store protocol every versioned store shares — the ledgers
 * (`DistinctLedger`, `FrequencyLedger`, `QuantileLedger`,
 * `MomentsLedger`, `TokenCountLedger`), the crawl stores (`Bm25Store`,
 * `FrontierStore`, `FrontierSchedule`), the dedup stores (`DedupStore`,
 * `LineDedupStore`, `ExactSubstrStore`), the `AnnStore` tables and the
 * `PipelineManifest`. This object alone knows the layout; a store
 * supplies only what a batch holds, how batches fold and how it serves.
 *
 * LAYOUT: a table lives at `<root>/v<k>` with a `LATEST` marker naming
 * the served version. Each write lands as a `batch_<name>` directory
 * inside the served version and becomes visible only when its
 * `_committed_<name>` marker, written LAST, exists (marker-last: data
 * first, commit marker last). `base` is reserved for the fold product:
 * `init` writes `v0/batch_base`, and `compact` folds the committed
 * batches of `v<k>` into `v<k+1>/batch_base` COMPLETELY before advancing
 * the marker; the previous version stays on disk until the one after it
 * lands. So:
 *
 *  - a reader never observes a half-written batch or a half-swapped tree
 *    — it resolves the marker once and reads committed batch directories
 *    that are immutable-after-commit;
 *  - a reader that resolved the marker BEFORE a compaction keeps working
 *    after it (the previous version is retained, spec-gated);
 *  - a crash mid-append leaves an uncommitted directory no reader sees,
 *    overwritten by the retry under the same batch name; a crash anywhere
 *    in a compaction leaves the old version served — the worst leftover
 *    is an unreferenced `v<k+1>` prefix, overwritten by the next attempt.
 *
 * Writers are mutually exclusive per store, ENFORCED, not convention:
 * every write operation here runs under the store-level lease
 * (`withLease`), and a second writer fails loudly naming the holder —
 * the rewrite is a point-in-time copy, so an append racing it would
 * land in the superseded version and silently vanish. Serving never
 * stops.
 */
private[graft] object Compaction {

  /** Batch name reserved for the fold product (`init`, `compact`). */
  private val Base = "base"

  private def markerPath(root: String) = new Path(s"$root/LATEST")

  private def batchDir(vdir: String, name: String) = s"$vdir/batch_$name"

  private def batchMarker(vdir: String, name: String) = s"$vdir/_committed_$name"

  private[graft] def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The name of one appended batch: a fresh unique name, or the given
    * one validated — it becomes a directory name, and `base` would
    * overwrite the fold product (and a retry under it would exclude the
    * whole base from the view). The name is the identity of an append:
    * a redelivery under the same name must land on the same batch. */
  def batchName(given: Option[String]): String = given match {
    case None => java.util.UUID.randomUUID().toString.replace("-", "")
    case Some(name) =>
      require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
        s"batch name '$name' must be [A-Za-z0-9_]+ — it becomes a directory name")
      require(name != Base, s"batch name '$Base' is reserved for the fold product")
      name
  }

  /** The served version per the marker, if the table exists. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    val m = markerPath(root)
    if (!f.exists(m)) None
    else {
      val in = f.open(m)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
      finally in.close()
    }
  }

  /** Directory of the served version. Fails loudly on an uninitialized
    * table (readers have nothing to fall back to). */
  def currentDir(spark: SparkSession, root: String): String =
    s"$root/v${currentVersion(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no LATEST marker under $root — initialize the store first"))}"

  /** Advance the marker to `version` — the LAST step of every version
    * write (init, compaction, manifest publish). */
  private def commit(spark: SparkSession, root: String, version: Long): Unit = {
    val f = fs(spark, root)
    val out = f.create(markerPath(root), true)
    try out.write(version.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Create an empty marker file (overwriting). */
  def touch(spark: SparkSession, path: String): Unit =
    fs(spark, path).create(new Path(path), true).close()

  /** Directories `<vdir>/<dirPrefix><name>` whose `<markerPrefix><name>`
    * marker exists, minus the `exclude`d name. The batch prefixes are
    * `_committed_`/`batch_`; stores with tombstones list theirs with
    * their own prefix pair. */
  def committedDirs(spark: SparkSession, vdir: String,
                    markerPrefix: String, dirPrefix: String,
                    exclude: Option[String] = None): Seq[String] = {
    val f = fs(spark, vdir)
    val base = new Path(vdir)
    if (!f.exists(base)) Seq.empty
    else f.listStatus(base).toSeq
      .filter(_.isFile)
      .map(_.getPath.getName)
      .collect { case nm if nm.startsWith(markerPrefix) => nm.drop(markerPrefix.length) }
      .filterNot(exclude.contains)
      .map(nm => s"$vdir/$dirPrefix$nm")
      .filter(d => f.exists(new Path(d)))
  }

  /** Names of the committed APPENDED batches under one version
    * directory (the base batch excluded). */
  def committedNames(spark: SparkSession, vdir: String): Set[String] =
    committedDirs(spark, vdir, "_committed_", "batch_", Some(Base))
      .map(_.stripPrefix(batchDir(vdir, ""))).toSet

  /** The committed batch directories of one version directory — the ONLY
    * rows a reader may see — pinned to the directories present NOW (later
    * appends add new batch dirs, so a frame built over them stays stable
    * however often it re-evaluates). `exclude` drops one batch name: an
    * append passes its own, so a retry computes against the same view as
    * the first attempt. Fails loudly when nothing is committed. */
  def committed(spark: SparkSession, vdir: String,
                exclude: Option[String] = None): Seq[String] = {
    val dirs = committedDirs(spark, vdir, "_committed_", "batch_", exclude)
    require(dirs.nonEmpty, s"no committed batches under $vdir — initialize the store first")
    dirs
  }

  /** The committed batch directories of the SERVED version (the marker
    * resolves once, here). */
  def served(spark: SparkSession, root: String): Seq[String] =
    committed(spark, currentDir(spark, root))

  /** Initialize (or re-initialize) a table: under the writer lease, remove
    * the old root — so no stale committed batch or higher-version marker
    * survives next to the fresh base — let `writeBase` write the base
    * batch directory it is handed, mark it, and commit version 0. Init is
    * a provisioning operation: readers open during a re-init are not
    * protected. */
  def init[T](spark: SparkSession, storePath: String, root: String, owner: String)
             (writeBase: String => T): T =
    withLease(spark, storePath, owner) {
      fs(spark, root).delete(new Path(root), true)
      val vdir = s"$root/v0"
      val out = writeBase(batchDir(vdir, Base))
      touch(spark, batchMarker(vdir, Base))
      commit(spark, root, 0L)
      out
    }

  /** Append one batch to the served version: under the writer lease,
    * `body` gets the version directory (to read the store's view, minus
    * its own batch, under the same lease) and the batch directory to
    * write; the marker is written after it returns. A body that leaves no
    * batch directory commits nothing — the store decided the redelivery
    * has nothing to add. The lease covers view resolution THROUGH the
    * marker: a compaction sliding in between would strand the batch in a
    * superseded version. */
  def append[T](spark: SparkSession, storePath: String, root: String, owner: String,
                name: String)(body: (String, String) => T): T =
    withLease(spark, storePath, owner) {
      val vdir = currentDir(spark, root)
      val dir = batchDir(vdir, name)
      val out = body(vdir, dir)
      if (fs(spark, root).exists(new Path(dir))) touch(spark, batchMarker(vdir, name))
      out
    }

  /** Compact the table: under the writer lease, `fold` reads the served
    * version directory it is handed and writes the next version's base
    * batch directory; the base is marked, the version marker advances,
    * and versions older than the previous one are pruned. Concurrent
    * readers keep their resolved version. The fold always rewrites: a
    * compaction that crashed after its base marker but before the version
    * marker left a stale point-in-time copy, and appends may have landed
    * in the served version since. */
  def compact(spark: SparkSession, storePath: String, root: String, owner: String)
             (fold: (String, String) => Unit): Unit =
    withLease(spark, storePath, owner) {
      val vdir = currentDir(spark, root)
      advance(spark, root) { next =>
        fold(vdir, batchDir(next, Base))
        touch(spark, batchMarker(next, Base))
      }
    }

  /** Write the next version directory (`v0` on a fresh root) with `write`,
    * advance the marker to it, and delete the versions older than the
    * one it replaces. Returns the committed version. The caller holds the
    * writer lease. */
  def advance(spark: SparkSession, root: String)(write: String => Unit): Long = {
    val next = currentVersion(spark, root).fold(0L)(_ + 1)
    write(s"$root/v$next")
    commit(spark, root, next)
    if (next > 0) pruneBelow(spark, root, next - 1)
    next
  }

  private def leasePath(storePath: String) = new Path(s"$storePath/_writer_lease")

  /** Acquire the store-level WRITER lease, or fail loudly naming the
    * holder. Writers (appends, deltas, retractions, compactions) are
    * mutually exclusive per store — the versioned swap protects READERS
    * only, and an append racing a compaction would land in a superseded
    * version and silently vanish from the served view. `create(path,
    * overwrite=false)` is the atomicity primitive (atomic on HDFS;
    * check-then-create on the local FS, which only hosts tests). A holder
    * that CRASHED leaves the lease file behind by design: the next writer
    * fails loudly instead of assuming the store is quiescent, and the
    * operator (or supervising orchestrator) calls `breakLease` once the
    * dead writer is confirmed gone, then retries — every store write face
    * is retry-idempotent precisely so this recovery is safe. */
  def acquireLease(spark: SparkSession, storePath: String, owner: String): Unit = {
    val f = fs(spark, storePath)
    f.mkdirs(new Path(storePath))
    val out =
      try f.create(leasePath(storePath), false)
      catch { case _: java.io.IOException =>
        throw new IllegalStateException(
          s"writer lease at ${leasePath(storePath)} is held by " +
            s"'${leaseHolder(spark, storePath).getOrElse("<unknown>")}' — " +
            "one writer per store; if the holder crashed, call " +
            "Compaction.breakLease and retry")
      }
    try out.write(owner.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The current lease holder, if a lease file exists. */
  def leaseHolder(spark: SparkSession, storePath: String): Option[String] = {
    val f = fs(spark, storePath)
    val p = leasePath(storePath)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  def releaseLease(spark: SparkSession, storePath: String): Unit = {
    fs(spark, storePath).delete(leasePath(storePath), false); ()
  }

  /** Operator override after a writer CRASH: removes a stale lease so the
    * retry can acquire. Never call while the holder may still be alive. */
  def breakLease(spark: SparkSession, storePath: String): Unit =
    releaseLease(spark, storePath)

  /** Run `body` holding the store's writer lease; released on all exits
    * short of a process crash (where the stale file failing the NEXT
    * writer loudly is the point). */
  def withLease[T](spark: SparkSession, storePath: String, owner: String)(body: => T): T = {
    acquireLease(spark, storePath, owner)
    try body finally releaseLease(spark, storePath)
  }

  /** Delete version directories strictly below `minKeep` — everything
    * older than the immediately-previous version after a compaction. */
  private def pruneBelow(spark: SparkSession, root: String, minKeep: Long): Unit = {
    val f = fs(spark, root)
    f.listStatus(new Path(root)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        val nm = p.getName
        nm.startsWith("v") && nm.drop(1).forall(_.isDigit) && nm.drop(1).toLong < minKeep
      }
      .foreach(p => f.delete(p, true))
  }
}
