package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/**
 * Pipeline-level ATOMIC publish across stores — the commit that finishes
 * what the per-store protocol started: each store (similarity snapshot,
 * ANN index, dedup ledgers) is individually versioned and marker-committed
 * (`Compaction`), but one pipeline run lands SEVERAL of them, and a crash
 * between two stores' commits leaves a mixed-version view for any reader
 * that resolves each store's own `LATEST` independently. The manifest
 * closes that window: `publish` snapshots the CURRENT version of every
 * named store into one version directory of its own and commits it with
 * the same marker-last swap — so a consistent (snapshot, index, ledger)
 * TRIPLE becomes visible in one atomic step, or not at all.
 *
 * Reader contract: resolve every store through `pinnedDir` (never through
 * the store's own marker) and the set of versions you read IS the set one
 * `publish` call named. Crash anywhere before the manifest's marker flip →
 * the previous manifest keeps serving its older-but-consistent triple;
 * the orphaned store versions (and the unreferenced manifest dir) are
 * overwritten by the next run.
 *
 * Retention: a pinned version stays readable under the same rule single-
 * store readers already rely on — `Compaction.compact` keeps each
 * store's previous version until the one AFTER next lands. A pipeline
 * that republishes once per run (the intended cadence: stores commit,
 * then one `publish`) therefore never dangles; letting a store compact
 * TWICE without republishing voids the pin, exactly as it would void an
 * in-flight single-store reader.
 *
 * Layout: `<root>/v<k>/stores.tsv` (name, store root, pinned version —
 * tab-separated, name-sorted) + the shared `LATEST` marker. Tiny driver-
 * side metadata; no Spark jobs involved.
 */
object PipelineManifest {

  private def requireName(name: String): Unit =
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"store name '$name' must be [A-Za-z0-9_]+ — it keys the manifest")

  /**
   * Atomically publish the CURRENT version of every named store as one
   * manifest commit. `stores` maps a logical name to the store's
   * versioned root (the directory carrying its `LATEST` marker — e.g.
   * `<dedupStore>/line_df`). Every store must be initialized; a missing
   * marker fails the publish BEFORE anything is written. Returns the
   * committed manifest version.
   */
  def publish(spark: SparkSession, manifestRoot: String,
              stores: Map[String, String]): Long = {
    require(stores.nonEmpty, "publish: name at least one store")
    stores.keys.foreach(requireName)
    Compaction.withLease(spark, manifestRoot, "manifest:publish") {
      // Resolve FIRST: a failure here (uninitialized store) must leave the
      // manifest untouched.
      val entries = stores.toSeq.sortBy(_._1).map { case (name, storeRoot) =>
        require(!storeRoot.contains("\t") && !storeRoot.contains("\n"),
          s"store root '$storeRoot' must not contain tab/newline")
        val v = Compaction.currentVersion(spark, storeRoot).getOrElse(
          throw new java.io.FileNotFoundException(
            s"store '$name' at $storeRoot has no LATEST marker — commit it first"))
        s"$name\t$storeRoot\t$v"
      }
      Compaction.advance(spark, manifestRoot) { vdir =>
        val out = Compaction.fs(spark, manifestRoot).create(new Path(s"$vdir/stores.tsv"), true)
        try out.write(entries.mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
    }
  }

  /** The served manifest: name → (store root, pinned version). Fails
    * loudly on an unpublished manifest root. */
  def current(spark: SparkSession, manifestRoot: String): Map[String, (String, Long)] = {
    val vdir = Compaction.currentDir(spark, manifestRoot)
    val f = Compaction.fs(spark, manifestRoot)
    val in = f.open(new Path(s"$vdir/stores.tsv"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).map { line =>
      val Array(name, root, v) = line.split("\t")
      name -> (root, v.toLong)
    }.toMap
  }

  /** The pinned version DIRECTORY for one store under the served
    * manifest — what a consistent reader opens instead of the store's
    * own `LATEST`. */
  def pinnedDir(spark: SparkSession, manifestRoot: String, name: String): String = {
    val (root, v) = current(spark, manifestRoot).getOrElse(name,
      throw new NoSuchElementException(
        s"manifest at $manifestRoot names no store '$name'"))
    s"$root/v$v"
  }
}
