package graft

import org.apache.spark.sql.functions._
import graft.store.{AnnStore, Compaction, DedupStore}
import graft.streaming.Ingest

/** The versioned marker-last swap (`Compaction`) and the store faces
  * built on it: reader atomicity across compaction, the crash window,
  * retraction, crash/redelivery-idempotent delta ingest, the ANN batch
  * append protocol, and writer-lease exclusion. */
class StoreAtomicitySpec extends SparkSpec {
  import spark.implicits._

  private val N = 2
  private val Perms = 16
  private val Bds = 4
  private val T = 0.5

  private def baseDocs = Seq(
    (2L, "alpha beta gamma delta alpha beta gamma delta"),
    (4L, "one two three four five six seven eight"))
    .toDF("doc_id", "text")

  private def sigIds(store: String): Seq[Long] =
    DedupStore.signatures(spark, store)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("a reader opened before compaction keeps serving; new readers see the new version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_atom1").toString
    val store = s"$dir/store"
    DedupStore.write(baseDocs, N, Perms, store)
    DedupStore.dedupDelta(
      Seq((11L, "red green blue cyan magenta yellow black white")).toDF("doc_id", "text"),
      store, N, Perms, Bds, T).count() shouldBe 1L
    val openedBefore = DedupStore.signatures(spark, store) // resolves v0 NOW
    val baseline = openedBefore.select("id").collect().map(_.getLong(0)).sorted.toSeq
    baseline shouldBe Seq(2L, 4L, 11L)

    DedupStore.compact(spark, store) // v1 committed, v0 retained for open readers
    val root = s"$store/${DedupStore.Signatures}"
    Compaction.currentVersion(spark, root) shouldBe Some(1L)
    // the pre-compaction frame re-evaluates against its pinned v0 paths
    openedBefore.select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe baseline
    // a fresh reader resolves v1 — same logical rows
    sigIds(store) shouldBe baseline

    // the SECOND compaction prunes v0 (older than the new previous)
    DedupStore.compact(spark, store)
    Compaction.currentVersion(spark, root) shouldBe Some(2L)
    val versions = new java.io.File(root).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq
    versions shouldBe Seq("v1", "v2")
    sigIds(store) shouldBe baseline
  }

  test("crash window: a fully-written but uncommitted version is invisible to readers") {
    val dir = java.nio.file.Files.createTempDirectory("graft_atom2").toString
    val store = s"$dir/store"
    DedupStore.write(baseDocs, N, Perms, store)
    val root = s"$store/${DedupStore.Signatures}"
    // simulate a compaction killed between the version write and the
    // marker advance: v1 exists on disk, LATEST still names v0
    DedupStore.signatures(spark, store).limit(0)
      .write.mode("overwrite").parquet(s"$root/v1/batch_base")
    Compaction.fs(spark, root).create(
      new org.apache.hadoop.fs.Path(s"$root/v1/_committed_base"), true).close()
    Compaction.currentVersion(spark, root) shouldBe Some(0L)
    sigIds(store) shouldBe Seq(2L, 4L) // still the old version, not the empty v1
    // the next compaction attempt overwrites the leftover and commits
    DedupStore.compact(spark, store)
    Compaction.currentVersion(spark, root) shouldBe Some(1L)
    sigIds(store) shouldBe Seq(2L, 4L)
  }

  test("retract: a near-dup of deleted content survives the next delta; keep-first otherwise intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_atom3").toString
    val store = s"$dir/store"
    DedupStore.write(baseDocs, N, Perms, store)
    // before retraction: an exact dup of doc 2's content drops
    DedupStore.dedupDelta(
      Seq((11L, "alpha beta gamma delta alpha beta gamma delta")).toDF("doc_id", "text"),
      store, N, Perms, Bds, T).count() shouldBe 0L
    // upstream deletes doc 2 (the GDPR path): retract its signature
    DedupStore.retract(Seq(2L).toDF("doc_id"), store, retractId = Some("r1"))
    sigIds(store) shouldBe Seq(4L)
    // NEW near-dup of the removed content now survives
    val kept = DedupStore.dedupDelta(
      Seq((21L, "alpha beta gamma delta alpha beta gamma delta"),
          (23L, "one two three four five six seven eight")) // still dup of kept 4
        .toDF("doc_id", "text"),
      store, N, Perms, Bds, T)
    kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(21L)
    sigIds(store) shouldBe Seq(4L, 21L)
    // retraction is idempotent under the same id, and compaction folds
    // the tombstone away without changing the view
    DedupStore.retract(Seq(2L).toDF("doc_id"), store, retractId = Some("r1"))
    DedupStore.compact(spark, store)
    sigIds(store) shouldBe Seq(4L, 21L)
    val vdir = Compaction.currentDir(spark, s"$store/${DedupStore.Signatures}")
    new java.io.File(vdir).listFiles().map(_.getName)
      .count(_.startsWith("tomb_")) shouldBe 0
  }

  test("dedupDelta retry under the same deltaId is exact: same kept set, same store state") {
    val dir = java.nio.file.Files.createTempDirectory("graft_atom4").toString
    val store = s"$dir/store"
    DedupStore.write(baseDocs, N, Perms, store)
    val delta = Seq(
      (11L, "red green blue cyan magenta yellow black white"),
      (13L, "one two three four five six seven eight")) // dup of base 4
      .toDF("doc_id", "text")
    def run() = DedupStore.dedupDelta(delta, store, N, Perms, Bds, T,
        deltaId = Some("d1"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    run() shouldBe Seq(11L)
    val stateAfterFirst = sigIds(store)
    stateAfterFirst shouldBe Seq(2L, 4L, 11L)
    // redelivery: the store view excludes batch d1, so survivor 11 is NOT
    // self-classified as dup-of-store, and the append overwrites in place
    run() shouldBe Seq(11L)
    sigIds(store) shouldBe stateAfterFirst
  }

  test("a crashed partial append (no marker) is invisible and the retry lands cleanly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_atom5").toString
    val store = s"$dir/store"
    DedupStore.write(baseDocs, N, Perms, store)
    val root = s"$store/${DedupStore.Signatures}"
    val vdir = Compaction.currentDir(spark, root)
    // crash mid-append: partial files under batch_d2, no _committed_d2
    Seq((99L, Array.fill(Perms)(0L))).toDF("id", "sig")
      .write.mode("overwrite").parquet(s"$vdir/batch_d2")
    sigIds(store) shouldBe Seq(2L, 4L) // uncommitted batch invisible
    val kept = DedupStore.dedupDelta(
      Seq((31L, "lorem ipsum dolor sit amet consectetur adipiscing elit"))
        .toDF("doc_id", "text"),
      store, N, Perms, Bds, T, deltaId = Some("d2"))
    kept.count() shouldBe 1L
    sigIds(store) shouldBe Seq(2L, 4L, 31L) // the ghost 99 was overwritten
  }

  test("streaming DedupIngest: stream fold == sequential dedupDelta; redelivery is a store no-op") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft_atom6").toString
    val streamed = s"$dir/streamed"
    val twin = s"$dir/twin"
    DedupStore.write(baseDocs, N, Perms, streamed)
    DedupStore.write(baseDocs, N, Perms, twin)
    val b0 = Seq(
      (11L, "red green blue cyan magenta yellow black white"),
      (13L, "one two three four five six seven eight")) // dup of base 4
    val b1 = Seq(
      (21L, "red green blue cyan magenta yellow black white"), // dup of kept 11
      (23L, "lorem ipsum dolor sit amet consectetur adipiscing elit"))
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    def fold(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      DedupStore.dedupDelta(b, streamed, N, Perms, Bds, T, deltaId = Some(Ingest.batchName(id)))
        .write.mode("overwrite").parquet(s"$dir/kept/batch=$id")
    val sq = Ingest.start(docs, s"$dir/ckpt")(fold)
    try {
      Seq(b0, b1).foreach { b => mem.addData(b: _*); sq.processAllAvailable() }
    } finally sq.stop()
    // twin store folded through direct sequential calls
    val k0 = DedupStore.dedupDelta(b0.toDF("doc_id", "text"), twin, N, Perms, Bds, T)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val k1 = DedupStore.dedupDelta(b1.toDF("doc_id", "text"), twin, N, Perms, Bds, T)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    sigIds(streamed) shouldBe sigIds(twin)
    def keptBatch(id: Long) = spark.read.parquet(s"$dir/kept/batch=$id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    keptBatch(0) shouldBe k0
    keptBatch(1) shouldBe k1
    // crash-redelivery of batch 0: logical no-op on store and kept output
    val before = sigIds(streamed)
    fold(b0.toDF("doc_id", "text"), 0L)
    sigIds(streamed) shouldBe before
    keptBatch(0) shouldBe k0
  }

  // ---- ANN batch-append protocol (the AnnStore faces) ----

  private def annCorpus(seed: Int, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (1L to n.toLong).map(i =>
      (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
  }

  private def dumpTopK(df: org.apache.spark.sql.DataFrame) =
    df.select(col("query_id"), col("vec_id"), round(col("cos"), 9).as("cos"))
      .orderBy("query_id", "cos", "vec_id").collect().toSeq

  private def batchDirsOf(root: String): Seq[String] = {
    val vdir = Compaction.currentDir(spark, root)
    new java.io.File(vdir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("batch_")).sorted.toSeq
  }

  test("ANN append: crashed partial batch (no marker) is invisible; the retry lands cleanly") {
    val all = annCorpus(31, 40)
    val base = all.where(col("vec_id") % 4 =!= 0)
    val delta = all.where(col("vec_id") % 4 === 0)
    val queries = all.where(col("vec_id") % 9 === 1)
    val planes = graft.operators.SimilaritySearch.hyperplanes(6, 8)

    val store = java.nio.file.Files.createTempDirectory("graft_annatom1").toString
    AnnStore.writeSrp(base, planes, store)
    val baseline = dumpTopK(AnnStore.srpTopK(spark, store, queries, 3))

    // crash mid-append: partial parquet under batch_d1, no _committed_d1
    val vdir = Compaction.currentDir(spark, s"$store/${AnnStore.SrpBuckets}")
    annCorpus(99, 3).withColumn("nrm", lit(1.0f)).withColumn("bucket", lit(0))
      .write.mode("overwrite").parquet(s"$vdir/batch_d1")
    dumpTopK(AnnStore.srpTopK(spark, store, queries, 3)) shouldBe baseline

    // the retry under the same batch name overwrites the ghost and commits
    AnnStore.appendSrp(delta, store, batchName = Some("d1"))
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_annatom1r").toString
    AnnStore.writeSrp(all, planes, rebuilt)
    dumpTopK(AnnStore.srpTopK(spark, store, queries, 3)) shouldBe
      dumpTopK(AnnStore.srpTopK(spark, rebuilt, queries, 3))
  }

  test("ANN append: redelivery under the same batch name is a no-op; re-init clears stale batches") {
    val all = annCorpus(47, 40)
    val base = all.where(col("vec_id") % 4 =!= 0)
    val delta = all.where(col("vec_id") % 4 === 0)
    val queries = all.where(col("vec_id") % 9 === 1)
    val cents = graft.operators.SimilaritySearch.ivfCentroids(base, 7)

    val store = java.nio.file.Files.createTempDirectory("graft_annatom2").toString
    AnnStore.writeIvf(base, cents, store)
    AnnStore.appendIvf(delta, store, batchName = Some("d1"))
    val afterFirst = dumpTopK(AnnStore.ivfTopK(spark, store, queries, 2, 3))
    val root = s"$store/${AnnStore.IvfLists}"
    batchDirsOf(root) shouldBe Seq("batch_base", "batch_d1")

    // redelivery: marker exists → no write, no duplicate rows
    AnnStore.appendIvf(delta, store, batchName = Some("d1"))
    batchDirsOf(root) shouldBe Seq("batch_base", "batch_d1")
    dumpTopK(AnnStore.ivfTopK(spark, store, queries, 2, 3)) shouldBe afterFirst

    // re-init over the appended store: only the fresh base batch survives
    AnnStore.writeIvf(base, cents, store)
    batchDirsOf(root) shouldBe Seq("batch_base")
    dumpTopK(AnnStore.ivfTopK(spark, store, queries, 2, 3)) shouldBe
      dumpTopK(AnnStore.ivfTopK(spark,
        { val r = java.nio.file.Files.createTempDirectory("graft_annatom2r").toString
          AnnStore.writeIvf(base, cents, r); r }, queries, 2, 3))
  }

  test("ANN append: the reserved batch name 'base' is rejected, not silently dropped") {
    val all = annCorpus(59, 24)
    val base = all.where(col("vec_id") % 4 =!= 0)
    val delta = all.where(col("vec_id") % 4 === 0)
    val store = java.nio.file.Files.createTempDirectory("graft_annatom5").toString
    AnnStore.writeSrp(base, graft.operators.SimilaritySearch.hyperplanes(4, 8), store)
    AnnStore.writeIvf(base, graft.operators.SimilaritySearch.ivfCentroids(base, 5), store)
    // the base batch's marker exists, so an append under 'base' would be
    // taken for a redelivery and its rows dropped
    an[IllegalArgumentException] should be thrownBy
      AnnStore.appendSrp(delta, store, batchName = Some("base"))
    an[IllegalArgumentException] should be thrownBy
      AnnStore.appendIvf(delta, store, batchName = Some("base"))
    batchDirsOf(s"$store/${AnnStore.SrpBuckets}") shouldBe Seq("batch_base")
    batchDirsOf(s"$store/${AnnStore.IvfLists}") shouldBe Seq("batch_base")
  }

  test("writer lease: a second writer fails loudly naming the holder; breakLease recovers") {
    val all = annCorpus(53, 24)
    val planes = graft.operators.SimilaritySearch.hyperplanes(4, 8)
    val store = java.nio.file.Files.createTempDirectory("graft_annatom3").toString
    AnnStore.writeSrp(all, planes, store)

    // a concurrent writer holds the lease (e.g. a live compaction)
    Compaction.acquireLease(spark, store, "compact:srp_buckets")
    val ex = intercept[IllegalStateException] {
      AnnStore.appendSrp(all.limit(2), store, batchName = Some("d9"))
    }
    ex.getMessage should include("compact:srp_buckets")
    // the blocked append left nothing behind
    batchDirsOf(s"$store/${AnnStore.SrpBuckets}") shouldBe Seq("batch_base")

    // holder crashed → operator breaks the lease; the retry lands
    Compaction.breakLease(spark, store)
    AnnStore.appendSrp(all.limit(2), store, batchName = Some("d9"))
    batchDirsOf(s"$store/${AnnStore.SrpBuckets}") shouldBe Seq("batch_base", "batch_d9")
    Compaction.leaseHolder(spark, store) shouldBe None // released on exit
  }

  test("writer lease: dedupDelta and compact exclude each other on the dedup store") {
    val dir = java.nio.file.Files.createTempDirectory("graft_annatom4").toString
    val store = s"$dir/store"
    DedupStore.write(baseDocs, N, Perms, store)
    Compaction.acquireLease(spark, store, "dedup:compact")
    intercept[IllegalStateException] {
      DedupStore.dedupDelta(
        Seq((11L, "red green blue cyan magenta yellow black white")).toDF("doc_id", "text"),
        store, N, Perms, Bds, T)
    }.getMessage should include("dedup:compact")
    intercept[IllegalStateException] {
      DedupStore.compact(spark, store)
    }
    sigIds(store) shouldBe Seq(2L, 4L) // store untouched by the blocked writers
    Compaction.breakLease(spark, store)
    DedupStore.compact(spark, store) // and the retry proceeds
    sigIds(store) shouldBe Seq(2L, 4L)
  }

  test("pipeline manifest: one atomic publish pins a consistent version across two stores") {
    import graft.store.{LineDedupStore, PipelineManifest}
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest1").toString
    val (sigStore, lineStore, mf) = (s"$dir/sig", s"$dir/line", s"$dir/manifest")
    DedupStore.write(baseDocs, N, Perms, sigStore)
    LineDedupStore.write(baseDocs, lineStore)
    val sigRoot = s"$sigStore/${DedupStore.Signatures}"
    val lineRoot = s"$lineStore/${LineDedupStore.LineDf}"
    PipelineManifest.publish(spark, mf,
      Map("sigs" -> sigRoot, "lines" -> lineRoot)) shouldBe 0L
    PipelineManifest.current(spark, mf) shouldBe
      Map("sigs" -> ((sigRoot, 0L)), "lines" -> ((lineRoot, 0L)))

    // both stores advance (delta + compaction) — the manifest, NOT the
    // stores' own markers, keeps pinned readers on the consistent pair
    DedupStore.dedupDelta(
      Seq((11L, "red green blue cyan magenta yellow black white")).toDF("doc_id", "text"),
      sigStore, N, Perms, Bds, T).count()
    DedupStore.compact(spark, sigStore)
    LineDedupStore.compact(spark, lineStore)
    Compaction.currentVersion(spark, sigRoot) shouldBe Some(1L)
    PipelineManifest.current(spark, mf)("sigs")._2 shouldBe 0L
    // the pinned v0 stays on disk (retention rule) and remains readable
    val pinned = PipelineManifest.pinnedDir(spark, mf, "sigs")
    pinned shouldBe s"$sigRoot/v0"
    spark.read.parquet(s"$pinned/batch_base")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(2L, 4L)

    // the NEXT publish flips both pins in one step
    PipelineManifest.publish(spark, mf,
      Map("sigs" -> sigRoot, "lines" -> lineRoot)) shouldBe 1L
    PipelineManifest.current(spark, mf) shouldBe
      Map("sigs" -> ((sigRoot, 1L)), "lines" -> ((lineRoot, 1L)))
  }

  test("pipeline manifest crash windows: failed resolve and unflipped marker both leave the old manifest served") {
    import graft.store.{LineDedupStore, PipelineManifest}
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest2").toString
    val (sigStore, lineStore, mf) = (s"$dir/sig", s"$dir/line", s"$dir/manifest")
    DedupStore.write(baseDocs, N, Perms, sigStore)
    LineDedupStore.write(baseDocs, lineStore)
    val sigRoot = s"$sigStore/${DedupStore.Signatures}"
    val lineRoot = s"$lineStore/${LineDedupStore.LineDf}"
    PipelineManifest.publish(spark, mf, Map("sigs" -> sigRoot, "lines" -> lineRoot))

    // (1) a publish naming an UNINITIALIZED store fails before writing —
    // the crash-between-store-commits case: the pipeline run died before
    // its second store committed, the retry publish fails loudly, the old
    // consistent pair keeps serving
    intercept[java.io.FileNotFoundException] {
      PipelineManifest.publish(spark, mf,
        Map("sigs" -> sigRoot, "lines" -> s"$dir/never_committed"))
    }.getMessage should include("never_committed")
    PipelineManifest.current(spark, mf) shouldBe
      Map("sigs" -> ((sigRoot, 0L)), "lines" -> ((lineRoot, 0L)))
    Compaction.leaseHolder(spark, mf) shouldBe None // released on the failure

    // (2) a fully-written manifest version whose marker never flipped is
    // invisible: write v1/stores.tsv by hand (the crash-mid-publish image)
    val f = Compaction.fs(spark, mf)
    val out = f.create(new org.apache.hadoop.fs.Path(s"$mf/v1/stores.tsv"), true)
    out.write(s"sigs\t$sigRoot\t9\nlines\t$lineRoot\t9".getBytes("UTF-8"))
    out.close()
    PipelineManifest.current(spark, mf)("sigs")._2 shouldBe 0L
    // and the next real publish overwrites the orphan and commits cleanly
    PipelineManifest.publish(spark, mf,
      Map("sigs" -> sigRoot, "lines" -> lineRoot)) shouldBe 1L
    PipelineManifest.current(spark, mf)("sigs")._2 shouldBe 0L // stores still at v0
    PipelineManifest.pinnedDir(spark, mf, "lines") shouldBe s"$lineRoot/v0"
  }
}
