package graft

import graft.core.{Correlation, Crosstab, Incremental}
import graft.store.Compaction
import graft.streaming.{IncrementalIngest, Ingest}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming model maintenance: folding micro-batches of occurrences into
  * persisted snapshots must equal a full rebuild over everything the
  * stream ever saw, and redelivered batches must not double-count. */
class IncrementalIngestSpec extends SparkSpec {
  import spark.implicits._

  test("micro-batched ingest converges to the full-rebuild statistics") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val mem = MemoryStream[(Long, Long)]
    val occ = mem.toDF().toDF("item_id", "reference_id")
    val sq = Ingest.start(occ, s"$dir/ckpt")(
      IncrementalIngest.applyBatch(_, _, s"$dir/state", keepLast = Some(1)))
    val rnd = new scala.util.Random(13)
    val batches = Seq.fill(3)(
      Seq.fill(120)((rnd.nextInt(10).toLong, rnd.nextInt(15).toLong)))
    try {
      batches.foreach { b => mem.addData(b: _*); sq.processAllAvailable() }
    } finally sq.stop()

    val got = IncrementalIngest.loadLatest(spark, s"$dir/state").get
    val want = Correlation.sparsePairs(
      Crosstab.build(batches.flatten.toDF("item_id", "reference_id")))
    pairMap(Incremental.pairs(got)) shouldBe pairMap(want)
    Compaction.currentVersion(spark, s"$dir/state") shouldBe Some(2L)
    // retention rode along with the stream: only the marker version remains
    new java.io.File(s"$dir/state").listFiles().filter(_.isDirectory)
      .map(_.getName).toSeq shouldBe Seq("v2")
  }

  test("a redelivered batch (id at or below the marker) is skipped, not re-folded") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest2").toString
    val b0 = Seq((1L, 10L), (2L, 10L)).toDF("item_id", "reference_id")
    val b1 = Seq((1L, 11L), (2L, 11L)).toDF("item_id", "reference_id")
    IncrementalIngest.applyBatch(b0, 0L, s"$dir/state")
    IncrementalIngest.applyBatch(b1, 1L, s"$dir/state")
    val before = pairMap(Incremental.pairs(
      IncrementalIngest.loadLatest(spark, s"$dir/state").get))
    // crash-redelivery of batch 1: must be a no-op
    IncrementalIngest.applyBatch(b1, 1L, s"$dir/state")
    val after = pairMap(Incremental.pairs(
      IncrementalIngest.loadLatest(spark, s"$dir/state").get))
    after shouldBe before
    Compaction.currentVersion(spark, s"$dir/state") shouldBe Some(1L)
  }

  test("CDC ingest (signed ops) converges to the surviving multiset; redelivery idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    val mem = MemoryStream[(Long, Long, Int)]
    val occ = mem.toDF().toDF("item_id", "reference_id", "op")
    val sq = Ingest.start(occ, s"$dir/ckpt")(
      IncrementalIngest.applyCdcBatch(_, _, s"$dir/state", keepLast = Some(2)))
    // batch 0: inserts only; batch 1: inserts + deletes of batch-0 rows;
    // batch 2: a delete and an insert of the SAME cell net to a move
    val b0 = Seq((1L, 10L, 1), (2L, 10L, 1), (1L, 11L, 1), (3L, 11L, 1), (1L, 10L, 1))
    val b1 = Seq((4L, 12L, 1), (1L, 10L, -1), (3L, 11L, -1), (2L, 12L, 1))
    val b2 = Seq((1L, 11L, -1), (1L, 12L, 1))
    try {
      Seq(b0, b1, b2).foreach { b => mem.addData(b: _*); sq.processAllAvailable() }
    } finally sq.stop()
    // surviving multiset after all ops
    val surviving = Seq((1L, 10L), (2L, 10L), (3L, 11L), (1L, 11L), (4L, 12L), (2L, 12L))
      .diff(Seq((1L, 10L), (3L, 11L), (1L, 11L))) ++ Seq((1L, 10L), (1L, 12L))
    // (b0 had (1,10) twice: one delete leaves one copy — spelled out above)
    val got = IncrementalIngest.loadLatest(spark, s"$dir/state").get
    pairMap(Incremental.pairs(got)) shouldBe
      pairMap(Correlation.sparsePairs(Crosstab.build(
        surviving.toDF("item_id", "reference_id"))))
    // redelivered CDC batch at the marker: a no-op
    IncrementalIngest.applyCdcBatch(b2.toDF("item_id", "reference_id", "op"),
      2L, s"$dir/state")
    pairMap(Incremental.pairs(IncrementalIngest.loadLatest(spark, s"$dir/state").get)) shouldBe
      pairMap(Correlation.sparsePairs(Crosstab.build(
        surviving.toDF("item_id", "reference_id"))))
  }

  test("snapshot retention keeps the newest K durable versions; serving unaffected") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest3").toString
    val batches = Seq(
      Seq((1L, 10L), (2L, 10L)), Seq((1L, 11L), (3L, 11L)),
      Seq((2L, 12L), (3L, 12L)), Seq((4L, 13L), (1L, 13L)))
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalIngest.applyBatch(
        b.toDF("item_id", "reference_id"), i.toLong, s"$dir/state", keepLast = Some(2)) }
    def versionsOnDisk = new java.io.File(s"$dir/state").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    versionsOnDisk shouldBe Seq("v2", "v3") // 0 and 1 pruned as each batch landed
    Compaction.currentVersion(spark, s"$dir/state") shouldBe Some(3L)
    // the retained latest serves the full folded history
    pairMap(Incremental.pairs(IncrementalIngest.loadLatest(spark, s"$dir/state").get)) shouldBe
      pairMap(Correlation.sparsePairs(
        Crosstab.build(batches.flatten.toDF("item_id", "reference_id"))))
    // explicit prune call: keepLast=1 leaves only the marker version
    Compaction.prune(spark, s"$dir/state", 1) shouldBe Seq(2L)
    versionsOnDisk shouldBe Seq("v3")
    // in-flight versions above the marker are never touched
    Incremental.save(IncrementalIngest.loadLatest(spark, s"$dir/state").get, s"$dir/state/v9")
    Compaction.prune(spark, s"$dir/state", 1) shouldBe Seq.empty
    versionsOnDisk shouldBe Seq("v3", "v9")
  }

  test("streaming ANN ingest converges to the full-rebuild index; redelivery is idempotent") {
    import org.apache.spark.sql.functions.{col, round}
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(37)
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val base = vecs(1 to 30)
    val deltas = Seq(vecs(31 to 40), vecs(41 to 50))
    val all = (base ++ deltas.flatten).toDF("vec_id", "embedding")
    val queries = all.where(col("vec_id") % 9 === 1)
    val planes = graft.operators.SimilaritySearch.hyperplanes(6, 8)
    val cents = graft.operators.SimilaritySearch.ivfCentroids(
      base.toDF("vec_id", "embedding"), 7)

    val streamed = java.nio.file.Files.createTempDirectory("graft_annstream").toString
    graft.store.AnnStore.writeSrp(base.toDF("vec_id", "embedding"), planes, streamed)
    graft.store.AnnStore.writeIvf(base.toDF("vec_id", "embedding"), cents, streamed)
    val mem = MemoryStream[(Long, Seq[Float])]
    val vstream = mem.toDF().toDF("vec_id", "embedding")
    val sqIvf = Ingest.start(vstream, s"$streamed/ckpt_ivf")((b, id) =>
      graft.store.AnnStore.appendIvf(b, streamed, Some(Ingest.batchName(id))))
    try {
      deltas.foreach { d => mem.addData(d: _*); sqIvf.processAllAvailable() }
    } finally sqIvf.stop()
    // SRP side folds the same batches through the direct applyBatch face
    deltas.zipWithIndex.foreach { case (d, i) =>
      graft.store.AnnStore.appendSrp(
        d.toDF("vec_id", "embedding"), streamed, Some(Ingest.batchName(i))) }

    val rebuilt = java.nio.file.Files.createTempDirectory("graft_annfull").toString
    graft.store.AnnStore.writeSrp(all, planes, rebuilt)
    graft.store.AnnStore.writeIvf(all, cents, rebuilt)

    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("vec_id"), round(col("cos"), 9).as("cos"))
        .orderBy("query_id", "cos", "vec_id").collect().toSeq
    dump(graft.store.AnnStore.ivfTopK(spark, streamed, queries, 2, 3)) shouldBe
      dump(graft.store.AnnStore.ivfTopK(spark, rebuilt, queries, 2, 3))
    dump(graft.store.AnnStore.srpTopK(spark, streamed, queries, 3)) shouldBe
      dump(graft.store.AnnStore.srpTopK(spark, rebuilt, queries, 3))
    // crash-redelivery: rewriting batch 0 with the same content is a no-op
    val servedBefore = dump(graft.store.AnnStore.ivfTopK(spark, streamed, queries, 2, 3))
    graft.store.AnnStore.appendIvf(
      deltas.head.toDF("vec_id", "embedding"), streamed, Some(Ingest.batchName(0)))
    dump(graft.store.AnnStore.ivfTopK(spark, streamed, queries, 2, 3)) shouldBe servedBefore

    // compaction: fold the committed stream batches into the NEXT
    // VERSION's single base batch (marker-last swap) — served top-k
    // identical, per-batch directories gone from the served version,
    // fewer files
    def curDir(sub: String) = Compaction.currentDir(spark, s"$streamed/$sub")
    def treeFiles(sub: String) = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(curDir(sub))).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).toSeq
    }
    val srpFilesBefore = treeFiles(graft.store.AnnStore.SrpBuckets).size
    val srpServedBefore = dump(graft.store.AnnStore.srpTopK(spark, streamed, queries, 3))
    graft.store.AnnStore.compactSrp(spark, streamed)
    graft.store.AnnStore.compactIvf(spark, streamed)
    dump(graft.store.AnnStore.srpTopK(spark, streamed, queries, 3)) shouldBe srpServedBefore
    dump(graft.store.AnnStore.ivfTopK(spark, streamed, queries, 2, 3)) shouldBe servedBefore
    for (sub <- Seq(graft.store.AnnStore.SrpBuckets, graft.store.AnnStore.IvfLists)) {
      Compaction.currentVersion(spark, s"$streamed/$sub") shouldBe Some(1L)
      val dirs = new java.io.File(curDir(sub)).listFiles().filter(_.isDirectory)
        .map(_.getName).sorted.toSeq
      assert(dirs == Seq("batch_base"),
        s"$sub served version should hold ONLY the compacted base batch, got: ${dirs.mkString(",")}")
    }
    assert(treeFiles(graft.store.AnnStore.SrpBuckets).size <= srpFilesBefore)
  }
}
