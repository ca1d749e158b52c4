package graft

import graft.operators.Dedup
import graft.store.LineDedupStore
import graft.streaming.Ingest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental line-dedup contract: merged-df strikes against the
  * persisted per-line-hash document-frequency ledger, the
  * rebuild-equality law (a delta fold == one-shot lineDedup over
  * base ∪ delta restricted to delta docs), cross-delta threshold
  * accumulation, redelivery idempotence, and compaction invariance. */
class LineDedupStoreSpec extends SparkSpec {
  import spark.implicits._

  private val MaxDf = 2L

  private def rows(df: DataFrame): Seq[(Long, Long, Long, String)] =
    df.select("doc_id", "n_lines", "n_removed", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq

  test("delta fold equals the one-shot pass restricted to delta docs") {
    val base = Seq(
      (1L, "nav bar\nalpha body"),
      (2L, "nav bar\nbeta body"),
      (3L, "gamma body\nrare line")).toDF("doc_id", "text")
    val delta = Seq(
      (11L, "nav bar\ndelta body"), // nav bar: df 2 stored + 1 here = 3 > 2 → struck
      (12L, "rare line\nown words")) // rare line: 1 + 1 = 2 → kept
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lstore").toString
    LineDedupStore.write(base, s"$dir/store")
    val folded = rows(LineDedupStore.dedupDelta(delta, s"$dir/store", MaxDf))
    folded shouldBe Seq(
      (11L, 2L, 1L, "delta body"),
      (12L, 2L, 0L, "rare line\nown words"))
    // the law: identical to one-shot lineDedup over base ∪ delta, delta rows
    val oneShot = rows(Dedup.lineDedup(base.unionByName(delta), MaxDf)
      .where(col("doc_id") > 10L))
    folded shouldBe oneShot
  }

  test("df accumulates across deltas: the threshold crossing strikes later folds only") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lstore2").toString
    LineDedupStore.write(
      Seq((1L, "slow burn\nbase text")).toDF("doc_id", "text"), s"$dir/store")
    // delta A: df('slow burn') = 1 + 1 = 2 → kept
    val a = rows(LineDedupStore.dedupDelta(
      Seq((11L, "slow burn\na words")).toDF("doc_id", "text"),
      s"$dir/store", MaxDf, deltaId = Some("a")))
    a shouldBe Seq((11L, 2L, 0L, "slow burn\na words"))
    // delta B: 2 + 1 = 3 > 2 → struck NOW (A's published copy stands)
    val b = rows(LineDedupStore.dedupDelta(
      Seq((21L, "slow burn\nb words")).toDF("doc_id", "text"),
      s"$dir/store", MaxDf, deltaId = Some("b")))
    b shouldBe Seq((21L, 2L, 1L, "b words"))
  }

  test("retry under the same deltaId is exact; compaction preserves counts and decisions") {
    val spark2 = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_lstore3").toString
    LineDedupStore.write(
      Seq((1L, "hot line\nx"), (2L, "hot line\ny")).toDF("doc_id", "text"),
      s"$dir/store")
    val delta = Seq((11L, "hot line\nz")).toDF("doc_id", "text")
    val first = rows(LineDedupStore.dedupDelta(delta, s"$dir/store", MaxDf,
      deltaId = Some("d1")))
    val retry = rows(LineDedupStore.dedupDelta(delta, s"$dir/store", MaxDf,
      deltaId = Some("d1")))
    retry shouldBe first
    first.head._3 shouldBe 1L // 2 stored + 1 delta > 2 → struck
    val before = LineDedupStore.counts(spark2, s"$dir/store")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    LineDedupStore.compact(spark2, s"$dir/store")
    val after = LineDedupStore.counts(spark2, s"$dir/store")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    after shouldBe before
    // a post-compaction fold still sees the accumulated df
    val c = rows(LineDedupStore.dedupDelta(
      Seq((31L, "hot line\nw")).toDF("doc_id", "text"), s"$dir/store", MaxDf))
    c.head._3 shouldBe 1L
  }

  test("redelivery AFTER a compaction folded the delta: strikes identical, counts not double-counted") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lstore4").toString
    LineDedupStore.write(
      Seq((1L, "hot line\nx"), (2L, "hot line\ny")).toDF("doc_id", "text"),
      s"$dir/store")
    val delta = Seq((11L, "hot line\nz"), (12L, "edge line\nq"))
      .toDF("doc_id", "text")
    val first = rows(LineDedupStore.dedupDelta(delta, s"$dir/store", MaxDf,
      deltaId = Some("d1")))
    first.head._3 shouldBe 1L // hot line: 2 stored + 1 = 3 > 2 → struck
    val countsAfterFirst = LineDedupStore.counts(spark, s"$dir/store")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // compact folds batch_d1 into the next version's base...
    LineDedupStore.compact(spark, s"$dir/store")
    // ...and the SAME delta is redelivered: directory exclusion can no
    // longer carve d1 out, so the store must subtract the delta's own
    // counts — identical strikes ('edge line' df 1+1=2 stays KEPT; a
    // double-count would see 2+1=3 and strike it) and an unchanged ledger.
    val retry = rows(LineDedupStore.dedupDelta(delta, s"$dir/store", MaxDf,
      deltaId = Some("d1")))
    retry shouldBe first
    LineDedupStore.counts(spark, s"$dir/store")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap shouldBe countsAfterFirst
    // a second compaction after the redelivery still changes nothing
    LineDedupStore.compact(spark, s"$dir/store")
    LineDedupStore.counts(spark, s"$dir/store")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap shouldBe countsAfterFirst
    // and later folds accumulate from the correct (single-counted) totals:
    // edge line's true stored df is 1 (doc 12 only) → 1 + 1 = 2 ≤ 2 KEPT;
    // a double-counted ledger would hold 2 → 2 + 1 = 3 > 2 and strike it
    val c = rows(LineDedupStore.dedupDelta(
      Seq((31L, "edge line\nw")).toDF("doc_id", "text"), s"$dir/store", MaxDf))
    c.head._3 shouldBe 0L
    c.head._4 shouldBe "edge line\nw"
  }

  test("deltaId 'base' is rejected — it would overwrite the fold product") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lstore5").toString
    LineDedupStore.write(Seq((1L, "a\nb")).toDF("doc_id", "text"), s"$dir/store")
    an[IllegalArgumentException] should be thrownBy
      LineDedupStore.dedupDelta(Seq((2L, "c\nd")).toDF("doc_id", "text"),
        s"$dir/store", MaxDf, deltaId = Some("base"))
  }

  test("streaming LineDedupIngest: stream fold == sequential dedupDelta; redelivery is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft_lstream").toString
    val streamed = s"$dir/streamed"; val twin = s"$dir/twin"
    val base = Seq((1L, "promo banner\nbase a"), (2L, "promo banner\nbase b"))
      .toDF("doc_id", "text")
    LineDedupStore.write(base, streamed)
    LineDedupStore.write(base, twin)
    val b0 = Seq((11L, "promo banner\nfirst delta")) // 2+1 > 2 → struck
    val b1 = Seq((21L, "promo banner\nsecond delta"), (23L, "fresh line\nalone"))
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    def fold(b: DataFrame, id: Long): Unit =
      LineDedupStore.dedupDelta(b, streamed, MaxDf, deltaId = Some(Ingest.batchName(id)))
        .write.mode("overwrite").parquet(s"$dir/kept/batch=$id")
    val sq = Ingest.start(docs, s"$dir/ckpt")(fold)
    try {
      Seq(b0, b1).foreach { b => mem.addData(b: _*); sq.processAllAvailable() }
    } finally sq.stop()
    def twinFold(b: Seq[(Long, String)]) =
      rows(LineDedupStore.dedupDelta(b.toDF("doc_id", "text"), twin, MaxDf))
    val (k0, k1) = (twinFold(b0), twinFold(b1))
    def keptBatch(id: Long) = rows(spark.read.parquet(s"$dir/kept/batch=$id"))
    keptBatch(0) shouldBe k0
    keptBatch(1) shouldBe k1
    k0.head._3 shouldBe 1L // banner struck in the first delta already
    val countsBefore = LineDedupStore.counts(spark, streamed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // crash-redelivery of batch 0: logical no-op on ledger and kept output
    fold(b0.toDF("doc_id", "text"), 0L)
    LineDedupStore.counts(spark, streamed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe countsBefore
    keptBatch(0) shouldBe k0
  }
}
