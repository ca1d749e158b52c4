package graft

import org.apache.spark.sql.functions._
import graft.store.FrontierStore
import graft.streaming.Ingest

/**
 * Frontier URL ledger laws (EXT-D24): folding deltas equals the one-shot
 * keep-first over the union; redelivery of a batch is a no-op; row-level
 * retraction makes a URL fetchable again without suppressing the re-offer.
 */
class FrontierStoreSpec extends SparkSpec {
  import spark.implicits._

  /** Messy raw urls canonicalizing onto a small key set (3 hosts × 4
    * paths): case noise, www, default ports, tracking params, fragments. */
  private def entry(id: Long): (Long, String) = {
    val host = s"Site${id % 3}.Example.COM"
    val noisy =
      if (id % 2 == 0) s"HTTP://WWW.$host:80/p${id % 4}?utm_source=x#f"
      else s"https://$host:443/p${id % 4}"
    (id, noisy)
  }

  private def seenMap(store: String): Map[String, Long] =
    FrontierStore.seen(spark, store).collect()
      .map(r => r.getAs[String]("canonical") -> r.getAs[Long]("doc_id")).toMap

  test("delta fold equals one-shot keep-first over the union") {
    val store = graft.core.Scratch.dir("frontier_fold")
    val all = (1L to 60L).map(entry)
    val df = all.toDF("doc_id", "url")
    FrontierStore.write(df.where(col("doc_id") % 3 === 0), store)
    val d1 = FrontierStore.offer(df.where(col("doc_id") % 3 === 1), store, Some("d1"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    FrontierStore.offer(df.where(col("doc_id") % 3 === 2), store, Some("d2"))
    // one-shot witness: per canonical, the min (epoch = id % 3, id) —
    // canonicalization itself is q151's gate, not this law's
    val canon = df.select(col("doc_id"),
        graft.functions.UrlFunctions.canonicalUrl(col("url")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = all.map(_._1).groupBy(canon)
      .map { case (c, ids) => c -> ids.minBy(i => (i % 3, i)) }
    seenMap(store) shouldBe want
    // the offer's RETURN is the fetch list: exactly epoch-1 first-claims
    d1 shouldBe want.filter { case (_, id) => id % 3 == 1 }
  }

  test("redelivery of a batch under the same id is a no-op") {
    val store = graft.core.Scratch.dir("frontier_redeliver")
    val df = (1L to 30L).map(entry).toDF("doc_id", "url")
    FrontierStore.write(df.where(col("doc_id") % 3 === 0), store)
    val first = FrontierStore.offer(df.where(col("doc_id") % 3 === 1), store, Some("d1"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val before = seenMap(store)
    // crash-retry: same batch id, same entries — view excludes its own
    // batch, so the retry recomputes the identical fetch list in place
    val again = FrontierStore.offer(df.where(col("doc_id") % 3 === 1), store, Some("d1"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    again shouldBe first
    seenMap(store) shouldBe before
  }

  test("row-level retraction re-admits the URL; the re-offer survives; compact folds") {
    val store = graft.core.Scratch.dir("frontier_retract")
    val df = (1L to 12L).map(entry).toDF("doc_id", "url")
    FrontierStore.write(df, store)
    val before = seenMap(store)
    val (victimCanon, victimDoc) = before.head
    // retract the exact ledger row → the URL disappears from the ledger
    FrontierStore.retract(
      Seq((victimCanon, victimDoc)).toDF("canonical", "doc_id"), store, Some("r1"))
    val afterRetract = seenMap(store)
    afterRetract shouldBe (before - victimCanon)
    // a re-offer of the SAME url under a new doc is new again — and the
    // row-level tombstone must NOT suppress the fresh claim
    val reoffer = FrontierStore.offer(
        Seq((100L, victimCanon)).toDF("doc_id", "url"), store, Some("d_re"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    reoffer shouldBe Array((victimCanon, 100L))
    seenMap(store) shouldBe (before - victimCanon) + (victimCanon -> 100L)
    // compact folds batches minus tombstones; the served ledger is
    // unchanged and re-offering anything already seen yields nothing
    FrontierStore.compact(spark, store)
    seenMap(store) shouldBe (before - victimCanon) + (victimCanon -> 100L)
    FrontierStore.offer(df, store, Some("d_post"))
      .collect() shouldBe empty
  }

  test("streaming FrontierIngest: stream fold == sequential offers; redelivery is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft_fstream").toString
    val streamed = s"$dir/streamed"; val twin = s"$dir/twin"
    val base = (1L to 12L).map(entry).toDF("doc_id", "url")
    FrontierStore.write(base, streamed)
    FrontierStore.write(base, twin)
    // batch 0 rediscovers known URLs + brings fresh hosts; batch 1 mixes
    // batch-0 first-claims (now seen) with more fresh ones
    val b0 = (7L to 20L).map(entry)
    val b1 = (15L to 28L).map(entry)
    val mem = MemoryStream[(Long, String)]
    val entries = mem.toDF().toDF("doc_id", "url")
    def fold(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      FrontierStore.offer(b, streamed, Some(Ingest.batchName(id)))
        .write.mode("overwrite").parquet(s"$dir/fetch/batch=$id")
    val sq = Ingest.start(entries, s"$dir/ckpt")(fold)
    try {
      Seq(b0, b1).foreach { b => mem.addData(b: _*); sq.processAllAvailable() }
    } finally sq.stop()
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("canonical"), r.getAs[Long]("doc_id"))).toSet
    def twinOffer(b: Seq[(Long, String)], id: String) =
      pairs(FrontierStore.offer(b.toDF("doc_id", "url"), twin, Some(id)))
    val (f0, f1) = (twinOffer(b0, "s0"), twinOffer(b1, "s1"))
    def fetchBatch(id: Long) = pairs(spark.read.parquet(s"$dir/fetch/batch=$id"))
    fetchBatch(0) shouldBe f0
    fetchBatch(1) shouldBe f1
    seenMap(streamed) shouldBe seenMap(twin)
    // crash-redelivery of batch 0: identical fetch list, ledger unchanged
    val before = seenMap(streamed)
    fold(b0.toDF("doc_id", "url"), 0L)
    seenMap(streamed) shouldBe before
    fetchBatch(0) shouldBe f0
  }

  test("the reserved batch name 'base' is rejected for offer and retract") {
    val store = graft.core.Scratch.dir("frontier_base_guard")
    val df = (1L to 9L).map(entry).toDF("doc_id", "url")
    FrontierStore.write(df, store)
    val before = seenMap(store)
    // offer(base) would exclude the compacted base batch from the view
    // and then overwrite batch_base — the ledger must refuse, not comply
    intercept[IllegalArgumentException] {
      FrontierStore.offer(df, store, Some("base"))
    }
    intercept[IllegalArgumentException] {
      FrontierStore.retract(df.limit(1)
        .select(graft.functions.UrlFunctions.canonicalUrl(col("url"))
          .as("canonical"), col("doc_id")), store, Some("base"))
    }
    seenMap(store) shouldBe before
  }
}
