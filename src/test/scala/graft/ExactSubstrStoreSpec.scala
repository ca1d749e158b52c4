package graft

import graft.operators.Dedup
import graft.store.ExactSubstrStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental ExactSubstr contract: arrival-order keep-first against
  * the persisted window-hash store, delta-cost plans (base text never
  * rescanned), redelivery idempotence, and the rebuild-equality gate —
  * a delta fold equals a full exactSubstrDedup over (kept base ∪ delta)
  * when delta ids sort after base ids. */
class ExactSubstrStoreSpec extends SparkSpec {
  import spark.implicits._

  private val L = 4

  // self-deduped base: no duplicate 4-token window within or across docs
  private def baseDocs = Seq(
    (2L, "a b c d e f g h"),
    (4L, "p q r s t u v w"))
    .toDF("doc_id", "text")

  private def rows(df: DataFrame): Seq[(Long, String, Long)] =
    df.select("doc_id", "text", "n_removed").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq

  test("stored windows remove whole intervals; intra-delta keep-first; short docs pass; full cover keeps ''") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sstore").toString
    ExactSubstrStore.write(baseDocs, L, s"$dir/store")
    val delta = Seq(
      // windows [a b c d]@2 and [b c d e]@3 are stored → [2,7) removed,
      // including the delta's FIRST copy (the store arrived earlier)
      (11L, "x y a b c d e z"),
      // self-overlap: every window from pos 4 on repeats pos 0..3 →
      // [4,12) removed, only the first period survives
      (13L, "m n o p m n o p m n o p"),
      // < L tokens: no windows, passes (whitespace-normalized)
      (15L, "tiny  doc here"),
      // intra-delta pair: 19 arrives first (lower id), 21 fully covered
      (19L, "aa bb cc dd ee ff gg hh"),
      (21L, "aa bb cc dd ee ff gg hh"))
      .toDF("doc_id", "text")
    val kept = ExactSubstrStore.dedupDelta(delta, s"$dir/store", L)
    rows(kept) shouldBe Seq(
      (11L, "x y z", 5L),
      (13L, "m n o p", 8L),
      (15L, "tiny doc here", 0L),
      (19L, "aa bb cc dd ee ff gg hh", 0L),
      (21L, "", 8L))
    // survivors' KEPT text re-windowed into the store: a second identical
    // delta is now fully covered wherever it has windows
    val again = ExactSubstrStore.dedupDelta(
      Seq((31L, "aa bb cc dd ee ff gg hh")).toDF("doc_id", "text"), s"$dir/store", L)
    rows(again) shouldBe Seq((31L, "", 8L))
  }

  test("delta fold equals a full rebuild over (kept base ∪ delta); sequential folds compose") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sstore2").toString
    ExactSubstrStore.write(baseDocs, L, s"$dir/store")
    val d1 = Seq(
      (11L, "x y a b c d e z"),
      (13L, "m n o p m n o p m n o p"),
      (19L, "aa bb cc dd ee ff gg hh"),
      (21L, "aa bb cc dd ee ff gg hh"))
      .toDF("doc_id", "text")
    val kept1 = ExactSubstrStore.dedupDelta(d1, s"$dir/store", L)
    val rebuild1 = Dedup.exactSubstrDedup(baseDocs.unionByName(d1), L)
      .where(col("doc_id") >= 11L)
    rows(kept1) shouldBe rows(rebuild1)
    // second delta: hits base content, d1-kept content, AND is internally
    // duplicated — the fold must see d1's kept windows in the store
    val d2 = Seq(
      (31L, "u v a b c d w z"), // [a b c d] stored from base → [2,6)
      (33L, "aa bb cc dd ee ff gg hh"), // fully covered by d1-kept 19
      (35L, "fresh words only here nothing shared at all"))
      .toDF("doc_id", "text")
    val kept2 = ExactSubstrStore.dedupDelta(d2, s"$dir/store", L)
    val rebuild2 = Dedup.exactSubstrDedup(
        baseDocs.unionByName(kept1.select(col("doc_id"), col("text")))
          .unionByName(d2), L)
      .where(col("doc_id") >= 31L)
    rows(kept2) shouldBe rows(rebuild2)
    rows(kept2).map(_._1) shouldBe Seq(31L, 33L, 35L)
    // compaction folds batches into one distinct set; decisions unchanged
    ExactSubstrStore.compact(spark, s"$dir/store")
    val post = ExactSubstrStore.dedupDelta(
      Seq((41L, "fresh words only here nothing shared at all"))
        .toDF("doc_id", "text"), s"$dir/store", L)
    rows(post) shouldBe Seq((41L, "", 8L))
  }

  test("redelivery under the same deltaId is exact: identical kept set, no double-append") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sstore3").toString
    ExactSubstrStore.write(baseDocs, L, s"$dir/store")
    val d = Seq((11L, "x y a b c d e z"), (13L, "novel tokens one two three four"))
      .toDF("doc_id", "text")
    val first = rows(ExactSubstrStore.dedupDelta(d, s"$dir/store", L,
      deltaId = Some("day1")))
    val storeAfterFirst = ExactSubstrStore.hashes(spark, s"$dir/store")
      .collect().map(_.getLong(0)).sorted.toSeq
    // redelivery: same id — the view excludes batch_day1, so the retry
    // recomputes the identical kept set and overwrites the same directory
    val retry = rows(ExactSubstrStore.dedupDelta(d, s"$dir/store", L,
      deltaId = Some("day1")))
    retry shouldBe first
    ExactSubstrStore.hashes(spark, s"$dir/store")
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe storeAfterFirst
  }

  test("delta plan reads the hash store, never the base corpus text") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sstore4").toString
    val basePath = s"$dir/base_docs"
    baseDocs.write.parquet(basePath)
    ExactSubstrStore.write(spark.read.parquet(basePath), L, s"$dir/store")
    val deltaPath = s"$dir/delta_docs"
    Seq((41L, "something new under the sun entirely today"))
      .toDF("doc_id", "text").write.parquet(deltaPath)
    val kept = ExactSubstrStore.dedupDelta(spark.read.parquet(deltaPath),
      s"$dir/store", L)
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains(basePath), "delta fold plan rescans the base corpus text")
    assert(plan.contains(s"$dir/store"), "delta fold plan should read the hash store")
    assert(plan.contains(deltaPath), "delta fold plan should read the delta")
    kept.count() shouldBe 1L
  }

  test("deltaId 'base' is rejected — it would overwrite the base window hashes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sstore_base").toString
    val store = s"$dir/store"
    ExactSubstrStore.write(baseDocs, L, store)
    ExactSubstrStore.dedupDelta(
      Seq((11L, "novel tokens one two three four")).toDF("doc_id", "text"), store, L).count()
    def hashes = ExactSubstrStore.hashes(spark, store)
      .collect().map(_.getLong(0)).sorted.toSeq
    val before = hashes
    an[IllegalArgumentException] should be thrownBy
      ExactSubstrStore.dedupDelta(
        Seq((13L, "x y z w")).toDF("doc_id", "text"), store, L, deltaId = Some("base"))
    hashes shouldBe before
  }
}
