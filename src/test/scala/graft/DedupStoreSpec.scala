package graft

import graft.store.DedupStore
import org.apache.spark.sql.functions._

/** Incremental dedup contract: keep-first against the persisted
  * signature store, delta-cost plans (base text never rescanned), and
  * sequential-delta composition. */
class DedupStoreSpec extends SparkSpec {
  import spark.implicits._

  private val N = 2
  private val Perms = 16
  private val Bds = 4
  private val T = 0.5

  // base: two distinct docs; repeated-token texts shingle reliably at n=2
  private def baseDocs = Seq(
    (2L, "alpha beta gamma delta alpha beta gamma delta"),
    (4L, "one two three four five six seven eight"))
    .toDF("doc_id", "text")

  test("keep-first: dup-of-store drops, novel keeps, intra-delta keeps min id, short docs pass") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dstore").toString
    DedupStore.write(baseDocs, N, Perms, s"$dir/store")
    val delta = Seq(
      (11L, "alpha beta gamma delta alpha beta gamma delta"), // exact dup of base 2 → drop
      (13L, "red green blue cyan magenta yellow black white"), // novel → keep
      (15L, "red green blue cyan magenta yellow black white"), // dup of 13 → intra, min id 13 wins
      (17L, "tiny")) // 1 token < n: no signature → always kept
      .toDF("doc_id", "text")
    val kept = DedupStore.dedupDelta(delta, s"$dir/store", N, Perms, Bds, T)
    kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(13L, 17L)
    // survivors' signatures joined the store (17 has none to contribute)
    DedupStore.signatures(spark, s"$dir/store")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(2L, 4L, 13L)
  }

  test("sequential deltas compose: a later delta dedups against earlier survivors") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dstore2").toString
    DedupStore.write(baseDocs, N, Perms, s"$dir/store")
    val d1 = Seq((21L, "lorem ipsum dolor sit amet consectetur adipiscing elit"))
      .toDF("doc_id", "text")
    DedupStore.dedupDelta(d1, s"$dir/store", N, Perms, Bds, T)
      .count() shouldBe 1L // novel → kept, signature appended
    val d2 = Seq(
      (31L, "lorem ipsum dolor sit amet consectetur adipiscing elit"), // dup of kept 21 → drop
      (33L, "completely fresh content nine ten eleven twelve words"))
      .toDF("doc_id", "text")
    DedupStore.dedupDelta(d2, s"$dir/store", N, Perms, Bds, T)
      .select("doc_id").collect().map(_.getLong(0)).toSeq shouldBe Seq(33L)
    // compaction folds the appended part files; dedup state unchanged
    def sigIds = DedupStore.signatures(spark, s"$dir/store")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val before = sigIds
    DedupStore.compact(spark, s"$dir/store")
    sigIds shouldBe before
    // a post-compaction delta still dedups against everything kept so far
    DedupStore.dedupDelta(
      Seq((41L, "completely fresh content nine ten eleven twelve words"))
        .toDF("doc_id", "text"),
      s"$dir/store", N, Perms, Bds, T).count() shouldBe 0L
  }

  test("delta plan reads the signature store, never the base corpus text") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dstore3").toString
    val basePath = s"$dir/base_docs"
    baseDocs.write.parquet(basePath)
    DedupStore.write(spark.read.parquet(basePath), N, Perms, s"$dir/store")
    val deltaPath = s"$dir/delta_docs"
    Seq((41L, "something new under the sun entirely")).toDF("doc_id", "text")
      .write.parquet(deltaPath)
    val kept = DedupStore.dedupDelta(spark.read.parquet(deltaPath),
      s"$dir/store", N, Perms, Bds, T)
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains(basePath), "delta dedup plan rescans the base corpus text")
    assert(plan.contains(s"$dir/store"), "delta dedup plan should read the signature store")
    assert(plan.contains(deltaPath), "delta dedup plan should read the delta")
    kept.count() shouldBe 1L
  }

  test("deltaId 'base' is rejected — it would overwrite the base signatures") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dstore_base").toString
    val store = s"$dir/store"
    DedupStore.write(baseDocs, N, Perms, store)
    DedupStore.dedupDelta(
      Seq((13L, "red green blue cyan magenta yellow black white")).toDF("doc_id", "text"),
      store, N, Perms, Bds, T).count() shouldBe 1L
    def ids = DedupStore.signatures(spark, store)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    ids shouldBe Seq(2L, 4L, 13L)
    // an exact copy of base doc 2 under the reserved name would exclude
    // batch_base from its own view (so the copy survives) and overwrite it
    an[IllegalArgumentException] should be thrownBy
      DedupStore.dedupDelta(
        Seq((11L, "alpha beta gamma delta alpha beta gamma delta")).toDF("doc_id", "text"),
        store, N, Perms, Bds, T, deltaId = Some("base"))
    ids shouldBe Seq(2L, 4L, 13L)
  }
}
