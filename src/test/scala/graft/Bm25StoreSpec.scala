package graft

import graft.store.Bm25Store
import graft.streaming.Ingest
import graft.operators.Retrieval
import org.apache.spark.sql.functions._

/** Incremental BM25 index contract: the store-served top-k over
  * base ∪ delta equals the one-shot corpus scan bitwise (integer-exact
  * summed scalars), redelivery is idempotent, compaction invariant. */
class Bm25StoreSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark streams data fast spark"),
    (2L, "vector search over spark"),
    (3L, "stream processing with state"),
    (4L, "unrelated words entirely here"),
    (5L, ""), // empty doc still counts toward n_docs/avgdl
    (6L, "spark spark spark vector"),
    (7L, "stream stream vector")).toDF("doc_id", "text")
  private val terms = Seq("spark", "vector", "stream")

  private def served(store: String): Seq[(Long, Double)] =
    Bm25Store.topK(spark, store, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("store-served top-k over base ∪ delta equals the one-shot corpus scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25s").toString
    val store = s"$dir/store"
    Bm25Store.write(docs.where(col("doc_id") <= 4), store)
    Bm25Store.append(docs.where(col("doc_id") > 4), store, Some("d1"))
    val oneShot = Retrieval.bm25TopK(docs, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    served(store) shouldBe oneShot
    // scalars are exact: 7 docs, 24 tokens (5+4+4+4+0+4+3) → avgdl 24/7
    val st = Bm25Store.stats(spark, store).collect()(0)
    st.getLong(0) shouldBe 7L
    st.getDouble(1) shouldBe (24.0 / 7.0) +- 1e-12
  }

  test("redelivery under the same batch name is idempotent; compaction changes nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25s2").toString
    val store = s"$dir/store"
    Bm25Store.write(docs.where(col("doc_id") <= 4), store)
    Bm25Store.append(docs.where(col("doc_id") > 4), store, Some("d1"))
    val first = served(store)
    Bm25Store.append(docs.where(col("doc_id") > 4), store, Some("d1")) // crash retry
    served(store) shouldBe first
    Bm25Store.compact(spark, store)
    served(store) shouldBe first
    // post-compaction appends still fold
    Bm25Store.append(Seq((8L, "vector stream")).toDF("doc_id", "text"), store)
    val all = docs.unionByName(Seq((8L, "vector stream")).toDF("doc_id", "text"))
    served(store) shouldBe Retrieval.bm25TopK(all, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("streaming Bm25Ingest: stream fold == sequential appends; redelivery is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25stream").toString
    val streamed = s"$dir/streamed"; val twin = s"$dir/twin"
    val base = docs.where(col("doc_id") <= 3)
    Bm25Store.write(base, streamed)
    Bm25Store.write(base, twin)
    val b0 = Seq((4L, "unrelated words entirely here"), (5L, ""))
    val b1 = Seq((6L, "spark spark spark vector"), (7L, "stream stream vector"))
    val mem = MemoryStream[(Long, String)]
    val sq = Ingest.start(mem.toDF().toDF("doc_id", "text"), s"$dir/ckpt")(
      (b, id) => Bm25Store.append(b, streamed, Some(Ingest.batchName(id))))
    try {
      Seq(b0, b1).foreach { b => mem.addData(b: _*); sq.processAllAvailable() }
    } finally sq.stop()
    Seq(b0, b1).foreach(b =>
      Bm25Store.append(b.toDF("doc_id", "text"), twin))
    def top(store: String) = Bm25Store.topK(spark, store, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    top(streamed) shouldBe top(twin)
    val before = top(streamed)
    // crash-redelivery of batch 0: overwrites its own dirs, serving unchanged
    Bm25Store.append(b0.toDF("doc_id", "text"), streamed, Some(Ingest.batchName(0)))
    top(streamed) shouldBe before
    Bm25Store.stats(spark, streamed).collect()(0).getLong(0) shouldBe 7L
  }

  test("empty-query and reserved batch name fail loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25s3").toString
    val store = s"$dir/store"
    Bm25Store.write(docs, store)
    an[IllegalArgumentException] should be thrownBy
      Bm25Store.topK(spark, store, Seq.empty, 5)
    an[IllegalArgumentException] should be thrownBy
      Bm25Store.append(docs, store, Some("base"))
  }
}
