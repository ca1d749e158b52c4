package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.storage.StorageLevel
import graft.core.Caches
import graft.store.DedupStore
import graft.streaming.Ingest

/** The streaming-ingest driver releases each batch's caches and nothing
  * else: a long-running ingest holds O(1) cache entries, and a serving
  * frame cached on the same session keeps its cache. */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("each batch's caches are released; a serving frame stays cached") {
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.core.Scratch.dir("ingest_cache")
    val store = s"$dir/store"
    DedupStore.write(Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text"), 2, 16, store)
    val serving = Caches.cacheOnce(DedupStore.signatures(spark, store))
    serving.count()
    def persisted = spark.sparkContext.getPersistentRDDs.size
    val before = persisted
    val peak = new AtomicInteger(0)
    val mem = MemoryStream[(Long, String)]
    val sq = Ingest.start(mem.toDF().toDF("doc_id", "text"), s"$dir/ckpt") { (b, id) =>
      // dedupDelta caches its delta signatures and dropped set
      DedupStore.dedupDelta(b, store, 2, 16, 4, 0.5, deltaId = Some(Ingest.batchName(id)))
        .write.mode("overwrite").parquet(s"$dir/kept/batch=$id")
      peak.accumulateAndGet(persisted, _ max _)
    }
    try (1 to 3).foreach { i =>
      mem.addData((0 until 3).map(k => (10L * i + k, s"doc $i $k lorem ipsum dolor sit amet")): _*)
      sq.processAllAvailable()
    } finally sq.stop()
    assert(peak.get > before, "the batch function should have cached inside its batch")
    serving.storageLevel should not be StorageLevel.NONE
    persisted shouldBe before
  }
}
