package graft

import org.apache.spark.sql.functions._
import graft.store.FrequencyLedger
import graft.streaming.Ingest

/** CMS frequency ledger: lossless split-invariant folds, redelivery
  * idempotence, compaction invariance, the one-sided estimate guarantee
  * under forced collisions, zero for absent keys. */
class FrequencyLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def est(store: String, keys: Seq[String]): Map[String, Long] =
    FrequencyLedger.estimates(spark, store, keys.toDF("k"), "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("fold is lossless: base+delta appends == one-shot sketch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cms1").toString
    val rows = (1 to 500).map(i => s"k${i % 37}").toDF("k")
    FrequencyLedger.write(rows.where(col("k") <= "k2"), s"$dir/split", "k")
    FrequencyLedger.append(rows.where(col("k") > "k2"), s"$dir/split", "k")
    FrequencyLedger.write(rows, s"$dir/whole", "k")
    val cs = FrequencyLedger.sketch(spark, s"$dir/split")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cw = FrequencyLedger.sketch(spark, s"$dir/whole")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    cs shouldBe cw
  }

  test("estimates are one-sided under forced collisions; exact when sparse") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cms2").toString
    val store = s"$dir/store"
    // 3000 distinct keys >> Width=1024 forces collisions on every row
    val rows = (1 to 3000).flatMap(i => Seq.fill(i % 5 + 1)(s"key$i")).toDF("k")
    FrequencyLedger.write(rows, store, "k")
    val exact = rows.groupBy("k").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val probes = (1 to 3000 by 97).map(i => s"key$i")
    val got = est(store, probes)
    probes.foreach { k => assert(got(k) >= exact(k), s"$k under-estimated") }
    // sparse regime: a handful of keys in a fresh ledger estimate exactly
    val small = s"$dir/small"
    FrequencyLedger.write(Seq("a", "a", "b").toDF("k"), small, "k")
    est(small, Seq("a", "b", "absent")) shouldBe
      Map("a" -> 2L, "b" -> 1L, "absent" -> 0L)
  }

  test("redelivery overwrites in place; compaction folds without changing state") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cms3").toString
    val store = s"$dir/store"
    FrequencyLedger.write(Seq("x", "x", "y").toDF("k"), store, "k")
    val delta = Seq("x", "z").toDF("k")
    FrequencyLedger.append(delta, store, "k", Some("d1"))
    val before = est(store, Seq("x", "y", "z"))
    before shouldBe Map("x" -> 3L, "y" -> 1L, "z" -> 1L)
    FrequencyLedger.append(delta, store, "k", Some("d1")) // crash retry
    est(store, Seq("x", "y", "z")) shouldBe before
    FrequencyLedger.compact(spark, store)
    est(store, Seq("x", "y", "z")) shouldBe before
    // the compacted version carries one base grid only
    val vdir = graft.store.Compaction.currentDir(spark,
      s"$store/${FrequencyLedger.Root}")
    spark.read.parquet(s"$vdir/batch_base")
      .select(sum("cnt")).head().getLong(0) shouldBe 5L * FrequencyLedger.Depth
    FrequencyLedger.append(Seq("y").toDF("k"), store, "k")
    est(store, Seq("y"))("y") shouldBe 2L
  }

  test("streaming LedgerIngest: stream fold == one-shot; redelivery is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft_cmss").toString
    val store = s"$dir/store"; val whole = s"$dir/whole"
    val b0 = Seq("a", "a", "b")
    val b1 = Seq("a", "c", "c")
    FrequencyLedger.write(b0.toDF("k"), store, "k")
    val mem = MemoryStream[String]
    val sq = Ingest.start(mem.toDF().toDF("k"), s"$dir/ckpt")(
      (b, id) => FrequencyLedger.append(b, store, "k", Some(Ingest.batchName(id))))
    try {
      mem.addData(b1: _*); sq.processAllAvailable()
    } finally sq.stop()
    FrequencyLedger.write((b0 ++ b1).toDF("k"), whole, "k")
    val keys = Seq("a", "b", "c")
    est(store, keys) shouldBe est(whole, keys)
    val before = est(store, keys)
    FrequencyLedger.append(
      b1.toDF("k"), store, "k", Some(Ingest.batchName(0))) // crash redelivery
    est(store, keys) shouldBe before
  }
}
