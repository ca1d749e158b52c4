package graft

import org.apache.spark.sql.functions._
import graft.store.QuantileLedger
import graft.streaming.Ingest

/** Quantile-histogram ledger: exact log-linear bucket arithmetic,
  * lossless split-invariant folds, redelivery idempotence, compaction
  * invariance, served-quantile accuracy. */
class QuantileLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def buckets(vs: Long*): Seq[(Long, Long)] =
    vs.toDF("v").select(col("v"), QuantileLedger.bucketId(col("v")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("bucketId: exact below 33, octave/sub split above, monotone at seams") {
    buckets(0L, 1L, 32L).map(_._2) shouldBe Seq(0L, 1L, 32L)
    // octave 32..63 (bits=6): width 2 → v=33 shares v=32+2k buckets
    buckets(33L, 34L, 35L, 63L, 64L, 65L).map(_._2) shouldBe
      Seq(33L, 34L, 34L, 48L, 49L, 49L)
    // monotone over a dense range
    val bs = buckets((0L to 5000L): _*).map(_._2)
    bs shouldBe bs.sorted
  }

  test("bucketMid stays within 1/32 of every value in the bucket") {
    val vs = (1L to 100000L by 7L) ++ Seq(32L, 33L, 63L, 64L, 1L << 40)
    val rows = vs.toDF("v")
      .select(col("v"),
        QuantileLedger.bucketMid(QuantileLedger.bucketId(col("v"))).as("m"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    rows.foreach { case (v, m) =>
      assert(math.abs(m - v) <= math.max(v.toDouble / 32.0, 0.0) + 1e-9,
        s"v=$v mid=$m")
    }
  }

  test("out-of-domain values error instead of mis-binning") {
    val bad = Seq(-1L).toDF("v")
      .select(QuantileLedger.bucketId(col("v")).as("b"))
    an[Exception] should be thrownBy bad.collect()
  }

  private def served(store: String): Map[(String, Double), Double] =
    QuantileLedger.quantiles(spark, store, Seq(0.5, 0.9))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3))
      .toMap

  test("ledger fold is lossless: base+delta appends == one-shot histogram") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qh1").toString
    val rows = (1L to 400L).map(i => ("s", i * 13L % 997L)).toDF("k", "v")
    QuantileLedger.write(rows.where(col("v") % 3 === 0), s"$dir/split", "k", "v")
    QuantileLedger.append(rows.where(col("v") % 3 === 1), s"$dir/split", "k", "v")
    QuantileLedger.append(rows.where(col("v") % 3 === 2), s"$dir/split", "k", "v")
    QuantileLedger.write(rows, s"$dir/whole", "k", "v")
    val hs = QuantileLedger.histogram(spark, s"$dir/split")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val hw = QuantileLedger.histogram(spark, s"$dir/whole")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    hs shouldBe hw
    served(s"$dir/split") shouldBe served(s"$dir/whole")
  }

  test("redelivery overwrites in place; compaction folds without changing state") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qh2").toString
    val store = s"$dir/store"
    val base = (1L to 200L).map(i => ("a", i)).toDF("k", "v")
    val delta = (201L to 300L).map(i => ("a", i)).toDF("k", "v")
    QuantileLedger.write(base, store, "k", "v")
    QuantileLedger.append(delta, store, "k", "v", Some("d1"))
    val before = served(store)
    QuantileLedger.append(delta, store, "k", "v", Some("d1")) // crash retry
    served(store) shouldBe before
    QuantileLedger.compact(spark, store)
    served(store) shouldBe before
    QuantileLedger.append(
      (301L to 400L).map(i => ("a", i)).toDF("k", "v"), store, "k", "v")
    // p90 over 1..400 uniform: rank 360.1 → value ≈ 360, bucket mid ±1/32
    val p90 = served(store)(("a", 0.9))
    math.abs(p90 - 360.0) / 360.0 should be < (1.0 / 16.0)
  }

  test("served quantiles track exact quantiles within the structural bound") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qh3").toString
    val store = s"$dir/store"
    // two scopes, skewed values
    val rows = (1L to 3000L).flatMap { i =>
      Seq(("u", i), ("sq", i * i % 100003L))
    }.toDF("k", "v")
    QuantileLedger.write(rows, store, "k", "v")
    val est = QuantileLedger.quantiles(spark, store, Seq(0.5, 0.9, 0.99))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3)).toMap
    val exact = graft.operators.Profiling.histQuantiles(
        rows, "k", "v", Seq(0.5, 0.9, 0.99))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    exact.foreach { case (k, q) =>
      assert(math.abs(est(k) - q) / q <= 0.07, s"$k est=${est(k)} exact=$q")
    }
  }

  test("streaming LedgerIngest: stream fold == one-shot; redelivery is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft_qhs").toString
    val store = s"$dir/store"; val whole = s"$dir/whole"
    val b0 = (1L to 150L).map(i => ("a", i))
    val b1 = (151L to 400L).map(i => ("a", i))
    QuantileLedger.write(spark.emptyDataFrame
      .select(lit("x").as("k"), lit(1L).as("v")).where(lit(false)), store, "k", "v")
    val mem = MemoryStream[(String, Long)]
    val sq = Ingest.start(mem.toDF().toDF("k", "v"), s"$dir/ckpt")(
      (b, id) => QuantileLedger.append(b, store, "k", "v", Some(Ingest.batchName(id))))
    try {
      Seq(b0, b1).foreach { b => mem.addData(b: _*); sq.processAllAvailable() }
    } finally sq.stop()
    QuantileLedger.write((b0 ++ b1).toDF("k", "v"), whole, "k", "v")
    served(store) shouldBe served(whole)
    val before = served(store)
    QuantileLedger.append(
      b0.toDF("k", "v"), store, "k", "v", Some(Ingest.batchName(0))) // crash redelivery
    served(store) shouldBe before
  }
}
