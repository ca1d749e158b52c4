package graft

import graft.core.{Correlation, Crosstab}
import org.apache.spark.sql.functions._

class CorrelationSpec extends SparkSpec {
  import spark.implicits._

  /** Hand-built 3-item log. Contexts {10,11,12}; dense count vectors:
    *   item 1 → (2, 1, 0)
    *   item 2 → (1, 1, 0)
    *   item 3 → (0, 1, 1)
    */
  private val occ = Seq(
    (1L, 10L), (1L, 10L), (1L, 11L),
    (2L, 10L), (2L, 11L),
    (3L, 11L), (3L, 12L))

  private def ct = Crosstab.build(occ.toDF("item_id", "reference_id"))

  test("sparsePairs matches the dense-vector Pearson witness") {
    val vecs = denseVectors(occ)
    val got = pairMap(Correlation.sparsePairs(ct))
    // co-occurring pairs: (1,2) share 10,11; (1,3) share 11; (2,3) share 11
    got.keySet shouldBe Set((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (3L, 2L))
    for (((a, b), c) <- got) {
      val want = densePearson(vecs(a), vecs(b))
      (c, want) match {
        case (Some(x), Some(y)) => assert(approx(x, y), s"corr($a,$b): $x vs $y")
        case (g, w) => g shouldBe w
      }
    }
  }

  test("fullPairs includes never-co-occurring pairs and excludes self") {
    // add item 9 that shares no context with item 1
    val occ9 = occ ++ Seq((9L, 13L))
    val ct9 = Crosstab.build(occ9.toDF("item_id", "reference_id"))
    val vecs = denseVectors(occ9)
    val got = pairMap(Correlation.fullPairs(ct9, col("item") === 1L))
    got.keySet shouldBe Set((1L, 2L), (1L, 3L), (1L, 9L))
    for (((a, b), c) <- got) {
      val want = densePearson(vecs(a), vecs(b))
      (c, want) match {
        case (Some(x), Some(y)) => assert(approx(x, y), s"corr($a,$b): $x vs $y")
        case (g, w) => g shouldBe w
      }
    }
    // (1,9) never co-occur: correlation is negative, not absent
    assert(got((1L, 9L)).get < 0.0)
  }

  test("zero-variance item yields NULL correlation, not NaN (SURVEY §7.4.1)") {
    // item 4 occurs once in EVERY context → constant vector → zero variance
    val occC = occ ++ Seq((4L, 10L), (4L, 11L), (4L, 12L))
    val ctC = Crosstab.build(occC.toDF("item_id", "reference_id"))
    val got = pairMap(Correlation.fullPairs(ctC, col("item") === 4L))
    got.values.foreach(_ shouldBe None)
    val sparse = Correlation.sparsePairs(ctC)
    sparse.where(col("item_a") === 4L && isnan(col("corr"))).count() shouldBe 0L
  }

  test("symmetry and [-1,1] range on the probe dataset") {
    val got = pairMap(Correlation.sparsePairs(ct))
    for (((a, b), c) <- got) {
      got((b, a)) shouldBe c
      c.foreach(v => assert(v >= -1.0 - 1e-12 && v <= 1.0 + 1e-12))
    }
  }

  test("maxContextDegree drops only pairs that co-occur solely in hot contexts") {
    // ctx 11 has degree 3 (items 1,2,3); ctx 10 degree 2 (items 1,2).
    val got = pairMap(Correlation.sparsePairs(ct, maxContextDegree = Some(2)))
    // pairs (1,3),(2,3) co-occur only via ctx 11 → pruned; (1,2) survives via ctx 10
    got.keySet shouldBe Set((1L, 2L), (2L, 1L))
  }

  test("MLlib Statistics.corr is a second independent witness (SURVEY §7.2 strategy A)") {
    import org.apache.spark.mllib.linalg.Vectors
    import org.apache.spark.mllib.stat.Statistics
    val vecs = denseVectors(occ)
    val items = vecs.keys.toSeq.sorted
    val nCtx = vecs(items.head).length
    // rows = contexts, cols = items — the reference's matrix orientation
    val rows = spark.sparkContext.parallelize(
      (0 until nCtx).map(c => Vectors.dense(items.map(i => vecs(i)(c)).toArray)))
    val m = Statistics.corr(rows, "pearson")
    val got = pairMap(Correlation.sparsePairs(ct))
    for {
      (a, ia) <- items.zipWithIndex
      (b, ib) <- items.zipWithIndex
      if a != b && got.contains((a, b))
    } got((a, b)).foreach(v =>
      assert(approx(v, m(ia, ib), 1e-8), s"corr($a,$b): $v vs mllib ${m(ia, ib)}"))
  }

  test("property: relational Pearson == dense witness on random occurrence logs (seed=42)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 15) {
      val n = 5 + rnd.nextInt(36)
      val rows = Seq.fill(n)((1L + rnd.nextInt(6).toLong, 1L + rnd.nextInt(5).toLong))
      val vecs = denseVectors(rows)
      val got = pairMap(Correlation.sparsePairs(
        Crosstab.build(rows.toDF("item_id", "reference_id"))))
      for (((a, b), c) <- got) {
        val want = densePearson(vecs(a), vecs(b))
        (c, want) match {
          case (Some(x), Some(y)) => assert(approx(x, y, 1e-8), s"trial $trial corr($a,$b): $x vs $y")
          case (g, w) => assert(g == w, s"trial $trial corr($a,$b): $g vs $w")
        }
      }
    }
  }
}
