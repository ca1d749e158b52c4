package graft

import org.apache.spark.sql.functions._
import graft.operators.Selection

/** Invariants of the DSIR importance-weight operator (q127): feature
  * accounting, directional ranking, and blank-document behavior. */
class SelectionSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    // target side: talks about cats
    (1L, "the cat sat on the mat", "seed"),
    (2L, "a cat and another cat", "seed"),
    // pool: one cat-like doc, one off-domain doc, one blank
    (10L, "the cat sat quietly", "web"),
    (11L, "quantum flux capacitor array", "web"),
    (12L, "   ", "web")
  ).toDF("doc_id", "text", "source")

  private lazy val w = Selection
    .dsirLogWeights(docs, col("source") === "seed", numBuckets = 64)
    .collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getDouble(2))).toMap

  test("pool docs only, with unigram+bigram feature counts") {
    w.keySet shouldBe Set(10L, 11L, 12L)
    w(10L)._1 shouldBe 7L // 4 tokens -> 4 unigrams + 3 bigrams
    w(11L)._1 shouldBe 7L
    w(12L)._1 shouldBe 0L // blank text: no features
    w(12L)._2 shouldBe 0.0
  }

  test("target-like pool doc outranks off-domain doc") {
    // Absolute sign is not an invariant at this scale (smoothing mass
    // dominates tiny corpora); the RANKING is what DSIR selects on.
    assert(w(10L)._2 > w(11L)._2,
      s"cat doc ${w(10L)._2} should outrank off-domain ${w(11L)._2}")
  }

  test("the frozen-model scoring column equals the batch aggregate face") {
    val lr = Selection
      .dsirLogRatios(docs, col("source") === "seed", numBuckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    lr.size shouldBe 64 // dense over the bucket space
    val scored = docs.where(col("source") =!= "seed")
      .select(col("doc_id"),
        Selection.dsirScoreColumn(col("text"), lr, numBuckets = 64).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, (_, logw)) <- w) scored(id) shouldBe logw +- 1e-6
  }

  test("weightedSample prefers heavy items, is exact-size and deterministic") {
    val scored = Seq(
      (1L, 20.0), (2L, -20.0), (3L, -20.0), (4L, -20.0), (5L, 20.0))
      .toDF("doc_id", "logw")
    // with weights e^20 vs e^-20, key(heavy) ≈ -ln(1/u)/4.85e8 dominates
    // key(light) ≈ -ln(1/u)·4.85e8 for ANY hash draw: the two heavy
    // items must be the 2-sample
    val top2 = Selection.weightedSample(scored, 2).collect()
      .map(_.getLong(0)).toSet
    top2 shouldBe Set(1L, 5L)
    // n larger than the input: every row returned exactly once
    val all = Selection.weightedSample(scored, 10).collect()
    all.map(_.getLong(0)).toSet shouldBe Set(1L, 2L, 3L, 4L, 5L)
    all.length shouldBe 5
    // keys descend and repeat runs agree
    val keys = all.map(_.getDouble(2))
    keys.zip(keys.tail).foreach { case (a, b) => assert(a >= b) }
    Selection.weightedSample(scored, 10).collect().map(_.toSeq).toSeq shouldBe
      all.map(_.toSeq).toSeq
  }

  test("logisticTrain descends monotonically from the ln 2 baseline") {
    val curve = Selection
      .logisticTrain(docs, col("source") === "seed", iters = 5,
        numBuckets = 64)
      .orderBy(col("round")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    curve.map(_._1).toSeq shouldBe (1L to 5L)
    // round 1 scores under w = 0: every p = 0.5 -> mean loss ln 2
    curve(0)._2 shouldBe (math.rint(math.log(2.0) * 1e6) / 1e6) +- 1e-9
    // full-batch GD on a separable toy problem must descend every round
    curve.map(_._2).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(b < a, s"loss rose: $a -> $b")
      case _ =>
    }
    // blank doc 12 carries no features: training set is the other four
    // docs; determinism across a rerun
    val again = Selection.logisticTrain(docs, col("source") === "seed",
      iters = 5, numBuckets = 64).orderBy(col("round")).collect()
      .map(_.getDouble(1)).toSeq
    again shouldBe curve.map(_._2).toSeq
  }

  test("logisticTrain releases each iteration's score cache") {
    def persisted = spark.sparkContext.getPersistentRDDs.size
    def train(iters: Int) = Selection.logisticTrain(docs, col("source") === "seed",
      iters = iters, numBuckets = 48).collect()
    train(1)
    val afterOne = persisted
    train(5)
    persisted shouldBe afterOne
  }

  test("weights are deterministic across evaluations") {
    val again = Selection
      .dsirLogWeights(docs, col("source") === "seed", numBuckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    again shouldBe w.map { case (k, v) => k -> v._2 }
  }

  test("logisticCalibration: a symmetric corpus stays at p=0.5 — one bin, gap 0") {
    // identical text with opposite labels ⇒ every bucket's gradient is
    // exactly zero ⇒ weights stay 0 through every round ⇒ all p = 0.5
    val docs = Seq((1L, "alpha beta", "seed"), (2L, "alpha beta", "other"))
      .toDF("doc_id", "text", "source")
    val out = Selection.logisticCalibration(docs, col("source") === "seed",
        bins = 10, iters = 3, numBuckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    out.toSeq shouldBe Seq((5L, 2L, 0.5, 0.5, 0.0))
  }

  test("logisticCalibration separates a separable corpus into calibrated extreme bins") {
    val docs = ((1L to 4L).map(i => (i, "good solid prose here", "seed")) ++
      (5L to 8L).map(i => (i, "junk spam noise junk", "other")))
      .toDF("doc_id", "text", "source")
    val out = Selection.logisticCalibration(docs, col("source") === "seed",
        bins = 10, iters = 5, numBuckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    out.map(_._2).sum shouldBe 8L // bins partition the corpus
    out.foreach { case (bin, _, meanP, fracPos, gap) =>
      bin should (be >= 0L and be <= 9L)
      meanP should (be >= bin * 0.1 - 1e-9 and be <= (bin + 1) * 0.1 + 1e-9)
      gap shouldBe math.rint(math.abs(meanP - fracPos) * 1e6) / 1e6 +- 1e-9
    }
    // separable ⇒ the top bin is all positives, the bottom all negatives
    val byBin = out.sortBy(_._1)
    byBin.last._4 shouldBe 1.0
    byBin.head._4 shouldBe 0.0
    byBin.length should be >= 2
  }

  test("precisionGate: cumulative curve, flag boundary, zero-positive recall NULL") {
    // scores land in bins 15/55/90; positives concentrate up top
    val rows = Seq(
      (0.905, true), (0.903, true), (0.901, false),
      (0.555, true), (0.552, false), (0.551, false),
      (0.155, false), (0.152, false)).toDF("s", "y")
    val got = Selection.precisionGate(rows, "s", "y", targetPrecision = 0.6)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getBoolean(6)))).toMap
    // cut at bin 90: 3 kept, 2 positive → precision 2/3, recall 2/3
    got(90L) shouldBe ((3L, 2L, 0.666667, 0.666667, true))
    // cut at bin 55: 6 kept, 3 positive → precision 0.5 < 0.6
    got(55L) shouldBe ((6L, 3L, 0.5, 1.0, false))
    got(15L)._1 shouldBe 8L
    // no positives at all → recall NULL, precision 0
    val none = Selection.precisionGate(
        Seq((0.9, false), (0.1, false)).toDF("s", "y"), "s", "y", 0.5)
      .collect()
    none.foreach { r => r.isNullAt(5) shouldBe true; r.getDouble(4) shouldBe 0.0 }
  }

  test("paretoFrontier: dominance over (tier, y), ties survive, brute-force witness") {
    // x in [0,1] quantized to 100 tiers; y maximized
    val rows = Seq(
      (1L, 0.90, 10L), // frontier: best x tier
      (2L, 0.90, 10L), // same (tier, y): neither dominates — both survive
      (3L, 0.85, 5L),  // dominated by 1 (strictly higher tier, y 10 >= 5)
      (4L, 0.50, 50L), // frontier: best y
      (5L, 0.50, 40L), // dominated by 4 (same tier, higher y)
      (6L, 0.70, 30L), // frontier: between 1 and 4
      (7L, 0.10, 29L)  // dominated by 6 (higher tier, y 30 >= 29)
    ).toDF("id", "x", "y")
    val got = Selection.paretoFrontier(rows, "id", "x", "y")
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    got shouldBe Map(1L -> true, 2L -> true, 3L -> false, 4L -> true,
      5L -> false, 6L -> true, 7L -> false)
    // brute-force dominance witness on a pseudo-random panel
    val panel = (1L to 60L).map(i =>
      (i, ((i * 37) % 101).toDouble / 100.0, (i * 53) % 47))
    def tier(x: Double) = math.min(math.max(math.floor(x * 100), 0), 99).toLong
    val brute = panel.map { case (i, x, y) =>
      i -> !panel.exists { case (j, x2, y2) =>
        j != i && ((tier(x2) > tier(x) && y2 >= y) ||
          (tier(x2) == tier(x) && y2 > y))
      }
    }.toMap
    val eng = Selection.paretoFrontier(panel.toDF("id", "x", "y"), "id", "x", "y")
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    eng shouldBe brute
  }
}
