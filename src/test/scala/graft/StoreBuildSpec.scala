package graft

import graft.core.{Correlation, Crosstab, Neighbors, StoreBuild}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The closed-form all-items store build must agree ROW-FOR-ROW with the
  * windowed reference pipeline (fullPairs(true) → minmax scale → mean+kσ),
  * which is itself oracle-checked (q08/q10). Covers: random logs, isolated
  * items (no co-occurrences), degenerate items (zero variance → NULL
  * vector, no emissions), and tiny catalogs where sample σ is undefined. */
class StoreBuildSpec extends SparkSpec {
  import spark.implicits._

  private def windowed(ct: DataFrame, k: Double) =
    Neighbors.scaledStdDevThreshold(Correlation.fullPairs(ct, lit(true)), k)

  private def asMap(df: DataFrame): Map[(Long, Long), Double] =
    df.collect().map { r =>
      (r.getLong(r.fieldIndex("item_a_id")), r.getLong(r.fieldIndex("item_b_id"))) ->
        r.getDouble(r.fieldIndex("scaled_score"))
    }.toMap

  private def sameScores(got: Map[(Long, Long), Double],
                         want: Map[(Long, Long), Double]): Unit = {
    got.keySet shouldBe want.keySet
    got.foreach { case (key, s) =>
      assert(approx(s, want(key), 1e-9), s"$key: closed=$s windowed=${want(key)}")
    }
  }

  private def check(occ: Seq[(Long, Long)], k: Double = 2.0): Unit = {
    val ct = Crosstab.build(occ.toDF("item_id", "reference_id"))
    sameScores(asMap(StoreBuild.scaledNeighbors(ct, k)), asMap(windowed(ct, k)))
  }

  /** vectorMoments must equal avg/stddev_samp over the dense fullPairs
    * vectors: same item rows, NULL where the window path is NULL. */
  private def checkMoments(ct: DataFrame, pred: org.apache.spark.sql.Column): Unit = {
    def byItem(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    val got = byItem(StoreBuild.vectorMoments(ct, Some(pred)))
    val want = byItem(Correlation.fullPairs(ct, pred)
      .groupBy(col("item_a"))
      .agg(avg(col("corr")).as("m"), stddev_samp(col("corr")).as("s")))
    got.keySet shouldBe want.keySet
    got.foreach { case (item, (m, s)) =>
      val (wm, ws) = want(item)
      m.isDefined shouldBe wm.isDefined
      s.isDefined shouldBe ws.isDefined
      m.zip(wm).foreach { case (a, b) =>
        assert(approx(a.asInstanceOf[Double], b.asInstanceOf[Double], 1e-9), s"mean $item") }
      s.zip(ws).foreach { case (a, b) =>
        assert(approx(a.asInstanceOf[Double], b.asInstanceOf[Double], 1e-9), s"std $item") }
    }
  }

  test("random occurrence log matches the windowed pipeline") {
    val rnd = new scala.util.Random(42)
    val occ = Seq.fill(400)((rnd.nextInt(15).toLong + 1, rnd.nextInt(30).toLong + 1))
    check(occ)
  }

  test("isolated item (private context, no co-occurrences) matches") {
    val rnd = new scala.util.Random(7)
    val occ = Seq.fill(200)((rnd.nextInt(10).toLong + 1, rnd.nextInt(20).toLong + 1)) ++
      Seq((50L, 100L), (50L, 101L)) // item 50 alone in its contexts
    check(occ)
  }

  test("degenerate item (appears once in every context) emits nothing and is skipped") {
    val rnd = new scala.util.Random(11)
    val base = Seq.fill(150)((rnd.nextInt(8).toLong + 1, rnd.nextInt(12).toLong + 1))
    val ctxs = base.map(_._2).distinct
    val occ = base ++ ctxs.map(c => (99L, c)) // item 99: constant vector → den = 0
    check(occ)
  }

  test("two-item catalog (sample σ undefined) emits nothing, like the window path") {
    check(Seq((1L, 1L), (2L, 1L), (1L, 2L), (2L, 3L)))
  }

  test("low threshold multiplier admits zero-co-occurrence pairs") {
    // k = -3 pushes the threshold below the zero-pair band, forcing the
    // theta-join path to actually emit closed-form zero pairs.
    val rnd = new scala.util.Random(3)
    val occ = Seq.fill(300)((rnd.nextInt(12).toLong + 1, rnd.nextInt(25).toLong + 1))
    check(occ, k = -3.0)
  }

  test("store build from an incremental snapshot equals the crosstab build") {
    val rnd = new scala.util.Random(31)
    val all = Seq.fill(350)((rnd.nextInt(14).toLong + 1, rnd.nextInt(25).toLong + 1))
    val (base, delta) = all.partition(_ => rnd.nextBoolean())
    val snap = graft.core.Incremental.update(
      graft.core.Incremental.fromOccurrences(base.toDF("item_id", "reference_id")),
      delta.toDF("item_id", "reference_id"))
    val fromStats = asMap(StoreBuild.scaledNeighborsFromStats(snap, 2.0))
    val fromCt = asMap(StoreBuild.scaledNeighbors(
      Crosstab.build(all.toDF("item_id", "reference_id")), 2.0))
    fromStats.keySet shouldBe fromCt.keySet
    fromStats.foreach { case (key, s) =>
      assert(approx(s, fromCt(key), 1e-12), s"$key: stats=$s ct=${fromCt(key)}")
    }
  }

  test("touched-set refresh equals the full rebuild restricted to the touched items") {
    // q177's fresh branch: the DataFrame-valued item selection (semi-join,
    // never a driver IN-list) must agree row-for-row with the full
    // post-delta rebuild filtered to the touched item_a side.
    val rnd = new scala.util.Random(83)
    val all = Seq.fill(380)((rnd.nextInt(16).toLong + 1, rnd.nextInt(28).toLong + 1))
    val (base, delta) = all.partition(_._1 % 4 != 0) // items 4,8,12,16 arrive late
    val snap = graft.core.Incremental.update(
      graft.core.Incremental.fromOccurrences(base.toDF("item_id", "reference_id")),
      delta.toDF("item_id", "reference_id"))
    val touchedDf = delta.map(_._1).distinct.toDF("item")
    val touchedSet = delta.map(_._1).toSet
    val got = asMap(StoreBuild.scaledNeighborsFromStats(snap, 2.0,
      touched = Some(touchedDf)))
    val want = asMap(StoreBuild.scaledNeighborsFromStats(snap, 2.0))
      .filter { case ((a, _), _) => touchedSet(a) }
    got.keySet shouldBe want.keySet
    got.foreach { case (key, s) =>
      assert(approx(s, want(key), 1e-12), s"$key: touched=$s full=${want(key)}")
    }
  }

  test("global coupling: a delta touching ONLY one item moves an untouched item's scores") {
    // The counterexample behind q177's bounded-staleness design: the
    // complete-vector semantics couples items through n, the global
    // u-moments, and every corr(a, b) with b touched — so an EXACT
    // refresh can never skip untouched items, and delta-bounded refresh
    // means serving stored rows (staleness), not recomputing for free.
    // count vectors over contexts 1..4 — none constant, so every item is
    // non-degenerate before AND after the delta:
    //   item 1: (2,1,0,0)   item 2: (1,0,1,0)
    //   item 3: (0,1,2,0) → (0,1,2,1)   item 4: (0,0,0,1)
    val occ = Seq((1L, 1L), (1L, 1L), (1L, 2L), (2L, 1L), (2L, 3L),
      (3L, 2L), (3L, 3L), (3L, 3L), (4L, 4L))
    val delta = Seq((3L, 4L)) // touches item 3 only, in an existing context
    def scores(rows: Seq[(Long, Long)]): Map[(Long, Long), Double] =
      asMap(StoreBuild.scaledNeighbors(
        Crosstab.build(rows.toDF("item_id", "reference_id")), -3.0))
    val before = scores(occ).filter(_._1._1 == 1L)
    val after = scores(occ ++ delta).filter(_._1._1 == 1L)
    before.keySet shouldBe after.keySet // k = -3: every partner emits
    assert(before.exists { case (key, s) => math.abs(s - after(key)) > 1e-9 },
      s"item 1 untouched by the delta, yet its scores moved: $before vs $after")
  }

  test("item predicate pushdown equals the windowed pipeline on the selection") {
    // q08/q13's shape: a modulo sample of the catalog, each selected item
    // scaled+thresholded against its COMPLETE vector. The pushdown build
    // must agree row-for-row with fullPairs(pred) → scale → threshold —
    // including zero-co-occurrence admissions (k = -3 branch).
    val rnd = new scala.util.Random(57)
    val occ = Seq.fill(400)((rnd.nextInt(20).toLong + 1, rnd.nextInt(30).toLong + 1))
    val ct = Crosstab.build(occ.toDF("item_id", "reference_id"))
    val pred = col("item") % 3 === 0
    for (k <- Seq(2.0, -3.0)) {
      val got = asMap(StoreBuild.scaledNeighbors(ct, k, Some(pred)))
      val want = asMap(
        Neighbors.scaledStdDevThreshold(Correlation.fullPairs(ct, pred), k))
      withClue(s"k=$k: ") {
        got.keySet shouldBe want.keySet
        got.foreach { case (key, s) =>
          assert(approx(s, want(key), 1e-9), s"$key: pushdown=$s windowed=${want(key)}")
        }
      }
    }
  }

  test("vectorMoments equals avg/stddev_samp over the dense fullPairs vectors") {
    // q14's shape — including a planted degenerate item (constant count in
    // every context), whose all-NULL vector must aggregate to a ROW with
    // NULL moments, not to absence.
    val rnd = new scala.util.Random(77)
    val base = Seq.fill(300)((rnd.nextInt(12).toLong + 1, rnd.nextInt(20).toLong + 1))
    val occ = base ++ base.map(_._2).distinct.map(c => (99L, c))
    val ct = Crosstab.build(occ.toDF("item_id", "reference_id"))
    for (pred <- Seq(lit(true), col("item") % 3 === 0))
      withClue(s"pred=$pred: ")(checkMoments(ct, pred))
  }

  test("degenerate catalogs: empty, one item, one context, all-degenerate") {
    // Edge shapes through the one plan (the unpartitioned u-rank over an
    // EMPTY D included), ANSI on: the crosstab build, the snapshot build
    // and the moments must all equal the windowed pipeline and not throw.
    val cases = Seq(
      "empty log" -> Seq.empty[(Long, Long)],
      "one item" -> Seq((1L, 1L), (1L, 2L), (1L, 2L)),
      "one context" -> Seq((1L, 5L), (2L, 5L), (2L, 5L), (3L, 5L)),
      // every item once in every context: den = 0 for all, D is empty
      "all-degenerate" -> (for (i <- 1L to 4L; c <- 1L to 3L) yield (i, c)))
    for ((name, occ) <- cases) withClue(s"$name: ") {
      val ct = Crosstab.build(occ.toDF("item_id", "reference_id"))
      val want = asMap(windowed(ct, 2.0))
      sameScores(asMap(StoreBuild.scaledNeighbors(ct, 2.0)), want)
      sameScores(asMap(StoreBuild.scaledNeighborsFromStats(
        graft.core.Incremental.fromCells(ct), 2.0)), want)
      checkMoments(ct, lit(true))
    }
  }

  test("randomized battery: shapes × thresholds all match the windowed pipeline") {
    // Deterministic fuzz over catalog size, context density, duplicate
    // rates, and threshold multipliers — the closed form has to agree
    // with the windowed oracle pipeline on every draw.
    for {
      seed <- 100 to 104
      k <- Seq(2.0, 0.5, -1.0)
    } {
      val rnd = new scala.util.Random(seed)
      val nItems = 4 + rnd.nextInt(14)
      val nCtx = 3 + rnd.nextInt(30)
      val rows = 30 + rnd.nextInt(300)
      val occ = Seq.fill(rows)(
        (rnd.nextInt(nItems).toLong + 1, rnd.nextInt(nCtx).toLong + 1))
      withClue(s"seed=$seed k=$k items=$nItems ctx=$nCtx rows=$rows: ") {
        check(occ, k)
      }
    }
  }
}
