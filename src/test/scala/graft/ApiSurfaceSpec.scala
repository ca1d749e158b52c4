package graft

import graft.api.{Legacy, SimilarityModel}
import graft.store.SimilarityStore
import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks._

/** Coverage of the reference's remaining public-surface parity items:
  * the wide correlation-matrix debug view and the deprecated legacy
  * store facade (`data.py:362-462`). */
class ApiSurfaceSpec extends SparkSpec {
  import spark.implicits._

  private val occ = Seq(
    (1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L), (3L, 11L),
    (3L, 12L), (1L, 12L), (2L, 13L), (3L, 13L))
  private lazy val model = SimilarityModel.fit(occ.toDF("item_id", "reference_id"))
  private lazy val dict = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("id", "key")

  test("wideMatrix pivots the full pair table with a unit diagonal") {
    val wide = model.wideMatrix()
    wide.columns shouldBe Array("item_a", "1", "2", "3")
    val rows = wide.collect().map(r => r.getLong(0) -> r).toMap
    rows(1L).getDouble(rows(1L).fieldIndex("1")) shouldBe 1.0
    // off-diagonal cells equal the long-form fullPairs values
    val pairs = pairMap(model.fullPairs(lit(true)))
    for (a <- Seq(1L, 2L, 3L); b <- Seq(1L, 2L, 3L) if a != b) {
      val cell = rows(a).getDouble(rows(a).fieldIndex(b.toString))
      assert(approx(cell, pairs((a, b)).get), s"cell ($a,$b)")
    }
  }

  test("wideMatrix refuses catalogs beyond the debug guard") {
    an[IllegalArgumentException] should be thrownBy model.wideMatrix(maxItems = 2)
  }

  test("fromStats/updated: the incremental model serves the same pairs as a rebuild") {
    val (base, delta) = occ.splitAt(5)
    val snapshot = graft.core.Incremental.fromOccurrences(
      base.toDF("item_id", "reference_id"))
    val (incModel, nextStats) =
      SimilarityModel.updated(snapshot, delta.toDF("item_id", "reference_id"))
    pairMap(incModel.pairs) shouldBe pairMap(model.pairs)
    // the returned snapshot resumes the NEXT ingest: fold an empty delta
    pairMap(SimilarityModel.fromStats(nextStats).pairs) shouldBe pairMap(model.pairs)
  }

  test("retracted: the inverse ingest step equals a model over the surviving history") {
    val removed = Seq((1L, 11L), (3L, 13L))
    val surviving = occ.diff(removed)
    val snapshot = graft.core.Incremental.fromOccurrences(occ.toDF("item_id", "reference_id"))
    val (retModel, nextStats) =
      SimilarityModel.retracted(snapshot, removed.toDF("item_id", "reference_id"))
    val rebuilt = SimilarityModel.fit(surviving.toDF("item_id", "reference_id"))
    pairMap(retModel.pairs) shouldBe pairMap(rebuilt.pairs)
    // the returned snapshot resumes the next ingest step
    pairMap(SimilarityModel.fromStats(nextStats).pairs) shouldBe pairMap(rebuilt.pairs)
  }

  test("legacy ModelStorer writes the same store as storeAllIn") {
    def pairs(path: String) = SimilarityStore.readSimilarItems(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-rebuilt").toString
    model.storeAllIn(rebuilt, dict)
    val want = pairs(rebuilt)
    want should not be empty
    val resumed = SimilarityModel.fromStats(
      graft.core.Incremental.fromOccurrences(occ.toDF("item_id", "reference_id")))
    val models = Table(("model", "instance"),
      ("fit on the occurrence log", model),
      ("resumed from a statistics snapshot", resumed))
    forAll(models) { (what, m) =>
      withClue(s"$what: ") {
        val p1 = java.nio.file.Files.createTempDirectory("graft-legacy").toString
        val p2 = java.nio.file.Files.createTempDirectory("graft-direct").toString
        val storer = new Legacy.ModelStorer(m, dict, p1): @annotation.nowarn("cat=deprecation")
        storer.prepare()
        storer.populateCorrelatedItems()
        storer.populateSimilarItems()
        m.storeAllIn(p2, dict)
        SimilarityStore.readSimilarItems(spark, p1).collect().toSet shouldBe
          SimilarityStore.readSimilarItems(spark, p2).collect().toSet
        val got = pairs(p1)
        got.keySet shouldBe want.keySet
        got.foreach { case (key, s) => assert(approx(s, want(key), 1e-12), s"$key") }
        SimilarityStore.readCorrelatedItems(spark, p1).count() shouldBe 3
      }
    }
  }

  test("legacy function aliases delegate to the model store") {
    val p = java.nio.file.Files.createTempDirectory("graft-legacy-fn").toString
    (Legacy.prepareModelStorage(p): @annotation.nowarn("cat=deprecation"))
    (Legacy.storeSimilarityModelInDatabase(model, dict, p): @annotation.nowarn("cat=deprecation"))
    SimilarityStore.readSimilarItems(spark, p).count() should be > 0L
  }
}
