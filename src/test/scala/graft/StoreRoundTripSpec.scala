package graft

import graft.api.SimilarityModel
import graft.core.Crosstab
import graft.store.SimilarityStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks._
import java.nio.file.Files
import java.util.Locale

object StoreRoundTripSpec {
  /** The dictionary-join formulation `retrieve` replaced, kept as the
    * reference its dictionary probe must agree with. */
  def joinRetrieve(sim: DataFrame, dict: DataFrame, itemId: Long,
                   limit: Option[Int]): DataFrame = {
    val joined = sim.where(col("item_a_id") === lit(itemId))
      .join(broadcast(dict), col("item_b_id") === col("id"))
      .select(col("item_b_id"), col("key"), col("scaled_score"))
      .orderBy(col("scaled_score").desc, col("item_b_id").asc)
    limit.map(joined.limit).getOrElse(joined)
  }
}

/** End-to-end EP-1 → EP-2 → EP-3: train on an occurrence log, persist the
  * store, serve lookups from the persisted parquet (SURVEY §5.2.1). */
class StoreRoundTripSpec extends SparkSpec {
  import spark.implicits._
  import StoreRoundTripSpec.joinRetrieve

  /** A total order for comparing answers as multisets (NULL- and NaN-safe). */
  private val rowOrder = Ordering.by((r: Row) =>
    (r.getLong(0), Option(r.getString(1)), Option(r.get(2)).map(_.toString)))

  test("fit → storeIn → retrieve round-trip preserves thresholded neighbors") {
    val dir = Files.createTempDirectory("graft-store").toString
    val occ = Tables10.occ.toDF("item_id", "reference_id")
    val dict = (1L to 6L).map(i => (i, s"item-$i")).toDF("id", "key")

    val model = SimilarityModel.fit(occ)
    model.storeIn(dir, dict, k = 1.0)

    val store = SimilarityModel.Store(spark, dir)

    // the persisted pair table equals the in-memory store pipeline
    val expected = graft.core.Neighbors
      .scaledStdDevThreshold(model.fullPairs(lit(true)), 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val persisted = graft.store.SimilarityStore.readSimilarItems(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    persisted shouldBe expected
    persisted should not be empty

    // EP-3 serving over the persisted store
    val someItem = persisted.head._1
    val served = store.retrieve(someItem, Some(10)).collect()
    served.foreach(_.getAs[String]("key") should startWith("item-"))
    served.map(_.getAs[Double]("scaled_score")).toSeq shouldBe
      served.map(_.getAs[Double]("scaled_score")).sortBy(-_).toSeq

    store.itemInfo(Seq(1L, 2L)).count() shouldBe 2L
    store.search("item-3").collect().map(_.getLong(0)).toSeq shouldBe Seq(3L)
    val st = store.stats.collect()(0)
    st.getAs[Long]("correlated_items") shouldBe 6L
    st.getAs[Long]("similar_items") shouldBe expected.size.toLong
  }

  test("retrieve keeps the inner-join contract of the dictionary join") {
    val dir = Files.createTempDirectory("graft-retrieve").toString
    SimilarityStore.writeSimilarItems(Seq[(java.lang.Long, java.lang.Long, java.lang.Double)](
      (1L, 2L, 0.9), (1L, 5L, 0.7), (1L, 7L, 0.6), (1L, 3L, 0.5), (1L, 4L, 0.5),
      (1L, 6L, 0.3), (1L, 8L, 0.1),
      (2L, 3L, 0.8), (2L, 1L, 0.8),
      // NaN sorts first, −0.0 ties 0.0, a NULL score sorts last and a NULL
      // neighbor matches nothing
      (3L, 8L, 0.0), (3L, 4L, -0.0), (3L, 6L, null), (3L, 2L, Double.NaN), (3L, null, 0.7),
      (3L, 1L, 0.5),
      (9L, 5L, 1.0),
      (10L, 1L, 0.4), (10L, 4L, 0.2)).toDF("item_a_id", "item_b_id", "scaled_score"), dir)
    // a second part file holds more of item 10's rows
    Seq((10L, 2L, 0.6), (10L, 3L, 0.4)).toDF("item_a_id", "item_b_id", "scaled_score")
      .write.mode("append").parquet(s"$dir/${SimilarityStore.SimilarItems}")
    // id 5 is missing, id 6 has a NULL key, id 7 is listed twice, and a
    // NULL id matches nothing
    SimilarityStore.writeCorrelatedItems(Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (6L, null), (7L, "g1"), (7L, "g2"),
      (8L, "h"), (null, "orphan")).toDF("id", "key"), dir)
    val store = SimilarityModel.Store(spark, dir)
    val sim = SimilarityStore.readSimilarItems(spark, dir)
    val dict = SimilarityStore.readCorrelatedItems(spark, dir)

    val cases = Table(("case", "item", "limit", "item_b_ids in served order"),
      ("absent item id", 42L, None, Nil),
      ("absent item id, limited", 42L, Some(1), Nil),
      ("only neighbor missing from the dictionary", 9L, None, Nil),
      ("missing neighbor dropped, NULL key kept, duplicate repeated", 1L, None,
        Seq(2L, 7L, 7L, 3L, 4L, 6L, 8L)),
      ("limit 0", 1L, Some(0), Nil),
      ("limit 1", 1L, Some(1), Seq(2L)),
      ("limit cuts a score tie by item_b_id", 1L, Some(4), Seq(2L, 7L, 7L, 3L)),
      ("limit above the row count", 1L, Some(10), Seq(2L, 7L, 7L, 3L, 4L, 6L, 8L)),
      ("tied scores order by item_b_id", 2L, None, Seq(1L, 3L)),
      ("tied scores, limit 1", 2L, Some(1), Seq(1L)),
      ("tied scores, limit 10", 2L, Some(10), Seq(1L, 3L)),
      ("NaN first, −0.0 ties 0.0 by item_b_id, NULL score last, NULL neighbor dropped", 3L, None,
        Seq(2L, 1L, 4L, 8L, 6L)),
      ("limit cuts the −0.0 / 0.0 tie", 3L, Some(3), Seq(2L, 1L, 4L)),
      ("rows in two part files", 10L, None, Seq(2L, 1L, 3L, 4L)),
      ("limit across two part files", 10L, Some(2), Seq(2L, 1L)))

    forAll(cases) { (what, item, limit, ids) =>
      withClue(s"$what: ") {
        val served = store.retrieve(item, limit)
        val reference = joinRetrieve(sim, dict, item, limit)
        served.schema shouldBe reference.schema
        val rows = served.collect().toSeq
        rows.map(_.getLong(0)) shouldBe ids
        val expected = reference.collect().toSeq
        expected.map(_.getLong(0)) shouldBe ids
        rows.sorted(rowOrder) shouldBe expected.sorted(rowOrder)
      }
    }
    store.retrieve(1L).collect().map(r => (r.getLong(0), r.getString(1)))
      .filter(_._1 >= 6L).sortBy(r => (r._1, Option(r._2))).toSeq shouldBe
      Seq((6L, null), (7L, "g1"), (7L, "g2"), (8L, "h"))
    an[IllegalArgumentException] should be thrownBy store.retrieve(1L, Some(-1))

    val emptyDir = Files.createTempDirectory("graft-retrieve-empty").toString
    SimilarityStore.writeSimilarItems(
      Seq.empty[(Long, Long, Double)].toDF("item_a_id", "item_b_id", "scaled_score"), emptyDir)
    SimilarityStore.writeCorrelatedItems(Seq((1L, "a")).toDF("id", "key"), emptyDir)
    val emptyStore = SimilarityModel.Store(spark, emptyDir)
    for (limit <- Seq(None, Some(0), Some(10))) withClue(s"empty similar_items, limit $limit: ") {
      val served = emptyStore.retrieve(1L, limit)
      val reference = joinRetrieve(SimilarityStore.readSimilarItems(spark, emptyDir),
        SimilarityStore.readCorrelatedItems(spark, emptyDir), 1L, limit)
      served.schema shouldBe reference.schema
      served.collect() shouldBe empty
      reference.collect() shouldBe empty
    }
  }

  test("search and the blocklist fold case the same under a Turkish locale") {
    val dir = Files.createTempDirectory("graft-locale").toString
    SimilarityStore.writeCorrelatedItems(
      (1L to 3L).map(i => (i, s"item-$i")).toDF("id", "key"), dir)
    val store = SimilarityModel.Store(spark, dir)
    val docs = Seq((1L, "an item here"), (2L, "nothing")).toDF("doc_id", "text")
    def flagged(word: String) =
      graft.operators.Blocklist.flags(docs, "text", Seq("doc_id"), Seq(word))
        .where(col("flagged")).collect().map(_.getLong(0)).toSeq
    val saved = Locale.getDefault
    try {
      Locale.setDefault(Locale.forLanguageTag("tr-TR"))
      val upper = store.search("ITEM").collect().map(_.getLong(0)).toSeq
      upper shouldBe Seq(1L, 2L, 3L)
      upper shouldBe store.search("item").collect().map(_.getLong(0)).toSeq
      flagged("ITEM") shouldBe Seq(1L)
      flagged("ITEM") shouldBe flagged("item")
    } finally Locale.setDefault(saved)
  }

  test("JDBC store face: DDL + unique indexes + bulk append round-trip on embedded Derby") {
    import graft.store.JdbcStore
    val dir = java.nio.file.Files.createTempDirectory("graft_jdbc").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    val dict = Seq((1L, "apple"), (2L, "banana"), (3L, "cherry")).toDF("id", "key")
    val pairs = Seq((1L, 2L, 0.9), (1L, 3L, 0.4), (2L, 3L, 0.7))
      .toDF("item_a_id", "item_b_id", "scaled_score")
    JdbcStore.storeIn(dict, pairs, url)
    // read-back equals what was written; human_label rides along NULL
    val items = JdbcStore.readCorrelatedItems(spark, url).orderBy("id").collect()
    items.map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe
      Seq((1L, "apple"), (2L, "banana"), (3L, "cherry"))
    items.foreach(r => assert(r.isNullAt(2)))
    JdbcStore.readSimilarItems(spark, url).orderBy("item_a_id", "item_b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq shouldBe
      Seq((1L, 2L, 0.9), (1L, 3L, 0.4), (2L, 3L, 0.7))
    // the unique index keeps the reference's contract: a duplicate pair
    // append fails loudly instead of double-serving
    intercept[Exception] {
      pairs.limit(1).write.mode("append")
        .jdbc(url, JdbcStore.SimilarItems, new java.util.Properties)
    }
    // re-store is a full refresh (drop + recreate), not an accumulation
    JdbcStore.storeIn(dict, pairs, url)
    JdbcStore.readSimilarItems(spark, url).count() shouldBe 3L

    // the model's JDBC face stores the same pair set as its parquet face
    // and the windowed reference
    val model = SimilarityModel.fit(Tables10.occ.toDF("item_id", "reference_id"))
    val modelDict = (1L to 6L).map(i => (i, s"item-$i")).toDF("id", "key")
    val modelUrl = s"jdbc:derby:$dir/model;create=true"
    model.storeInJdbc(modelUrl, modelDict, k = 1.0)
    val parquetDir = Files.createTempDirectory("graft-jdbc-parquet").toString
    model.storeIn(parquetDir, modelDict, k = 1.0)
    def pairSet(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaJdbc = pairSet(JdbcStore.readSimilarItems(spark, modelUrl))
    viaJdbc should not be empty
    viaJdbc shouldBe pairSet(SimilarityStore.readSimilarItems(spark, parquetDir))
    viaJdbc shouldBe pairSet(graft.core.Neighbors
      .scaledStdDevThreshold(model.fullPairs(lit(true)), 1.0))
    JdbcStore.readCorrelatedItems(spark, modelUrl).count() shouldBe 6L
  }

  test("storeIn with an item predicate stores the windowed reference's rows for the selection") {
    val dir = Files.createTempDirectory("graft-store-pred").toString
    val model = SimilarityModel.fit(Tables10.occ.toDF("item_id", "reference_id"))
    val dict = (1L to 6L).map(i => (i, s"item-$i")).toDF("id", "key")
    val pred = col("item") % 2 === 0
    model.storeIn(dir, dict, pred, k = 1.0)
    def scores(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = scores(SimilarityStore.readSimilarItems(spark, dir))
    val want = scores(graft.core.Neighbors
      .scaledStdDevThreshold(model.fullPairs(pred), 1.0))
    got should not be empty
    got.keySet.map(_._1).foreach(a => (a % 2) shouldBe 0L)
    got.keySet shouldBe want.keySet
    got.foreach { case (key, v) => assert(approx(v, want(key)), s"$key") }
  }

  test("Crosstab.build is stream-capable: the same transform runs under readStream") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, Long)]
    val ct = Crosstab.build(mem.toDF().toDF("item_id", "reference_id"))
    val sq = ct.writeStream.format("memory").queryName("ct_stream")
      .outputMode("complete").start()
    try {
      mem.addData(Tables10.occ: _*)
      sq.processAllAvailable()
      val streamed = spark.table("ct_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = Crosstab.build(Tables10.occ.toDF("item_id", "reference_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      streamed shouldBe batch
    } finally sq.stop()
  }
}

/** Small shared occurrence fixture: 6 items over 8 contexts with overlap. */
object Tables10 {
  val occ: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(11)
    Seq.fill(120)((1L + rnd.nextInt(6).toLong, 1L + rnd.nextInt(8).toLong))
  }
}
