package graft

import graft.api.SimilarityModel
import graft.core.{Correlation, Crosstab, Neighbors}
import graft.store.SimilarityStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Physical-plan shape guards: the perf-critical plan properties verified
  * once by hand (SURVEY §4) must not silently regress. */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  /** Pre-execution physical plan: collect() would route limits through
    * the driver-side executeTake path and hide TakeOrderedAndProject. */
  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val pairs = Seq((1L, 2L, 0.9), (1L, 3L, 0.2), (4L, 2L, 0.5))
    .toDF("item_a", "item_b", "corr")

  test("per-item topK plans a rank-limit window (WindowGroupLimit), not a global sort") {
    val p = planOf(Neighbors.topK(pairs, 2))
    p should include("WindowGroupLimit")
  }

  test("after a handle's first retrieve, a lookup runs no job and compiles no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("graft-lookup-local").toString
    SimilarityStore.writeSimilarItems(Seq((1L, 2L, 0.9), (1L, 3L, 0.8), (2L, 3L, 0.7),
      (2L, 1L, 0.6), (3L, 1L, 0.5)).toDF("item_a_id", "item_b_id", "scaled_score"), dir)
    SimilarityStore.writeCorrelatedItems(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "key"), dir)
    val store = SimilarityModel.Store(spark, dir)
    val sim = SimilarityStore.readSimilarItems(spark, dir)
    val dict = SimilarityStore.readCorrelatedItems(spark, dir)
    val rowOrder = Ordering.by((r: Row) => (r.getLong(0), Option(r.getString(1)), r.getDouble(2)))
    // the job group of every job start; a marker job submitted after the
    // lookup arrives after the lookup's own jobs (the listener bus keeps
    // order), so once it is seen every lookup job has been counted
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    def inGroup[T](group: String)(body: => T): T = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      store.retrieve(1L, Some(10)).collect() // first use: lists files, reads footers and the dictionary
      for (id <- Seq(2L, 3L, 42L)) withClue(s"item $id: ") {
        val expected = StoreRoundTripSpec.joinRetrieve(sim, dict, id, Some(10))
          .collect().toSeq.sorted(rowOrder)
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val rows = inGroup(s"lookup-$id")(store.retrieve(id, Some(10)).collect().toSeq)
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled shouldBe 0L
        inGroup(s"marker-$id")(sc.parallelize(Seq(1), 1).count())
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!groups.contains(s"marker-$id") && System.nanoTime() < deadline) Thread.sleep(10)
        groups should contain(s"marker-$id")
        groups.toArray.count(_ == s"lookup-$id") shouldBe 0
        rows.sorted(rowOrder) shouldBe expected
      }
    } finally sc.removeSparkListener(listener)
  }

  test("parquet point-lookup filter reaches the scan (PushedFilters)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pushdown").toString
    pairs.write.mode("overwrite").parquet(dir)
    val p = planOf(spark.read.parquet(dir).where(col("item_a") === 1L).select(col("item_b")))
    p should include("PushedFilters: [IsNotNull(item_a), EqualTo(item_a,1)]")
    // column pruning: the scan must not read the untouched corr column
    "ReadSchema: [^\\n]*".r.findFirstIn(p).get should not include "corr"
  }

  test("sparsePairs broadcasts the per-item stats joins") {
    val ct = Crosstab.build(Seq((1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L))
      .toDF("item_id", "reference_id"))
    val p = planOf(Correlation.sparsePairs(ct))
    "BroadcastHashJoin".r.findAllIn(p).length should be >= 2
  }

  test("SRP-blocked near-dup plans a HASH join on the bucket key, not a nested loop") {
    val embs = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(2.0f, 1.0f)), (3L, Seq(1.0f, 2.1f)))
      .toDF("vec_id", "embedding")
    val planes = graft.operators.SimilaritySearch.hyperplanes(4, 2)
    val blocked = graft.operators.SimilaritySearch.nearDupPairs(
      graft.operators.SimilaritySearch.withBucket(embs, planes),
      0.3, blockCol = Some("bucket"))
    val p = planOf(blocked)
    p should not include "BroadcastNestedLoopJoin"
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no hash join on block key in:\n$p")
  }

  test("bucketed store table joins on item_a_id without any Exchange") {
    val pairs = Seq((1L, 2L, 0.9), (1L, 3L, 0.8), (2L, 1L, 0.7), (3L, 2L, 0.6))
      .toDF("item_a_id", "item_b_id", "scaled_score")
    val loc = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    spark.sql("DROP TABLE IF EXISTS graft_bucket_test")
    graft.store.SimilarityStore.writeSimilarItemsBucketed(
      pairs, "graft_bucket_test", buckets = 4, path = Some(loc))
    val t = spark.table("graft_bucket_test")
    t.count() shouldBe 4
    // Broadcast would win on this tiny fixture and bypass bucketing
    // entirely — disable it so the plan shows what a WAREHOUSE-scale join
    // (both sides too big to broadcast) does: bucketed scans, no shuffle.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = t.join(t.withColumnRenamed("item_b_id", "other_b"),
        Seq("item_a_id"))
      val p = planOf(joined)
      p should include("Bucketed: true")
      p should not include "Exchange"
      // aggregation on the bucket key is likewise exchange-free
      planOf(t.groupBy("item_a_id").count()) should not include "Exchange hashpartitioning"
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("native vec_dot appears in the plan instead of interpreted lambda folds") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
    val p = df.select(graft.operators.SimilaritySearch.dot(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    p.toLowerCase should include("vec_dot")
    p should not include "lambdafunction"
  }

  test("intervalJoin plans an equi join on the bucket id, never a nested loop") {
    val ranges = (1L to 200L).map(i => (i, i * 10, i * 10 + 25))
      .toDF("range_id", "lo", "hi")
    val points = (1L to 500L).map(i => (i, i * 4)).toDF("p_id", "v")
    val p = planOf(graft.operators.Joins.intervalJoin(points, ranges, "v", "lo", "hi", 16L))
    p should not include "NestedLoop"
    p should not include "CartesianProduct"
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no equi join on bucket id in:\n$p")
    // the naive theta join is exactly the shape we refuse to plan
    val naive = planOf(points.crossJoin(ranges)
      .where(col("v") >= col("lo") && col("v") < col("hi")))
    assert(naive.contains("NestedLoop") || naive.contains("CartesianProduct"))
  }

  test("spanDedup's keep-first plans a rank-limit window, not a full sort per span") {
    val d = Seq((1L, "a b c d e f"), (2L, "a b c x y z")).toDF("doc_id", "text")
    val p = planOf(graft.operators.Dedup.spanDedup(d, 3))
    p should include("WindowGroupLimit")
  }

  test("IntervalJoinRewrite: declarative range join plans an equi join and matches the nested loop") {
    val rnd = new scala.util.Random(31)
    val ranges = (1L to 80L).map { i =>
      val lo = rnd.nextInt(400).toLong - 50
      (i, lo, lo + rnd.nextInt(60).toLong) }.toDF("range_id", "lo", "hi")
    val points = (1L to 200L).map(i => (i, rnd.nextInt(500).toLong - 100))
      .toDF("p_id", "v")
    ranges.createOrReplaceTempView("ijr_ranges")
    points.createOrReplaceTempView("ijr_points")
    val sql = """SELECT p_id, range_id FROM ijr_points p JOIN ijr_ranges r
                 ON p.v >= r.lo AND p.v < r.hi"""
    def run() = spark.sql(sql)
    val p = planOf(run())
    p should not include "NestedLoop"
    p should not include "CartesianProduct"
    val got = run().orderBy("p_id", "range_id").as[(Long, Long)].collect()
    // the same query with the rule off IS the nested loop — the ground truth
    spark.conf.set(graft.plans.IntervalJoinRewrite.RewriteConf, "false")
    try {
      val off = planOf(run())
      assert(off.contains("NestedLoop") || off.contains("CartesianProduct"))
      got shouldBe run().orderBy("p_id", "range_id").as[(Long, Long)].collect()
    } finally spark.conf.set(graft.plans.IntervalJoinRewrite.RewriteConf, "true")
    // a look-alike whose upper bound references BOTH sides must NOT fire
    // (an event-time window join is this shape)
    val looks = planOf(spark.sql(
      """SELECT p_id, range_id FROM ijr_points p JOIN ijr_ranges r
         ON p.v >= r.lo AND p.v < r.hi + p.p_id"""))
    looks should not include "__gbkt"
  }

  test("partitioned write + filtered read prunes at planning time (PartitionFilters)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-partscan").toString
    Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L))
      .toDF("doc_id", "lang", "n_chars")
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    val q = spark.read.parquet(dir).where(col("lang") === "en")
      .select(col("doc_id"), col("n_chars"))
    val p = planOf(q)
    "PartitionFilters: \\[[^\\]]*lang[^\\]]*\\]".r.findFirstIn(p) should not be empty
    // the language predicate must NOT survive as a post-scan data filter
    "PushedFilters: [^\\n]*".r.findFirstIn(p).foreach(_ should not include "lang")
    q.count() shouldBe 2L
  }

  test("IntervalJoinRewrite fuzz: equivalence across widths; extra conjuncts never fire") {
    val rnd = new scala.util.Random(47)
    val ranges = (1L to 50L).map { i =>
      val lo = rnd.nextInt(300).toLong - 80
      (i, lo, lo + rnd.nextInt(70).toLong) }.toDF("range_id", "lo", "hi")
    val points = (1L to 150L).map(i => (i, rnd.nextInt(400).toLong - 120))
      .toDF("p_id", "v")
    ranges.createOrReplaceTempView("ijf_ranges")
    points.createOrReplaceTempView("ijf_points")
    val sql = """SELECT p_id, range_id FROM ijf_points p JOIN ijf_ranges r
                 ON p.v >= r.lo AND p.v < r.hi"""
    def run() = spark.sql(sql).orderBy("p_id", "range_id").as[(Long, Long)].collect()
    spark.conf.set(graft.plans.IntervalJoinRewrite.RewriteConf, "false")
    val truth = try run() finally
      spark.conf.set(graft.plans.IntervalJoinRewrite.RewriteConf, "true")
    // widths × bucket caps (1 = everything wide → pure fallback; 0 = no
    // cap): the narrow/wide split must be exact at every combination
    for (w <- Seq("1", "13", "64", "5000"); cap <- Seq("1", "3", "0")) {
      spark.conf.set(graft.plans.IntervalJoinRewrite.WidthConf, w)
      spark.conf.set(graft.plans.IntervalJoinRewrite.MaxBucketsConf, cap)
      try withClue(s"width=$w maxBuckets=$cap: ") { run() shouldBe truth }
      finally {
        spark.conf.unset(graft.plans.IntervalJoinRewrite.WidthConf)
        spark.conf.unset(graft.plans.IntervalJoinRewrite.MaxBucketsConf)
      }
    }
    // extra conjunct in the condition → exact-shape trigger must not fire
    val extra = planOf(spark.sql(
      """SELECT p_id, range_id FROM ijf_points p JOIN ijf_ranges r
         ON p.v >= r.lo AND p.v < r.hi AND p.p_id <> r.range_id"""))
    extra should not include "__gbkt"
  }

  test("bloomSemiJoin probes with the native might_contain, never a ScalaUDF on the scan") {
    // parquet-backed fact side: over a LocalRelation the optimizer would
    // evaluate the probe at plan time and hide the filter entirely
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    (1L to 100L).map(i => (i, i % 7)).toDF("k", "v").write.mode("overwrite").parquet(dir)
    val big = spark.read.parquet(dir)
    val keys = Seq(1L, 2L, 3L).toDF("key")
    val j = graft.operators.Joins.bloomSemiJoin(big, keys, "k", "key", expectedKeys = 100L)
    val p = planOf(j)
    p should not include "ScalaUDF"
    p.toLowerCase should include("might_contain")
    j.agg(sum("k")).head().getLong(0) shouldBe 6L
    // empty key side → exact empty result, no crash
    graft.operators.Joins.bloomSemiJoin(
      big, keys.where(col("key") < 0), "k", "key", expectedKeys = 100L).count() shouldBe 0L
  }

  test("one-call dedup keep-filter broadcasts below the dropped-set gate, not above") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val dropped = Seq(Tuple1(2L)).toDF("doc_id")
    planOf(graft.operators.Dedup.keepCorpus(docs, dropped, "doc_id", nodeCount = 1L)) should
      include("BroadcastHashJoin")
    // above the gate: no forced hint — with auto-broadcast off (what a
    // beyond-threshold dropped set means at scale) the anti-join shuffles
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val above = planOf(graft.operators.Dedup.keepCorpus(docs, dropped, "doc_id",
        nodeCount = graft.operators.Dedup.BroadcastDroppedThreshold + 1))
      above should not include "BroadcastHashJoin"
      assert(above.contains("SortMergeJoin") || above.contains("ShuffledHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // both branches produce the identical kept corpus
    graft.operators.Dedup.keepCorpus(docs, dropped, "doc_id", 1L)
      .orderBy("doc_id").collect() shouldBe
      graft.operators.Dedup.keepCorpus(docs, dropped, "doc_id",
        graft.operators.Dedup.BroadcastDroppedThreshold + 1)
        .orderBy("doc_id").collect()
  }

  test("IntervalJoinRewrite explosion guard: a wide range falls back, narrow rows still decompose") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ijwide").toString
    // 30 narrow ranges + one 3e12-wide one: decomposed at width 64 that row
    // is ~4.7e10 sequence elements — the pre-guard rule threw Spark's
    // max-array-length error at runtime; now it rides the fallback branch
    val ranges = (1L to 30L).map(i => (i, i * 10, i * 10 + 25)) :+ ((99L, 0L, 3000000000000L))
    ranges.toDF("range_id", "lo", "hi").write.mode("overwrite").parquet(s"$dir/r")
    (1L to 200L).map(i => (i, i * 3)).toDF("p_id", "v")
      .write.mode("overwrite").parquet(s"$dir/p")
    spark.read.parquet(s"$dir/r").createOrReplaceTempView("ijw_ranges")
    spark.read.parquet(s"$dir/p").createOrReplaceTempView("ijw_points")
    val sql = """SELECT p_id, range_id FROM ijw_points p JOIN ijw_ranges r
                 ON p.v >= r.lo AND p.v < r.hi"""
    def run() = spark.sql(sql)
    val p = planOf(run())
    p should include("__gbkt") // narrow branch: the bucket equi join
    p should include("Union")  // wide branch: original theta join, span-filtered
    val got = run().orderBy("p_id", "range_id").as[(Long, Long)].collect()
    got.count(_._2 == 99L) shouldBe 200 // every point inside the wide range
    spark.conf.set(graft.plans.IntervalJoinRewrite.RewriteConf, "false")
    try got shouldBe run().orderBy("p_id", "range_id").as[(Long, Long)].collect()
    finally spark.conf.set(graft.plans.IntervalJoinRewrite.RewriteConf, "true")
  }

  test("IntervalJoinRewrite fires on closed/BETWEEN bounds in every orientation") {
    val rnd = new scala.util.Random(61)
    val ranges = (1L to 60L).map { i =>
      val lo = rnd.nextInt(300).toLong - 60
      (i, lo, lo + rnd.nextInt(50).toLong) }.toDF("range_id", "lo", "hi")
    val points = (1L to 150L).map(i => (i, rnd.nextInt(380).toLong - 90))
      .toDF("p_id", "v")
    ranges.createOrReplaceTempView("ijb_ranges")
    points.createOrReplaceTempView("ijb_points")
    for (cond <- Seq(
      "p.v >= r.lo AND p.v <= r.hi",      // closed, point-first
      "r.lo <= p.v AND p.v <= r.hi",      // closed, bound-first
      "p.v BETWEEN r.lo AND r.hi",        // BETWEEN sugar
      "r.hi >= p.v AND r.lo <= p.v",      // closed, fully flipped
      "p.v > r.lo AND p.v <= r.hi",       // strict lower
      "r.hi > p.v AND p.v >= r.lo")) {    // strict upper, flipped
      // both table orders: the point expression on the join's left AND
      // right side (the pointIsRight branch flips the rewrite's sides)
      for (from <- Seq("ijb_points p JOIN ijb_ranges r", "ijb_ranges r JOIN ijb_points p")) {
        val sql = s"SELECT p_id, range_id FROM $from ON $cond"
        def run() = spark.sql(sql).orderBy("p_id", "range_id").as[(Long, Long)].collect()
        withClue(s"condition: $cond, from: $from\n") {
          spark.sql(sql).queryExecution.optimizedPlan.toString should include("__gbkt")
          val got = run()
          spark.conf.set(graft.plans.IntervalJoinRewrite.RewriteConf, "false")
          try got shouldBe run()
          finally spark.conf.set(graft.plans.IntervalJoinRewrite.RewriteConf, "true")
        }
      }
    }
  }

  test("pqEncode argmin partial-aggregates map-side, not a candidate-set sort window") {
    val embs = (1L to 30L).map(i => (i, Seq.fill(8)(i.toFloat / 30f)))
      .toDF("vec_id", "embedding")
    val books = graft.operators.SimilaritySearch.pqCodebooks(embs, 4, 8, 7)
    val p = planOf(graft.operators.SimilaritySearch.pqEncode(embs, books, 4, 8))
    // a rank-1 window would shuffle every m·|codebook| candidate row;
    // the min(struct) aggregate reduces each (vec, sub) group to one row
    // BEFORE the exchange (partial_min below, final min above it)
    p should not include "Window"
    p should include("partial_min")
  }

  test("q69's exact sides plan no Expand and no single-partition window") {
    val li = Seq(("A", 1L, 10.0), ("A", 2L, 20.0), ("R", 1L, 30.0))
      .toDF("l_returnflag", "l_partkey", "l_quantity")
    val dir = java.nio.file.Files.createTempDirectory("graft-q69").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val q = queries.ScaleQueries.queries("q69_sketch_profile")(spark, dir)
    val p = planOf(q)
    // countDistinct+percentile fused in one agg would plan an Expand and
    // drag every row into the group partitions — the 10.6s shape q69
    // was rewritten away from.
    p should not include "Expand"
  }

  test("band-degree cap: the bucket degree count partial-aggregates map-side") {
    val dir = java.nio.file.Files.createTempDirectory("graft-banddeg").toString
    // parquet-backed (LocalRelation would be folded away at optimize time)
    (1L to 40L).map(i => (i, s"token$i alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val sig = graft.operators.Dedup.minHashSignatures(spark.read.parquet(dir), 3, 16)
    val p = planOf(graft.operators.Dedup.lshCandidates(sig, 4, 4, maxBandDegree = Some(8)))
    p should include("partial_count") // degree count combines before its exchange
    p should include("LeftSemi")      // capped buckets filter via a semi join
  }

  test("corpus-body spread is gated on input width (and the conf overrides it)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-spread").toString
    val vecs = (1L to 64L).map(i => (i, Seq.fill(4)(i.toFloat))).toDF("vec_id", "embedding")
    vecs.repartition(8).write.mode("overwrite").parquet(s"$dir/wide") // 8 files >= 4 cores
    vecs.coalesce(1).write.mode("overwrite").parquet(s"$dir/narrow")  // 1 file < 4 cores
    val wide = spark.read.parquet(s"$dir/wide")
    val narrow = spark.read.parquet(s"$dir/narrow")
    val q = vecs.where(col("vec_id") === 1L)
    // wide input: byKey is the IDENTITY — the scoring pass has no body
    // Exchange (the only shuffle left is the per-query top-k window)
    assert(graft.core.Spread.byKey(wide, col("vec_id")) eq wide)
    planOf(graft.operators.SimilaritySearch.bruteForceTopK(q, wide, 3)) should
      not include "hashpartitioning(vec_id"
    // narrow input: the spread is intact
    planOf(graft.operators.SimilaritySearch.bruteForceTopK(q, narrow, 3)) should
      include("hashpartitioning(vec_id")
    // conf overrides beat the heuristic both ways
    spark.conf.set(graft.core.Spread.Conf, "never")
    try assert(graft.core.Spread.byKey(narrow, col("vec_id")) eq narrow)
    finally spark.conf.set(graft.core.Spread.Conf, "auto")
    spark.conf.set(graft.core.Spread.Conf, "always")
    try planOf(graft.core.Spread.byKey(wide, col("vec_id"))) should include("hashpartitioning(vec_id")
    finally spark.conf.set(graft.core.Spread.Conf, "auto")
  }

  test("langIdBulk broadcasts the marker table onto the token stream") {
    val docs = Seq((1L, "the cat"), (2L, "der Hund")).toDF("doc_id", "text")
    val p = planOf(graft.functions.TextFunctions.langIdBulk(docs))
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }

  test("trained langId scoring broadcasts model + language tables, never sort-merges") {
    val docs = (1L to 20L).map(i =>
      (i, if (i % 2 == 0) "aa" else "bb", s"some text number $i here")).toDF("doc_id", "lang", "text")
    val model = graft.operators.LangId.train(docs, 3, 64, minG2 = 0.0)
    val langs = graft.operators.LangId.langTable(docs, 3, 64)
    val p = planOf(graft.operators.LangId.classify(docs, model, langs, 3, 64))
    p should include("BroadcastHashJoin")
    // The BOUNDED tables (model: lang×bucket keys; selected buckets)
    // must never sort-merge — they are broadcast-sized at any corpus
    // scale. The per-DOCUMENT evidence join (doc_id, lang keys) is
    // corpus-sized on both sides at scale, so its strategy is the
    // planner's call: since r13 the bounded tables sit behind cacheOnce
    // and the estimate there can pick SMJ on tiny fixtures — assert the
    // bucket-keyed joins specifically instead of a blanket no-SMJ.
    val smjKeyed = "SortMergeJoin \\[([^\\]]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    all(smjKeyed) should not include "bucket"
    p should not include "CartesianProduct" // the langs cross is a broadcast NL of a 2-row table
  }

  test("robots gate broadcasts the rule table onto the frontier") {
    val rules = graft.operators.Robots.parseRules(
      Seq(("a.com", "User-agent: *\nDisallow: /x\n")).toDF("host", "body"))
    val frontier = Seq(("u1", "a.com", "/x/1")).toDF("url", "host", "path")
    val p = planOf(graft.operators.Robots.evaluate(frontier, rules))
    // host equality drives a broadcast HASH join; the startsWith prefix
    // predicate rides as the join filter — never a nested loop over the
    // frontier
    p should include("BroadcastHashJoin")
    p should include("StartsWith")
    p should not include "CartesianProduct"
  }

  test("fuzzy decontamination broadcasts the benchmark band table") {
    val t = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val b = Seq((9L, "alpha beta gamma delta zeta")).toDF("doc_id", "text")
    val p = planOf(graft.operators.Decontamination
      .contaminatedFuzzy(t, b, 3, 16, 4, 0.5))
    p should include("BroadcastHashJoin")
  }

  test("WARC metadata projection prunes the payload column from the scan") {
    val dir = graft.core.Scratch.dir("warc_prune")
    graft.sources.Warc.save(
      Seq(("http://a/", "t", "payload body")).toDF("url", "ts", "payload"), dir)
    val p = planOf(graft.sources.Warc.read(spark, dir)
      .select(col("url"), col("content_length")))
    // the flatMap parser needs content, but the OUTPUT projection must
    // not carry payload bytes past the deserializer
    p should include("url")
    p should not include "payload#" // no payload attribute survives the projection
  }

  test("lineDedup: document text shuffles ONLY on the doc id, never on the line hash") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val saved = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // disable broadcast so every join shows its shuffle keys — on real
    // corpora the strike table outgrows the broadcast threshold anyway
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Seq((1L, "a\nb"), (2L, "a\nc")).toDF("doc_id", "text")
      val plan = graft.operators.Dedup.lineDedup(docs, 5)
        .queryExecution.executedPlan
      val textShuffles = plan.collect {
        case e: ShuffleExchangeExec if e.child.output.exists(_.name == "text") => e
      }
      textShuffles should not be empty // reassembly legitimately keys the body once
      textShuffles.foreach { e =>
        e.outputPartitioning match {
          case h: HashPartitioning =>
            assert(h.expressions.mkString(",").contains("doc_id"),
              s"text must only shuffle on the doc id, got: ${h.expressions}")
          case other => fail(s"unexpected partitioning for the body: $other")
        }
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", saved)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
    }
  }

  test("centroidOutliers broadcasts the cluster-stats rejoin — no sort-merge on cent_id") {
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)), (101L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val p = planOf(graft.operators.SimilaritySearch.centroidOutliers(vecs, 100, 2.0))
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }
}
