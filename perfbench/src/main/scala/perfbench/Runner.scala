package perfbench

import graft.api.SimilarityModel
import graft.core.{Caches, Correlation, Crosstab, Incremental, StoreBuild}
import graft.store.SimilarityStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Deliberate faults for the self-tests: each must make a check fail. */
final case class Faults(storeRow: Boolean = false, lookupAnswer: Boolean = false)

/** One benchmark run: set-up, then the measured commits (full builds, or
  * ingest batches) with closed-loop lookups after them, then the output
  * checks. The engine is driven only through its public API and sees only
  * the generated parquet. With tracing on, the build runs layer by layer
  * with every boundary materialized, and batches and lookups run inside
  * spans. */
final class Runner(spark: SparkSession, w: Workload, seed: Long, seconds: Double,
                   tracer: Tracer, work: java.io.File, faults: Faults = Faults()) {
  import Runner._

  private val traced = tracer.enabled
  private val shape = w.shape
  val record = mutable.LinkedHashMap.empty[String, String] // extra facts for the run record
  val attempts = new Outcomes

  private def path(p: String): String = new java.io.File(work, p).getAbsolutePath

  private def writeOcc(rows: Array[(Long, Long)], p: String): Unit = {
    import spark.implicits._
    spark.createDataset(rows.toSeq).toDF("item_id", "reference_id")
      .coalesce(1).write.mode("overwrite").parquet(path(p))
  }

  // ---- set-up --------------------------------------------------------------

  private var gen: Gen = _
  private var inputs: String = _    // directory of the current generated inputs
  private var baseStore: String = _ // the committed store the measured phase starts from
  private var baseSnap: String = _  // and its snapshot (batch workloads)

  /** Generate the inputs from the seed, write them as parquet, and build the
    * committed state the measured phase starts from: the store of the log
    * and, when the workload commits batches, its statistics snapshot. Done
    * `SetupReps` times from scratch (the first also warms the JVM); the
    * median is setup_s. */
  def setup(): Seq[Double] = (0 until SetupReps).map { r =>
    timed {
      Caches.clearAll(spark)
      gen = new Gen(shape, seed)
      inputs = s"input-$r"
      val log = gen.baseLog
      record("input.occurrences") = log.length.toString
      record("input.contexts") = log.iterator.map(_._2).distinct.size.toString
      record("input.batch_occurrences") = gen.ingest._1.map(_.occ.length).mkString("[", ",", "]")
      writeOcc(log, s"$inputs/occ")
      gen.ingest._1.zipWithIndex.foreach { case (b, i) => writeOcc(b.occ, s"$inputs/batch-$i") }
      import spark.implicits._
      spark.createDataset(gen.dictionary.toSeq).toDF("id", "key")
        .coalesce(1).write.mode("overwrite").parquet(path(s"$inputs/dict"))
      baseStore = path(s"store/base-$r")
      if (!w.commitsBatches) build(baseStore)
      else {
        // The snapshot first; the base store is then built from it, as a
        // resumed model would be.
        baseSnap = path(s"snap/base-$r")
        Incremental.save(Incremental.fromOccurrences(occ), baseSnap)
        SimilarityModel.fromStats(Incremental.load(spark, baseSnap)).storeAllIn(baseStore, dict)
      }
      // Warm the serving path on ids outside the measured sequence.
      val handle = SimilarityModel.Store(spark, baseStore)
      gen.lookupIds(WarmLookups, stream = 1).foreach(id => handle.retrieve(id, Some(10)).collect())
      Caches.clearAll(spark)
    }._2
  }

  private def occ: DataFrame = spark.read.parquet(path(s"$inputs/occ"))
  private def dict: DataFrame = spark.read.parquet(path(s"$inputs/dict"))
  private def batch(i: Int): DataFrame = spark.read.parquet(path(s"$inputs/batch-$i"))

  // ---- builds --------------------------------------------------------------

  /** One full build, log → both store tables committed. */
  private def build(store: String): Unit = {
    Caches.clearAll(spark)
    SimilarityModel.fit(occ).storeAllIn(store, dict)
  }

  /** The same build, one layer at a time, each boundary materialized so a
    * layer's span holds its own work (StoreBuild's `cacheOnce` finds the
    * crosstab and co-moments already cached). */
  private def layeredBuild(store: String): Unit = {
    Caches.clearAll(spark)
    val ct = tracer.span("crosstab") {
      val ct = Caches.cacheOnce(Crosstab.build(occ))
      record("crosstab.rows_out") = ct.count().toString
      ct
    }
    tracer.span("item_stats") {
      Caches.cacheOnce(Correlation.itemStats(ct)).count()
      Caches.cacheOnce(Correlation.nContexts(ct)).count()
    }
    tracer.span("comoments") {
      record("comoments.rows_out") =
        Caches.cacheOnce(Correlation.sparseCoMoments(ct)).count().toString
    }
    val nb = tracer.span("store_build.plan") {
      val nb = StoreBuild.scaledNeighbors(ct)
      nb.queryExecution.executedPlan
      nb
    }
    val cached = tracer.span("store_build") {
      val c = Caches.cacheOnce(nb)
      record("store_build.rows_out") = c.count().toString
      c
    }
    tracer.span("store_write") {
      SimilarityStore.writeCorrelatedItems(dict, store)
      SimilarityStore.writeSimilarItems(cached, store)
    }
  }

  // ---- ingest --------------------------------------------------------------

  private def fold(st: Incremental.Stats, i: Int): Incremental.Stats =
    if (gen.ingest._1(i).retract) Incremental.retract(st, batch(i))
    else Incremental.update(st, batch(i))

  /** One batch: fold, save/load the snapshot, rebuild the touched items'
    * rows and commit them with the stored rows of the rest as a new store
    * version. Returns the loaded snapshot. */
  private def ingestBatch(st: Incremental.Stats, i: Int, prevStore: String,
                          store: String): Incremental.Stats = {
    val next = tracer.span("incremental_fold") {
      val n = fold(st, i)
      if (traced) { n.items.count(); n.co.count(); n.n.count() }
      n
    }
    val loaded = tracer.span("snapshot_io") {
      Incremental.save(next, path(s"snap/v${i + 1}"))
      Incremental.load(spark, path(s"snap/v${i + 1}"))
    }
    val touched = batch(i).select(col("item_id").cast("long").as("item")).distinct()
    val fresh = tracer.span("refresh_build.plan") {
      val f = StoreBuild.scaledNeighborsFromStats(loaded, 2.0, touched = Some(touched))
      if (traced) f.queryExecution.executedPlan
      f
    }
    val rows = tracer.span("refresh_build") {
      if (!traced) fresh
      else {
        val c = Caches.cacheOnce(fresh)
        record("refresh_build.rows_out") =
          (record.get("refresh_build.rows_out").fold(0L)(_.toLong) + c.count()).toString
        c
      }
    }
    tracer.span("store_write") {
      val kept = SimilarityStore.readSimilarItems(spark, prevStore)
        .join(touched.select(col("item").as("item_a_id")), Seq("item_a_id"), "left_anti")
      SimilarityStore.writeCorrelatedItems(dict, store)
      SimilarityStore.writeSimilarItems(rows.unionByName(kept), store)
    }
    loaded
  }

  // ---- lookups -------------------------------------------------------------

  private val latencies = mutable.ArrayBuffer.empty[Double]
  private var nextLookup = 0
  private var lookupFaultPlanted = false
  private lazy val lookupIds = gen.lookupIds(1 << 20)

  /** Closed-loop `retrieve(id, Some(10))` on `store` until `minCount`
    * answers and `minSeconds` passed; then checks every answer against the
    * store's rows (untimed). */
  private def serve(store: String, minCount: Int, minSeconds: Double): Unit = {
    quiesce()
    val handle = SimilarityModel.Store(spark, store)
    val answers = mutable.ArrayBuffer.empty[(Long, Option[Array[Row]])]
    val t0 = System.nanoTime()
    while (answers.size < minCount || (!traced && (System.nanoTime() - t0) / 1e9 < minSeconds)) {
      val id = lookupIds(nextLookup)
      nextLookup += 1
      val s = System.nanoTime()
      val ans =
        try Some(tracer.span("lookup") {
          val df = tracer.span("lookup.plan") {
            val df = handle.retrieve(id, Some(10))
            if (traced) df.queryExecution.executedPlan
            df
          }
          tracer.span("lookup.exec")(df.collect())
        })
        catch { case e: Exception => note("lookup", e); None }
      latencies += (if (ans.isDefined) (System.nanoTime() - s) / 1e6 else Double.PositiveInfinity)
      answers += id -> ans
    }
    if (faults.lookupAnswer && !lookupFaultPlanted) answers.indexWhere(_._2.exists(_.nonEmpty)) match {
      case -1 => answers(0) = answers(0)._1 -> Some(Array(Row(1L, "planted", 1.0)))
      case k => answers(k) = answers(k)._1 -> answers(k)._2.map(_.tail)
    }
    lookupFaultPlanted = lookupFaultPlanted || faults.lookupAnswer
    val expected = Checks.lookupExpectation(spark, store, answers.map(_._1).distinct.toSeq,
      gen.dictionary.toMap)
    answers.foreach { case (id, ans) =>
      attempts.attempt(ans.isDefined && ans.exists(a => Checks.sameAnswer(a, expected(id))),
        s"lookup $id on $store")
    }
    if (traced) record("lookup.rows_returned") =
      (record.get("lookup.rows_returned").fold(0L)(_.toLong) +
        answers.map(_._2.fold(0)(_.length)).sum).toString
  }

  private def note(what: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $what failed: ${e.getClass.getName}: ${e.getMessage}")

  // ---- the run -------------------------------------------------------------

  val buildTimes = mutable.ArrayBuffer.empty[Double]
  val batchTimes = mutable.ArrayBuffer.empty[Double]
  val commitCpu = mutable.ArrayBuffer.empty[Double] // process CPU seconds of each commit
  var setupTimes: Seq[Double] = Nil
  var finalStore: String = _
  var untracedBuild = 0.0
  var layeredBuildS = 0.0
  var gcMs = 0L
  var cacheBytes = 0L
  var cacheEntries = 0L

  def lookupLatencies: Seq[Double] = latencies.toList

  def run(): Unit = {
    setupTimes = setup()
    val t0 = System.nanoTime()
    val (cpu0, host0) = (processCpuNs(), HostCpu.read())
    record("phase.setup_s") = Json.num(setupTimes.sum)
    val gc0 = gcTotalMs()
    var store = baseStore
    var st: Option[Incremental.Stats] =
      if (w.commitsBatches && !traced) Some(Incremental.load(spark, baseSnap)) else None

    def commitBuild(name: String, body: String => Unit): Double = {
      store = path(s"store/$name")
      val s = store
      quiesce()
      val c0 = processCpuNs()
      val (ok, t) = timed(guard(name)(body(s)))
      commitCpu += (processCpuNs() - c0) / 1e9
      attempts.attempt(ok, name)
      if (ok) buildTimes += t
      t
    }
    if (traced) {
      // One plain build (the tracing-overhead baseline), then the same
      // build layer by layer, and the snapshot the batches fold into.
      untracedBuild = commitBuild("build-plain", build)
      layeredBuildS = commitBuild("build-layered", layeredBuild)
      sampleCache()
      val snap = path("snap/layered")
      attempts.attempt(guard("snapshot")(Incremental.save(Incremental.fromOccurrences(occ), snap)),
        "snapshot")
      st = Some(Incremental.load(spark, snap))
    } else if (!w.commitsBatches) {
      // Lookups follow every build, so they sample the host's speed across
      // the run rather than in one stretch of a few seconds.
      var b = 0
      while (b < Builds || (System.nanoTime() - t0) / 1e9 < (BuildShare + LookupShare) * seconds) {
        commitBuild(s"build-$b", build)
        Caches.clearAll(spark) // serving a built store needs none of the build's cached plans
        serve(store, math.ceil(Lookups.toDouble / Builds).toInt, LookupShare * seconds / Builds)
        b += 1
      }
    }
    val builtStore = store
    if (faults.storeRow) plantStoreRow(builtStore)

    // Batches, with closed-loop lookups after each.
    val nb = if (st.isDefined) shape.batches else 0
    val slotLookups = math.ceil(Lookups.toDouble / math.max(1, nb)).toInt
    val slotSeconds = LookupShare * seconds / math.max(1, nb)
    for (i <- 0 until nb) {
      val next = path(s"store/v${i + 1}")
      val (prev, cur) = (store, st.get)
      quiesce()
      val c0 = processCpuNs()
      val (res, t) = timed(guardV(s"batch $i")(tracer.span("batch")(ingestBatch(cur, i, prev, next))))
      commitCpu += (processCpuNs() - c0) / 1e9
      attempts.attempt(res.isDefined, s"batch $i")
      res.foreach { s => st = Some(s); store = next; batchTimes += t }
      if (traced) sampleCache()
      serve(store, slotLookups, slotSeconds)
    }
    finalStore = store
    gcMs = gcTotalMs() - gc0

    record("phase.measure_s") = Json.num((System.nanoTime() - t0) / 1e9)
    record("phase.measure_cpu_s") = Json.num((processCpuNs() - cpu0) / 1e9)
    record("phase.measure_steal_s") = Json.num(HostCpu.read().stealS - host0.stealS)
    val tc = System.nanoTime()

    // Output checks, untimed.
    // A build workload checks its built store against the windowed
    // reference; a batch workload checks what its batches changed.
    if (!w.commitsBatches)
      check("build check")(Checks.buildStore(spark, occ, builtStore, gen.checkItems(CheckItems)))
    if (nb > 0) {
      writeOcc(gen.ingest._2(nb - 1), "surviving")
      val surv = spark.read.parquet(path("surviving"))
      check("snapshot check")(Checks.snapshot(st.get, surv))
      val touched = batch(nb - 1).select(col("item_id").cast("long").as("item")).distinct()
      check("touched check")(Checks.touchedRows(spark, store, surv, touched))
    }
    record("phase.checks_s") = Json.num((System.nanoTime() - tc) / 1e9)
  }

  /** Run one output check; an error or a mismatch is a failed attempt. */
  private def check(name: String)(body: => Option[String]): Unit = {
    val (ok, t) = timed(guard(name)(body.foreach(m => throw new CheckFailed(m))))
    record(s"check.$name") = Json.num(t)
    attempts.attempt(ok, name)
  }

  private def plantStoreRow(store: String): Unit = {
    import spark.implicits._
    val a = gen.checkItems(CheckItems).head
    Seq((a, a, 0.5)).toDF("item_a_id", "item_b_id", "scaled_score")
      .write.mode("append").parquet(s"$store/${SimilarityStore.SimilarItems}")
  }

  private def sampleCache(): Unit = {
    val infos = spark.sparkContext.getRDDStorageInfo
    cacheBytes = math.max(cacheBytes, infos.map(i => i.memSize + i.diskSize).sum)
    cacheEntries = math.max(cacheEntries, infos.length.toLong)
  }

  private def guard(what: String)(body: => Unit): Boolean = guardV(what)(body).isDefined

  private def guardV[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch { case e: Exception => note(what, e); None }
}

object Runner {
  // The run's plan, the same for every workload. Lookups run closed-loop
  // after every commit until that commit's slot has its share of `Lookups`
  // answers and of `LookupShare` × seconds. A build workload repeats a full
  // build and its lookups until `Builds` builds ran and (`BuildShare` +
  // `LookupShare`) of the run's seconds passed; a batch workload commits
  // each of its batches once. A traced run does one build, every batch and
  // exactly `Lookups` lookups, so its per-layer totals compare across
  // commits.
  val SetupReps = 2
  val Builds = 2
  val BuildShare = 0.5
  val Lookups = 40
  val LookupShare = 0.3
  val CheckItems = 16   // items sampled for the build check
  val WarmLookups = 4   // set-up's lookups outside the measured sequence

  final class CheckFailed(msg: String) extends Exception(msg)

  /** Attempted operations and the ones that failed (errors or mismatches). */
  final class Outcomes {
    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def attempt(ok: Boolean, what: String): Unit = {
      attempted += 1
      if (!ok) failures += what
    }
  }

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Collect garbage left by the previous phase outside the timed
    * regions, so a timed commit or lookup phase does not pay for it. */
  def quiesce(): Unit = System.gc()

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def gcTotalMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
}
