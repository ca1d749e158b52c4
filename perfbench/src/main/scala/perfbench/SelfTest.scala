package perfbench

import org.apache.spark.sql.SparkSession

/** Self-tests of the benchmark itself: a tiny-scale pass of every workload
  * with no failures, generator determinism, and planted faults (a wrong
  * store row, a wrong lookup answer) that the checks must catch. */
object SelfTest {

  /** The workload at a tiny scale; the run keeps the real plan. */
  private def tiny(w: Workload): Workload = w.copy(
    shape = w.shape.copy(items = math.max(200, w.shape.items / 40),
      contexts = math.max(800, w.shape.contexts / 40),
      appendsPerBatch = math.max(5, w.shape.appendsPerBatch / 40),
      retractWhole = math.min(w.shape.retractWhole, 10),
      retractCells = math.min(w.shape.retractCells, 10)))

  def run(spark: SparkSession, workloads: Map[String, Workload], work: java.io.File): Int = {
    var failed = 0
    def expect(ok: Boolean, what: String): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failed += 1
    }

    for (w <- workloads.values.toSeq.sortBy(_.name)) {
      val a = new Gen(w.shape, 11)
      val b = new Gen(w.shape, 11)
      val c = new Gen(w.shape, 12)
      def sig(g: Gen) = (g.fullLog.toSeq, g.ingest._1.map(x => (x.retract, x.occ.toSeq)),
        g.lookupIds(500).toSeq, g.checkItems(8).toSeq)
      expect(sig(a) == sig(b), s"${w.name}: the same seed generates identical inputs")
      expect(sig(a) != sig(c), s"${w.name}: another seed generates other inputs")
    }

    def runTiny(w: Workload, faults: Faults, tag: String): Runner = {
      val dir = new java.io.File(work, s"selftest-$tag")
      val r = new Runner(spark, tiny(w), 5, 0.0, new Tracer(spark.sparkContext, false), dir, faults)
      r.run()
      println(s"[selftest] $tag: setup ${r.setupTimes.mkString(",")} s, " +
        s"phases ${r.record.filter(_._1.startsWith("phase.")).mkString(", ")}")
      r
    }
    for (w <- workloads.values.toSeq.sortBy(_.name)) {
      val r = runTiny(w, Faults(), w.name)
      expect(r.attempts.failures.isEmpty && r.lookupLatencies.nonEmpty,
        s"${w.name}: tiny-scale run passes every check (${r.attempts.attempted} attempted, " +
          s"failures: ${r.attempts.failures.mkString("; ")})")
    }
    // The build check runs on workloads that commit full builds.
    val builds = workloads.values.toSeq.sortBy(_.name).find(!_.commitsBatches).get
    val planted = runTiny(builds, Faults(storeRow = true), "store-fault")
    expect(planted.attempts.failures == Seq("build check"),
      s"a planted store row fails the build check (failures: ${planted.attempts.failures.mkString("; ")})")
    val wrong = runTiny(builds, Faults(lookupAnswer = true), "lookup-fault")
    expect(wrong.attempts.failures.size == 1 && wrong.attempts.failures.head.startsWith("lookup"),
      s"a wrong lookup answer fails its lookup check (failures: ${wrong.attempts.failures.mkString("; ")})")

    println(s"[selftest] ${if (failed == 0) "PASSED" else s"FAILED ($failed)"}")
    if (failed == 0) 0 else 1
  }
}
