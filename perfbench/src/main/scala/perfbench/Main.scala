package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * Main --config perfbench/workloads.json --work <dir> --out <record.json>
  *      --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * Main --config perfbench/workloads.json --work <dir> --selftest
  * }}}
  *
  * A run writes its full record (settings, samples, spans, counters,
  * check outcomes) to `--out`, then prints one JSON line per metric and,
  * last, the summary line `{"correct", "attempted", "failed", "metrics"}`:
  * the end-to-end metrics with `--trace 0`, the per-layer ones with
  * `--trace 1`. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val selftest = args.contains("--selftest")
    def opt(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val workloads = Config.load(opt("config"))
    val work = new java.io.File(opt("work"))
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val code =
      try {
        if (selftest) SelfTest.run(spark, workloads, work)
        else {
          val name = opt("workload")
          val w = workloads.getOrElse(name, usage(s"unknown workload '$name'"))
          val trace = opt("trace") match {
            case "0" => false
            case "1" => true
            case t => usage(s"--trace must be 0 or 1, not '$t'")
          }
          runOne(spark, w, opt("seed").toLong, opt("seconds").toDouble, trace, work, opt("out"),
            sessionS)
        }
      } finally spark.stop()
    sys.exit(code)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def session(work: java.io.File): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One measured run; returns the process exit code. */
  def runOne(spark: SparkSession, w: Workload, seed: Long, seconds: Double, trace: Boolean,
             work: java.io.File, out: String, sessionS: Double): Int = {
    val tracer = new Tracer(spark.sparkContext, trace)
    val runner = new Runner(spark, w, seed, seconds, tracer, work)
    val host0 = HostCpu.read()
    runner.run()
    val stolen = HostCpu.read().stolenShareSince(host0)
    tracer.stop()
    val metrics = if (trace) Metrics.perLayer(runner, tracer) else Metrics.endToEnd(runner, 1 - stolen)
    val a = runner.attempts
    val errorRate = a.failures.size.toDouble / math.max(1L, a.attempted)
    val rec = Json.obj(
      "workload" -> Json.str(w.name), "seed" -> seed.toString, "seconds" -> Json.num(seconds),
      "trace" -> trace.toString, "jvm_to_session_s" -> Json.num(sessionS), "shape" -> Json.str(w.shape.toString),
      "commits_batches" -> w.commitsBatches.toString,
      "attempted" -> a.attempted.toString, "failed" -> a.failures.size.toString,
      "failures" -> a.failures.map(Json.str).mkString("[", ",", "]"),
      "error_rate" -> Json.num(errorRate),
      "setup_s" -> runner.setupTimes.map(Json.num).mkString("[", ",", "]"),
      "build_s" -> runner.buildTimes.map(Json.num).mkString("[", ",", "]"),
      "ingest_s" -> runner.batchTimes.map(Json.num).mkString("[", ",", "]"),
      "commit_cpu_s" -> runner.commitCpu.map(Json.num).mkString("[", ",", "]"),
      "stolen_share" -> Json.num(stolen),
      "raw_times" -> Json.obj(Metrics.rawTimes(runner).map(m => m.name -> Json.num(m.value)): _*),
      "lookup_ms" -> runner.lookupLatencies.map(Json.num).mkString("[", ",", "]"),
      "facts" -> Json.obj(runner.record.toSeq.map { case (k, v) => k -> v }: _*),
      "metrics" -> Json.obj(metrics.map(m => m.name -> Json.num(m.value)): _*),
      "spans" -> tracer.toJson)
    val f = new java.io.File(out)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, rec + "\n")
    val lines = metrics :+ Metric("error_rate", "ratio", errorRate)
    lines.foreach(m => println(Json.obj("name" -> Json.str(m.name), "unit" -> Json.str(m.unit),
      "value" -> Json.num(m.value), "workload" -> Json.str(w.name))))
    println(Json.obj("correct" -> a.failures.isEmpty.toString,
      "attempted" -> a.attempted.toString, "failed" -> a.failures.size.toString,
      "metrics" -> Json.obj(metrics.map(m =>
        m.name -> Json.obj("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))): _*)))
    0
  }
}
