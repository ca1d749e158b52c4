package perfbench

final case class Metric(name: String, unit: String, value: Double)

object Metrics {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Nearest-rank percentile; failed lookups are +Infinity and sort last. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(dirBytes).sum)
    else if (f.getName.startsWith(".")) 0L // checksum side files are not the store
    else f.length()

  private def dataFiles(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(dataFiles).sum)
    else if (f.getName.startsWith("part-")) 1L else 0L

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Raw wall-clock times, before the steal is taken out. */
  def rawTimes(r: Runner): Seq[Metric] = {
    val lat = r.lookupLatencies
    Seq(
      Metric("setup_s", "s", median(r.setupTimes)),
      Metric("commit_s", "s", median(if (r.batchTimes.nonEmpty) r.batchTimes.toSeq else r.buildTimes.toSeq)),
      Metric("lookup_p50_ms", "ms", percentile(lat, 0.50)),
      Metric("lookup_p75_ms", "ms", percentile(lat, 0.75)))
  }

  /** Time metrics scaled by `unstolen`, the share of the CPU time the host
    * wanted during the run that the hypervisor did not take (see
    * `HostCpu`). */
  def endToEnd(r: Runner, unstolen: Double): Seq[Metric] = {
    rawTimes(r).map(m => m.copy(value = m.value * unstolen)) ++ Seq(
      Metric("store_bytes", "bytes", dirBytes(new java.io.File(r.finalStore)).toDouble),
      Metric("peak_rss_mb", "MB", peakRssMb))
  }

  def perLayer(r: Runner, t: Tracer): Seq[Metric] = {
    def ms(n: String) = t.total(n)._2
    def c(n: String) = t.total(n)._3
    def fact(k: String) = r.record.get(k).fold(0.0)(_.toDouble)
    val sb = { val x = c("store_build"); x.add(c("store_build.plan")); x }
    val lookups = math.max(1, t.total("lookup")._1).toDouble
    val lookupExec = c("lookup.exec")
    Seq(
      Metric("crosstab.ms", "ms", ms("crosstab")),
      Metric("crosstab.shuffle_write_bytes", "bytes", c("crosstab").shuffleWriteBytes.toDouble),
      Metric("crosstab.rows_out", "count", fact("crosstab.rows_out")),
      Metric("item_stats.ms", "ms", ms("item_stats")),
      Metric("comoments.ms", "ms", ms("comoments")),
      Metric("comoments.shuffle_write_bytes", "bytes", c("comoments").shuffleWriteBytes.toDouble),
      Metric("comoments.spill_bytes", "bytes", c("comoments").spillBytes.toDouble),
      Metric("comoments.rows_out", "count", fact("comoments.rows_out")),
      Metric("comoments.task_skew", "ratio", c("comoments").taskSkew),
      Metric("store_build.plan_ms", "ms", ms("store_build.plan")),
      Metric("store_build.ms", "ms", ms("store_build")),
      Metric("store_build.single_task_stage_ms", "ms", sb.singleTaskStageMs.toDouble),
      Metric("store_build.shuffle_write_bytes", "bytes", sb.shuffleWriteBytes.toDouble),
      Metric("store_build.rows_out", "count", fact("store_build.rows_out")),
      Metric("store_write.ms", "ms", ms("store_write")),
      Metric("store_write.bytes_written", "bytes", c("store_write").outputBytes.toDouble),
      Metric("store_write.files", "count", dataFiles(new java.io.File(r.finalStore)).toDouble),
      Metric("incremental_fold.ms", "ms", ms("incremental_fold")),
      Metric("incremental_fold.shuffle_write_bytes", "bytes",
        c("incremental_fold").shuffleWriteBytes.toDouble),
      Metric("snapshot_io.ms", "ms", ms("snapshot_io")),
      Metric("refresh_build.plan_ms", "ms", ms("refresh_build.plan")),
      Metric("refresh_build.ms", "ms", ms("refresh_build")),
      Metric("refresh_build.rows_out", "count", fact("refresh_build.rows_out")),
      Metric("lookup.plan_ms", "ms", ms("lookup.plan") / lookups),
      Metric("lookup.exec_ms", "ms", ms("lookup.exec") / lookups),
      Metric("lookup.bytes_read", "bytes", lookupExec.inputBytes / lookups),
      Metric("lookup.rows_read_per_row", "ratio",
        lookupExec.inputRecords / math.max(1.0, fact("lookup.rows_returned"))),
      Metric("cache.bytes", "bytes", r.cacheBytes.toDouble),
      Metric("cache.entries", "count", r.cacheEntries.toDouble),
      Metric("jvm.gc_ms", "ms", r.gcMs.toDouble),
      Metric("tracing.overhead_s", "s", r.layeredBuildS - r.untracedBuild))
  }
}
