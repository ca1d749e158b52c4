package graft

import org.apache.spark.sql.SparkSession

/** The local session the engine's entry points run on: `Bench`,
  * `Verify`, `EntrySmoke`, `tools.QueryProbe` and `tools.PlanDump`.
  * Two sessions stay separate on purpose: `tools.ScaleData`, the fixture
  * generator, runs without the engine's extensions on a fixed partition
  * count, and the test harness `SparkSpec` keeps small partitions and
  * long metadata strings for its plan-shape specs. */
object Session {

  /** A `local[cpus]` session with the engine's extensions, UTC time and
    * the repo-local scratch root. Pins the JVM temp root first, before
    * any Spark class touches it. */
  def local(cpus: String, shufflePartitions: String): SparkSession = {
    graft.core.Scratch.pinTmpdir()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // bound the SQL-listener plan strings: deep cached funnels print
      // nested InMemoryRelation subtrees multiplicatively, and an
      // unbounded explainString can dominate driver time (or overflow
      // the heap) on every action of a complex query
      .config("spark.sql.maxPlanStringLength", "1000000")
      .config("spark.local.dir", graft.core.Scratch.localDir)
      .config("spark.sql.warehouse.dir", graft.core.Scratch.warehouseDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
