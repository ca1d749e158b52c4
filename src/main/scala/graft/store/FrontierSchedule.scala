package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Incremental politeness scheduling over the crawl frontier — the
 * schedule state a continuing crawler carries between deltas: the
 * one-shot `Frontier.schedule` restarts every host's slot clock at 0,
 * but a crawl loop that already committed N fetches against a host must
 * schedule its NEXT delta from slot N. The state is per-host committed
 * slot COUNTS — losslessly additive rows (host, n), kilobytes at any
 * corpus scale — persisted under the `Compaction`
 * marker-last protocol (`frontier_sched/v<k>/batch_<name>`), the same
 * crash/redelivery discipline as the seen-URL ledger it sits beside
 * (`FrontierStore`).
 *
 * Fold law (the q225 pattern, gated by q236): scheduling deltas
 * IN SEQUENCE equals the one-shot schedule over the union ranked by
 * (arrival epoch, priority DESC, url ASC) within host, restricted to
 * each delta's urls — arrival order wins earlier slots, exactly how a
 * live crawler behaves. `maxPerHost` caps the TOTAL committed slots per
 * host across all deltas: a host at its cap schedules nothing more, and
 * only KEPT rows advance the stored count (so the cap composes with the
 * fold law exactly).
 *
 * Scale shape: the state table is |hosts| rows (saturating, broadcast
 * by AQE in the offset join); each delta pays one host-keyed window
 * over ITS OWN rows (per-host delta depth — the same bounded partition
 * `Frontier.schedule` argues) plus one host aggregate for the count
 * batch. Redelivery under one batch name self-excludes the stored view
 * (the `FrontierStore.offer` move), so a crash retry recomputes the
 * identical schedule in place.
 */
object FrontierSchedule {

  val Root = "frontier_sched"

  private def root(storePath: String) = s"$storePath/$Root"

  /** Folded per-host committed slot counts, optionally excluding one
    * batch (the redelivery self-exclusion view). */
  private def stateOf(spark: SparkSession, vdir: String,
                      exclude: Option[String]): DataFrame =
    spark.read.parquet(Compaction.committed(spark, vdir, exclude): _*)
      .groupBy(col("host")).agg(sum(col("n")).as("n"))

  /** Schedule one frame continuing from `offsets` (host, n): slot =
    * stored offset + in-batch (priority DESC, url) rank, capped. */
  private def continueFrom(frontier: DataFrame, offsets: DataFrame,
                           delayMs: Long, maxPerHost: Option[Long],
                           hostCol: String, priCol: String,
                           urlCol: String): DataFrame = {
    val w = Window.partitionBy(col(hostCol))
      .orderBy(col(priCol).desc, col(urlCol))
    val s = frontier
      .join(offsets.withColumnRenamed("host", hostCol), Seq(hostCol), "left")
      .withColumn("slot",
        coalesce(col("n"), lit(0L)) + (row_number().over(w) - 1L))
      .drop("n")
      .withColumn("fetch_at_ms", col("slot") * delayMs)
    maxPerHost.map(m => s.where(col("slot") < m)).getOrElse(s)
  }

  /** Per-host count rows of one scheduled batch. */
  private def countsOf(sched: DataFrame, hostCol: String): DataFrame =
    sched.groupBy(col(hostCol).as("host")).agg(count(lit(1)).as("n"))

  /** Initialize the schedule ledger from the base frontier (version 0)
    * and return the base schedule (hostCol, priCol, urlCol + slot,
    * fetch_at_ms). */
  def write(frontier: DataFrame, storePath: String, delayMs: Long,
            maxPerHost: Option[Long] = None,
            hostCol: String = "host", priCol: String = "priority",
            urlCol: String = "url"): DataFrame = {
    require(delayMs >= 0, "delayMs must be non-negative")
    Compaction.init(frontier.sparkSession, storePath, root(storePath), "sched:write") { dir =>
      val sched = graft.operators.Frontier.schedule(
        frontier, delayMs, maxPerHost, hostCol, priCol, urlCol)
      countsOf(sched, hostCol).write.mode("overwrite").parquet(dir)
      sched
    }
  }

  /** Schedule one DELTA continuing from the committed per-host state,
    * commit the delta's counts (marker last), and return the delta's
    * schedule. Redelivery under the same `batchId` recomputes the
    * identical schedule (self-excluding view) and overwrites in
    * place. */
  def scheduleDelta(delta: DataFrame, storePath: String, delayMs: Long,
                    maxPerHost: Option[Long] = None,
                    batchId: Option[String] = None,
                    hostCol: String = "host", priCol: String = "priority",
                    urlCol: String = "url"): DataFrame = {
    require(delayMs >= 0, "delayMs must be non-negative")
    val spark = delta.sparkSession
    val name = Compaction.batchName(batchId)
    Compaction.append(spark, storePath, root(storePath),
        s"sched:delta:$name", name) { (vdir, dir) =>
      val sched = continueFrom(delta,
        stateOf(spark, vdir, exclude = Some(name)),
        delayMs, maxPerHost, hostCol, priCol, urlCol)
      countsOf(sched, hostCol).write.mode("overwrite").parquet(dir)
      sched
    }
  }

  /** The committed per-host slot counts (host, n). */
  def state(spark: SparkSession, storePath: String): DataFrame =
    stateOf(spark, Compaction.currentDir(spark, root(storePath)), None)

  /** Fold committed count batches into one base batch. */
  def compact(spark: SparkSession, storePath: String): Unit =
    Compaction.compact(spark, storePath, root(storePath), "sched:compact") { (vdir, dest) =>
      stateOf(spark, vdir, None).write.mode("overwrite").parquet(dest)
    }
}
