package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted count-min frequency ledger — incremental "how often has this
 * key appeared so far" over a growing corpus (token/URL/host frequencies
 * for mixing, tokenizer, and politeness decisions) without corpus-sized
 * exact state: a count-min sketch (Cormode & Muthukrishnan 2005) stored
 * RELATIONALLY as (row, col, cnt) cells — Depth×Width bounded rows —
 * under the versioned marker-last protocol. Cell counts add, so the
 * batch fold is LOSSLESS (ledger ≡ one-shot sketch of the union,
 * split-invariant, spec-gated — the CMS linearity property), and point
 * estimates are the classic min over depth rows: never below the true
 * count, above it only by hash collisions (≤ corpus/Width per row in
 * expectation; the q201 gate asserts the one-sided property in-engine
 * and reports the measured slack).
 *
 * Hashes come from the engine's keyed permutation family (`hashPerm`,
 * row index = permutation index) — no RNG state, so every cell
 * placement replays in plain SQL. This completes the mergeable-ledger
 * trio: distinct counts (`DistinctLedger`, HLL), quantiles
 * (`QuantileLedger`, log-linear histogram), frequencies (this).
 */
object FrequencyLedger {

  val Root = "cms_cells"
  val Depth = 4 // hash rows
  val Width = 1024 // columns per row

  private def root(storePath: String) = s"$storePath/$Root"

  /** Column index of `key` in hash row `r` (0-based). */
  def colOf(key: Column, r: Int): Column = {
    import graft.functions.TextFunctions.{hash60, hashPermOf, HashPermMod}
    hashPermOf(hash60(key) % HashPermMod, lit(r)) % Width
  }

  /** One batch → its sketch cells: (row, col, cnt), ≤ Depth·Width rows.
    * Each key lands once per hash row; the aggregate map-side-combines to
    * the bounded cell grid, so the shuffle carries cells, not keys. */
  private def cells(df: DataFrame, keyCol: String): DataFrame =
    df.where(col(keyCol).isNotNull)
      .select(explode(array((0 until Depth).map { r =>
        struct(lit(r.toLong).as("row"), colOf(col(keyCol), r).as("col"))
      }: _*)).as("rc"))
      .groupBy(col("rc.row").as("row"), col("rc.col").as("col"))
      .agg(count(lit(1)).as("cnt"))

  /** Initialize the ledger from the base corpus (version 0). */
  def write(df: DataFrame, storePath: String, keyCol: String): Unit =
    Compaction.init(df.sparkSession, storePath, root(storePath), "cms:write") { dir =>
      cells(df, keyCol).write.mode("overwrite").parquet(dir)
    }

  /** Fold one delta: one sketch pass over the DELTA only, marker LAST;
    * redelivery under the same name overwrites in place. */
  def append(delta: DataFrame, storePath: String, keyCol: String,
             batchName: Option[String] = None): Unit = {
    val name = Compaction.batchName(batchName)
    Compaction.append(delta.sparkSession, storePath, root(storePath),
        s"cms:append:$name", name) { (_, dir) =>
      cells(delta, keyCol).write.mode("overwrite").parquet(dir)
    }
  }

  private def fold(batches: DataFrame): DataFrame =
    batches.groupBy(col("row"), col("col")).agg(sum(col("cnt")).as("cnt"))

  /** Folded sketch across committed batches: (row, col, cnt). */
  def sketch(spark: SparkSession, storePath: String): DataFrame =
    fold(spark.read.parquet(Compaction.served(spark, root(storePath)): _*))

  /** Point estimates for a probe panel: (key, est) = min over hash rows
    * of the addressed cells. The folded sketch (≤ Depth·Width rows)
    * broadcasts; the panel is never shuffled. Absent cells mean a count
    * of 0 (the key was never inserted on that row). */
  def estimates(spark: SparkSession, storePath: String,
                probes: DataFrame, keyCol: String): DataFrame = {
    val sk = sketch(spark, storePath)
    val addressed = probes.select(col(keyCol).as("key"))
      .distinct()
      .select(col("key"), explode(array((0 until Depth).map { r =>
        struct(lit(r.toLong).as("row"), colOf(col("key"), r).as("col"))
      }: _*)).as("rc"))
      .select(col("key"), col("rc.row").as("row"), col("rc.col").as("col"))
    addressed.join(broadcast(sk), Seq("row", "col"), "left")
      .groupBy(col("key"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Fold committed batches into one base cell grid (counts add — the
    * fold is exact; spec-gated). */
  def compact(spark: SparkSession, storePath: String): Unit =
    Compaction.compact(spark, storePath, root(storePath), "cms:compact") { (vdir, dest) =>
      fold(spark.read.parquet(Compaction.committed(spark, vdir): _*))
        .write.mode("overwrite").parquet(dest)
    }
}
