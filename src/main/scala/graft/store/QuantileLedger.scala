package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Persisted quantile-histogram ledger — incremental distribution state
 * over a growing corpus ("token-count / latency / price percentiles so
 * far") without rescanning history and without corpus-sized state: the
 * HdrHistogram design (log-linear buckets) as a relational store. Each
 * ingest batch lands one bounded (scope, bucket, cnt) histogram —
 * ≤ ~1 k rows per scope regardless of corpus size — and serving SUMs
 * counts across committed batches: counts add exactly, so unlike a
 * sketch the fold is LOSSLESS by construction (ledger ≡ one-shot
 * histogram of the union, split-invariant, spec-gated), and the only
 * approximation is the fixed bucket width.
 *
 * Buckets (values in [0, 2^52], guarded per row): v ≤ 32 → its own
 * exact bucket; above, each power-of-two octave splits into 16 linear
 * sub-buckets → midpoint read-off error ≤ 1/32 of the value. All bucket
 * arithmetic is exact IEEE (bit counts via `bin`, powers of two,
 * integer-valued doubles < 2^53) — bit-for-bit reproducible across
 * engines, so the whole serve path replays in oracle SQL.
 *
 * Layout: the `Compaction` protocol — one versioned root,
 * `quantile_hist/v<k>/batch_<name>` committed by a trailing marker;
 * redelivery under one batch name overwrites the same directory
 * (idempotent); `compact` folds batches to one base histogram.
 *
 * Served quantiles use `quantile_cont`'s rank r = 1 + (n−1)·p over the
 * bucket-cumulative counts and return the selected bucket's midpoint.
 */
object QuantileLedger {

  val Root = "quantile_hist"
  val SubBuckets = 16 // linear sub-buckets per octave
  val ExactMax = 32L // 2·SubBuckets: values ≤ this are their own bucket
  val MaxValue = 1L << 52 // exact-double domain bound

  private def root(storePath: String) = s"$storePath/$Root"

  /** Log-linear bucket id of a nonnegative long value — monotone in v.
    * v ≤ 32 → v; else 32 + (bits−6)·16 + sub + 1 where sub is the
    * 16-way linear split of v's octave. Out-of-domain rows error
    * (silently mis-binning would corrupt the ledger forever). */
  def bucketId(v: Column): Column = {
    val guard = assert_true(v >= 0L && v <= MaxValue,
      concat(lit("quantile ledger: value out of [0, 2^52]: "), v.cast("string")))
    val bits = length(bin(v)).cast("double")
    val lo = pow(lit(2.0), bits - 1.0)
    val width = pow(lit(2.0), bits - 5.0) // lo / 16, exact
    val sub = floor((v.cast("double") - lo) / width)
    when(guard.isNull && v <= ExactMax, v)
      .otherwise((lit(32.0) + (bits - 6.0) * 16.0 + sub + 1.0).cast("long"))
  }

  /** Midpoint value of a bucket id — the quantile read-off point. */
  def bucketMid(id: Column): Column = {
    val oct = floor((id - ExactMax - 1L).cast("double") / SubBuckets) // bits − 6
    val sub = ((id - ExactMax - 1L) % SubBuckets).cast("double")
    when(id <= ExactMax, id.cast("double"))
      .otherwise(pow(lit(2.0), oct + 5.0) // lo = 2^(bits−1)
        + sub * pow(lit(2.0), oct + 1.0) // + sub·width
        + pow(lit(2.0), oct)) // + width/2
  }

  private def histBatch(df: DataFrame, scopeCol: String, valueCol: String): DataFrame =
    df.where(col(valueCol).isNotNull)
      .groupBy(col(scopeCol).as("scope"), bucketId(col(valueCol)).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Initialize the ledger from the base corpus (version 0). */
  def write(df: DataFrame, storePath: String,
            scopeCol: String, valueCol: String): Unit =
    Compaction.init(df.sparkSession, storePath, root(storePath), "qhist:write") { dir =>
      histBatch(df, scopeCol, valueCol).write.mode("overwrite").parquet(dir)
    }

  /** Fold one delta: one histogram pass over the DELTA only, marker
    * LAST; redelivery under the same name overwrites in place. */
  def append(delta: DataFrame, storePath: String,
             scopeCol: String, valueCol: String,
             batchName: Option[String] = None): Unit = {
    val name = Compaction.batchName(batchName)
    Compaction.append(delta.sparkSession, storePath, root(storePath),
        s"qhist:append:$name", name) { (_, dir) =>
      histBatch(delta, scopeCol, valueCol).write.mode("overwrite").parquet(dir)
    }
  }

  private def fold(batches: DataFrame): DataFrame =
    batches.groupBy(col("scope"), col("bucket")).agg(sum(col("cnt")).as("cnt"))

  /** Folded histogram across committed batches: (scope, bucket, cnt). */
  def histogram(spark: SparkSession, storePath: String): DataFrame =
    fold(spark.read.parquet(Compaction.served(spark, root(storePath)): _*))

  /** Served quantiles: (scope, p, n, q_est) for every scope × p — rank
    * r = 1 + (n−1)·p over the bucket-cumulative counts, midpoint of the
    * first bucket whose cumulative count reaches r. Windows partition on
    * scope over BUCKET rows (≤ ~1 k per scope), never values. */
  def quantiles(spark: SparkSession, storePath: String,
                ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "quantiles must be within [0, 1]")
    val hist = histogram(spark, storePath)
    val wCum = Window.partitionBy(col("scope")).orderBy(col("bucket"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("scope"))))
    cum.select(col("scope"), col("bucket"), col("cum"), col("n"),
        explode(typedlit(ps)).as("p"))
      .where(col("cum").cast("double") >= lit(1.0)
        + (col("n").cast("double") - 1.0) * col("p"))
      .groupBy(col("scope"), col("p"))
      .agg(min(col("bucket")).as("qb"), max(col("n")).as("n"))
      .select(col("scope"), col("p"), col("n"), bucketMid(col("qb")).as("q_est"))
  }

  /** Fold committed batches into one base histogram (counts add — the
    * fold is exact, estimates cannot change; spec-gated). */
  def compact(spark: SparkSession, storePath: String): Unit =
    Compaction.compact(spark, storePath, root(storePath), "qhist:compact") { (vdir, dest) =>
      fold(spark.read.parquet(Compaction.committed(spark, vdir): _*))
        .write.mode("overwrite").parquet(dest)
    }
}
