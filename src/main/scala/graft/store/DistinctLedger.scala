package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted HLL distinct-count ledger — incremental cardinality over a
 * growing crawl: "how many distinct URLs / content digests / tokens per
 * scope so far" must not rescan history per report, and exact distinct
 * state is corpus-sized. The ledger keeps one DataSketches HLL sketch
 * per (scope, ingest batch) — KILOBYTES per scope, bounded regardless
 * of corpus — and serves estimates by lossless register-max union
 * across committed batches (`hll_union_agg`): the union of per-batch
 * sketches IS the sketch of the union, bit-for-bit, however the stream
 * was split (spec-gated), so appends never degrade accuracy.
 *
 * Layout: the `Compaction` protocol — one versioned root,
 * `distinct_hll/v<k>/batch_<name>` parquet of (scope, sk binary)
 * committed by a trailing `_committed_<name>` marker; redelivery under
 * one batch name overwrites the same directory (idempotent — and even
 * a DOUBLE-counted batch would be a no-op, HLL union being
 * insert-idempotent); `compact` folds batches into one base sketch row
 * per scope.
 *
 * Accuracy is the default Spark lgConfigK = 12 (~1.6 % standard error);
 * the q191 gate asserts the served estimates in-engine against exact
 * counts (the q69 pattern — the oracle checks the exact side and the
 * asserted booleans).
 */
object DistinctLedger {

  val Root = "distinct_hll"

  private def root(storePath: String) = s"$storePath/$Root"

  private def sketchBatch(df: DataFrame, scopeCol: String,
                          valueCol: String): DataFrame =
    df.groupBy(col(scopeCol).as("scope"))
      .agg(hll_sketch_agg(col(valueCol)).as("sk"))

  /** Initialize the ledger from the base corpus (version 0). */
  def write(df: DataFrame, storePath: String,
            scopeCol: String, valueCol: String): Unit =
    Compaction.init(df.sparkSession, storePath, root(storePath), "hll:write") { dir =>
      sketchBatch(df, scopeCol, valueCol).write.mode("overwrite").parquet(dir)
    }

  /** Fold one delta: one sketch pass over the DELTA only, marker LAST. */
  def append(delta: DataFrame, storePath: String,
             scopeCol: String, valueCol: String,
             batchName: Option[String] = None): Unit = {
    val name = Compaction.batchName(batchName)
    Compaction.append(delta.sparkSession, storePath, root(storePath),
        s"hll:append:$name", name) { (_, dir) =>
      sketchBatch(delta, scopeCol, valueCol).write.mode("overwrite").parquet(dir)
    }
  }

  /** Served estimates: (scope, distinct_est) — register-max union across
    * committed batches, one sketch row per scope read, never the corpus. */
  def estimates(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(Compaction.served(spark, root(storePath)): _*)
      .groupBy(col("scope"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("distinct_est"))

  /** Fold committed batches into one base sketch row per scope. */
  def compact(spark: SparkSession, storePath: String): Unit =
    Compaction.compact(spark, storePath, root(storePath), "hll:compact") { (vdir, dest) =>
      spark.read.parquet(Compaction.committed(spark, vdir): _*)
        .groupBy(col("scope")).agg(hll_union_agg(col("sk")).as("sk"))
        .write.mode("overwrite").parquet(dest)
    }
}
