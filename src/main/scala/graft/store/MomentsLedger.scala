package graft.store

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Pca

/**
 * Persisted embedding-moment ledger — INCREMENTAL PCA state: the fourth
 * mergeable ledger (distinct = `DistinctLedger`, quantiles =
 * `QuantileLedger`, frequencies = `FrequencyLedger`, second moments =
 * this). Raw moments (n, Σx, upper-triangle Σxᵢxⱼ) are exactly additive
 * across batches, so each crawl delta folds as ONE d + d(d+1)/2 + 1
 * double row — kilobytes per batch, bounded regardless of corpus — and
 * the served covariance equals the one-shot `Pca.moments` pass over
 * everything ingested. (Double addition is not associative, so "equals"
 * here means: batch-partial sums differ from the one-shot partial
 * aggregation by ~1e-15 relative — the same reorder noise Spark's own
 * partition merge has — which vanishes inside the covariance contract's
 * 1e-9 rounding grid. The ledger's own fold is still deterministic:
 * per-index sums run in sorted-batch-directory order.)
 *
 * Layout: the `Compaction` marker-last protocol,
 * `embed_moments/v<k>/batch_<name>` parquet of one (n, m) row;
 * redelivery under one batch name overwrites in place; `compact` folds
 * batches into one base row.
 */
object MomentsLedger {

  val Root = "embed_moments"

  private def root(storePath: String) = s"$storePath/$Root"

  private def momRow(spark: SparkSession, mom: Pca.Mom): DataFrame = {
    val schema = StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("m", ArrayType(DoubleType, containsNull = false),
        nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(Row(mom.n, mom.m.toSeq)), schema)
  }

  private def writeBatch(df: DataFrame, vecCol: String, d: Int,
                         dest: String): Unit = {
    val mom = Pca.momentsDs(df, vecCol, d).head()
    momRow(df.sparkSession, mom).write.mode("overwrite").parquet(dest)
  }

  /** Initialize the ledger from the base corpus (version 0). */
  def write(df: DataFrame, storePath: String, vecCol: String, d: Int): Unit =
    Compaction.init(df.sparkSession, storePath, root(storePath), "mom:write") { dir =>
      writeBatch(df, vecCol, d, dir)
    }

  /** Fold one delta: one moment pass over the DELTA only, marker LAST;
    * redelivery under the same name overwrites in place. */
  def append(delta: DataFrame, storePath: String, vecCol: String, d: Int,
             batchName: Option[String] = None): Unit = {
    val name = Compaction.batchName(batchName)
    Compaction.append(delta.sparkSession, storePath, root(storePath),
        s"mom:append:$name", name) { (_, dir) =>
      writeBatch(delta, vecCol, d, dir)
    }
  }

  /** Per-index sums across batches in sorted-batch-directory order (a
    * deterministic driver fold over kilobyte rows — the batch list is
    * bounded, never the corpus). */
  private def fold(spark: SparkSession, dirs: Seq[String]): Pca.Mom =
    dirs.sorted.map { dir =>
      val row = spark.read.parquet(dir).head()
      Pca.Mom(row.getLong(0), row.getSeq[Double](1).toArray)
    }.reduce { (a, b) =>
      require(a.m.length == b.m.length,
        "moments ledger: batches disagree on dimension")
      val m = new Array[Double](a.m.length)
      var i = 0
      while (i < m.length) { m(i) = a.m(i) + b.m(i); i += 1 }
      Pca.Mom(a.n + b.n, m)
    }

  /** Served raw moments: the fold of the committed batches. */
  def served(spark: SparkSession, storePath: String): Pca.Mom =
    fold(spark, Compaction.served(spark, root(storePath)))

  /** Served covariance in the q198 long form — equal to the one-shot
    * `Pca.covarianceLong` over everything ingested. */
  def covarianceLong(spark: SparkSession, storePath: String, d: Int): DataFrame =
    Pca.covarianceLongFromRaw(spark, served(spark, storePath), d)

  /** Fold committed batches into one base moment row. */
  def compact(spark: SparkSession, storePath: String): Unit =
    Compaction.compact(spark, storePath, root(storePath), "mom:compact") { (vdir, dest) =>
      momRow(spark, fold(spark, Compaction.committed(spark, vdir)))
        .write.mode("overwrite").parquet(dest)
    }
}
