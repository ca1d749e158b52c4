package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted token-count ledger — the corpus-health dashboard at DELTA
 * cost: the fifth mergeable ledger (distinct = `DistinctLedger`,
 * quantiles = `QuantileLedger`, frequencies = `FrequencyLedger`, second
 * moments = `MomentsLedger`, token counts = this). A crawl loop wants
 * Zipf slope and entropy rate after every refresh; both laws are pure
 * functions of the corpus's unigram and within-document-bigram count
 * tables, and counts are LOSSLESSLY ADDITIVE — so each delta folds as
 * one token pass over the delta only, and the ledger-served numbers
 * equal the one-shot `Profiling.zipfFit` / `entropyReport` over
 * everything ingested (the q209 equality law; exact-integer counts, so
 * even the rank order is bit-identical — only the final Σ over nats
 * carries double reorder noise, which vanishes in the 1e-6 grid).
 * Heaps' law (`Profiling.heapsFit`) is deliberately NOT served: its
 * growth curve depends on consumption ORDER across the whole corpus,
 * which no per-batch additive state can reconstruct.
 *
 * Layout: the `Compaction` marker-last protocol,
 * `token_counts/v<k>/batch_<name>` parquet of (gram, a, b, cnt) rows —
 * gram ∈ ('uni','bi'), b NULL for unigrams; redelivery under one batch
 * name overwrites in place; `compact` folds batches into one base grid.
 *
 * Scale shape: both count tables SATURATE as the corpus grows (new text
 * mostly increments existing cells), so batch size is bounded by the
 * delta's vocabulary, not its token count; the fold is one hash
 * aggregate on (gram, a, b) that partial-aggregates map-side; serving
 * runs the law arithmetic over the folded tables — no document rescan,
 * no text in the store.
 */
object TokenCountLedger {

  val Root = "token_counts"

  private def root(storePath: String) = s"$storePath/$Root"

  /** One batch → its count rows (gram, a, b, cnt): the unigram table and
    * the within-document bigram table of `Profiling.entropyReport`, in
    * one tokens pass (two map-side-combinable aggregates — the shuffle
    * carries (token, count) cells, never text). */
  private def cells(docs: DataFrame, textCol: String): DataFrame = {
    import graft.functions.TextFunctions.tokensWs
    val tks = docs.select(tokensWs(col(textCol)).as("tk"))
    val uni = tks.select(explode(col("tk")).as("a"))
      .groupBy(col("a")).agg(count(lit(1)).as("cnt"))
      .select(lit("uni").as("gram"), col("a"),
        lit(null).cast("string").as("b"), col("cnt"))
    val bi = tks.where(size(col("tk")) >= 2)
      .select(slice(col("tk"), lit(1), size(col("tk")) - 1).as("la"),
        slice(col("tk"), lit(2), size(col("tk")) - 1).as("lb"))
      .select(explode(arrays_zip(col("la"), col("lb"))).as("g"))
      .select(col("g.la").as("a"), col("g.lb").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cnt"))
      .select(lit("bi").as("gram"), col("a"), col("b"), col("cnt"))
    uni.unionByName(bi)
  }

  /** Initialize the ledger from the base corpus (version 0). */
  def write(docs: DataFrame, storePath: String,
            textCol: String = "text"): Unit =
    Compaction.init(docs.sparkSession, storePath, root(storePath), "tok:write") { dir =>
      cells(docs, textCol).write.mode("overwrite").parquet(dir)
    }

  /** Fold one delta: one count pass over the DELTA only, marker LAST;
    * redelivery under the same name overwrites in place. */
  def append(delta: DataFrame, storePath: String,
             textCol: String = "text",
             batchName: Option[String] = None): Unit = {
    val name = Compaction.batchName(batchName)
    Compaction.append(delta.sparkSession, storePath, root(storePath),
        s"tok:append:$name", name) { (_, dir) =>
      cells(delta, textCol).write.mode("overwrite").parquet(dir)
    }
  }

  private def fold(batches: DataFrame): DataFrame =
    batches.groupBy(col("gram"), col("a"), col("b")).agg(sum(col("cnt")).as("cnt"))

  /** Folded count tables across committed batches: (gram, a, b, cnt). */
  def counts(spark: SparkSession, storePath: String): DataFrame =
    fold(spark.read.parquet(Compaction.served(spark, root(storePath)): _*))

  /** Ledger-served Zipf fit — equal to the one-shot
    * `Profiling.zipfFit(union, topK)` (exact-integer counts: identical
    * head, identical ranks, identical regression points). */
  def zipf(spark: SparkSession, storePath: String, topK: Int): DataFrame =
    graft.operators.Profiling.zipfFitFromVocab(
      counts(spark, storePath).where(col("gram") === "uni")
        .select(col("a").as("tok"), col("cnt")),
      topK)

  /** Ledger-served entropy-rate report — equal to the one-shot
    * `Profiling.entropyReport(union)` on the 1e-6 grid. */
  def entropy(spark: SparkSession, storePath: String): DataFrame = {
    val c = graft.core.Caches.cacheOnce(counts(spark, storePath))
    graft.operators.Profiling.entropyFromCounts(
      c.where(col("gram") === "uni").select(col("a").as("w"),
        col("cnt").as("c")),
      c.where(col("gram") === "bi").select(col("a"), col("b"),
        col("cnt").as("cab")))
  }

  /** Fold committed batches into one base count grid (counts add — the
    * fold is exact; spec-gated). */
  def compact(spark: SparkSession, storePath: String): Unit =
    Compaction.compact(spark, storePath, root(storePath), "tok:compact") { (vdir, dest) =>
      fold(spark.read.parquet(Compaction.committed(spark, vdir): _*))
        .write.mode("overwrite").parquet(dest)
    }
}
