package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokensWs

/**
 * Persisted incremental BM25 index — the retrieval twin of the dedup
 * ledgers: `Retrieval.bm25` rescans and re-tokenizes the corpus per
 * query, which is right for one-off forensics and wrong for a serving
 * index over a growing crawl. This store persists the Lucene-shaped
 * sufficient statistics once per ingest batch and serves any query from
 * them:
 *
 *  - `postings`  (term, id, tf)  — the inverted file; term-keyed
 *    predicate pushdown (plus an optional parquet bloom on `term`) means
 *    a query reads only its terms' rows, never the corpus;
 *  - `doclens`   (id, dl)        — map-only per-document token counts;
 *  - `stats`     (n_docs, sum_dl) — one row per batch; corpus scalars
 *    are the SUM across batches. `dl` is integer-valued, so summed
 *    batch-wise it is EXACT (no addition-order drift) and the served
 *    scores match `Retrieval.bm25` over the union corpus bitwise — the
 *    q182 gate.
 *
 * Per-term document frequency is NOT a ledger: df is counted from the
 * query's own term-filtered postings at serve time (a handful of terms →
 * a handful of aggregate rows), which keeps the store append-pure.
 * Batches must carry DISJOINT document ids (the crawl-delta contract the
 * other stores share); a redelivery under the same `batchName` overwrites
 * the same directory — idempotent, marker-last.
 *
 * LAYOUT (`Compaction` protocol): one versioned root,
 * `bm25_index/v<k>/batch_<name>/{postings,doclens,stats}` committed by a
 * trailing `_committed_<name>` marker; `compact` folds committed batches
 * into the next version's base batch (postings/doclens by union, stats
 * by re-sum) and serves readers atomically throughout.
 */
object Bm25Store {

  val Root = "bm25_index"

  private def root(storePath: String) = s"$storePath/$Root"

  private def writeBatch(docs: DataFrame, dir: String,
                         idCol: String, textCol: String): Unit = {
    val toks = docs.select(col(idCol).as("id"), tokensWs(col(textCol)).as("tk"))
    toks.select(col("id"), explode(col("tk")).as("term"))
      .groupBy("term", "id").agg(count(lit(1)).as("tf"))
      .write.mode("overwrite").parquet(s"$dir/postings")
    toks.select(col("id"), size(col("tk")).cast("long").as("dl"))
      .write.mode("overwrite").parquet(s"$dir/doclens")
    toks.agg(count(lit(1)).as("n_docs"), sum(size(col("tk")).cast("long")).as("sum_dl"))
      .select(col("n_docs"), coalesce(col("sum_dl"), lit(0L)).as("sum_dl"))
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Initialize the index from the base corpus (version 0, batch_base). */
  def write(docs: DataFrame, storePath: String,
            idCol: String = "doc_id", textCol: String = "text"): Unit =
    Compaction.init(docs.sparkSession, storePath, root(storePath), "bm25:write") { dir =>
      writeBatch(docs, dir, idCol, textCol)
    }

  /** Fold one crawl delta (disjoint doc ids) into the index: one
    * tokenize pass over the DELTA only, batch dir first, marker LAST.
    * Same `batchName` redelivery overwrites the same directory. */
  def append(delta: DataFrame, storePath: String,
             batchName: Option[String] = None,
             idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val name = Compaction.batchName(batchName)
    Compaction.append(delta.sparkSession, storePath, root(storePath),
        s"bm25:append:$name", name) { (_, dir) =>
      writeBatch(delta, dir, idCol, textCol)
    }
  }

  private def committed(spark: SparkSession, storePath: String,
                        sub: String): Seq[String] =
    Compaction.served(spark, root(storePath)).map(d => s"$d/$sub")

  /** Corpus scalars at the served version: (n_docs, avgdl). */
  def stats(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(committed(spark, storePath, "stats"): _*)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double")).as("avgdl"))

  /** BM25 top-k served FROM THE STORE: postings filtered to the query
    * terms (pushed-down scan), df counted from those rows, lengths
    * joined for matching docs only, scalars from the summed batch stats.
    * Bitwise-identical to `Retrieval.bm25TopK` over the union corpus. */
  def topK(spark: SparkSession, storePath: String, terms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75,
           idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty, "topK: empty query")
    val qTerms = terms.distinct
    val tf = spark.read.parquet(committed(spark, storePath, "postings"): _*)
      .where(col("term").isInCollection(qTerms))
      .select(col("term"), col("id"), col("tf").cast("double").as("tf"))
    val df = tf.groupBy("term")
      .agg(count_distinct(col("id")).cast("double").as("df"))
    val dl = spark.read.parquet(committed(spark, storePath, "doclens"): _*)
      .select(col("id"), col("dl").cast("double").as("dl"))
    val st = broadcast(stats(spark, storePath)
      .select(col("n_docs").cast("double").as("n_docs"), col("avgdl")))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm = col("tf") * (k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    tf.join(broadcast(df), Seq("term"))
      .join(dl, Seq("id"))
      .crossJoin(st)
      .groupBy(col("id"))
      .agg(sum(idf * norm).as("bm25"))
      .select(col("id").as(idCol), round(col("bm25"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** Fold committed batches into the next version's base batch (postings
    * and doclens by union, stats re-summed); readers never stop. */
  def compact(spark: SparkSession, storePath: String): Unit =
    Compaction.compact(spark, storePath, root(storePath), "bm25:compact") { (vdir, dest) =>
      val dirs = Compaction.committed(spark, vdir)
      spark.read.parquet(dirs.map(d => s"$d/postings"): _*)
        .write.mode("overwrite").parquet(s"$dest/postings")
      spark.read.parquet(dirs.map(d => s"$d/doclens"): _*)
        .write.mode("overwrite").parquet(s"$dest/doclens")
      spark.read.parquet(dirs.map(d => s"$d/stats"): _*)
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
        .write.mode("overwrite").parquet(s"$dest/stats")
    }
}
