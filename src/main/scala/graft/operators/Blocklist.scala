package graft.operators

import java.util.Locale

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/**
 * C4-style blocklist gating — the "bad words" pre-filter (Raffel et al.
 * 2020 §2.2 drop any page containing a listed word; every production
 * crawl pipeline runs some form of this before quality scoring). Two
 * faces with an equality law (`BlocklistSpec`):
 *
 *  - `flags`: the literal-list face for config-sized lists — ONE
 *    codegen'd map-only projection (HOF filter/intersect over the token
 *    array), zero shuffles, streams with the scan. This is the 100 TB
 *    shape whenever the list fits in the plan (C4's list is ~400 words).
 *  - `hitsJoin`: the table-list face for lists too large to inline —
 *    explode + broadcast semi-join; only MATCHED tokens reach the
 *    per-document aggregate, so the single shuffle carries hits, not the
 *    corpus. Returns only documents with ≥ 1 hit (absent row = clean) —
 *    deliberately delta-shaped so no corpus-sized join-back is needed.
 *
 * Matching is whitespace-token-exact after lowercasing (not substring:
 * "class" must not trip an embedded list word), mirroring `tokensWs`.
 */
object Blocklist {
  import graft.functions.TextFunctions.tokensWs

  /** Per-row blocklist report: token count, hit count (multiset),
    * distinct hit count, and the C4 gate (`flagged` = any hit). */
  def flags(df: DataFrame, textCol: String, idCols: Seq[String],
            words: Seq[String]): DataFrame = {
    require(words.nonEmpty, "blocklist: empty word list")
    val w = typedlit(words.map(_.toLowerCase(Locale.ROOT)).distinct.sorted)
    val lowered = transform(tokensWs(col(textCol)), t => lower(t))
    df.select(idCols.map(col) :+ lowered.as("__lt"): _*)
      .select(idCols.map(col) ++ Seq(
        size(col("__lt")).cast("long").as("n_tokens"),
        size(F.filter(col("__lt"), t => array_contains(w, t)))
          .cast("long").as("n_hits"),
        size(array_intersect(array_distinct(col("__lt")), w))
          .cast("long").as("n_distinct_hits")): _*)
      .withColumn("flagged", col("n_hits") > 0L)
  }

  /** Table-list face: (idCol, n_hits, n_distinct_hits) for documents with
    * at least one hit. The blocklist side is broadcast (lists are
    * index-parameter-sized next to a corpus); the aggregate shuffles only
    * matched tokens. */
  def hitsJoin(df: DataFrame, textCol: String, idCol: String,
               blocklist: DataFrame, wordCol: String = "word"): DataFrame = {
    val bl = blocklist.select(lower(col(wordCol)).as("__w")).distinct()
    df.select(col(idCol), explode(tokensWs(col(textCol))).as("__t"))
      .join(broadcast(bl), lower(col("__t")) === col("__w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("__w")).as("n_distinct_hits"))
  }
}
