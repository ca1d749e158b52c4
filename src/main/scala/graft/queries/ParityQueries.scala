package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Correlation, Crosstab, Neighbors}
import graft.store.Serving

/**
 * Reference-parity queries (SURVEY §2 operator inventory), each with a
 * DuckDB oracle over the same parquet tables. The occurrence log is the
 * "orders-basket" derivation (FIXTURES.md §B): item = l_partkey,
 * context = l_orderkey.
 *
 * Determinism contract (SURVEY §5.3): co-moments are exact integers in
 * binary64, so unrounded correlations are bit-identical across engines;
 * doubles are rounded to 1e-6 only at output, every query ends with a
 * total ORDER BY, zero-variance → NULL.
 */
object ParityQueries extends QueryPack {

  /** Sample predicate bounding full-matrix (I×I) parity queries: every
    * 50th item. Scales with item count (SURVEY §7.4.10). */
  private val SampleMod = 50
  /** Fixed probe item for single-item query-path parity (exists at all SFs). */
  private val ProbeItem = 7
  /** Degree cap for the skew-gated q42 (drops the hottest contexts). */
  private val MaxCtxDegree = 5

  // ---- shared DuckDB CTE prefix -------------------------------------------

  /** occ → crosstab → n, per-item stats, co-occurring pair co-moments
    * (upper triangle) and their symmetric closure. Mirrors
    * Crosstab.build + Correlation.{nContexts,itemStats,sparseCoMoments}. */
  private def baseCtes(occWhere: String): String =
    s"""WITH occ AS (SELECT l_partkey AS item, l_orderkey AS ctx FROM lineitem
      |             WHERE $occWhere),
      |ct AS (SELECT item, ctx, CAST(COUNT(*) AS DOUBLE) AS cnt FROM occ GROUP BY 1, 2),
      |nn AS (SELECT CAST(COUNT(DISTINCT ctx) AS DOUBLE) AS n FROM ct),
      |st AS (SELECT item, SUM(cnt) AS sx, SUM(cnt*cnt) AS sxx FROM ct GROUP BY 1),
      |co AS (SELECT a.item AS item_a, b.item AS item_b, SUM(a.cnt*b.cnt) AS sxy
      |       FROM ct a JOIN ct b ON a.ctx = b.ctx AND a.item < b.item GROUP BY 1, 2),
      |cosym AS (SELECT item_a, item_b, sxy FROM co
      |          UNION ALL SELECT item_b AS item_a, item_a AS item_b, sxy FROM co)""".stripMargin

  private val BaseCtes = baseCtes("TRUE")

  /** q98's deletion slice: whole contexts (every 7th order) AND partial
    * cells (line 1 of every other order) — both retraction paths. */
  private val RetractWhere = "l_orderkey % 7 = 3 OR l_linenumber = 1"

  /** Sparse correlations (co-occurring pairs only), unrounded. */
  private val SparseCte =
    """sp AS (SELECT c.item_a, c.item_b,
      |  (nn.n*c.sxy - sa.sx*sb.sx)
      |    / NULLIF(SQRT(nn.n*sa.sxx - sa.sx*sa.sx) * SQRT(nn.n*sb.sxx - sb.sx*sb.sx), 0) AS corr
      |  FROM cosym c JOIN st sa ON c.item_a = sa.item
      |  JOIN st sb ON c.item_b = sb.item CROSS JOIN nn)""".stripMargin

  /** Full per-item correlation vectors for items matching `pred`
    * (never-co-occurring partners included with sxy = 0), self excluded. */
  private def fullCte(pred: String) =
    s"""fp AS (SELECT sa.item AS item_a, sb.item AS item_b,
       |  (nn.n*COALESCE(c.sxy, 0) - sa.sx*sb.sx)
       |    / NULLIF(SQRT(nn.n*sa.sxx - sa.sx*sa.sx) * SQRT(nn.n*sb.sxx - sb.sx*sb.sx), 0) AS corr
       |  FROM st sa CROSS JOIN st sb CROSS JOIN nn
       |  LEFT JOIN cosym c ON c.item_a = sa.item AND c.item_b = sb.item
       |  WHERE ($pred) AND sa.item <> sb.item)""".stripMargin

  /** EP-2 store pipeline over fp: per-item min-max scale then mean+2σ
    * threshold on the scaled scores (Neighbors.scaledStdDevThreshold). */
  private val StoreCtes =
    """sc AS (SELECT item_a, item_b,
      |  CASE WHEN MAX(corr) OVER w = MIN(corr) OVER w THEN 0.0
      |       ELSE (corr - MIN(corr) OVER w) / (MAX(corr) OVER w - MIN(corr) OVER w) END AS s
      |  FROM fp WINDOW w AS (PARTITION BY item_a)),
      |th AS (SELECT item_a, item_b, s,
      |  AVG(s) OVER w + 2.0 * STDDEV_SAMP(s) OVER w AS t
      |  FROM sc WINDOW w AS (PARTITION BY item_a)),
      |sim AS (SELECT item_a AS item_a_id, item_b AS item_b_id, s AS scaled_score
      |        FROM th WHERE s >= t)""".stripMargin

  /** One complete occurrences→store world under NAME-SUFFIXED CTEs, so
    * two worlds (pre-delta and post-delta) coexist in one statement —
    * q177's bounded-staleness oracle replays base-world rows for
    * untouched items beside merged-world rows for touched ones. */
  private def worldCtes(sfx: String, occWhere: String, pred: String): String =
    s"""occ$sfx AS (SELECT l_partkey AS item, l_orderkey AS ctx FROM lineitem
       |            WHERE $occWhere),
       |ct$sfx AS (SELECT item, ctx, CAST(COUNT(*) AS DOUBLE) AS cnt
       |           FROM occ$sfx GROUP BY 1, 2),
       |nn$sfx AS (SELECT CAST(COUNT(DISTINCT ctx) AS DOUBLE) AS n FROM ct$sfx),
       |st$sfx AS (SELECT item, SUM(cnt) AS sx, SUM(cnt*cnt) AS sxx
       |           FROM ct$sfx GROUP BY 1),
       |co$sfx AS (SELECT a.item AS item_a, b.item AS item_b, SUM(a.cnt*b.cnt) AS sxy
       |           FROM ct$sfx a JOIN ct$sfx b ON a.ctx = b.ctx AND a.item < b.item
       |           GROUP BY 1, 2),
       |cosym$sfx AS (SELECT item_a, item_b, sxy FROM co$sfx
       |              UNION ALL SELECT item_b, item_a, sxy FROM co$sfx),
       |fp$sfx AS (SELECT sa.item AS item_a, sb.item AS item_b,
       |  (nn.n*COALESCE(c.sxy, 0) - sa.sx*sb.sx)
       |    / NULLIF(SQRT(nn.n*sa.sxx - sa.sx*sa.sx) * SQRT(nn.n*sb.sxx - sb.sx*sb.sx), 0) AS corr
       |  FROM st$sfx sa CROSS JOIN st$sfx sb CROSS JOIN nn$sfx nn
       |  LEFT JOIN cosym$sfx c ON c.item_a = sa.item AND c.item_b = sb.item
       |  WHERE ($pred) AND sa.item <> sb.item),
       |sc$sfx AS (SELECT item_a, item_b,
       |  CASE WHEN MAX(corr) OVER w = MIN(corr) OVER w THEN 0.0
       |       ELSE (corr - MIN(corr) OVER w) / (MAX(corr) OVER w - MIN(corr) OVER w) END AS s
       |  FROM fp$sfx WINDOW w AS (PARTITION BY item_a)),
       |th$sfx AS (SELECT item_a, item_b, s,
       |  AVG(s) OVER w + 2.0 * STDDEV_SAMP(s) OVER w AS t
       |  FROM sc$sfx WINDOW w AS (PARTITION BY item_a)),
       |sim$sfx AS (SELECT item_a AS item_a_id, item_b AS item_b_id, s AS scaled_score
       |            FROM th$sfx WHERE s >= t)""".stripMargin

  // ---- Spark-side shared pieces -------------------------------------------

  private def ct(s: SparkSession, dir: String) =
    Crosstab.build(Tables.occOrders(s, dir))

  /** Scale-invariant sample bound: the fixture scale-ups replicate the
    * id space in 10M-key strides (`tools.ScaleData.Stride`), so capping
    * the mod-sample inside the first stride keeps the sampled ITEM SET
    * constant as the corpus grows — the parity face's |sample|×|catalog|
    * dense vectors then scale linearly with the catalog, not
    * quadratically (the sf1 probe measured the uncapped face at 609 s
    * cold, 100× sf0.1). No-op at sf ≤ 0.1, where every id is below the
    * cap. */
  private val SampleCap = 1000000L

  private def fullSample(s: SparkSession, dir: String) =
    Correlation.fullPairs(ct(s, dir),
      col("item") % SampleMod === 0 && col("item") < SampleCap)

  private def storePairs(s: SparkSession, dir: String, pred: org.apache.spark.sql.Column) =
    Neighbors.scaledStdDevThreshold(Correlation.fullPairs(ct(s, dir), pred), 2.0)

  // The SAMPLED store build (q08/q13): same output as `storePairs`, but via
  // the closed-form build with the item predicate pushed down — the
  // windowed parity path materializes |selection| × |catalog| dense vectors
  // (800M cached rows at sf1: 413 s/48 GB measured), the pushdown never
  // does (equivalence spec'd in StoreBuildSpec; q10 keeps the windowed
  // path oracle-covered on its single-item probe, where it is linear).
  private def storePairsScaled(s: SparkSession, dir: String,
                               pred: org.apache.spark.sql.Column) =
    graft.core.StoreBuild.scaledNeighbors(ct(s, dir), 2.0, itemPredicate = Some(pred))

  // ---- queries -------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // OP-01/09: scan + projection, pushed to the parquet reader.
    "q01_scan_project" -> ((s, dir) =>
      Tables.read(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // OP-07: dictionary projection (part → (id, key)).
    "q02_dictionary" -> ((s, dir) =>
      Tables.dictionary(s, dir).orderBy(col("id"))),

    // OP-18: crosstab build (duplicate-summing count cells).
    "q03_crosstab" -> ((s, dir) =>
      ct(s, dir).orderBy(col("item"), col("ctx"))),

    // OP-27: vstack of two crosstabs (disjoint item spaces) + per-item agg.
    // The 10^12 offset keeps the two item spaces disjoint at any realistic
    // SF (p_partkey = SF·200k ≪ 10^12), honoring vstack's contract.
    "q04_crosstab_union" -> ((s, dir) => {
      val a = ct(s, dir)
      val b = Crosstab.build(
        Tables.occCustomers(s, dir)
          .select((col("item_id") + 1000000000000L).as("item_id"), col("reference_id")))
      Crosstab.vstack(a, b)
        .groupBy("item")
        .agg(count(lit(1)).as("n_ctx"), sum("cnt").cast("long").as("total"))
        .orderBy(col("item"))
    }),

    // EP-1 RETRACTION (Incremental.retract): the inverse ingest — build
    // over the FULL log, retract a deletion slice (whole contexts via
    // every 7th order plus partial cells via line 1 elsewhere), and the
    // folded statistics must hash-match a full rebuild over
    // (history − deletions). The deletion/correction path no
    // rebuild-from-scratch engine offers at delta cost.
    "q98_incremental_retract" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      def occ(p: org.apache.spark.sql.Column) = li.where(p)
        .select(col("l_partkey").as("item_id"), col("l_orderkey").as("reference_id"))
      val base = graft.core.Incremental.fromOccurrences(occ(lit(true)))
      val after = graft.core.Incremental.retract(base,
        occ(col("l_orderkey") % 7 === 3 || col("l_linenumber") === 1))
      graft.core.Incremental.pairs(after)
        .select(col("item_a"), col("item_b"), round(col("corr"), 6).as("corr"))
        .orderBy(col("item_a"), col("item_b"))
    }),

    // OP-19 (scale path): Pearson over co-occurring pairs, symmetric.
    "q05_corr_sparse" -> ((s, dir) =>
      Correlation.sparsePairs(ct(s, dir))
        .select(col("item_a"), col("item_b"), round(col("corr"), 6).as("corr"))
        .orderBy(col("item_a"), col("item_b"))),

    // OP-19 + skew cap: sparse correlations with hot contexts dropped
    // (maxContextDegree — a context shared by > d items carries ~no signal
    // at quadratic cost). The oracle applies the identical degree filter.
    "q42_corr_capped" -> ((s, dir) =>
      Correlation.sparsePairs(ct(s, dir), maxContextDegree = Some(MaxCtxDegree))
        .select(col("item_a"), col("item_b"), round(col("corr"), 6).as("corr"))
        .orderBy(col("item_a"), col("item_b"))),

    // EP-1 INCREMENTAL (Incremental.update): the reference retrains from
    // scratch on every ingest (`similarity.py:92-117`); here a base model
    // over lineitem lines 1-3 is updated with lines 4+ as the delta. The
    // merged sufficient statistics are bit-identical to a full rebuild —
    // the oracle is the SAME full-corpus SQL as q05. The line split makes
    // base and delta share contexts AND individual cells, so every merge
    // path (cell add, sxx correction, co-moment cross terms) is exercised.
    "q53_incremental_corr" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      def occ(p: org.apache.spark.sql.Column) = li.where(p)
        .select(col("l_partkey").as("item_id"), col("l_orderkey").as("reference_id"))
      val base = graft.core.Incremental.fromOccurrences(occ(col("l_linenumber") <= 3))
      val updated = graft.core.Incremental.update(base, occ(col("l_linenumber") > 3))
      graft.core.Incremental.pairs(updated)
        .select(col("item_a"), col("item_b"), round(col("corr"), 6).as("corr"))
        .orderBy(col("item_a"), col("item_b"))
    }),

    // OP-19 (parity path): full correlation vectors for sampled items.
    "q06_corr_full_sample" -> ((s, dir) =>
      fullSample(s, dir)
        .select(col("item_a"), col("item_b"), round(col("corr"), 6).as("corr"))
        .orderBy(col("item_a"), col("item_b"))),

    // get_similar_items: raw mean+2σ threshold for one item (OP-09/10/11/20/28).
    "q07_similar_items_raw" -> ((s, dir) =>
      Neighbors.rawStdDevThreshold(
          Correlation.fullPairs(ct(s, dir), col("item") === ProbeItem), 2.0)
        .select(col("item_b"), round(col("corr"), 6).as("corr"))
        .orderBy(col("corr").desc_nulls_last, col("item_b"))),

    // get_similar_items "absolute" mode (OP-11/28): plain corr >= t cutoff.
    "q37_similar_items_abs" -> ((s, dir) =>
      Neighbors.absoluteThreshold(
          Correlation.fullPairs(ct(s, dir), col("item") === ProbeItem), 0.02)
        .select(col("item_b"), round(col("corr"), 6).as("corr"))
        .orderBy(col("corr").desc_nulls_last, col("item_b"))),

    // EP-2 store pipeline: min-max scale + scaled mean+2σ (OP-21/11/24/28).
    "q08_store_pipeline" -> ((s, dir) =>
      storePairsScaled(s, dir, col("item") % SampleMod === 0)
        .select(col("item_a_id"), col("item_b_id"),
          round(col("scaled_score"), 6).as("scaled_score"))
        .orderBy(col("item_a_id"), col("scaled_score").desc_nulls_last, col("item_b_id"))),

    // EP-2 store build over the FULL catalog (no sample predicate): the
    // reference's populate_similar_items loop semantics via the closed-form
    // zero-pair decomposition — never materializes I×I (StoreBuild).
    "q38_store_all_items" -> ((s, dir) =>
      graft.core.StoreBuild.scaledNeighbors(ct(s, dir), 2.0)
        .select(col("item_a_id"), col("item_b_id"),
          round(col("scaled_score"), 6).as("scaled_score"))
        .orderBy(col("item_a_id"), col("scaled_score").desc_nulls_last, col("item_b_id"))),

    // EP-2 from an INCREMENTALLY-maintained model: the store refresh
    // consumes the merged sufficient-statistics snapshot directly
    // (StoreBuild.scaledNeighborsFromStats) — no co-moment recompute
    // after the delta fold. Same full-rebuild oracle as q38.
    "q57_incremental_store" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      def occ(p: org.apache.spark.sql.Column) = li.where(p)
        .select(col("l_partkey").as("item_id"), col("l_orderkey").as("reference_id"))
      val base = graft.core.Incremental.fromOccurrences(occ(col("l_linenumber") <= 3))
      val updated = graft.core.Incremental.update(base, occ(col("l_linenumber") > 3))
      graft.core.StoreBuild.scaledNeighborsFromStats(updated, 2.0)
        .select(col("item_a_id"), col("item_b_id"),
          round(col("scaled_score"), 6).as("scaled_score"))
        .orderBy(col("item_a_id"), col("scaled_score").desc_nulls_last, col("item_b_id"))
    }),

    // OP-06/07/08 write paths under the gate: full EP-2 store write (both
    // parquet tables, point-lookup layout) followed by a read of the pair
    // table — the oracle recomputes the all-items store pipeline, so this
    // round-trips the actual persisted bytes, not just the plan.
    "q46_store_roundtrip" -> ((s, dir) => {
      val out = graft.core.Scratch.dir("graft_store")
      graft.api.SimilarityModel.fromCrosstab(ct(s, dir))
        .storeAllIn(out, Tables.dictionary(s, dir))
      graft.store.SimilarityStore.readSimilarItems(s, out)
        .select(col("item_a_id"), col("item_b_id"),
          round(col("scaled_score"), 6).as("scaled_score"))
        .orderBy(col("item_a_id"), col("scaled_score").desc_nulls_last, col("item_b_id"))
    }),

    // kNN per item over sparse pairs (OP-24/26 — WindowGroupLimit top-k).
    "q09_topk" -> ((s, dir) =>
      Neighbors.topK(Correlation.sparsePairs(ct(s, dir)), 5)
        .select(col("item_a"), col("item_b"), round(col("corr"), 6).as("corr"))
        .orderBy(col("item_a"), col("corr").desc_nulls_last, col("item_b"))),

    // EP-3 serving: the probe item's thresholded neighbors and the
    // dictionary written as a store, then one point lookup through a
    // serving handle — answered on the driver — and its top-10
    // (OP-14/16/24/26).
    "q10_serve_retrieve" -> ((s, dir) => {
      val out = graft.core.Scratch.dir("graft_serve")
      graft.store.SimilarityStore.writeCorrelatedItems(Tables.dictionary(s, dir), out)
      graft.store.SimilarityStore.writeSimilarItems(
        storePairs(s, dir, col("item") === ProbeItem), out)
      graft.api.SimilarityModel.Store(s, out).retrieve(ProbeItem, None)
        .select(col("item_b_id"), col("key"), round(col("scaled_score"), 6).as("scaled_score"))
        .orderBy(col("scaled_score").desc_nulls_last, col("item_b_id"))
        .limit(10)
    }),

    // OP-13/25/29: case-insensitive contains search, ordered, limited.
    "q11_search_items" -> ((s, dir) =>
      Serving.searchItemsByName(
        Tables.dictionary(s, dir).withColumn("human_label", lit(null).cast("string")),
        "idg", 10)),

    // OP-15: IN-list point lookups.
    "q12_item_info" -> ((s, dir) =>
      Serving.getItemInfo(
        Tables.dictionary(s, dir).withColumn("human_label", lit(null).cast("string")),
        Seq(1L, 5L, 9L, 12L))),

    // OP-22/23/31: store stats (counts + avg neighbors, round 2, 0-default).
    "q13_db_stats" -> ((s, dir) =>
      Serving.databaseStats(
        storePairsScaled(s, dir, col("item") % SampleMod === 0),
        Tables.dictionary(s, dir))),

    // OP-20: per-item scalar moments over the full correlation vector —
    // closed-form (StoreBuild.vectorMoments), no dense-vector table.
    "q14_moments" -> ((s, dir) =>
      graft.core.StoreBuild.vectorMoments(
          ct(s, dir), Some(col("item") % SampleMod === 0))
        .select(col("item_a"), round(col("mean_corr"), 6).as("mean_corr"),
          round(col("std_corr"), 6).as("std_corr"))
        .orderBy(col("item_a"))),

    // OP-12: existence check via anti join (items without dictionary rows).
    "q15_missing_items" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem").select(col("l_partkey")).distinct()
      val p = Tables.read(s, dir, "part").select(col("p_partkey"))
      li.join(p, li("l_partkey") === p("p_partkey"), "left_anti")
        .agg(count(lit(1)).as("n_missing"))
    }),

    // OP-04+05 (.npy face): the reference's ACTUAL matrix format
    // (`similarity.py:173-186` np.save / `:199-206` np.load) — densify a
    // sampled correlation sub-matrix to float32 .npy via the migration
    // codec, read it back, and hash-match the pairs after the SAME f4
    // truncation in the oracle (corr::REAL). Sampled (both endpoints %
    // 50 = 0) because .npy is a bounded driver-side interchange format,
    // never a scale path — the guard enforces exactly that.
    "q102_npy_roundtrip" -> ((s, dir) => {
      val out = graft.core.Scratch.dir("graft_npy_rt")
      val pairs = Correlation.sparsePairs(ct(s, dir))
        .where(col("item_a") % SampleMod === 0 && col("item_b") % SampleMod === 0)
      val ids = graft.sources.Sources.saveNpyMatrix(pairs, s"$out/sim.npy")
      graft.sources.Sources.loadNpyMatrix(s, s"$out/sim.npy", ids)
        .select(col("item_a"), col("item_b"), round(col("value"), 6).as("corr"))
        .orderBy(col("item_a"), col("item_b"))
    }),

    // OP-04+05: matrix sink/source round-trip — persist the correlation
    // pair table as headered CSV, read it back with the declared schema.
    // Double round-trip is exact (Java shortest-repr formatting parses
    // back to the identical binary64), so the oracle is the correlation
    // itself.
    "q35_matrix_roundtrip" -> ((s, dir) => {
      val out = graft.core.Scratch.dir("graft_rt")
      val pairs = Correlation.sparsePairs(ct(s, dir))
        .select(col("item_a"), col("item_b"), round(col("corr"), 6).as("corr"))
      graft.sources.Sources.saveCsv(pairs, out)
      graft.sources.Sources.loadCsv(s, out,
          org.apache.spark.sql.types.StructType.fromDDL(
            "item_a BIGINT, item_b BIGINT, corr DOUBLE"))
        .orderBy(col("item_a"), col("item_b"))
    }),

    // EXT-C28: DELTA-BOUNDED store refresh (bounded staleness — the
    // production pattern q57's exact refresh cannot reach, because the
    // mean+kσ-over-complete-vector semantics couples every item to every
    // other through n and the global u-moments; StoreBuildSpec carries
    // the counterexample). Items TOUCHED by the delta get exact
    // post-delta rows via the touched-selection build (emission cost
    // |touched|×avg-degree, catalog-wide stats consulted as the closed
    // form requires); untouched items keep serving their STORED rows
    // verbatim — one parquet scan + anti-join, no rebuild (the plan
    // guard). A scheduled full rebuild (q38) retires the staleness.
    "q177_store_refresh_touched" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      def occ(p: org.apache.spark.sql.Column) = li.where(p)
        .select(col("l_partkey").as("item_id"), col("l_orderkey").as("reference_id"))
      val base = graft.core.Incremental.fromOccurrences(occ(col("l_linenumber") <= 3))
      val prevDir = graft.core.Scratch.dir("graft_prev_store")
      graft.core.StoreBuild.scaledNeighborsFromStats(base, 2.0)
        .write.mode("overwrite").parquet(prevDir)
      val delta = occ(col("l_linenumber") > 3)
      val touched = delta.select(col("item_id").as("item")).distinct()
      val merged = graft.core.Incremental.update(base, delta)
      val fresh = graft.core.StoreBuild.scaledNeighborsFromStats(
        merged, 2.0, touched = Some(touched))
      val kept = s.read.parquet(prevDir)
        .join(touched.select(col("item").as("item_a_id")),
          Seq("item_a_id"), "left_anti")
      fresh.unionByName(kept)
        .select(col("item_a_id"), col("item_b_id"),
          round(col("scaled_score"), 6).as("scaled_score"))
        .orderBy(col("item_a_id"), col("scaled_score").desc_nulls_last, col("item_b_id"))
    })
  )

  // ---- oracle SQL -----------------------------------------------------------

  val oracleSql: Map[String, String] = Map(
    "q01_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem ORDER BY 1, 2""".stripMargin,

    "q02_dictionary" ->
      "SELECT p_partkey AS id, p_name AS key FROM part ORDER BY 1",

    "q03_crosstab" ->
      """SELECT l_partkey AS item, l_orderkey AS ctx, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q04_crosstab_union" ->
      """WITH ct1 AS (SELECT l_partkey AS item, l_orderkey AS ctx, COUNT(*) AS cnt
        |             FROM lineitem GROUP BY 1, 2),
        |ct2 AS (SELECT l.l_partkey + 1000000000000 AS item, o.o_custkey AS ctx, COUNT(*) AS cnt
        |        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey GROUP BY 1, 2),
        |ctu AS (SELECT * FROM ct1 UNION ALL SELECT * FROM ct2)
        |SELECT item, CAST(COUNT(*) AS BIGINT) AS n_ctx, CAST(SUM(cnt) AS BIGINT) AS total
        |FROM ctu GROUP BY 1 ORDER BY 1""".stripMargin,

    "q05_corr_sparse" ->
      s"""$BaseCtes,
         |$SparseCte
         |SELECT item_a, item_b, ROUND(corr, 6) AS corr FROM sp ORDER BY 1, 2""".stripMargin,

    // The same sparse correlations through the reference's float32 .npy
    // dump: the oracle applies the identical f4 truncation (corr::REAL);
    // NULL (zero-variance) and exact-zero cells cannot survive a dense
    // 0.0-filled matrix and are excluded on both sides.
    "q102_npy_roundtrip" ->
      s"""$BaseCtes,
         |$SparseCte
         |SELECT item_a, item_b,
         |       ROUND(CAST(CAST(corr AS REAL) AS DOUBLE), 6) AS corr
         |FROM sp
         |WHERE item_a % $SampleMod = 0 AND item_b % $SampleMod = 0
         |  AND corr IS NOT NULL AND CAST(corr AS REAL) <> 0
         |ORDER BY 1, 2""".stripMargin,

    "q42_corr_capped" ->
      s"""$BaseCtes,
         |deg AS (SELECT ctx, COUNT(*) AS dg FROM ct GROUP BY 1),
         |coc AS (SELECT a.item AS item_a, b.item AS item_b, SUM(a.cnt*b.cnt) AS sxy
         |        FROM ct a JOIN ct b ON a.ctx = b.ctx AND a.item < b.item
         |        JOIN deg d ON a.ctx = d.ctx
         |        WHERE d.dg <= $MaxCtxDegree GROUP BY 1, 2),
         |cocsym AS (SELECT item_a, item_b, sxy FROM coc
         |           UNION ALL SELECT item_b AS item_a, item_a AS item_b, sxy FROM coc),
         |spc AS (SELECT c.item_a, c.item_b,
         |  (nn.n*c.sxy - sa.sx*sb.sx)
         |    / NULLIF(SQRT(nn.n*sa.sxx - sa.sx*sa.sx) * SQRT(nn.n*sb.sxx - sb.sx*sb.sx), 0) AS corr
         |  FROM cocsym c JOIN st sa ON c.item_a = sa.item
         |  JOIN st sb ON c.item_b = sb.item CROSS JOIN nn)
         |SELECT item_a, item_b, ROUND(corr, 6) AS corr FROM spc ORDER BY 1, 2""".stripMargin,

    "q53_incremental_corr" ->
      s"""$BaseCtes,
         |$SparseCte
         |SELECT item_a, item_b, ROUND(corr, 6) AS corr FROM sp ORDER BY 1, 2""".stripMargin,

    // Full rebuild over the SURVIVING history — what the retraction fold
    // must equal bit-for-bit.
    "q98_incremental_retract" ->
      s"""${baseCtes(s"NOT ($RetractWhere)")},
         |$SparseCte
         |SELECT item_a, item_b, ROUND(corr, 6) AS corr FROM sp ORDER BY 1, 2""".stripMargin,

    "q06_corr_full_sample" ->
      s"""$BaseCtes,
         |${fullCte(s"sa.item % $SampleMod = 0 AND sa.item < $SampleCap")}
         |SELECT item_a, item_b, ROUND(corr, 6) AS corr FROM fp ORDER BY 1, 2""".stripMargin,

    "q07_similar_items_raw" ->
      s"""$BaseCtes,
         |${fullCte(s"sa.item = $ProbeItem")},
         |thr AS (SELECT AVG(corr) + 2.0 * STDDEV_SAMP(corr) AS t FROM fp)
         |SELECT fp.item_b, ROUND(fp.corr, 6) AS corr FROM fp, thr
         |WHERE fp.corr >= thr.t ORDER BY 2 DESC NULLS LAST, 1""".stripMargin,

    "q37_similar_items_abs" ->
      s"""$BaseCtes,
         |${fullCte(s"sa.item = $ProbeItem")}
         |SELECT fp.item_b, ROUND(fp.corr, 6) AS corr FROM fp
         |WHERE fp.corr >= 0.02 ORDER BY 2 DESC NULLS LAST, 1""".stripMargin,

    "q08_store_pipeline" ->
      s"""$BaseCtes,
         |${fullCte(s"sa.item % $SampleMod = 0")},
         |$StoreCtes
         |SELECT item_a_id, item_b_id, ROUND(scaled_score, 6) AS scaled_score
         |FROM sim ORDER BY 1, 3 DESC NULLS LAST, 2""".stripMargin,

    "q38_store_all_items" ->
      s"""$BaseCtes,
         |${fullCte("TRUE")},
         |$StoreCtes
         |SELECT item_a_id, item_b_id, ROUND(scaled_score, 6) AS scaled_score
         |FROM sim ORDER BY 1, 3 DESC NULLS LAST, 2""".stripMargin,

    "q46_store_roundtrip" ->
      s"""$BaseCtes,
         |${fullCte("TRUE")},
         |$StoreCtes
         |SELECT item_a_id, item_b_id, ROUND(scaled_score, 6) AS scaled_score
         |FROM sim ORDER BY 1, 3 DESC NULLS LAST, 2""".stripMargin,

    "q57_incremental_store" ->
      s"""$BaseCtes,
         |${fullCte("TRUE")},
         |$StoreCtes
         |SELECT item_a_id, item_b_id, ROUND(scaled_score, 6) AS scaled_score
         |FROM sim ORDER BY 1, 3 DESC NULLS LAST, 2""".stripMargin,

    // Bounded-staleness refresh replay: merged-world rows for items the
    // delta touched, base-world rows verbatim for everyone else.
    "q177_store_refresh_touched" ->
      s"""WITH touched AS (SELECT DISTINCT l_partkey AS item FROM lineitem
         |                 WHERE l_linenumber > 3),
         |${worldCtes("m", "TRUE", "sa.item IN (SELECT item FROM touched)")},
         |${worldCtes("b", "l_linenumber <= 3",
                      "sa.item NOT IN (SELECT item FROM touched)")}
         |SELECT item_a_id, item_b_id, ROUND(scaled_score, 6) AS scaled_score
         |FROM (SELECT * FROM simm UNION ALL SELECT * FROM simb)
         |ORDER BY 1, 3 DESC NULLS LAST, 2""".stripMargin,

    "q09_topk" ->
      s"""$BaseCtes,
         |$SparseCte
         |SELECT item_a, item_b, ROUND(corr, 6) AS corr FROM (
         |  SELECT item_a, item_b, corr,
         |         ROW_NUMBER() OVER (PARTITION BY item_a
         |                            ORDER BY corr DESC NULLS LAST, item_b) AS rnk
         |  FROM sp) WHERE rnk <= 5
         |ORDER BY 1, 3 DESC NULLS LAST, 2""".stripMargin,

    "q10_serve_retrieve" ->
      s"""$BaseCtes,
         |${fullCte(s"sa.item = $ProbeItem")},
         |$StoreCtes
         |SELECT s.item_b_id, p.p_name AS key, ROUND(s.scaled_score, 6) AS scaled_score
         |FROM sim s JOIN part p ON s.item_b_id = p.p_partkey
         |ORDER BY 3 DESC NULLS LAST, 1 LIMIT 10""".stripMargin,

    "q11_search_items" ->
      """SELECT p_partkey AS id, p_name AS key FROM part
        |WHERE lower(p_name) LIKE '%idg%' ORDER BY 2, 1 LIMIT 10""".stripMargin,

    "q12_item_info" ->
      """SELECT p_partkey AS id, p_name AS key, CAST(NULL AS VARCHAR) AS human_label
        |FROM part WHERE p_partkey IN (1, 5, 9, 12) ORDER BY 1""".stripMargin,

    "q13_db_stats" ->
      s"""$BaseCtes,
         |${fullCte(s"sa.item % $SampleMod = 0")},
         |$StoreCtes
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM part) AS correlated_items,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM sim) AS similar_items,
         |       (SELECT COALESCE(ROUND(AVG(c), 2), 0.0) FROM
         |          (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM sim GROUP BY item_a_id)
         |       ) AS avg_similar_items""".stripMargin,

    "q14_moments" ->
      s"""$BaseCtes,
         |${fullCte(s"sa.item % $SampleMod = 0")}
         |SELECT item_a, ROUND(AVG(corr), 6) AS mean_corr,
         |       ROUND(STDDEV_SAMP(corr), 6) AS std_corr
         |FROM fp GROUP BY 1 ORDER BY 1""".stripMargin,

    "q15_missing_items" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_missing FROM (
        |  SELECT DISTINCT l_partkey FROM lineitem
        |  WHERE l_partkey NOT IN (SELECT p_partkey FROM part))""".stripMargin,

    "q35_matrix_roundtrip" ->
      s"""$BaseCtes,
         |$SparseCte
         |SELECT item_a, item_b, ROUND(corr, 6) AS corr FROM sp ORDER BY 1, 2""".stripMargin
  )
}
