package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.SimilaritySearch

/**
 * Persisted ANN index — the serving analogue of `SimilarityStore` for the
 * embedding tier. The computed structures the ANN operators build per
 * query (SRP buckets, IVF centroid assignments) are written ONCE in the
 * store layout and served from parquet, so a serving query costs a
 * bucket/list hash join against the persisted index instead of
 * recomputing buckets or assignments over the corpus:
 *
 *  - `srp_planes`   (plane_id, weights)            — the ±1 hyperplanes,
 *    persisted so the index is self-describing: serving re-buckets only
 *    the (tiny, broadcast) query set with the SAME planes;
 *  - `srp_buckets`  (vec_id, embedding, nrm, bucket) — partitioned and
 *    in-file sorted by bucket → row-group pruning on the bucket key;
 *  - `ivf_centroids`(cent_id, cent_emb, cent_nrm)  — nlist rows;
 *  - `ivf_lists`    (cent_id, vec_id, embedding, nrm) — partitioned and
 *    in-file sorted by cent_id.
 *
 * Served results are IDENTICAL to the freshly-computed `lshTopK` /
 * `ivfTopK` (same kernels, same persisted norms — gated by q55 against
 * the q26/q34 oracles). At 100 TB the index build is the one pass over
 * the corpus; serving touches only the probed buckets/lists.
 *
 * DURABILITY — every versioned table is BATCH-COMMITTED inside its
 * version directory (the `Compaction` protocol): each write lands as a
 * `batch_<name>` parquet directory and becomes visible only when its
 * `_committed_<name>` marker (written LAST) exists. A crash mid-append
 * leaves an uncommitted directory readers never see; a RETRY under the
 * same batch name is a no-op once the marker exists (bucketing/assignment
 * is deterministic per vector, so the committed content IS the retry's
 * content). Writers take the store-level lease (`Compaction.withLease`) —
 * a concurrent append/compaction interleave fails loudly instead of
 * landing rows in a superseded version.
 */
object AnnStore {

  val SrpPlanes = "srp_planes"
  val SrpBuckets = "srp_buckets"
  val IvfCentroids = "ivf_centroids"
  val IvfLists = "ivf_lists"
  val PqCodebooks = "pq_codebooks"
  val IvfPqCentroids = "ivf_pq_centroids"
  val IvfPqLists = "ivf_pq_lists"
  val IvfPqResCentroids = "ivf_pqres_centroids"
  val IvfPqResCodebooks = "ivf_pqres_codebooks"
  val IvfPqResLists = "ivf_pqres_lists"

  /** Land `rows` as the committed batch `name` of `table`'s served
    * version; a batch whose marker already exists is a redelivery →
    * no-op (names are the identity of an append). */
  private def appendBatch(spark: SparkSession, storePath: String, table: String,
                          owner: String, name: String)(rows: => DataFrame): Unit =
    Compaction.append(spark, storePath, s"$storePath/$table", owner, name) { (vdir, dir) =>
      if (!Compaction.committedNames(spark, vdir).contains(name))
        rows.write.mode("overwrite").parquet(dir)
    }

  /** Build + persist the SRP index (planes table + bucketed corpus). The
    * bucket table is VERSIONED (`srp_buckets/v<k>` + `LATEST` marker, see
    * `Compaction`) so compaction swaps are invisible to live readers; the
    * plane table is tiny, immutable after init, and stays flat. */
  def writeSrp(corpus: DataFrame, planes: Seq[Seq[Int]], storePath: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    Compaction.init(spark, storePath, s"$storePath/$SrpBuckets", "writeSrp") { dir =>
      planes.zipWithIndex
        .map { case (p, i) => (i, p.map(_.toFloat)) }
        .toDF("plane_id", "weights")
        .coalesce(1).write.mode("overwrite").parquet(s"$storePath/$SrpPlanes")
      SimilaritySearch.withBucket(graft.core.Spread.byKey(corpus, col("vec_id")), planes)
        .select(col("vec_id"), col("embedding"),
          SimilaritySearch.l2Norm(col("embedding")).as("nrm"), col("bucket"))
        .repartition(col("bucket")).sortWithinPartitions("bucket", "vec_id")
        .write.mode("overwrite").parquet(dir)
    }
  }

  /** Build + persist the IVF index (centroids + inverted lists). The
    * centroid table may be the deterministic sample (`ivfCentroids`) or a
    * trained one (`trainedCentroids`) — the layout is identical. */
  def writeIvf(corpus: DataFrame, cents: DataFrame, storePath: String): Unit =
    Compaction.init(corpus.sparkSession, storePath, s"$storePath/$IvfLists", "writeIvf") { dir =>
      val c = graft.core.Caches.cacheOnce(cents) // feeds the write AND the lists build
      c.coalesce(1).write.mode("overwrite").parquet(s"$storePath/$IvfCentroids")
      SimilaritySearch.ivfLists(corpus, c)
        .repartition(col("cent_id")).sortWithinPartitions("cent_id", "vec_id")
        .write.mode("overwrite").parquet(dir)
    }

  /** Append a delta corpus to the persisted SRP index. The delta is
    * bucketed with the PERSISTED planes, so the refreshed bucket table is
    * row-identical to rebuilding over base ∪ delta (bucketing is
    * per-vector); appended batch files carry the same in-file bucket
    * sort, so row-group pruning still holds per file. The
    * incremental-maintenance path for the ANN tier: an ingest batch costs
    * one pass over the DELTA, never a corpus rebuild. `batchName` names
    * the committed batch for crash-retry idempotence (marker-last; a
    * retry under the same name after the marker landed is a no-op);
    * omitted, a fresh unique name is used. */
  def appendSrp(delta: DataFrame, storePath: String,
                batchName: Option[String] = None): Unit = {
    val spark = delta.sparkSession
    val name = Compaction.batchName(batchName)
    appendBatch(spark, storePath, SrpBuckets, s"appendSrp:$name", name) {
      SimilaritySearch.withBucket(graft.core.Spread.byKey(delta, col("vec_id")),
          readPlanes(spark, storePath))
        .select(col("vec_id"), col("embedding"),
          SimilaritySearch.l2Norm(col("embedding")).as("nrm"), col("bucket"))
        .repartition(col("bucket")).sortWithinPartitions("bucket", "vec_id")
    }
  }

  /** Append a delta corpus to the persisted IVF index: delta vectors are
    * assigned against the PERSISTED centroids (assignment is per-vector,
    * so refreshed lists == lists rebuilt over base ∪ delta with the same
    * centroid table) and land as a marker-committed batch (see
    * `appendSrp` for the retry contract). Centroids drift as deltas
    * accumulate — recall-gate with the q41 machinery and re-train when it
    * degrades; exactness of the SERVED result vs the current centroid
    * table is unconditional. */
  def appendIvf(delta: DataFrame, storePath: String,
                batchName: Option[String] = None): Unit = {
    val spark = delta.sparkSession
    val name = Compaction.batchName(batchName)
    appendBatch(spark, storePath, IvfLists, s"appendIvf:$name", name) {
      SimilaritySearch.ivfLists(delta,
          spark.read.parquet(s"$storePath/$IvfCentroids"))
        .repartition(col("cent_id")).sortWithinPartitions("cent_id", "vec_id")
    }
  }

  /** Build + persist the IVF-PQ index — the billion-vector deployment
    * shape (SimilaritySearch.ivfPqServe): deterministic PQ codebooks,
    * the corpus PQ-encoded, inverted lists assigned over the
    * RECONSTRUCTED vectors (what the index serves, mirroring the int8-IVF
    * stance of q97), each list row carrying the m codes + the
    * reconstruction norm — m bytes/vector at scale instead of 4·dim.
    * Centroids are the deterministic sample of the reconstruction. The
    * list table is versioned like the other index tables. */
  def writeIvfPq(corpus: DataFrame, m: Int, dim: Int, codeMod: Int,
                 centroidMod: Int, storePath: String,
                 sampleFilter: org.apache.spark.sql.Column = lit(true)): Unit =
    Compaction.init(corpus.sparkSession, storePath, s"$storePath/$IvfPqLists", "writeIvfPq") { dir =>
      val spark = corpus.sparkSession
      // sampleFilter bounds the UNIVERSE the codebook and centroid samples
      // draw from (writeIvfPqResidual's contract): index parameters are
      // FIXED in deployment — without the bound both samples grow as
      // corpus fractions and the assignment/encode passes go quadratic
      // (the sf10 probe OOMed exactly here before the cap)
      val books = graft.core.Caches.cacheOnce(
        SimilaritySearch.pqCodebooks(corpus.where(sampleFilter), m, dim, codeMod))
      books.coalesce(1).write.mode("overwrite").parquet(s"$storePath/$PqCodebooks")
      val codes = SimilaritySearch.pqEncode(corpus, books, m, dim)
      // one shuffle keyed on vec_id packs codes AND reassembles the served
      // reconstruction (needed once here for assignment + stored norm)
      val packed = graft.core.Caches.cacheOnce(codes
        .join(broadcast(books), Seq("sub_id", "code_id"))
        .groupBy(col("vec_id"))
        .agg(array_sort(collect_list(
          struct(col("sub_id"), col("code_id"), col("code_emb")))).as("scl"))
        .select(col("vec_id"),
          transform(col("scl"), x => x.getField("code_id")).as("codes"),
          flatten(transform(col("scl"), x => x.getField("code_emb"))).as("embedding")))
      // filter BEFORE the projection: sampleFilter may reference any corpus
      // column (the codebook path above filters the raw corpus), so a
      // post-projection where() would throw AnalysisException on filters
      // that mention a projected-away column
      val cents = graft.core.Caches.cacheOnce(
        SimilaritySearch.ivfCentroids(
          packed.where(sampleFilter).select(col("vec_id"), col("embedding")),
          centroidMod))
      // own centroid table — an IVF-PQ index can share a store path with a
      // plain IVF index (whose centroids sample the RAW corpus, not the
      // reconstruction) without the two clobbering each other
      cents.coalesce(1).write.mode("overwrite").parquet(s"$storePath/$IvfPqCentroids")
      SimilaritySearch.ivfLists(packed.select(col("vec_id"), col("embedding")), cents)
        .select(col("cent_id"), col("vec_id"), col("nrm"))
        .join(packed.select(col("vec_id"), col("codes")), Seq("vec_id"))
        .repartition(col("cent_id")).sortWithinPartitions("cent_id", "vec_id")
        .write.mode("overwrite").parquet(dir)
    }

  /** IVF-PQ top-k served from the persisted index: queries rank against
    * the stored centroids, probed lists decode against the stored
    * codebooks, ADC scoring via the reconstruction (`ivfPqServe`). */
  def ivfPqTopK(spark: SparkSession, storePath: String, queries: DataFrame,
                nprobe: Int, k: Int): DataFrame =
    SimilaritySearch.ivfPqServe(
      readTree(spark, s"$storePath/$IvfPqLists"),
      spark.read.parquet(s"$storePath/$PqCodebooks"),
      spark.read.parquet(s"$storePath/$IvfPqCentroids"),
      queries, nprobe, k)

  /** Compact the IVF-PQ coded-list table (see `compactSrp`). */
  def compactIvfPq(spark: SparkSession, storePath: String): Unit =
    compactTable(spark, storePath, IvfPqLists, "cent_id")

  /** Build + persist the RESIDUAL IVF-PQ index (the standard IVF-ADC
    * deployment shape — `SimilaritySearch.ivfPqResidualIndex`): raw-
    * sampled centroids, codebooks trained on the residuals x − c(x),
    * coded lists keyed by the raw assignment carrying m codes + the
    * reconstruction norm. Layout/versioning identical to `writeIvfPq`;
    * own table names, so both IVF-PQ forms can share a store path. */
  def writeIvfPqResidual(corpus: DataFrame, m: Int, dim: Int, codeMod: Int,
                         centroidMod: Int, storePath: String,
                         sampleFilter: org.apache.spark.sql.Column = lit(true)): Unit =
    Compaction.init(corpus.sparkSession, storePath, s"$storePath/$IvfPqResLists",
        "writeIvfPqResidual") { dir =>
      val (cents, books, codedLists) = SimilaritySearch.ivfPqResidualIndex(
        corpus, m, dim, codeMod, centroidMod, sampleFilter)
      cents.coalesce(1).write.mode("overwrite").parquet(s"$storePath/$IvfPqResCentroids")
      books.coalesce(1).write.mode("overwrite").parquet(s"$storePath/$IvfPqResCodebooks")
      codedLists.repartition(col("cent_id")).sortWithinPartitions("cent_id", "vec_id")
        .write.mode("overwrite").parquet(dir)
    }

  /** Residual IVF-PQ top-k served from the persisted index: queries rank
    * against the stored raw centroids, probed lists decode against the
    * stored residual codebooks, candidates reconstruct as c(x) +
    * decode(codes) and ADC-score against their stored norms. */
  def ivfPqResidualTopK(spark: SparkSession, storePath: String,
                        queries: DataFrame, nprobe: Int, k: Int): DataFrame =
    SimilaritySearch.ivfPqResidualServe(
      readTree(spark, s"$storePath/$IvfPqResLists"),
      spark.read.parquet(s"$storePath/$IvfPqResCodebooks"),
      spark.read.parquet(s"$storePath/$IvfPqResCentroids"),
      queries, nprobe, k)

  /** Compact the residual IVF-PQ coded-list table (see `compactSrp`). */
  def compactIvfPqResidual(spark: SparkSession, storePath: String): Unit =
    compactTable(spark, storePath, IvfPqResLists, "cent_id")

  /** The persisted hyperplanes, reconstructed for query-side bucketing
    * (collect is bounded by L — the plane count, not the corpus). */
  def readPlanes(spark: SparkSession, storePath: String): Seq[Seq[Int]] =
    spark.read.parquet(s"$storePath/$SrpPlanes")
      .orderBy(col("plane_id"))
      .collect()
      .map(_.getSeq[Float](1).map(_.toInt).toSeq)
      .toSeq

  /** A versioned table's SERVED rows: the marker-committed batch
    * directories of the served version — the base batch plus every
    * committed append/streaming batch, never an uncommitted partial. The
    * version marker resolves ONCE here and the batch list is pinned at
    * call time, so a frame built over this stays on its view however
    * often it re-evaluates, even across a concurrent compaction (the
    * previous version is retained — `Compaction`'s reader guarantee). */
  private def readTree(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(Compaction.served(spark, path): _*)

  /** Compact the SRP bucket table: fold the committed batch directories
    * (base + appends + streaming ingest) into one freshly-partitioned
    * base batch in the NEXT version. High batch counts hit the
    * small-files wall — listing plus one parquet footer per tiny file
    * dominates serving cost long before data size does; compaction
    * restores the single bucket-partitioned, in-file-sorted layout
    * `writeSrp` produces, so row-group pruning covers the whole corpus
    * again. Served top-k is IDENTICAL before and after (same rows, same
    * layout contract — spec-gated). The swap is the versioned marker-last
    * protocol (`Compaction`): concurrent READERS are safe — open frames
    * keep their resolved version, new frames see old-or-new, never a half
    * tree. Concurrent WRITERS are excluded by the store lease — an append
    * racing the point-in-time copy would land in the superseded version,
    * so it now fails loudly instead. */
  def compactSrp(spark: SparkSession, storePath: String): Unit =
    compactTable(spark, storePath, SrpBuckets, "bucket")

  /** Compact the IVF inverted-list table (see `compactSrp`). */
  def compactIvf(spark: SparkSession, storePath: String): Unit =
    compactTable(spark, storePath, IvfLists, "cent_id")

  private def compactTable(spark: SparkSession, storePath: String,
                           table: String, key: String): Unit =
    Compaction.compact(spark, storePath, s"$storePath/$table", s"compact:$table") {
      (vdir, dest) =>
        spark.read.parquet(Compaction.committed(spark, vdir): _*)
          .repartition(col(key)).sortWithinPartitions(key, "vec_id")
          .write.mode("overwrite").parquet(dest)
    }

  /** SRP top-k served from the persisted index: queries are bucketed with
    * the stored planes and hash-joined against the bucket table. */
  def srpTopK(spark: SparkSession, storePath: String, queries: DataFrame,
              k: Int): DataFrame =
    SimilaritySearch.srpServe(
      readTree(spark, s"$storePath/$SrpBuckets"),
      queries, readPlanes(spark, storePath), k)

  /** IVF top-k served from the persisted index: queries rank against the
    * stored centroids and probe the persisted inverted lists. */
  def ivfTopK(spark: SparkSession, storePath: String, queries: DataFrame,
              nprobe: Int, k: Int): DataFrame =
    SimilaritySearch.ivfServe(
      readTree(spark, s"$storePath/$IvfLists"),
      spark.read.parquet(s"$storePath/$IvfCentroids"),
      queries, nprobe, k)

  /** Measure-and-choose the serving `nprobe` AGAINST the persisted index
    * (`SimilaritySearch.tuneNProbe` over the stored lists + centroids) —
    * the deploy-time answer to what q55's serving face should be called
    * with. */
  def tuneNProbe(spark: SparkSession, storePath: String, queries: DataFrame,
                 k: Int, maxNProbe: Int,
                 targetNum: Int, targetDen: Int): DataFrame =
    SimilaritySearch.tuneNProbe(
      readTree(spark, s"$storePath/$IvfLists"),
      spark.read.parquet(s"$storePath/$IvfCentroids"),
      queries, k, maxNProbe, targetNum, targetDen)
}
