package graft

import java.io.{IOException, OutputStream}
import java.net.URI
import java.util.concurrent.atomic.AtomicReference
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataOutputStream, FileUtil,
  FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Correlation, Crosstab, Incremental}
import graft.operators.SimilaritySearch
import graft.store._
import graft.streaming.IncrementalIngest

/** The two crash windows of the shared batch-store protocol
  * (`Compaction`), checked through every store's own write, append, read
  * and compact faces, one row per store:
  *
  *  - a `batch_<name>` directory whose marker never landed is invisible
  *    to the read face, and the retry under the same name lands;
  *  - a compaction that wrote `v1` but never advanced `LATEST` leaves `v0`
  *    served, and the retry compacts cleanly.
  *
  * A third window is the marker write itself: a crash inside it must
  * leave the previous marker whole, for the batch stores and the model
  * snapshot alike.
  *
  * Each crash image is copied from a twin store that ran the real
  * operation, so the planted files hold rows the read face would show. */
class StoreCrashSpec extends SparkSpec {
  import spark.implicits._

  /** One store's faces; `table` is its versioned root under the store
    * path. */
  private case class Faces(name: String, table: String,
                           write: String => Unit,
                           append: (String, String) => Unit,
                           read: String => Seq[String],
                           compact: String => Unit)

  private def dump(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def docs(ids: Range, tag: String) = ids.map { i =>
    (i.toLong, s"$tag$i common words here\nshared line\n$tag line $i tail")
  }.toDF("doc_id", "text")

  private val baseDocs = docs(1 to 4, "alpha")
  private val deltaDocs = docs(11 to 13, "zeta")

  private def scoped(ids: Range) =
    ids.map(i => (s"s${i % 2}", i.toLong, s"k${i % 70}")).toDF("scope", "v", "k")
  private val scopedBase = scoped(1 to 40)
  private val scopedDelta = scoped(500 to 560)

  private def vecs(ids: Range) = ids.map { i =>
    (i.toLong, Seq.tabulate(4)(k => ((i * 31 + k * 7) % 13).toFloat - 6.0f))
  }.toDF("vec_id", "embedding")

  private def urls(ids: Range) = ids.map { i =>
    (i.toLong, s"https://site${i % 3}.example.com/p$i", s"site${i % 3}.example.com", i % 5)
  }.toDF("doc_id", "url", "host", "priority")

  private def annCorpus(seed: Int, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (1L to n.toLong).map(i =>
      (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
  }
  private val annAll = annCorpus(61, 40)
  private val annBase = annAll.where(col("vec_id") % 4 =!= 0)
  private val annDelta = annAll.where(col("vec_id") % 4 === 0)
  private val annQueries = annAll.where(col("vec_id") % 8 === 0)
  private val planes = SimilaritySearch.hyperplanes(6, 8)

  private def topK(df: DataFrame) =
    dump(df.select(col("query_id"), col("vec_id"), round(col("cos"), 9).as("cos")))

  private val L = 4

  private val stores = Seq(
    Faces("DistinctLedger", DistinctLedger.Root,
      s => DistinctLedger.write(scopedBase, s, "scope", "v"),
      (s, n) => DistinctLedger.append(scopedDelta, s, "scope", "v", Some(n)),
      s => dump(DistinctLedger.estimates(spark, s)),
      s => DistinctLedger.compact(spark, s)),
    Faces("FrequencyLedger", FrequencyLedger.Root,
      s => FrequencyLedger.write(scopedBase, s, "k"),
      (s, n) => FrequencyLedger.append(scopedDelta, s, "k", Some(n)),
      s => dump(FrequencyLedger.sketch(spark, s)),
      s => FrequencyLedger.compact(spark, s)),
    Faces("QuantileLedger", QuantileLedger.Root,
      s => QuantileLedger.write(scopedBase, s, "scope", "v"),
      (s, n) => QuantileLedger.append(scopedDelta, s, "scope", "v", Some(n)),
      s => dump(QuantileLedger.histogram(spark, s)),
      s => QuantileLedger.compact(spark, s)),
    Faces("MomentsLedger", MomentsLedger.Root,
      s => MomentsLedger.write(vecs(1 to 30), s, "embedding", 4),
      (s, n) => MomentsLedger.append(vecs(31 to 50), s, "embedding", 4, Some(n)),
      s => { val m = MomentsLedger.served(spark, s)
             m.n.toString +: m.m.toSeq.map(v => (math.rint(v * 1e9) / 1e9).toString) },
      s => MomentsLedger.compact(spark, s)),
    Faces("TokenCountLedger", TokenCountLedger.Root,
      s => TokenCountLedger.write(baseDocs, s),
      (s, n) => TokenCountLedger.append(deltaDocs, s, batchName = Some(n)),
      s => dump(TokenCountLedger.counts(spark, s)),
      s => TokenCountLedger.compact(spark, s)),
    Faces("Bm25Store", Bm25Store.Root,
      s => Bm25Store.write(baseDocs, s),
      (s, n) => Bm25Store.append(deltaDocs, s, Some(n)),
      s => dump(Bm25Store.stats(spark, s)) ++
        dump(Bm25Store.topK(spark, s, Seq("common", "zeta", "tail"), 10)),
      s => Bm25Store.compact(spark, s)),
    Faces("FrontierStore", FrontierStore.Root,
      s => FrontierStore.write(urls(1 to 9), s),
      (s, n) => FrontierStore.offer(urls(7 to 14), s, Some(n)),
      s => dump(FrontierStore.seen(spark, s)),
      s => FrontierStore.compact(spark, s)),
    Faces("FrontierSchedule", FrontierSchedule.Root,
      s => FrontierSchedule.write(urls(1 to 9), s, 500L),
      (s, n) => FrontierSchedule.scheduleDelta(urls(10 to 20), s, 500L, batchId = Some(n)),
      s => dump(FrontierSchedule.state(spark, s)),
      s => FrontierSchedule.compact(spark, s)),
    Faces("LineDedupStore", LineDedupStore.LineDf,
      s => LineDedupStore.write(baseDocs, s),
      (s, n) => LineDedupStore.dedupDelta(deltaDocs, s, 2L, deltaId = Some(n)),
      s => dump(LineDedupStore.counts(spark, s)),
      s => LineDedupStore.compact(spark, s)),
    Faces("ExactSubstrStore", ExactSubstrStore.WindowHashes,
      s => ExactSubstrStore.write(baseDocs, L, s),
      (s, n) => ExactSubstrStore.dedupDelta(deltaDocs, s, L, deltaId = Some(n)),
      s => dump(ExactSubstrStore.hashes(spark, s).distinct()),
      s => ExactSubstrStore.compact(spark, s)),
    Faces("DedupStore", DedupStore.Signatures,
      s => DedupStore.write(baseDocs, 2, 16, s),
      (s, n) => DedupStore.dedupDelta(deltaDocs, s, 2, 16, 4, 0.5, deltaId = Some(n)),
      s => dump(DedupStore.signatures(spark, s).select("id")),
      s => DedupStore.compact(spark, s)),
    Faces("AnnStore SRP", AnnStore.SrpBuckets,
      s => AnnStore.writeSrp(annBase, planes, s),
      (s, n) => AnnStore.appendSrp(annDelta, s, Some(n)),
      s => topK(AnnStore.srpTopK(spark, s, annQueries, 3)),
      s => AnnStore.compactSrp(spark, s)),
    Faces("AnnStore IVF", AnnStore.IvfLists,
      s => AnnStore.writeIvf(annBase, SimilaritySearch.ivfCentroids(annBase, 7), s),
      (s, n) => AnnStore.appendIvf(annDelta, s, Some(n)),
      s => topK(AnnStore.ivfTopK(spark, s, annQueries, 2, 3)),
      s => AnnStore.compactIvf(spark, s)))

  private def copy(from: String, to: String): Unit = {
    val f = Compaction.fs(spark, from)
    FileUtil.copy(f, new Path(from), f, new Path(to), false,
      spark.sparkContext.hadoopConfiguration) shouldBe true
  }

  private def batchDirs(vdir: String): Seq[String] =
    new java.io.File(vdir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("batch_")).sorted.toSeq

  stores.foreach { st =>
    test(s"${st.name}: a batch without its marker is invisible; the retry under its name lands") {
      val store = graft.core.Scratch.dir("crash_append")
      val twin = graft.core.Scratch.dir("crash_append_twin")
      st.write(store); st.write(twin)
      val before = st.read(store)
      st.append(twin, "d1")
      val after = st.read(twin)
      after should not be before
      // crash image: the batch directory is fully written, its marker is not
      copy(s"${Compaction.currentDir(spark, s"$twin/${st.table}")}/batch_d1",
        s"${Compaction.currentDir(spark, s"$store/${st.table}")}/batch_d1")
      st.read(store) shouldBe before
      st.append(store, "d1")
      st.read(store) shouldBe after
    }

    test(s"${st.name}: a compaction that wrote v1 but not LATEST leaves v0 served; the retry compacts") {
      val store = graft.core.Scratch.dir("crash_compact")
      val twin = graft.core.Scratch.dir("crash_compact_twin")
      val root = s"$store/${st.table}"
      st.write(store); st.append(store, "d1")
      st.write(twin); st.compact(twin)
      val before = st.read(store)
      st.read(twin) should not be before
      // crash image: v1 holds a committed base batch of a stale copy that
      // misses d1, and LATEST still names v0
      copy(s"$twin/${st.table}/v1", s"$root/v1")
      Compaction.currentVersion(spark, root) shouldBe Some(0L)
      st.read(store) shouldBe before
      st.compact(store)
      Compaction.currentVersion(spark, root) shouldBe Some(1L)
      st.read(store) shouldBe before
      batchDirs(s"$root/v1") shouldBe Seq("batch_base")
    }
  }

  test("a torn LATEST write leaves the previous version served: a batch store and the model snapshot") {
    TornMarkerFs.register(spark.sparkContext.hadoopConfiguration)
    val dir = s"${TornMarkerFs.Scheme}://${graft.core.Scratch.dir("crash_torn")}"
    val store = s"$dir/ledger"
    FrequencyLedger.write(scopedBase, store, "k")
    FrequencyLedger.append(scopedDelta, store, "k", Some("d1"))
    val before = dump(FrequencyLedger.sketch(spark, store))
    TornMarkerFs.arm(store)
    an[IOException] should be thrownBy FrequencyLedger.compact(spark, store)
    Compaction.currentVersion(spark, s"$store/${FrequencyLedger.Root}") shouldBe Some(0L)
    dump(FrequencyLedger.sketch(spark, store)) shouldBe before

    val state = s"$dir/state"
    val b0 = Seq((1L, 10L), (2L, 10L), (1L, 11L), (3L, 11L)).toDF("item_id", "reference_id")
    IncrementalIngest.applyBatch(b0, 0L, state)
    TornMarkerFs.arm(state)
    an[IOException] should be thrownBy IncrementalIngest.applyBatch(
      Seq((2L, 12L), (3L, 12L)).toDF("item_id", "reference_id"), 1L, state)
    pairMap(Incremental.pairs(IncrementalIngest.loadLatest(spark, state).get)) shouldBe
      pairMap(Correlation.sparsePairs(Crosstab.build(b0)))
  }
}

/** The local file system under the test scheme `torn`, with one fault:
  * once armed for a root, the next write of a `LATEST` marker file under
  * it is torn — the file is created (truncating an existing one) and the
  * write then fails, as a crash inside the write would leave it. */
class TornMarkerFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = TornMarkerFs.Uri
}) {
  override def getScheme: String = TornMarkerFs.Scheme

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    if (!f.getName.contains("LATEST") || !TornMarkerFs.tear(f)) out
    else {
      out.close()
      new FSDataOutputStream(new OutputStream {
        def write(b: Int): Unit = throw new IOException(s"torn marker write: $f")
      }, null)
    }
  }
}

object TornMarkerFs {
  val Scheme = "torn"
  val Uri: URI = URI.create(s"$Scheme:///")

  private val armed = new AtomicReference[String]()

  /** Tear the next marker write under `root`. */
  def arm(root: String): Unit = armed.set(new Path(root).toUri.getPath)

  private def tear(f: Path): Boolean = {
    val root = armed.get()
    root != null && f.toUri.getPath.startsWith(root) && armed.compareAndSet(root, null)
  }

  /** Serve the scheme through `FileSystem` (uncached, so every lookup
    * sees the fault) and `FileContext`. */
  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[TornMarkerFs].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[TornMarkerAfs].getName)
  }
}

class TornMarkerAfs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new TornMarkerFs, conf, TornMarkerFs.Scheme, false)
