package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Shape of one workload's synthetic occurrence log and its ingest batches.
  *
  * Contexts draw their degree from a capped discrete Pareto (`degMin`,
  * `degAlpha`, `degCap`), pick a topic, and draw each occurrence from that
  * topic's Zipf-ranked items with probability `topicShare` (else from the
  * global Zipf ranking). Draws are with replacement, so a context may hold
  * an item more than once (crosstab cells are counts). */
final case class Shape(
    items: Int,
    contexts: Int,
    degMin: Double,
    degAlpha: Double,
    degCap: Int,
    zipf: Double,
    topics: Int,
    topicShare: Double,
    baseShare: Double,      // contexts in the base log; the rest arrive in batches
    batches: Int,           // ingest batches generated (one of them a retraction)
    appendsPerBatch: Int,   // existing contexts that receive new occurrences
    retractBatch: Int,      // index of the retraction batch, -1 for none
    retractWhole: Int,      // whole contexts removed by the retraction batch
    retractCells: Int)      // single occurrences removed by the retraction batch

/** One ingest batch: `retract` batches remove `occ`, the others add it. */
final case class Batch(retract: Boolean, occ: Array[(Long, Long)])

/** Everything a run feeds the engine, derived only from (shape, seed). */
final class Gen(val shape: Shape, val seed: Long) {
  import shape._

  private val rnd = new SplittableRandom(seed)

  // Item id of each popularity rank: a seeded permutation, so ids carry no
  // popularity order the engine could exploit.
  private val idOfRank: Array[Long] = {
    val a = Array.tabulate(items)(i => (i + 1).toLong)
    var i = items - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  private def zipfCdf(n: Int): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, zipf))
    var s = 0.0
    val c = new Array[Double](n)
    for (i <- 0 until n) { s += w(i); c(i) = s }
    for (i <- 0 until n) c(i) /= s
    c
  }
  private val globalCdf = zipfCdf(items)
  // Topic t owns the ranks congruent to t mod topics; within a topic the
  // items keep their global popularity order.
  private val topicRanks: Array[Array[Int]] =
    Array.tabulate(topics)(t => (t until items by topics).toArray)
  private val topicCdf: Array[Array[Double]] = topicRanks.map(r => zipfCdf(r.length))

  private def pick(cdf: Array[Double], r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private def drawItem(topic: Int, r: SplittableRandom): Long =
    if (r.nextDouble() < topicShare)
      idOfRank(topicRanks(topic)(pick(topicCdf(topic), r)))
    else idOfRank(pick(globalCdf, r))

  private def degree(r: SplittableRandom): Int = {
    val u = 1.0 - r.nextDouble() // (0, 1]
    math.max(1, math.min(degCap, (degMin / math.pow(u, 1.0 / degAlpha)).toInt))
  }

  private val topicOf: Array[Int] = Array.fill(contexts)(rnd.nextInt(topics))

  // The full generated history, one item list per context.
  private val contextItems: Array[ArrayBuffer[Long]] = Array.tabulate(contexts) { c =>
    val r = rnd.split()
    val d = degree(r)
    ArrayBuffer.fill(d)(drawItem(topicOf(c), r))
  }

  val baseContexts: Int = math.round(contexts * baseShare).toInt

  private def occOf(ctxs: Range, state: Array[ArrayBuffer[Long]]): Array[(Long, Long)] =
    ctxs.iterator.flatMap(c => state(c).iterator.map(i => (i, c.toLong + 1))).toArray

  /** The complete log (build workloads). */
  def fullLog: Array[(Long, Long)] = occOf(0 until contexts, contextItems)

  /** The base log the ingest snapshot starts from. */
  def baseLog: Array[(Long, Long)] = occOf(0 until baseContexts, contextItems)

  /** (batches, surviving history after each batch). Batch b brings the
    * next slice of not-yet-seen contexts plus appends to existing
    * contexts; the retraction batch instead removes whole contexts and
    * single occurrences that exist at that point of the history. */
  lazy val ingest: (IndexedSeq[Batch], IndexedSeq[Array[(Long, Long)]]) = {
    val state = Array.tabulate(contexts)(c =>
      if (c < baseContexts) ArrayBuffer.from(contextItems(c)) else ArrayBuffer.empty[Long])
    val r = rnd.split()
    val appendBatches = batches - (if (retractBatch >= 0) 1 else 0)
    val perBatch = (contexts - baseContexts) / math.max(1, appendBatches)
    var nextCtx = baseContexts
    val out = ArrayBuffer.empty[Batch]
    val hist = ArrayBuffer.empty[Array[(Long, Long)]]
    def live: IndexedSeq[Int] = (0 until nextCtx).filter(c => state(c).nonEmpty)
    for (b <- 0 until batches) {
      val rows = ArrayBuffer.empty[(Long, Long)]
      if (b == retractBatch) {
        val alive = live
        val whole = (0 until retractWhole).map(_ => alive(r.nextInt(alive.size))).distinct
        for (c <- whole) {
          state(c).foreach(i => rows += ((i, c.toLong + 1)))
          state(c).clear()
        }
        val rest = live
        for (_ <- 0 until retractCells) {
          val c = rest(r.nextInt(rest.size))
          if (state(c).nonEmpty) {
            val k = r.nextInt(state(c).size)
            rows += ((state(c)(k), c.toLong + 1))
            state(c).remove(k)
          }
        }
        out += Batch(retract = true, rows.toArray)
      } else {
        val alive = live
        for (_ <- 0 until appendsPerBatch) {
          val c = alive(r.nextInt(alive.size))
          for (_ <- 0 until 1 + r.nextInt(3)) {
            val i = drawItem(topicOf(c), r)
            state(c) += i
            rows += ((i, c.toLong + 1))
          }
        }
        val end = math.min(contexts, nextCtx + perBatch)
        for (c <- nextCtx until end) {
          state(c) ++= contextItems(c)
          contextItems(c).foreach(i => rows += ((i, c.toLong + 1)))
        }
        nextCtx = end
        out += Batch(retract = false, rows.toArray)
      }
      hist += occOf(0 until nextCtx, state)
    }
    (out.toIndexedSeq, hist.toIndexedSeq)
  }

  /** Item dictionary: every catalog id with a stable key. */
  def dictionary: Array[(Long, String)] =
    Array.tabulate(items)(i => ((i + 1).toLong, f"sku-${i + 1}%07d"))

  /** Closed-loop lookup ids: Zipf-popular catalog items, with a share of
    * ids that are absent from the catalog (and so from every store).
    * Streams are independent sequences (set-up warms on its own). */
  def lookupIds(n: Int, stream: Int = 0): Array[Long] = {
    val r = new SplittableRandom(seed * 31 + 7 + stream * 1000003L)
    Array.fill(n)(
      if (r.nextDouble() < Gen.AbsentLookupShare) items + 1L + r.nextInt(items)
      else idOfRank(pick(globalCdf, r)))
  }

  /** Items sampled for the independent store check (popular and rare). */
  def checkItems(n: Int): Array[Long] = {
    val r = new SplittableRandom(seed * 17 + 3)
    (Array.fill(n / 2)(idOfRank(pick(globalCdf, r))) ++
      Array.fill(n - n / 2)(idOfRank(r.nextInt(items)))).distinct
  }
}

object Gen {
  /** Share of lookup ids that are absent from the catalog. */
  val AbsentLookupShare = 0.05
}
