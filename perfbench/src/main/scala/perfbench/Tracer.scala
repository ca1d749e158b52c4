package perfbench

import org.apache.spark.{SparkContext, SparkInternals}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark counters attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var singleTaskStageMs = 0L
  var taskSkew = 0.0 // max over the span's multi-task stages of max ÷ median task ms

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
    singleTaskStageMs += o.singleTaskStageMs; taskSkew = math.max(taskSkew, o.taskSkew)
  }

  def toJson: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
      s""""input_bytes":$inputBytes,"input_records":$inputRecords,"output_bytes":$outputBytes,""" +
      s""""output_records":$outputRecords,"single_task_stage_ms":$singleTaskStageMs,""" +
      s""""task_skew":${Json.num(taskSkew)}}"""
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                      var endNs: Long = -1L, counters: Counters = new Counters) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Benchmark-side tracer: spans (name, start, end, parent) kept in memory
  * and written out at exit, plus a `SparkListener` that attributes every
  * stage and task to the span active on the driver thread when the job was
  * submitted (a local property set by `span`). A disabled tracer runs the
  * body and records nothing, so untraced runs pay no listener cost. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val Key = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageTaskMs =
    new java.util.concurrent.ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  private def counters(stageId: Int): Option[Counters] =
    Option(stageSpan.get(stageId)).flatMap(i => spans.synchronized(spans.lift(i))).map(_.counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { s =>
        e.stageIds.foreach(id => stageSpan.put(id, s.toInt))
        counters(e.stageIds.headOption.getOrElse(-1)).foreach(c => c.synchronized(c.jobs += 1))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (c <- counters(e.stageId); m <- Option(e.taskMetrics)) c.synchronized {
        c.tasks += 1
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
        stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
          .synchronized(stageTaskMs.get(e.stageId) += e.taskInfo.duration)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      for (c <- counters(info.stageId)) c.synchronized {
        c.stages += 1
        val ms = for (s <- info.submissionTime; f <- info.completionTime) yield f - s
        if (info.numTasks == 1) c.singleTaskStageMs += ms.getOrElse(0L)
        Option(stageTaskMs.remove(info.stageId)).filter(_.size >= 2).foreach { ts =>
          val sorted = ts.sorted
          val med = sorted(sorted.size / 2).toDouble
          if (med > 0) c.taskSkew = math.max(c.taskSkew, sorted.last / med)
        }
      }
    }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Time `body` as a span named `name`, child of the span that is open. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sp = spans.synchronized {
        val s = Span(spans.size, name, current, System.nanoTime())
        spans += s
        s
      }
      val outer = current
      current = sp.id
      sc.setLocalProperty(Key, sp.id.toString)
      try body
      finally {
        sp.endNs = System.nanoTime()
        SparkInternals.drainListeners(sc) // counters complete; not part of the span
        current = outer
        sc.setLocalProperty(Key, if (outer >= 0) outer.toString else null)
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Spans named `name`: count, summed wall ms, summed counters. */
  def total(name: String): (Int, Double, Counters) = {
    val ss = all.filter(_.name == name)
    val c = new Counters
    ss.foreach(s => c.add(s.counters))
    (ss.size, ss.map(_.ms).sum, c)
  }

  def stop(): Unit = if (enabled) sc.removeSparkListener(listener)

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"counters":${s.counters.toJson}}"""
  }.mkString("[", ",\n", "]")
}
