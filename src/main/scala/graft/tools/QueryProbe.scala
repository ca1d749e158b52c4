package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Dev probe: run one SparkEntry query with a stage listener and print
  * the top stages by executor run time — the "which operator is the
  * wall" decomposition when the UI is disabled — and the profiled rep's
  * generated-code compilations (Spark's codegen-cache misses) with the
  * time Janino spent on them.
  *
  * usage: run-graft.sh graft.tools.QueryProbe <queryName>
  *   env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as usual. */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus, cpus)
    case class St(name: String, details: String, ms: Long, tasks: Int,
                  shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double,
                  inputMb: Double, outRows: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        stages.add(St(si.name.takeWhile(_ != '\n').take(80),
          si.rddInfos.sortBy(_.id).map(r => r.name.takeWhile(_ != '\n').take(30))
            .mkString(" > ").take(400),
          tm.executorRunTime, si.numTasks,
          tm.shuffleReadMetrics.totalBytesRead / 1e6,
          tm.shuffleWriteMetrics.bytesWritten / 1e6,
          tm.diskBytesSpilled / 1e6,
          tm.inputMetrics.bytesRead / 1e6,
          tm.outputMetrics.recordsWritten))
      }
    })
    val fn = graft.SparkEntry.queries(name)
    // PROBE_REPS > 1: warm-run stage profile (reps-1 untimed warm-ups
    // build the shared caches, the LAST rep is profiled) — matches what
    // a bench median sees
    val reps = sys.env.getOrElse("PROBE_REPS", "1").toInt
    for (_ <- 1 until reps) {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      stages.clear()
    }
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    val tCons = (System.nanoTime() - t0) / 1e9
    df.write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"[probe] construction=$tCons%.1f s, action=${wall - tCons}%.1f s")
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
    val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    println(f"[probe] codegen compilations=$compiled, compile=$compileMs%.1f ms")
    import scala.jdk.CollectionConverters._
    val st = stages.asScala.toSeq
    println(f"[probe] $name wall=$wall%.1f s, stages=${st.size}, totalTaskSec=${st.map(_.ms).sum / 1e3}%.1f")
    st.sortBy(-_.ms).take(25).foreach { s =>
      println(f"[stage] ${s.ms / 1e3}%8.1f s tasks=${s.tasks}%4d in=${s.inputMb}%7.1f MB shufR=${s.shuffleReadMb}%7.1f MB shufW=${s.shuffleWriteMb}%7.1f MB spill=${s.spillMb}%6.1f MB  ${s.name}")
      if (sys.env.contains("PROBE_DETAILS")) println(s"  [det] ${s.details}")
    }
    graft.core.Caches.clearAll(spark)
    spark.stop()
    graft.core.Scratch.cleanup()
  }
}
