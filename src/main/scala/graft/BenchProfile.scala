package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Stage-level profile of single queries: `BenchProfile <sfDir> <q1,q2,..> [reps]`.
  *
  * Same session shape and timed run as Bench ([[Harness]]) but with a
  * listener that attributes the wall clock to stages: per stage the
  * submit→complete wall, task-time sum, CPU sum, GC sum, shuffle
  * read/write bytes and row counts. The gap between the query wall and
  * the union of stage intervals is driver-side work (planning, codegen,
  * file listing, commit) — the number that tells you whether to optimize
  * the plan or the execution.
  */
object BenchProfile {
  final case class StageRec(id: Int, attempt: Int, name: String, tasks: Int,
      submitMs: Long, completeMs: Long, taskTimeMs: Long, cpuMs: Long,
      gcMs: Long, inBytes: Long, shufReadB: Long, shufWriteB: Long,
      spillB: Long, outRows: Long)

  def main(args: Array[String]): Unit = {
    if (!sys.props.contains("graft.stream.lifetimes"))
      sys.props("graft.stream.lifetimes") = "1"
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = Harness.session()

    val stages = mutable.ArrayBuffer[StageRec]()
    val submitTimes = mutable.Map[(Int, Int), Long]()
    var collect = false
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (collect) submitTimes.synchronized {
          submitTimes((s.stageInfo.stageId, s.stageInfo.attemptNumber())) =
            System.currentTimeMillis()
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (collect) {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val sub = submitTimes.synchronized {
            submitTimes.getOrElse((si.stageId, si.attemptNumber()),
              si.submissionTime.getOrElse(0L))
          }
          stages.synchronized {
            stages += StageRec(si.stageId, si.attemptNumber(), si.name,
              si.numTasks, sub,
              si.completionTime.getOrElse(System.currentTimeMillis()),
              m.executorRunTime, m.executorCpuTime / 1000000L,
              m.jvmGCTime, m.inputMetrics.bytesRead,
              m.shuffleReadMetrics.totalBytesRead,
              m.shuffleWriteMetrics.bytesWritten,
              m.memoryBytesSpilled + m.diskBytesSpilled,
              m.outputMetrics.recordsWritten)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    Harness.timed(spark, "q01_pricing_summary", sfDir) // warmup, as Bench

    def mb(b: Long): String = f"${b / 1048576.0}%8.1f"
    names.foreach { name =>
      (1 to reps).foreach { rep =>
        stages.clear(); submitTimes.clear()
        collect = true
        val wall = Harness.timed(spark, name, sfDir).fold(e => throw e, identity)
        collect = false
        // merge overlapping stage intervals → executor-occupied wall
        val iv = stages.map(s => (s.submitMs, s.completeMs)).sortBy(_._1)
        var occupied = 0L
        var curS = Long.MinValue; var curE = Long.MinValue
        iv.foreach { case (s, e) =>
          if (s > curE) { occupied += (curE - curS).max(0L); curS = s; curE = e }
          else if (e > curE) curE = e
        }
        occupied += (curE - curS).max(0L)
        println(f"\n===== $name rep $rep: wall $wall%.2f s, stage-occupied ${occupied / 1000.0}%.2f s, driver-gap ${wall - occupied / 1000.0}%.2f s, ${stages.size} stages =====")
        println(f"${"stage"}%-7s ${"wall_s"}%7s ${"ttime_s"}%8s ${"cpu_s"}%7s ${"gc_s"}%6s ${"tasks"}%5s ${"in_MB"}%8s ${"sRd_MB"}%8s ${"sWr_MB"}%8s  name")
        stages.sortBy(s => -(s.completeMs - s.submitMs)).take(25).foreach { s =>
          println(f"${s.id}%-7d ${(s.completeMs - s.submitMs) / 1000.0}%7.2f ${s.taskTimeMs / 1000.0}%8.2f ${s.cpuMs / 1000.0}%7.2f ${s.gcMs / 1000.0}%6.2f ${s.tasks}%5d ${mb(s.inBytes)} ${mb(s.shufReadB)} ${mb(s.shufWriteB)}  ${s.name.take(90)}")
        }
      }
    }
    spark.stop()
  }
}
