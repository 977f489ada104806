package graft

import org.apache.spark.scheduler._

/** Per-query execution profile: run a named query `reps` times and print
  * job count, stage count, task count, summed executor task time, and
  * wall-clock — the local-mode stand-in for the Spark UI's stage table
  * (UI is disabled in bench runs). Distinguishes "time is in the tasks"
  * from "time is between the jobs" (scheduling/planning/broadcast
  * latency), which is the first question guide §1 asks. Dev tooling only.
  *
  * Usage: runMain graft.QueryProbe <sfDir> <q1,q2,...> [reps]
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty)
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) taskTimeMs += t.taskInfo.duration
    }
    spark.sparkContext.addSparkListener(listener)

    // warm: one throwaway pass so codegen/classloading is off the books
    try SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()
    catch { case _: Throwable => () }

    names.foreach { name =>
      (1 to reps).foreach { r =>
        jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0L
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        val wallMs = (System.nanoTime() - t0) / 1e6
        println(f"PROBE $name rep=$r wall=${wallMs / 1000}%.3fs " +
          f"jobs=$jobs stages=$stages tasks=$tasks " +
          f"taskTime=${taskTimeMs / 1000.0}%.2fs " +
          f"gapShare=${1.0 - math.min(1.0, taskTimeMs / math.max(1.0, wallMs * cpus.toInt))}%.2f")
      }
    }
    spark.stop()
  }
}
