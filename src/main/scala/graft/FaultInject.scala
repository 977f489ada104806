package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fault-injection proof (the recovery leg of the multi-JVM story):
  * `kill -9` one executor JVM MID-JOB under `local-cluster[2,C,MB]` and
  * assert the job completes with BIT-IDENTICAL output vs. an unkilled
  * run. This exercises the machinery a 1000-executor fleet leans on
  * daily — task retry on the surviving executor, FetchFailed-driven
  * parent-stage resubmission for the lost shuffle files, standalone
  * worker executor relaunch — none of which `local[*]` can even
  * represent (there is no executor process to lose).
  *
  * Mode:
  *   batch <query> [killAfterMs]  — run a registered SparkEntry query
  *     twice in fresh sessions (baseline, then with one executor killed
  *     `killAfterMs` after the action starts); compare sorted row
  *     strings (Double.toString is injective, the NaN-safe compare
  *     convention).
  *
  * Usage (the local-cluster recipe from SCALE.md):
  *   sbt package && export SPARK_SCALA_VERSION=2.13
  *   SPARK_GRAFT_JARS=target/scala-2.13/<app>.jar \
  *   SPARK_GRAFT_CHECKPOINT=reliable:/tmp/graft_ckpt \
  *   sbt -batch "runMain graft.FaultInject /root/testdata/sf0.1 batch g02_pagerank"
  *
  * For checkpointed queries (g02/g04/d05/g08...) set
  * SPARK_GRAFT_CHECKPOINT=reliable:<dir>: the default `local` strategy
  * keeps checkpoint blocks on executors (lineage truncated, no recompute
  * path), so a kill that lands after the first consumed checkpoint block
  * is unrecoverable by design — `reliable` is the strategy whose
  * recovery this proof exists to exercise.
  *
  * Exit code 0 iff outputs match (and, in the kill leg, an executor was
  * actually killed — a too-late kill degrades to a vacuous pass, so it
  * FAILS instead).
  */
object FaultInject {
  /** The SPARK_GRAFT_CHECKPOINT setting GraftSession reads is the one
    * the batch kill leg needs: checkpointed queries (g02, d05, ...) must
    * run under `reliable:<dir>` to exercise the recovery path
    * Checkpoints.scala documents — the default `local` strategy
    * truncates lineage with executor-resident blocks and is
    * unrecoverable once a kill lands after the first consumed
    * checkpoint block. */
  private def session(): SparkSession = GraftSession(
    sys.env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[2,8,4096]"), "16")

  /** PIDs of live executor JVMs OF THE GIVEN APPLICATION (separate
    * processes under local-cluster; empty under local[*]). Executors
    * carry `--app-id <id>` on their command line; matching on it scopes
    * the scan to the session under test — a bare
    * CoarseGrainedExecutorBackend match could hit a lingering
    * baseline-session executor (SparkSession.stop() returns before the
    * standalone worker reaps the process) or an unrelated concurrent
    * job, making the kill gate vacuous. */
  private def executorPids(appId: String): Seq[ProcessHandle] = {
    import scala.jdk.CollectionConverters._
    ProcessHandle.allProcesses().iterator().asScala
      .filter(_.info().commandLine().map[Boolean] { cl =>
        cl.contains("CoarseGrainedExecutorBackend") &&
          cl.contains(s"--app-id $appId")
      }.orElse(false))
      .toSeq
  }

  /** Kill one executor of `appId` after `delayMs`; returns whether one
    * died. Scans briefly past the deadline (executor registration can
    * lag session creation) but FAILS — returns false — if no executor
    * of this application ever appears: killing nothing, or something
    * else's executor, must not satisfy the anti-vacuous gate. */
  private def killOneAfter(appId: String, delayMs: Long): java.util.concurrent.Future[Boolean] = {
    val ex = java.util.concurrent.Executors.newSingleThreadExecutor()
    val f = ex.submit(new java.util.concurrent.Callable[Boolean] {
      def call(): Boolean = {
        Thread.sleep(delayMs)
        val deadline = System.nanoTime() + 5000L * 1000 * 1000
        var es = executorPids(appId)
        while (es.isEmpty && System.nanoTime() < deadline) {
          Thread.sleep(200)
          es = executorPids(appId)
        }
        if (es.isEmpty) {
          System.err.println(
            s"[fault] FAIL: no executor of app $appId found to kill")
          false
        } else es.headOption.exists { p =>
          val pid = p.pid()
          val ok = p.destroyForcibly()
          System.err.println(
            s"[fault] kill -9 executor pid=$pid app=$appId -> $ok")
          ok
        }
      }
    })
    ex.shutdown()
    f
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val mode = args(1)
    val killAfterMs = args.lift(3).map(_.toLong).getOrElse(2500L)

    val ok = mode match {
      case "batch" =>
        val query = args(2)
        val fn = SparkEntry.queries(query)
        // baseline: fresh session, no interference
        val s1 = session()
        val want = rows(fn(s1, sfDir))
        s1.stop()
        // kill leg: fresh session (fresh executors), kill one mid-job —
        // scoped to THIS session's applicationId so a lingering s1
        // executor (stop() returns before the worker reaps it) can't
        // absorb the kill and leave the measured job unkilled.
        val s2 = session()
        val killed = killOneAfter(s2.sparkContext.applicationId, killAfterMs)
        val got = rows(fn(s2, sfDir))
        s2.stop()
        val k = killed.get()
        if (!k) System.err.println(
          "[fault] FAIL: no executor was killed (job finished too fast? " +
            "raise killAfterMs granularity or use a bigger SF)")
        if (got != want) System.err.println(
          s"[fault] FAIL: ${got.diff(want).size} rows differ from baseline")
        println(s"""{"mode":"batch","query":"$query","killed":$k,""" +
          s""""rows":${want.size},"match":${got == want}}""")
        k && got == want

      case other => System.err.println(s"unknown mode: $other"); false
    }
    if (!ok) sys.exit(1)
  }
}
