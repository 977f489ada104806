package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession, TestInternals}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the test suite (one per suite), from
  * the engine's one session factory, [[GraftSession]], so the specs run
  * under the settings the mains run under.
  *
  * GRAFT_TEST_MASTER overrides the master (e.g. `local-cluster[2,4,3072]`
  * to run a suite against REAL executor JVMs); SPARK_GRAFT_JARS must then
  * carry the packaged main+test jars (`sbt package Test/package`) so
  * executor-side classloading can resolve both engine classes and test
  * closures, and SPARK_GRAFT_EXECUTOR_MEM sizes the executors — see
  * [[ClusterEnv]]. Default: plain local[4], no jar shipping. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    GraftSession(sys.env.getOrElse("GRAFT_TEST_MASTER", "local[4]"), "4")

  def sf(dir: String): String = s"/root/testdata/$dir"

  /** True when the suite runs against real executor JVMs
    * (GRAFT_TEST_MASTER=local-cluster[..]). Two test classes are
    * inherently single-JVM and consult this: embedded-Derby fixtures
    * (per-JVM database — executor tasks would see an empty instance;
    * the PG15 fixture owns multi-JVM sink coverage) and
    * process-static observability counters (incremented in executor
    * JVMs, invisible to the driver's static). */
  protected def isClusterMaster: Boolean =
    sys.env.get("GRAFT_TEST_MASTER").exists(_.startsWith("local-cluster"))

  /** Run `body` with `listener` on the bus; every event `body` caused has
    * been delivered when this returns. */
  def withListener(listener: SparkListener)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    TestInternals.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; TestInternals.drainListenerBus(sc) } finally sc.removeSparkListener(listener)
  }

  /** Asserts that `df` was built on the driver — its analyzed plan is
    * one LocalRelation — as a driver-local lane's answer is and a
    * distributed lane's checkpointed answer never is. */
  def assertDriverLocal(df: DataFrame): Unit = {
    val plan = df.queryExecution.analyzed
    assert(plan.isInstanceOf[LocalRelation],
      s"expected the driver-local lane's answer, got:\n$plan")
  }

  /** Spark jobs `body` launches. */
  def jobsOf(body: => Unit): Int = {
    val n = new AtomicInteger
    withListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    })(body)
    n.get
  }
}
