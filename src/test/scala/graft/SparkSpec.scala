package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{SparkSession, TestInternals}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the test suite (one per suite).
  *
  * GRAFT_TEST_MASTER overrides the master (e.g. `local-cluster[2,4,3072]`
  * to run a suite against REAL executor JVMs); GRAFT_TEST_JARS must then
  * carry the packaged main+test jars (`sbt package Test/package`) so
  * executor-side classloading can resolve both engine classes and test
  * closures — see [[ClusterEnv]]. Default behavior is byte-identical to
  * before: plain local[4], no jar shipping. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_TEST_MASTER", "local[4]"))
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    ClusterEnv.withExecutorEnv(builder, sys.env.get("GRAFT_TEST_JARS"),
      sys.env.getOrElse("GRAFT_TEST_EXECUTOR_MEM", "2g")).getOrCreate()
  }

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

  /** Spark jobs `body` launches. */
  def jobsOf(body: => Unit): Int = {
    val n = new AtomicInteger
    withListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    })(body)
    n.get
  }
}
