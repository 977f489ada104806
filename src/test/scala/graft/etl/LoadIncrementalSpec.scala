package graft.etl

import java.nio.file.Files
import java.sql.{DriverManager, Timestamp}
import java.util.Properties

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{SaveMode, TestInternals}

import graft.SparkSpec

/** `Pipelines.loadIncremental` runs each table's plan once, inside the
  * sink's staging write: no count pre-pass, no cache, and the row count it
  * returns comes from the promotion; a landed batch opens only the files
  * past the watermark. Hermetic: the CDC files are written
  * by the spec ([[CdcFiles]]) and the target is embedded Derby.
  */
class LoadIncrementalSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:loaddb;create=true"
  private val clock = Some(Timestamp.valueOf("2023-09-05 00:00:00"))
  private val tables = Seq("tracking", "events")

  private def cacheEntries: Int = TestInternals.cachedEntries(spark)

  /** Bytes `body`'s tasks read from their input files. */
  private def bytesReadBy(body: => Unit): Long = {
    val n = new java.util.concurrent.atomic.AtomicLong
    withListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) { n.addAndGet(e.taskMetrics.inputMetrics.bytesRead); () }
    })(body)
    n.get
  }

  private def rowCount(table: String): Long = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM $table")
        rs.next(); rs.getLong(1)
      } finally st.close()
    } finally conn.close()
  }

  private def pipeline(t: String, dir: String, wm: Option[String]) =
    if (t == "tracking") Pipelines.tracking(spark, Seq(dir), wm, clock)
    else Pipelines.events(spark, Seq(dir), wm, clock)

  test("loadIncremental: no more jobs than a plain JDBC write of the same " +
    "plan, returns the rows committed, caches nothing; no new file → 0") {
    assume(!isClusterMaster,
      "embedded in-memory Derby is per-JVM: executor tasks would see an " +
      "empty instance; multi-JVM sink coverage lives in the PG15 fixture " +
      "specs (PostgresUpsertSpec / StreamingSpec cluster lane)")
    val dir = Files.createTempDirectory("load_in")
    CdcFiles.write(dir, 3)
    def load(t: String): Long = Pipelines.loadIncremental(spark,
      Seq(dir.toString), url, s"load_$t", t, new Properties(), clock)

    // bulk load into absent targets
    tables.foreach { t =>
      val cachedBefore = cacheEntries
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      var n = -1L
      val loadJobs = jobsOf { n = load(t) }
      val writeJobs = jobsOf {
        pipeline(t, dir.toString, None).write.mode(SaveMode.Overwrite)
          .jdbc(url, s"scratch_$t", new Properties())
      }
      assert(writeJobs > 0)
      assert(loadJobs <= writeJobs,
        s"$t: loadIncremental launched $loadJobs jobs, a plain write $writeJobs")
      assert(n > 0 && n === rowCount(s"load_$t"),
        s"$t: the call must return exactly the rows the empty target gained")
      assert(rowCount(s"scratch_$t") === n)
      assert(cacheEntries === cachedBefore, s"$t: the load left a cache entry")
      assert(spark.sparkContext.getPersistentRDDs.keySet === persistedBefore)
    }

    // a batch landing on the loaded targets: the call returns the batch's
    // rows, those of the new file only
    val wm = JdbcUpsert.lastUploadedFile(spark, url, "load_tracking")
    assert(wm === Some(CdcFiles.names(2)))
    CdcFiles.write(dir)
    tables.foreach { t =>
      val batch = pipeline(t, dir.toString, wm).count()
      assert(batch > 0)
      assert(load(t) === batch)
      assert(JdbcUpsert.lastUploadedFile(spark, url, s"load_$t") ===
        Some(CdcFiles.names(3)))
    }

    // nothing past the watermark: 0 rows, watermark and table unchanged
    tables.foreach { t =>
      val before = rowCount(s"load_$t")
      assert(load(t) === 0L)
      assert(rowCount(s"load_$t") === before)
      assert(JdbcUpsert.lastUploadedFile(spark, url, s"load_$t") ===
        Some(CdcFiles.names(3)))
    }
  }

  test("a landed batch reads only the files past the watermark") {
    assume(!isClusterMaster, "embedded in-memory Derby is per-JVM")
    val dir = Files.createTempDirectory("load_prune")
    CdcFiles.write(dir, 2)
    def load(t: String): Long = Pipelines.loadIncremental(spark,
      Seq(dir.toString), url, s"prune_$t", t, new Properties(), clock)
    tables.foreach(t => assert(load(t) > 0))

    // the batch lands next to the two loaded files
    CdcFiles.write(dir)
    val newBytes = CdcFiles.names.drop(2).map(f => Files.size(dir.resolve(f))).sum
    tables.foreach { t =>
      var n = 0L
      val read = bytesReadBy { n = load(t) }
      assert(n > 0)
      assert(read === newBytes,
        s"$t: the batch read $read bytes, the files past the watermark hold $newBytes")
    }
  }
}
