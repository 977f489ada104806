package graft.etl

import java.nio.file.Files
import java.sql.{DriverManager, Timestamp}
import java.util.Properties

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SaveMode, TestInternals}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, max, when}
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.etl.pgwire.{PgServerFixture, PgWireDriver}

/** `Pipelines.loadIncremental` runs each table's plan once, inside the
  * sink's staging write: no count pre-pass, no cache, and the row count it
  * returns comes from the promotion; a landed batch opens only the files
  * past the watermark; landings loaded in sequence come out as the latest
  * landing of each document. Hermetic: the CDC files are written by the
  * spec ([[CdcFiles]]) and the target is embedded Derby, plus a PG15
  * server where the fixture runs.
  */
class LoadIncrementalSpec extends SparkSpec with BeforeAndAfterAll {

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

  private var pgServer: PgServerFixture.Running = _
  override def afterAll(): Unit = {
    try if (pgServer != null) PgServerFixture.stop(pgServer)
    finally super.afterAll()
  }

  private def pipeline(t: String, dir: String, wm: Option[String]) =
    if (t == "tracking") Pipelines.tracking(spark, Seq(dir), wm, clock)
    else Pipelines.events(spark, Seq(dir), wm, clock)

  test("loadIncremental: no more jobs than a plain JDBC write of the same " +
    "plan, returns the rows committed, caches nothing; no new file → 0") {
    assume(!isClusterMaster,
      "embedded in-memory Derby is per-JVM: executor tasks would see an " +
      "empty instance; multi-JVM sink coverage lives in the PG15 fixture " +
      "specs (PostgresUpsertSpec, and the PG15 landing test below)")
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

  /** One landing directory loaded into `${prefix}_tracking` and
    * `${prefix}_events`; each [[land]] adds CDC files and loads both tables.
    */
  private final class Landings(url: String, props: Properties, prefix: String) {
    private val dir = Files.createTempDirectory(s"${prefix}_land")
    def load(t: String): Long = Pipelines.loadIncremental(spark,
      Seq(dir.toString), url, s"${prefix}_$t", t, props, clock)
    def table(t: String): DataFrame = spark.read.jdbc(url, s"${prefix}_$t", props)

    /** Lands the CDC files up to `n` and loads both tables. */
    def land(n: Int): Unit = {
      CdcFiles.write(dir, n)
      tables.foreach(t => assert(load(t) > 0, s"$t: the landing must commit rows"))
    }

    /** The table's rows and the batch pipeline's latest-landing-wins rows
      * over every file landed so far, in the same columns. */
    def loadedAndExpected(t: String): (Seq[String], Seq[String]) =
      (rows(table(t), t), rows(latestBatchWins(pipeline(t, dir.toString, None)), t))
  }

  // landings are {f0,f1}, then {f2,f3}
  private val landingOf = CdcFiles.names.zipWithIndex
    .map { case (f, i) => f -> i / 2 }.toMap

  /** The promotion's delete-by-key keeps, per document, the rows of the
    * latest landing that carried it. */
  private def latestBatchWins(df: DataFrame): DataFrame = {
    val landing = landingOf.foldLeft(lit(-1)) { case (acc, (f, b)) =>
      when(col("fileName") === f, lit(b)).otherwise(acc)
    }
    df.withColumn("__b", landing)
      .withColumn("__mb", max(col("__b")).over(Window.partitionBy(col("oid__id"))))
      .filter(col("__b") === col("__mb"))
      .drop("__b", "__mb")
  }

  private val cols = Map(
    "tracking" -> (Schemas.trackingColumns ++ Schemas.auditColumns),
    "events" -> (Schemas.eventsColumns ++ Schemas.auditColumns))

  private def rows(df: DataFrame, t: String): Seq[String] =
    df.select(cols(t).map(c => col(c).cast("string")): _*).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertLatestLandingWins(l: Landings, t: String): Unit = {
    val (loaded, expected) = l.loadedAndExpected(t)
    assert(expected.nonEmpty)
    assert(loaded === expected, s"$t: the loaded table must equal latest-landing-wins")
  }

  private def assertOneRowPerKey(l: Landings): Unit = {
    val tracking = l.table("tracking")
    assert(tracking.count() > 0)
    assert(tracking.count() === tracking.select("oid__id").distinct().count(),
      "tracking must hold one row per oid__id")
  }

  /** A call with no new file commits 0 rows and leaves both tables as
    * they were. */
  private def assertNoFileNoChange(l: Landings): Unit = tables.foreach { t =>
    val before = rows(l.table(t), t)
    assert(l.load(t) === 0L)
    assert(rows(l.table(t), t) === before)
  }

  test("landings in sequence: latest landing wins (Derby)") {
    assume(!isClusterMaster, "embedded in-memory Derby is per-JVM")
    val l = new Landings(url, new Properties(), "land")
    l.land(2)
    l.land(4)
    tables.foreach(assertLatestLandingWins(l, _))
  }

  test("landings in sequence: tracking one row per oid__id (Derby)") {
    assume(!isClusterMaster, "embedded in-memory Derby is per-JVM")
    val l = new Landings(url, new Properties(), "uniq")
    l.land(2)
    assertOneRowPerKey(l)
    l.land(4)
    assertOneRowPerKey(l)
  }

  test("landings in sequence: events per landing, then no-op (Derby)") {
    assume(!isClusterMaster, "embedded in-memory Derby is per-JVM")
    val l = new Landings(url, new Properties(), "drain")
    l.land(2)
    assertLatestLandingWins(l, "events")
    l.land(4)
    assertLatestLandingWins(l, "events")
    assertNoFileNoChange(l)
  }

  test("landings in sequence: latest landing wins (PG15)") {
    assume(PgServerFixture.available, "no postgres installation in sandbox")
    PgWireDriver.ensureRegistered()
    if (pgServer == null) pgServer = PgServerFixture.start()
    val l = new Landings(pgServer.url, pgServer.props, "land")
    l.land(2)
    l.land(4)
    tables.foreach(assertLatestLandingWins(l, _))
    assertOneRowPerKey(l)
    assertNoFileNoChange(l)
  }
}
