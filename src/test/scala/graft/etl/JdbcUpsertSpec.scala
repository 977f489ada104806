package graft.etl

import java.sql.DriverManager

import graft.SparkSpec

/** Upsert sink semantics against embedded Derby (in-memory JDBC): create-
  * if-absent, latest-batch-wins per key, idempotent replay and whole-batch
  * atomicity — the properties the reference sink guarantees
  * (postgres.py:18-38).
  */
class JdbcUpsertSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:upsertdb;create=true"
  private val colTypes = Some("oid__id VARCHAR(64), payload VARCHAR(64)")

  private def tableRows(table: String): Map[String, String] = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"""SELECT "oid__id", "payload" FROM $table""")
        val b = Map.newBuilder[String, String]
        while (rs.next()) b += rs.getString(1) -> rs.getString(2)
        b.result()
      } finally st.close()
    } finally conn.close()
  }

  test("upsert: create, latest-batch-wins, idempotent replay") {
    assume(!isClusterMaster,
      "embedded in-memory Derby is per-JVM: executor tasks would see an " +
      "empty instance; multi-JVM sink coverage lives in the PG15 fixture " +
      "specs (PostgresUpsertSpec, LoadIncrementalSpec's PG15 test)")
    val t = "tracking_test"
    val batch1 = Seq(("k1", "v1"), ("k2", "v1")).toDF("oid__id", "payload")
    JdbcUpsert.upsert(batch1, url, t, "oid__id",
      createTableColumnTypes = colTypes)
    assert(tableRows(t) === Map("k1" -> "v1", "k2" -> "v1"))

    // overlapping second batch: k2 replaced, k3 added
    val batch2 = Seq(("k2", "v2"), ("k3", "v2")).toDF("oid__id", "payload")
    JdbcUpsert.upsert(batch2, url, t, "oid__id",
      createTableColumnTypes = colTypes)
    assert(tableRows(t) === Map("k1" -> "v1", "k2" -> "v2", "k3" -> "v2"))

    // replaying the same batch converges to the same state (idempotence)
    JdbcUpsert.upsert(batch2, url, t, "oid__id",
      createTableColumnTypes = colTypes)
    assert(tableRows(t) === Map("k1" -> "v1", "k2" -> "v2", "k3" -> "v2"))
  }

  test("null-key rows replay idempotently (latest batch wins for the null group)") {
    assume(!isClusterMaster,
      "embedded in-memory Derby is per-JVM: executor tasks would see an " +
      "empty instance; multi-JVM sink coverage lives in the PG15 fixture " +
      "specs (PostgresUpsertSpec, LoadIncrementalSpec's PG15 test)")
    val t = "nullkey_test"
    val batch = Seq((Option("k1"), "v1"), (Option.empty[String], "vnull"))
      .toDF("oid__id", "payload")
    JdbcUpsert.upsert(batch, url, t, "oid__id",
      createTableColumnTypes = colTypes)
    JdbcUpsert.upsert(batch, url, t, "oid__id",
      createTableColumnTypes = colTypes)
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM $t")
        rs.next()
        assert(rs.getLong(1) === 2L,
          "replaying a batch with a NULL key must not duplicate rows")
      } finally st.close()
    } finally conn.close()
  }

  test("a failed promotion commits nothing; replay after the fix matches a clean run") {
    assume(!isClusterMaster,
      "embedded in-memory Derby is per-JVM: executor tasks would see an " +
      "empty instance; multi-JVM sink coverage lives in the PG15 fixture " +
      "specs (PostgresUpsertSpec, LoadIncrementalSpec's PG15 test)")
    val types = Some("oid__id VARCHAR(64), payload VARCHAR(64), fileName VARCHAR(64)")
    val batch1 = Seq(("k1", "v1", "f1.csv"), ("k2", "v1", "f1.csv"))
      .toDF("oid__id", "payload", "fileName")
    // k2 replaced, k3 added — and k3's payload breaks the constraint below
    val batch2 = Seq(("k2", "v2", "f2.csv"), ("k3", "bad", "f2.csv"))
      .toDF("oid__id", "payload", "fileName")
    def upsert(df: org.apache.spark.sql.DataFrame, t: String): Long =
      JdbcUpsert.upsert(df, url, t, "oid__id", createTableColumnTypes = types)

    val clean = "atomic_clean"
    upsert(batch1, clean)
    assert(upsert(batch2, clean) === 2L)

    val t = "atomic_test"
    assert(upsert(batch1, t) === 2L)
    val afterBatch1 = tableRows(t)
    def sql(stmt: String): Unit = {
      val conn = DriverManager.getConnection(url)
      try { val st = conn.createStatement(); try st.execute(stmt) finally st.close() }
      finally conn.close()
    }
    sql(s"""ALTER TABLE $t ADD CONSTRAINT no_bad CHECK ("payload" <> 'bad')""")
    // the INSERT fails after the DELETE of k2 ran: the whole batch rolls back
    intercept[java.sql.SQLException](upsert(batch2, t))
    assert(tableRows(t) === afterBatch1)
    assert(JdbcUpsert.lastUploadedFile(spark, url, t) === Some("f1.csv"))

    sql(s"ALTER TABLE $t DROP CONSTRAINT no_bad")
    assert(upsert(batch2, t) === 2L)
    assert(tableRows(t) === tableRows(clean))
    assert(JdbcUpsert.lastUploadedFile(spark, url, t) === Some("f2.csv"))
  }

  test("reading back via JDBC pushes filters into the database") {
    assume(!isClusterMaster,
      "embedded in-memory Derby is per-JVM: executor tasks would see an " +
      "empty instance; multi-JVM sink coverage lives in the PG15 fixture " +
      "specs (PostgresUpsertSpec, LoadIncrementalSpec's PG15 test)")
    val t = "pushdown_test"
    val df = Seq(("k1", "a.csv"), ("k2", "b.csv"), ("k3", "c.csv"))
      .toDF("oid__id", "fileName")
    JdbcUpsert.upsert(df, url, t, "oid__id",
      createTableColumnTypes = Some("oid__id VARCHAR(64), fileName VARCHAR(64)"))
    val read = spark.read.jdbc(url, t, new java.util.Properties())
      .filter($"fileName" > "a.csv")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThan(fileName,a.csv)"),
      s"filter must reach the JDBC scan:\n$plan")
    assert(read.count() === 2)
  }

  test("watermark probe: absent table → None, else max(fileName)") {
    assume(!isClusterMaster,
      "embedded in-memory Derby is per-JVM: executor tasks would see an " +
      "empty instance; multi-JVM sink coverage lives in the PG15 fixture " +
      "specs (PostgresUpsertSpec, LoadIncrementalSpec's PG15 test)")
    assert(JdbcUpsert.lastUploadedFile(spark, url, "nope_missing") === None)
    val t = "wm_test"
    val df = Seq(("k1", "f1.csv"), ("k2", "f2.csv")).toDF("oid__id", "fileName")
    JdbcUpsert.upsert(df, url, t, "oid__id",
      createTableColumnTypes = Some("oid__id VARCHAR(64), fileName VARCHAR(64)"))
    assert(JdbcUpsert.lastUploadedFile(spark, url, t) === Some("f2.csv"))
  }

  test("watermark probe connects through the driver named in props, " +
    "registered or not") {
    assume(!isClusterMaster,
      "embedded in-memory Derby is per-JVM: executor tasks would see an " +
      "empty instance; multi-JVM sink coverage lives in the PG15 fixture " +
      "specs (PostgresUpsertSpec, LoadIncrementalSpec's PG15 test)")
    assert(!DriverManager.drivers().anyMatch(_.isInstanceOf[CountingDriver]),
      "the wrapper must be reachable only by its name in props")
    val props = new java.util.Properties()
    props.setProperty("driver", classOf[CountingDriver].getName)
    val before = CountingDriver.connects.get
    assert(JdbcUpsert.lastUploadedFile(spark, url, "nope_named",
      props = props) === None)
    assert(CountingDriver.connects.get - before === 1)
    val t = "wm_named_test"
    JdbcUpsert.upsert(Seq(("k1", "f7.csv")).toDF("oid__id", "fileName"),
      url, t, "oid__id",
      createTableColumnTypes = Some("oid__id VARCHAR(64), fileName VARCHAR(64)"))
    assert(JdbcUpsert.lastUploadedFile(spark, url, t, props = props) ===
      Some("f7.csv"))
    assert(CountingDriver.connects.get - before === 2)
  }
}

/** A JDBC driver that counts its connections and hands each to the driver
  * DriverManager has for the URL. It is never registered itself, so a
  * connection through it can only come from naming it in
  * `props("driver")`. */
final class CountingDriver extends java.sql.Driver {
  import java.sql.{Connection, DriverPropertyInfo}
  private def inner(url: String): java.sql.Driver = DriverManager.getDriver(url)
  override def connect(url: String, info: java.util.Properties): Connection =
    if (!acceptsURL(url)) null
    else { CountingDriver.connects.incrementAndGet(); inner(url).connect(url, info) }
  override def acceptsURL(url: String): Boolean = url.startsWith("jdbc:derby:")
  override def getPropertyInfo(url: String,
      info: java.util.Properties): Array[DriverPropertyInfo] =
    inner(url).getPropertyInfo(url, info)
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getLogger(getClass.getName)
}

object CountingDriver {
  val connects = new java.util.concurrent.atomic.AtomicInteger
}
