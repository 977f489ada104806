package graft.etl.pgwire

import java.sql.DriverManager

import graft.SparkSpec
import graft.etl.JdbcUpsert
import org.scalatest.BeforeAndAfterAll

/** The round-2/3 gap closed: [[JdbcUpsert]] executed against a REAL
  * PostgreSQL 15 server (the reference's actual target — Postgres,
  * local-run/docker-compose.yml:89; upsert contract
  * dags/datahelper/postgres.py:18-38), not just Derby + pinned strings.
  *
  * The staging write goes through Spark's JDBC writer with the built-in
  * PostgresDialect (TEXT/FLOAT8 types, quoted identifiers), the promotion
  * through the single delete+insert transaction — all over the pgwire
  * minimal driver, so the exact SQL a Postgres target receives is what
  * executes here. Cancels (not fails) if no postgres installation exists.
  */
class PostgresUpsertSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private var server: PgServerFixture.Running = _
  private def url = server.url
  private def props = server.props

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (PgServerFixture.available) {
      PgWireDriver.ensureRegistered()
      server = PgServerFixture.start()
    }
  }

  override def afterAll(): Unit = {
    try if (server != null) PgServerFixture.stop(server)
    finally super.afterAll()
  }

  private def pg[T](f: java.sql.Connection => T): T = {
    val conn = DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  private def tableRows(table: String): Map[String, String] = pg { conn =>
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"""SELECT "oid__id", "payload" FROM $table""")
      val b = Map.newBuilder[String, String]
      while (rs.next()) b += rs.getString(1) -> rs.getString(2)
      b.result()
    } finally st.close()
  }

  test("upsert on Postgres: create-if-absent, latest-batch-wins, idempotent replay") {
    assume(PgServerFixture.available, "no postgres installation in sandbox")
    val t = "tracking_pg"
    val batch1 = Seq(("k1", "v1"), ("k2", "v1")).toDF("oid__id", "payload")
    JdbcUpsert.upsert(batch1, url, t, "oid__id", props)
    assert(tableRows(t) === Map("k1" -> "v1", "k2" -> "v1"))

    val batch2 = Seq(("k2", "v2"), ("k3", "v2")).toDF("oid__id", "payload")
    JdbcUpsert.upsert(batch2, url, t, "oid__id", props)
    assert(tableRows(t) === Map("k1" -> "v1", "k2" -> "v2", "k3" -> "v2"))

    JdbcUpsert.upsert(batch2, url, t, "oid__id", props)
    assert(tableRows(t) === Map("k1" -> "v1", "k2" -> "v2", "k3" -> "v2"))
  }

  test("a failed promotion commits nothing on Postgres; replay after the " +
    "fix matches a clean run") {
    assume(PgServerFixture.available, "no postgres installation in sandbox")
    val batch1 = Seq(("k1", "v1", "f1.csv"), ("k2", "v1", "f1.csv"))
      .toDF("oid__id", "payload", "fileName")
    // k2 replaced, k3 added — and k3's payload breaks the constraint below
    val batch2 = Seq(("k2", "v2", "f2.csv"), ("k3", "bad", "f2.csv"))
      .toDF("oid__id", "payload", "fileName")
    val clean = "atomic_clean_pg"
    JdbcUpsert.upsert(batch1, url, clean, "oid__id", props)
    assert(JdbcUpsert.upsert(batch2, url, clean, "oid__id", props) === 2L)

    val t = "atomic_pg"
    assert(JdbcUpsert.upsert(batch1, url, t, "oid__id", props) === 2L)
    val afterBatch1 = tableRows(t)
    def sql(stmt: String): Unit = pg { conn =>
      val st = conn.createStatement(); try st.execute(stmt) finally st.close()
    }
    sql(s"""ALTER TABLE $t ADD CONSTRAINT no_bad CHECK ("payload" <> 'bad')""")
    // the INSERT fails after the DELETE of k2 ran: the whole batch rolls back
    intercept[java.sql.SQLException](
      JdbcUpsert.upsert(batch2, url, t, "oid__id", props))
    assert(tableRows(t) === afterBatch1)
    assert(JdbcUpsert.lastUploadedFile(spark, url, t, props = props) === Some("f1.csv"))

    sql(s"ALTER TABLE $t DROP CONSTRAINT no_bad")
    assert(JdbcUpsert.upsert(batch2, url, t, "oid__id", props) === 2L)
    assert(tableRows(t) === tableRows(clean))
    assert(JdbcUpsert.lastUploadedFile(spark, url, t, props = props) === Some("f2.csv"))
  }

  test("reserved-word columns (from/to) round-trip quoted, as in the reference corpus") {
    assume(PgServerFixture.available, "no postgres installation in sandbox")
    // the reference's tracking table has `from`/`to` columns
    // (README.md:104-105) — unquoted SQL would fold or reject them
    val t = "reserved_pg"
    val df = Seq(("k1", "a@x", "b@y"), ("k2", "c@x", "d@y"))
      .toDF("oid__id", "from", "to")
    JdbcUpsert.upsert(df, url, t, "oid__id", props)
    val got = pg { conn =>
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"""SELECT "oid__id", "from", "to" FROM $t""")
        val b = Seq.newBuilder[(String, String, String)]
        while (rs.next()) b += ((rs.getString(1), rs.getString(2), rs.getString(3)))
        b.result().sortBy(_._1)
      } finally st.close()
    }
    assert(got === Seq(("k1", "a@x", "b@y"), ("k2", "c@x", "d@y")))
  }

  test("typed round-trip through Spark JDBC read: long, double, bool, timestamp, unicode") {
    assume(PgServerFixture.available, "no postgres installation in sandbox")
    val t = "typed_pg"
    val ts1 = java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789")
    val ts2 = java.sql.Timestamp.valueOf("2024-03-02 00:00:00")
    val df = Seq(
      (1L, "it's — üñïcode", 1.5, true, ts1),
      (2L, "plain", -0.25, false, ts2))
      .toDF("oid__id", "label", "score", "flag", "ts")
    JdbcUpsert.upsert(df, url, t, "oid__id", props)
    val back = spark.read.jdbc(url, t, props)
      .select($"oid__id", $"label", $"score", $"flag", $"ts")
      .as[(Long, String, Double, Boolean, java.sql.Timestamp)]
      .collect().sortBy(_._1)
    assert(back.toSeq === Seq(
      (1L, "it's — üñïcode", 1.5, true, ts1),
      (2L, "plain", -0.25, false, ts2)))
  }

  test("Spark JDBC read pushes filters into Postgres") {
    assume(PgServerFixture.available, "no postgres installation in sandbox")
    val t = "pushdown_pg"
    val df = Seq(("k1", "a.csv"), ("k2", "b.csv"), ("k3", "c.csv"))
      .toDF("oid__id", "fileName")
    JdbcUpsert.upsert(df, url, t, "oid__id", props)
    val read = spark.read.jdbc(url, t, props).filter($"fileName" > "a.csv")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThan(fileName,a.csv)"),
      s"filter must reach the JDBC scan:\n$plan")
    assert(read.count() === 2)
  }

  test("multi-row-per-key batches keep group semantics on the delete+insert path") {
    assume(PgServerFixture.available, "no postgres installation in sandbox")
    // events-shaped table: several rows per key per batch; replay must
    // replace the GROUP, not dedupe it
    val t = "events_pg"
    val batch = Seq(("k1", "e1"), ("k1", "e2"), ("k2", "e3"))
      .toDF("oid__id", "payload")
    JdbcUpsert.upsert(batch, url, t, "oid__id", props)
    JdbcUpsert.upsert(batch, url, t, "oid__id", props)
    val n = pg { conn =>
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM $t")
        rs.next(); rs.getLong(1)
      } finally st.close()
    }
    assert(n === 3L, "replaying a multi-row-per-key batch must not duplicate the group")
  }

  test("COPY BINARY round-trips every supported type identically to the " +
    "text path (forced both ways; auto engages binary)") {
    assume(PgServerFixture.available, "no postgres installation in sandbox")
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789012")
    val day = java.sql.Date.valueOf("2024-02-29")
    val df = Seq(
      (1L, Option("it's — üñïcode\ttab\nnl"), Option(1.5), Option(true),
        Option(ts), Option(day),
        Option(new java.math.BigDecimal("-12345678.90")),
        Option(Array[Byte](0, 1, 2, -1))),
      (2L, None, None, None, None, None,
        Option(new java.math.BigDecimal("0.0001")), None),
      (3L, Option("plain"), Option(Double.NaN), Option(false),
        Option(ts), Option(day),
        Option(new java.math.BigDecimal("10000")), Option(Array.empty[Byte])))
      .toDF("oid__id", "label", "score", "flag", "ts", "day", "amount", "blob")

    def withFormat(fmt: String): java.util.Properties = {
      val p = props; p.setProperty("pgwire.copyFormat", fmt); p
    }
    def cls(v: Any): String = v match {
      case Some(x) => s"Some[${x.getClass.getSimpleName}]"
      case other => String.valueOf(other)
    }
    // the path counters are process-STATICS: under a local-cluster
    // master the COPY executes in executor JVMs and the driver's static
    // never moves — the value round-trip asserts below still verify the
    // data either way, so the path-engaged observability is asserted
    // only where it is observable (single-JVM masters)
    val binBefore = PgJdbc.CopyBinaryBatches.get()
    JdbcUpsert.upsert(df, url, "copybin_pg", "oid__id", withFormat("binary"))
    if (!isClusterMaster)
      assert(PgJdbc.CopyBinaryBatches.get() > binBefore,
        "forced binary upsert did not take the binary COPY path")
    JdbcUpsert.upsert(df, url, "copytxt_pg", "oid__id", withFormat("text"))

    // score reads back as text: scala numeric equality has NaN != NaN
    // even boxed, and PG renders float8 NaN as the string 'NaN'
    def readBack(t: String) = spark.read.jdbc(url, t, props)
      .select($"oid__id", $"label", $"score".cast("string"), $"flag",
        $"ts", $"day", $"amount".cast("string"),
        org.apache.spark.sql.functions.hex($"blob"))
      .as[(Long, Option[String], Option[String], Option[Boolean],
        Option[java.sql.Timestamp], Option[java.sql.Date],
        Option[String], Option[String])]
      .collect().sortBy(_._1).toSeq
    val bin = readBack("copybin_pg")
    val txt = readBack("copytxt_pg")
    bin.zip(txt).foreach { case (b, t) =>
      b.productIterator.zip(t.productIterator).zipWithIndex.foreach {
        case ((bv, tv), i) =>
          assert(bv == tv,
            s"binary and text COPY disagree at field $i: " +
              s"[$bv] (${cls(bv)}) vs [$tv] (${cls(tv)})")
      }
    }
    assert(bin.length === txt.length)
    assert(bin.head._5 === Some(ts) && bin.head._6 === Some(day))
    assert(bin.head._7.exists(_.startsWith("-12345678.90")))
    assert(bin(2)._3 === Some("NaN"), "NaN must survive binary float8")

    // default (auto) picks binary for these batches
    val autoBefore = PgJdbc.CopyBinaryBatches.get()
    JdbcUpsert.upsert(df, url, "copyauto_pg", "oid__id", props)
    if (!isClusterMaster) // executor-JVM statics, see above
      assert(PgJdbc.CopyBinaryBatches.get() > autoBefore,
        "auto format should choose binary when every value is encodable")
    assert(readBack("copyauto_pg") === bin)
  }

  test("watermark probe on Postgres: absent table → None, else max(fileName)") {
    assume(PgServerFixture.available, "no postgres installation in sandbox")
    assert(JdbcUpsert.lastUploadedFile(spark, url, "missing_pg",
      props = props) === None)
    val t = "wm_pg"
    val df = Seq(("k1", "f1.csv"), ("k2", "f2.csv")).toDF("oid__id", "fileName")
    JdbcUpsert.upsert(df, url, t, "oid__id", props)
    assert(JdbcUpsert.lastUploadedFile(spark, url, t, props = props) === Some("f2.csv"))
  }
}
