package graft.etl

import java.sql.{Connection, Driver, DriverManager, SQLException}
import java.time.{ZoneId, ZoneOffset}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.TimestampType

import graft.etl.pgwire.{PgCopyBinary, PgCopyIn}

/** Transactional delete+insert ("upsert") JDBC sink — the reference's core
  * sink (dags/datahelper/postgres.py:18-38: one transaction per batch,
  * DELETE by key then multi-row INSERT) redesigned for distributed writes.
  *
  * The reference's row-at-a-time form is its published 2-hour bottleneck
  * (README.md:324-326). Here the batch is STAGED in parallel by the
  * executors, then one driver-side transaction promotes it set-based:
  *
  *   CREATE TABLE target AS SELECT * FROM staging WITH NO DATA; -- if absent
  *   DELETE FROM target WHERE key IN (SELECT key FROM staging);
  *   DELETE FROM target WHERE key IS NULL AND EXISTS (null key staged);
  *   INSERT INTO target SELECT ... FROM staging;
  *   DROP TABLE staging;
  *
  * Staging into Postgres (`jdbc:postgresql:` URLs) is one Spark job run
  * as a SQL execution: each non-empty partition opens one connection and
  * streams its internal rows as a single `COPY staging (cols) FROM STDIN
  * (FORMAT BINARY)` ([[graft.etl.pgwire.PgCopyBinary]]). The driver's one
  * connection first (re)creates the staging table with the column types
  * Spark's JDBC writer gives the schema (PostgresDialect types, quoted
  * identifiers, NOT NULL for non-nullable fields), stays open across the
  * job and then runs the promotion. Every connection, on the driver and
  * in the tasks, comes from the driver class named in `props("driver")`
  * when there is one. Other URLs (Derby) stage through Spark's JDBC
  * writer.
  *
  * Properties kept from the reference: the whole batch commits or none of
  * it does, and replaying a batch converges to the same table state. The
  * staging job runs the batch's plan exactly once; the promotion is
  * O(1) statements executed inside the database.
  *
  * Column identifiers are always double-quoted: the corpus has
  * reserved-word columns (`from`, `to`) and mixed-case names that unquoted
  * SQL would fold away (README.md:104-105). Table names stay UNQUOTED so
  * they fold the same way Spark's JDBC writer (which passes the staging
  * table name through unquoted) folded them.
  */
object JdbcUpsert {

  private def q(ident: String): String = "\"" + ident.replace("\"", "\"\"") + "\""

  /** The promotion statements, exposed so dialect tests can pin the
    * strings — standard-SQL quoting, `IN (SELECT ...)` promotion. Executed
    * for real against Derby (JdbcUpsertSpec) AND PostgreSQL 15
    * (PostgresUpsertSpec, over the pgwire minimal driver). Order:
    * delete-by-key, delete-null-keys, insert.
    *
    * NULL keys never match an IN-list (NULL IN (...) is UNKNOWN), so
    * replay would re-insert them forever; the second DELETE gives the
    * null-key group the same latest-batch-wins semantics. */
  private[etl] def promotionSql(table: String, staging: String,
      keyCol: String, cols: Seq[String]): Seq[String] = {
    val colList = cols.map(q).mkString(", ")
    Seq(
      s"DELETE FROM $table WHERE ${q(keyCol)} IN " +
        s"(SELECT ${q(keyCol)} FROM $staging)",
      s"DELETE FROM $table WHERE ${q(keyCol)} IS NULL AND EXISTS " +
        s"(SELECT 1 FROM $staging WHERE ${q(keyCol)} IS NULL)",
      s"INSERT INTO $table ($colList) SELECT $colList FROM $staging")
  }

  /** Create-if-absent: an empty clone of staging. Derby requires
    * `WITH NO DATA`; Postgres accepts it. */
  private[etl] def createCloneSql(table: String, staging: String): String =
    s"CREATE TABLE $table AS SELECT * FROM $staging WITH NO DATA"

  /** Watermark probe statement. */
  private[etl] def watermarkSql(table: String, fileCol: String): String =
    s"SELECT MAX(${q(fileCol)}) FROM $table"

  /** Spark's built-in Derby dialect maps StringType → CLOB, which (a)
    * cannot be compared in `key IN (SELECT ...)` and (b) makes
    * `setNull(Types.CLOB)` fail against VARCHAR columns (Derby 22005).
    * Registered once, only consulted for jdbc:derby URLs; other types fall
    * through to the default mapping. */
  private object DerbyVarcharDialect extends org.apache.spark.sql.jdbc.JdbcDialect {
    override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
    override def getJDBCType(dt: org.apache.spark.sql.types.DataType)
        : Option[org.apache.spark.sql.jdbc.JdbcType] = dt match {
      case org.apache.spark.sql.types.StringType =>
        Some(org.apache.spark.sql.jdbc.JdbcType("VARCHAR(4000)", java.sql.Types.VARCHAR))
      case _ => None
    }
  }
  @volatile private var derbyDialectRegistered = false
  private def ensureDialect(url: String): Unit =
    if (url.startsWith("jdbc:derby") && !derbyDialectRegistered) synchronized {
      if (!derbyDialectRegistered) {
        org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(DerbyVarcharDialect)
        derbyDialectRegistered = true
      }
    }

  /** Ceiling on staging connections: staging opens ONE connection per
    * partition, so a many-small-files input (the CDC corpus shape — one
    * partition per CSV) would turn the staging write into a connection
    * storm (the 10× replicated corpus, 8,810 partitions, measured 457 s
    * against tens of seconds bounded), and an RDBMS saturates at a few
    * dozen bulk writers anyway. Staging always goes through `coalesce`
    * (no shuffle, no job of its own): below the ceiling it keeps the input
    * partitioning, above it merges partitions at write time. Asking the
    * plan for its partition count instead would run an uncached adaptive
    * plan's shuffle stages once for the count and again for the write.
    *
    * Trade: coalesce is a narrow dependency, so it also bounds the
    * upstream compute of a narrow-only input to 64-way. The ETL plans end
    * in a shuffle (keep-last or distinct), which is a stage barrier, so
    * their compute is not bounded. */
  private val MaxStagingConnections = 64

  /** Upsert `df` into `table` keyed on `keyCol` and return the number of
    * rows the promotion inserted — the batch's size, counted by the
    * database inside the committed transaction, so the caller needs no
    * count of its own. `df` is evaluated once, by the staging job.
    *
    * @param url  JDBC url (driver must be on the classpath)
    * @param createTableColumnTypes column types for the staging create, in
    *   Spark's `createTableColumnTypes` form, for dialects whose default
    *   string type cannot be compared in the promotion's `IN (SELECT ...)`
    *   (Derby CLOB). On Postgres an override must keep the column's binary
    *   form (e.g. `VARCHAR(64)` for a string).
    */
  def upsert(df: DataFrame, url: String, table: String, keyCol: String,
      props: Properties = new Properties(),
      createTableColumnTypes: Option[String] = None): Long = {
    val staging = table + "_staging"
    val conn = connect(url, props)
    try {
      if (url.startsWith("jdbc:postgresql:"))
        stageByCopy(df, conn, url, staging, props, createTableColumnTypes)
      else {
        ensureDialect(url)
        val writer = df.coalesce(MaxStagingConnections).write.mode(SaveMode.Overwrite)
        createTableColumnTypes.foreach(t => writer.option("createTableColumnTypes", t))
        writer.jdbc(url, staging, props)
      }
      promote(conn, table, staging, keyCol, df.columns.toSeq)
    } finally conn.close()
  }

  /** The driver class named in `props("driver")`, loaded as Spark's JDBC
    * writer loads it, else the DriverManager driver for `url`. */
  private def driverFor(url: String, props: Properties): Driver =
    Option(props.getProperty("driver")) match {
      case None => DriverManager.getDriver(url)
      case Some(cls) =>
        val loader = Option(Thread.currentThread.getContextClassLoader)
          .getOrElse(getClass.getClassLoader)
        Class.forName(cls, true, loader)
          .getDeclaredConstructor().newInstance().asInstanceOf[Driver]
    }

  /** `c`, a driver's answer to `connect(url, …)`; null means it declined. */
  private def accepted(c: Connection, url: String): Connection =
    if (c != null) c else throw new SQLException(s"no driver accepts $url")

  /** A connection through [[driverFor]]. */
  private def connect(url: String, props: Properties): Connection =
    accepted(driverFor(url, props).connect(url, props), url)

  /** Postgres staging: drop-if-exists and create the staging table over
    * `conn`, then one job in which every non-empty partition COPYs its
    * rows in over a connection of its own. */
  private def stageByCopy(df: DataFrame, conn: Connection, url: String,
      staging: String, props: Properties,
      createTableColumnTypes: Option[String]): Unit = {
    val dialect = JdbcDialects.get(url)
    val schema = df.schema
    // the zone the server reads a timestamp's wall-clock in: its TimeZone
    // for the dialect's timestamptz columns; a plain timestamp stores it as is
    val withTz = schema.exists(_.dataType == TimestampType) &&
      JdbcUtils.getJdbcType(TimestampType, dialect).databaseTypeDefinition
        .toUpperCase(java.util.Locale.ROOT).contains("TIME ZONE")
    val encoder = new PgCopyBinary(schema,
      if (withTz) serverTimeZone(conn) else ZoneOffset.UTC)
    val columns = JdbcUtils.schemaString(dialect, schema,
      SQLConf.get.caseSensitiveAnalysis, createTableColumnTypes)
    val st = conn.createStatement()
    try st.executeUpdate(s"DROP TABLE IF EXISTS $staging; CREATE TABLE $staging ($columns)")
    finally st.close()

    val copy = s"COPY $staging (${schema.fieldNames.map(dialect.quoteIdentifier).mkString(", ")})" +
      " FROM STDIN (FORMAT BINARY)"
    val qe = df.coalesce(MaxStagingConnections).queryExecution
    SQLExecution.withNewExecutionId(qe, Some("upsert")) {
      qe.toRdd.foreachPartition { rows =>
        if (rows.hasNext) {
          val c = connect(url, props)
          try c.unwrap(classOf[PgCopyIn]).copyIn(copy)(encoder.write(rows, _))
          finally c.close()
        }
      }
    }
  }

  private def serverTimeZone(conn: Connection): ZoneId = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery("SHOW TimeZone")
      rs.next()
      ZoneId.of(rs.getString(1))
    } finally st.close()
  }

  /** The promotion transaction over `conn`; returns the rows inserted. */
  private def promote(conn: Connection, table: String, staging: String,
      keyCol: String, cols: Seq[String]): Long =
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      val inserted = try {
        if (!tableExists(conn, table)) st.executeUpdate(createCloneSql(table, staging))
        val Seq(deleteKeys, deleteNullKeys, insert) =
          promotionSql(table, staging, keyCol, cols)
        st.executeUpdate(deleteKeys)
        st.executeUpdate(deleteNullKeys)
        val n = st.executeUpdate(insert)
        st.executeUpdate(s"DROP TABLE $staging")
        n
      } finally st.close()
      conn.commit()
      inserted.toLong
    } catch {
      case e: Throwable =>
        // rollback on a broken connection may itself throw; never let that
        // mask the original failure
        try conn.rollback() catch { case _: Throwable => () }
        throw e
    }

  /** Case-insensitive catalog lookup: Derby folds unquoted names to upper
    * case, Postgres to lower. */
  private def tableExists(conn: Connection, table: String): Boolean = {
    val rs = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
    try {
      var exists = false
      while (!exists && rs.next())
        exists = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
      exists
    } finally rs.close()
  }

  /** Watermark probe — max(fileName) already loaded, computed INSIDE the
    * database, not by scanning the table through Spark (reference:
    * postgres.py:98-114). None when the table does not exist yet. */
  def lastUploadedFile(spark: org.apache.spark.sql.SparkSession, url: String,
      table: String, fileCol: String = "fileName",
      props: Properties = new Properties()): Option[String] = {
    // connects here rather than through [[connect]]: a wrapping driver
    // (perfbench's TracingDriver) files each connection under the engine
    // method that opened it
    val conn = accepted(driverFor(url, props).connect(url, props), url)
    try {
      if (!tableExists(conn, table)) None
      else {
        val st = conn.createStatement()
        try {
          val r = st.executeQuery(watermarkSql(table, fileCol))
          if (r.next()) Option(r.getString(1)) else None
        } finally st.close()
      }
    } finally conn.close()
  }
}
