package graft.etl.pgwire

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, DatabaseMetaData, PreparedStatement, ResultSet,
  ResultSetMetaData, SQLException, Statement, Types}

import scala.collection.mutable.ArrayBuffer

/** JDBC facade over [[PgProtocol]] — the subset of java.sql that
  * [[graft.etl.JdbcUpsert]] and Spark's JDBC source/sink actually call.
  *
  * The wide java.sql interfaces (ResultSet alone has ~190 methods) are
  * implemented as reflection proxies over small concrete cores: every
  * method the engine genuinely uses is dispatched by name; anything else
  * throws UnsupportedOperationException NAMING the method, so a new call
  * site fails loudly instead of silently misbehaving.
  *
  * Prepared statements are client-side interpolated (the simple query
  * protocol has no parameter binding): each setter encodes its value as a
  * SQL literal, and executeBatch ships the whole batch as ONE
  * ';'-separated Query message — one round trip per batch, the same
  * batching shape Spark's JDBC writer expects.
  *
  * Bulk loads do not go through statements: `unwrap(classOf[PgCopyIn])`
  * hands out the connection's COPY FROM STDIN stream.
  */
private[pgwire] object PgJdbc {

  /** OID → (java.sql.Types code, postgres type name). Public catalog
    * constants (pg_type.dat). Covers every type the engine's tables use;
    * unknown OIDs fall back to VARCHAR/"text" which Spark reads as
    * StringType — lossy but never wrong-typed for text output. */
  private val typeByOid: Map[Int, (Int, String)] = Map(
    16 -> (Types.BOOLEAN, "bool"),
    17 -> (Types.BINARY, "bytea"),
    18 -> (Types.CHAR, "char"),
    19 -> (Types.VARCHAR, "name"),
    20 -> (Types.BIGINT, "int8"),
    21 -> (Types.SMALLINT, "int2"),
    23 -> (Types.INTEGER, "int4"),
    25 -> (Types.VARCHAR, "text"),
    26 -> (Types.BIGINT, "oid"),
    700 -> (Types.REAL, "float4"),
    701 -> (Types.DOUBLE, "float8"),
    1042 -> (Types.CHAR, "bpchar"),
    1043 -> (Types.VARCHAR, "varchar"),
    1082 -> (Types.DATE, "date"),
    1083 -> (Types.TIME, "time"),
    1114 -> (Types.TIMESTAMP, "timestamp"),
    1184 -> (Types.TIMESTAMP, "timestamptz"),
    1700 -> (Types.NUMERIC, "numeric"))

  private def typeInfo(oid: Int): (Int, String) =
    typeByOid.getOrElse(oid, (Types.VARCHAR, "text"))

  private def proxy[T](iface: Class[T], label: String)(
      dispatch: (String, Array[AnyRef]) => Option[Any]): T =
    Proxy.newProxyInstance(iface.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val a = if (args == null) Array.empty[AnyRef] else args
          dispatch(m.getName, a) match {
            case Some(v) => v.asInstanceOf[AnyRef]
            case None => m.getName match {
              case "toString" => label
              case "hashCode" => Int.box(System.identityHashCode(p))
              case "equals" => Boolean.box(p eq a(0))
              case "isWrapperFor" => Boolean.box(false)
              case "getWarnings" => null
              case "clearWarnings" => null
              case _ => throw new UnsupportedOperationException(
                s"pgwire: $label.${m.getName} is not implemented")
            }
          }
        }
      }).asInstanceOf[T]

  // ---- ResultSet ----------------------------------------------------

  /** Cursor over a text-format result. Typed getters parse the postgres
    * text representation; wasNull tracks the last column read, per the
    * JDBC contract. */
  private final class RsCore(cols: IndexedSeq[PgCol],
      rows: IndexedSeq[Array[String]]) {
    private var pos = -1
    private var lastNull = false
    var rsClosed = false

    def next(): Boolean = { pos += 1; pos < rows.length }
    def raw(i: Int): String = {
      val v = rows(pos)(i - 1)
      lastNull = v == null
      v
    }
    def wasNull: Boolean = lastNull
    def findColumn(name: String): Int = {
      val i = cols.indexWhere(_.name.equalsIgnoreCase(name))
      if (i < 0) throw new SQLException(s"pgwire: no column '$name'")
      i + 1
    }
    def colAt(i: Int): PgCol = cols(i - 1)
    def nCols: Int = cols.length
  }

  private def resultSet(cols: IndexedSeq[PgCol],
      rows: IndexedSeq[Array[String]]): ResultSet = {
    val core = new RsCore(cols, rows)
    def colIdx(a: Array[AnyRef]): Int = a(0) match {
      case i: Integer => i.intValue()
      case s: String => core.findColumn(s)
      case other => throw new SQLException(s"pgwire: bad column ref $other")
    }
    lazy val rs: ResultSet = proxy(classOf[ResultSet], "PgResultSet") { (name, a) =>
      name match {
        case "next" => Some(core.next())
        case "close" => core.rsClosed = true; Some(null)
        case "isClosed" => Some(core.rsClosed)
        case "wasNull" => Some(core.wasNull)
        case "findColumn" => Some(core.findColumn(a(0).asInstanceOf[String]))
        case "getString" => Some(core.raw(colIdx(a)))
        case "getBoolean" =>
          val v = core.raw(colIdx(a))
          Some(v != null && (v == "t" || v == "true" || v == "1"))
        case "getByte" =>
          val v = core.raw(colIdx(a)); Some(if (v == null) 0.toByte else v.toByte)
        case "getShort" =>
          val v = core.raw(colIdx(a)); Some(if (v == null) 0.toShort else v.toShort)
        case "getInt" =>
          val v = core.raw(colIdx(a)); Some(if (v == null) 0 else v.toInt)
        case "getLong" =>
          val v = core.raw(colIdx(a)); Some(if (v == null) 0L else v.toLong)
        case "getFloat" =>
          val v = core.raw(colIdx(a)); Some(if (v == null) 0f else v.toFloat)
        case "getDouble" =>
          val v = core.raw(colIdx(a)); Some(if (v == null) 0d else v.toDouble)
        case "getBigDecimal" =>
          val v = core.raw(colIdx(a))
          Some(if (v == null) null else new java.math.BigDecimal(v))
        case "getTimestamp" =>
          val v = core.raw(colIdx(a))
          Some(if (v == null) null else parseTimestamp(v))
        case "getDate" =>
          val v = core.raw(colIdx(a))
          Some(if (v == null) null else java.sql.Date.valueOf(v))
        case "getBytes" =>
          val v = core.raw(colIdx(a))
          Some(if (v == null) null else decodeBytea(v))
        case "getObject" => Some(core.raw(colIdx(a)))
        case "getMetaData" => Some(rsMetaData(core))
        case "getFetchSize" => Some(0)
        case "setFetchSize" => Some(null)
        case "getType" => Some(ResultSet.TYPE_FORWARD_ONLY)
        case _ => None
      }
    }
    rs
  }

  /** Postgres renders timestamptz with a UTC offset suffix ("+00",
    * "-05:30"); plain timestamp has none. Timestamp.valueOf handles only
    * the latter, so detect and apply the offset explicitly. */
  private def parseTimestamp(v: String): java.sql.Timestamp = {
    val offsetAt = v.lastIndexWhere(c => c == '+' || c == '-')
    // a '-' before position 10 is a date separator, not an offset
    if (offsetAt < 10) java.sql.Timestamp.valueOf(v)
    else {
      val local = java.time.LocalDateTime.parse(
        v.substring(0, offsetAt).trim.replace(' ', 'T'))
      val raw = v.substring(offsetAt)
      val norm = raw.length match {
        case 3 => raw + ":00" // "+00" → "+00:00"
        case 5 => raw.substring(0, 3) + ":" + raw.substring(3) // "+0530"
        case _ => raw
      }
      java.sql.Timestamp.from(
        local.atOffset(java.time.ZoneOffset.of(norm)).toInstant)
    }
  }

  private def decodeBytea(v: String): Array[Byte] = {
    require(v.startsWith("\\x"), s"pgwire: unsupported bytea text format: $v")
    val hex = v.substring(2)
    val out = new Array[Byte](hex.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(hex.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }

  private def rsMetaData(core: RsCore): ResultSetMetaData =
    proxy(classOf[ResultSetMetaData], "PgResultSetMetaData") { (name, a) =>
      def col = core.colAt(a(0).asInstanceOf[Integer].intValue())
      name match {
        case "getColumnCount" => Some(core.nCols)
        case "getColumnName" | "getColumnLabel" => Some(col.name)
        case "getColumnType" => Some(typeInfo(col.typeOid)._1)
        case "getColumnTypeName" => Some(typeInfo(col.typeOid)._2)
        case "getPrecision" =>
          // numeric typmod packs (precision << 16 | scale) + 4
          Some(if (col.typeOid == 1700 && col.typmod >= 4)
            ((col.typmod - 4) >> 16) & 0xffff
          else 0)
        case "getScale" =>
          Some(if (col.typeOid == 1700 && col.typmod >= 4)
            (col.typmod - 4) & 0xffff
          else 0)
        case "isSigned" =>
          Some(Set(20, 21, 23, 26, 700, 701, 1700).contains(col.typeOid))
        case "isNullable" => Some(ResultSetMetaData.columnNullable)
        case "isAutoIncrement" => Some(false)
        case "isCaseSensitive" => Some(true)
        case "isCurrency" => Some(false)
        case "getColumnDisplaySize" => Some(0)
        case "getSchemaName" | "getTableName" | "getCatalogName" => Some("")
        case _ => None
      }
    }

  // ---- Statement / PreparedStatement ---------------------------------

  /** Splits `sql` at '?' placeholders OUTSIDE quoted regions. Handles
    * single-quoted literals (with '' escapes — two consecutive quotes
    * simply toggle twice) and double-quoted identifiers. Spark's
    * generated INSERTs never use dollar-quoting or comments. */
  private[pgwire] def splitPlaceholders(sql: String): Vector[String] = {
    val parts = Vector.newBuilder[String]
    val cur = new StringBuilder
    var inSingle = false
    var inDouble = false
    sql.foreach { c =>
      if (c == '\'' && !inDouble) { inSingle = !inSingle; cur += c }
      else if (c == '"' && !inSingle) { inDouble = !inDouble; cur += c }
      else if (c == '?' && !inSingle && !inDouble) {
        parts += cur.toString(); cur.clear()
      } else cur += c
    }
    parts += cur.toString()
    parts.result()
  }

  private[pgwire] def encodeLiteral(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: java.lang.Boolean => if (b) "TRUE" else "FALSE"
    case d: java.lang.Double =>
      if (d.isNaN) "'NaN'::float8"
      else if (d.isInfinite) (if (d > 0) "'Infinity'::float8" else "'-Infinity'::float8")
      else d.toString
    case f: java.lang.Float =>
      if (f.isNaN) "'NaN'::float4"
      else if (f.isInfinite) (if (f > 0) "'Infinity'::float4" else "'-Infinity'::float4")
      else f.toString
    case n: java.math.BigDecimal => n.toPlainString
    case t: java.sql.Timestamp => "TIMESTAMP '" + t.toString + "'"
    case d: java.sql.Date => "DATE '" + d.toString + "'"
    case b: Array[Byte] =>
      "'\\x" + b.map(x => f"$x%02x").mkString + "'::bytea"
    case n: Number => n.toString
    case other => throw new SQLException(
      s"pgwire: cannot encode parameter of ${other.getClass.getName}")
  }

  private final class StmtCore(conn: ConnCore, sqlTemplate: String) {
    private lazy val segments =
      if (sqlTemplate == null) Vector.empty else splitPlaceholders(sqlTemplate)
    private val nParams = if (sqlTemplate == null) 0 else segments.length - 1
    // raw JDBC values (null is a legal value → separate bound flags);
    // literal encoding happens at execute/addBatch time
    private val params = new Array[Any](nParams)
    private val bound = new Array[Boolean](nParams)
    private val batch = new ArrayBuffer[Array[Any]]()
    var stClosed = false
    private var lastResults: IndexedSeq[PgResult] = Vector.empty
    private var resultIdx = 0

    def setParam(i: Int, v: Any): Unit = { params(i - 1) = v; bound(i - 1) = true }
    def clearParams(): Unit = {
      java.util.Arrays.fill(params.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(bound, false)
    }

    private def interpolated: String = {
      require(bound.forall(identity),
        "pgwire: not all placeholders were bound before execute")
      val sb = new StringBuilder(segments.head)
      var i = 0
      while (i < nParams) { sb ++= encodeLiteral(params(i)) ++= segments(i + 1); i += 1 }
      sb.toString()
    }

    def addBatch(): Unit = {
      require(bound.forall(identity),
        "pgwire: not all placeholders were bound before addBatch")
      batch += params.clone()
    }
    def clearBatch(): Unit = batch.clear()

    def executeBatch(): Array[Int] = {
      if (batch.isEmpty) Array.empty
      else {
        val sql = batch.iterator.map { row =>
          val sb = new StringBuilder(segments.head)
          var i = 0
          while (i < nParams) { sb ++= encodeLiteral(row(i)) ++= segments(i + 1); i += 1 }
          sb.toString()
        }.mkString(";\n")
        val n = batch.length
        batch.clear()
        val results = conn.run(sql)
        require(results.length == n,
          s"pgwire: batch of $n statements returned ${results.length} results")
        results.map(_.updateCount).toArray
      }
    }

    def run(sql: String): IndexedSeq[PgResult] = {
      lastResults = conn.run(sql); resultIdx = 0; lastResults
    }
    def runPrepared(): IndexedSeq[PgResult] = run(interpolated)

    def currentResult: Option[PgResult] =
      if (resultIdx < lastResults.length) Some(lastResults(resultIdx)) else None
    def advanceResult(): Boolean = { resultIdx += 1; resultIdx < lastResults.length }
  }

  private def statement(conn: ConnCore, connProxy: Connection,
      sqlTemplate: String): PreparedStatement = {
    val core = new StmtCore(conn, sqlTemplate)
    def firstQueryResult(rs: IndexedSeq[PgResult]): ResultSet = {
      val r = rs.headOption.getOrElse(PgResult(Vector.empty, Vector.empty, ""))
      resultSet(r.cols, r.rows)
    }
    proxy(classOf[PreparedStatement], "PgStatement") { (name, a) =>
      name match {
        // plain-Statement surface (sql passed per call)
        case "executeQuery" if a.length == 1 =>
          Some(firstQueryResult(core.run(a(0).asInstanceOf[String])))
        case "executeUpdate" if a.length == 1 =>
          Some(core.run(a(0).asInstanceOf[String]).map(_.updateCount).sum)
        case "execute" if a.length == 1 =>
          Some(core.run(a(0).asInstanceOf[String]).exists(_.cols.nonEmpty))
        // PreparedStatement surface (template bound at creation)
        case "executeQuery" => Some(firstQueryResult(core.runPrepared()))
        case "executeUpdate" => Some(core.runPrepared().map(_.updateCount).sum)
        case "execute" => Some(core.runPrepared().exists(_.cols.nonEmpty))
        case "addBatch" if a.isEmpty => core.addBatch(); Some(null)
        case "clearBatch" => core.clearBatch(); Some(null)
        case "executeBatch" => Some(core.executeBatch())
        case "clearParameters" => core.clearParams(); Some(null)
        case "setNull" => core.setParam(a(0).asInstanceOf[Integer], null); Some(null)
        case "setBoolean" | "setByte" | "setShort" | "setInt" | "setLong" |
             "setFloat" | "setDouble" | "setBigDecimal" | "setString" |
             "setBytes" | "setDate" | "setTimestamp" | "setObject" =>
          core.setParam(a(0).asInstanceOf[Integer], a(1)); Some(null)
        case "getResultSet" =>
          Some(core.currentResult.map(r => resultSet(r.cols, r.rows)).orNull)
        case "getUpdateCount" =>
          Some(core.currentResult.filter(_.cols.isEmpty).map(_.updateCount).getOrElse(-1))
        case "getMoreResults" => Some(core.advanceResult())
        case "close" => core.stClosed = true; Some(null)
        case "isClosed" => Some(core.stClosed)
        case "cancel" => Some(null)
        case "setQueryTimeout" | "setFetchSize" | "setMaxRows" |
             "setEscapeProcessing" | "setPoolable" => Some(null)
        case "getQueryTimeout" | "getFetchSize" | "getMaxRows" => Some(0)
        case "getConnection" => Some(connProxy)
        case _ => None
      }
    }
  }

  // ---- Connection -----------------------------------------------------

  /** Transaction state machine: with autoCommit off, a BEGIN is sent
    * lazily before the first statement; commit/rollback end the block.
    * (The simple protocol auto-commits each bare statement, which is
    * exactly JDBC's autoCommit=true.) */
  private final class ConnCore(val proto: PgProtocol) extends PgCopyIn {
    private var autoCommit = true
    private var inTxn = false
    private var isolation = Connection.TRANSACTION_READ_COMMITTED

    def run(sql: String): IndexedSeq[PgResult] = synchronized {
      if (!autoCommit && !inTxn) { proto.query("BEGIN"); inTxn = true }
      proto.query(sql)
    }
    /** COPY participates in the same lazy-BEGIN transaction discipline as
      * plain statements. */
    def copyIn(sql: String)(write: CopyOut => Unit): Long = synchronized {
      if (!autoCommit && !inTxn) { proto.query("BEGIN"); inTxn = true }
      proto.copyIn(sql)(write)
    }
    def getAutoCommit: Boolean = synchronized(autoCommit)
    def setAutoCommit(b: Boolean): Unit = synchronized {
      if (b && inTxn) { proto.query("COMMIT"); inTxn = false }
      autoCommit = b
    }
    def commit(): Unit = synchronized {
      if (inTxn) { proto.query("COMMIT"); inTxn = false }
    }
    def rollback(): Unit = synchronized {
      if (inTxn) { proto.query("ROLLBACK"); inTxn = false }
    }
    def getIsolation: Int = synchronized(isolation)
    def setIsolation(level: Int): Unit = synchronized {
      val name = level match {
        case Connection.TRANSACTION_READ_UNCOMMITTED => "READ UNCOMMITTED"
        case Connection.TRANSACTION_READ_COMMITTED => "READ COMMITTED"
        case Connection.TRANSACTION_REPEATABLE_READ => "REPEATABLE READ"
        case Connection.TRANSACTION_SERIALIZABLE => "SERIALIZABLE"
        case Connection.TRANSACTION_NONE => null
      }
      if (name != null)
        proto.query(s"SET SESSION CHARACTERISTICS AS TRANSACTION ISOLATION LEVEL $name")
      isolation = level
    }
    def close(): Unit = proto.close()
    def isClosed: Boolean = proto.isClosed
  }

  def connection(proto: PgProtocol, url: String, user: String): Connection = {
    val core = new ConnCore(proto)
    lazy val conn: Connection = proxy(classOf[Connection], "PgConnection") { (name, a) =>
      name match {
        case "createStatement" => Some(statement(core, conn, null))
        case "prepareStatement" => Some(statement(core, conn, a(0).asInstanceOf[String]))
        case "setAutoCommit" => core.setAutoCommit(a(0).asInstanceOf[java.lang.Boolean]); Some(null)
        case "getAutoCommit" => Some(core.getAutoCommit)
        case "commit" => core.commit(); Some(null)
        case "rollback" => core.rollback(); Some(null)
        case "close" => core.close(); Some(null)
        case "isClosed" => Some(core.isClosed)
        case "isValid" => Some(!core.isClosed)
        case "setTransactionIsolation" =>
          core.setIsolation(a(0).asInstanceOf[Integer]); Some(null)
        case "getTransactionIsolation" => Some(core.getIsolation)
        case "getMetaData" => Some(dbMetaData(core, conn, url, user))
        case "unwrap" if a(0) == classOf[PgCopyIn] => Some(core)
        case "isWrapperFor" => Some(a(0) == classOf[PgCopyIn])
        case "setReadOnly" | "setCatalog" | "setClientInfo" |
             "setNetworkTimeout" | "abort" => Some(null)
        case "isReadOnly" => Some(false)
        case "getCatalog" | "getSchema" => Some(null)
        case _ => None
      }
    }
    conn
  }

  // ---- DatabaseMetaData -----------------------------------------------

  private def dbMetaData(core: ConnCore, conn: Connection, url: String,
      user: String): DatabaseMetaData =
    proxy(classOf[DatabaseMetaData], "PgDatabaseMetaData") { (name, a) =>
      name match {
        case "getTables" =>
          // JdbcUpsert only filters on TABLE_NAME; serve user tables.
          val pattern = a(2) match {
            case null => "%"
            case s: String => s
            case _ => "%"
          }
          val r = core.run(
            "SELECT NULL AS \"TABLE_CAT\", schemaname AS \"TABLE_SCHEM\", " +
              "tablename AS \"TABLE_NAME\", 'TABLE' AS \"TABLE_TYPE\", " +
              "NULL AS \"REMARKS\" FROM pg_catalog.pg_tables " +
              "WHERE schemaname NOT IN ('pg_catalog', 'information_schema') " +
              s"AND tablename LIKE ${encodeLiteral(pattern)} ORDER BY tablename")
          Some(resultSet(r.head.cols, r.head.rows))
        case "supportsTransactions" => Some(true)
        case "supportsDataManipulationTransactionsOnly" => Some(false)
        case "supportsTransactionIsolationLevel" => Some(true)
        case "getDefaultTransactionIsolation" =>
          Some(Connection.TRANSACTION_READ_COMMITTED)
        case "supportsBatchUpdates" => Some(true)
        case "getDatabaseProductName" => Some("PostgreSQL")
        case "getDatabaseProductVersion" | "getDriverVersion" =>
          Some(PgWireDriver.Version)
        case "getDatabaseMajorVersion" => Some(15)
        case "getDatabaseMinorVersion" => Some(0)
        case "getDriverName" => Some("graft-pgwire")
        case "getDriverMajorVersion" => Some(0)
        case "getDriverMinorVersion" => Some(1)
        case "getJDBCMajorVersion" => Some(4)
        case "getJDBCMinorVersion" => Some(2)
        case "getURL" => Some(url)
        case "getUserName" => Some(user)
        case "getConnection" => Some(conn)
        case "getIdentifierQuoteString" => Some("\"")
        case "storesUpperCaseIdentifiers" => Some(false)
        case "storesLowerCaseIdentifiers" => Some(true)
        case "storesMixedCaseIdentifiers" => Some(false)
        case "supportsMixedCaseIdentifiers" => Some(false)
        case _ => None
      }
    }
}

/** COPY FROM STDIN on a pgwire connection, reached with
  * `connection.unwrap(classOf[PgCopyIn])` (also through a wrapping
  * proxy that forwards `unwrap`): runs `sql`, lets `write` stream the
  * COPY data, and returns the row count the server reports. */
private[etl] trait PgCopyIn {
  def copyIn(sql: String)(write: CopyOut => Unit): Long
}
