package graft.etl.pgwire

import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, SQLException}
import java.util.Properties
import java.util.logging.Logger

/** Minimal JDBC driver for PostgreSQL over the v3 wire protocol (see
  * [[PgProtocol]] for scope and limitations). Accepts the standard
  * `jdbc:postgresql://host:port/database` URL form so Spark's built-in
  * PostgresDialect — which matches on the URL prefix — types and quotes
  * what a Postgres target receives (TEXT/FLOAT8 column types, quoted
  * identifiers).
  *
  * It carries the sink's statements (staging DDL, promotion, watermark
  * probe), Spark's JDBC reads, and the staging COPY: a connection hands
  * out its COPY FROM STDIN stream through `unwrap(classOf[PgCopyIn])`.
  * Statements are sent as written — prepared INSERT batches stay INSERTs.
  *
  * Registration: NOT auto-registered via META-INF/services — call
  * [[PgWireDriver.ensureRegistered]], or pass
  * `driver=graft.etl.pgwire.PgWireDriver` in the connection properties:
  * [[graft.etl.JdbcUpsert]] and Spark's JDBC source then instantiate it
  * by name. If a vendor PostgreSQL driver is ever on the classpath,
  * simply don't register this one.
  */
final class PgWireDriver extends Driver {

  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith("jdbc:postgresql:")

  override def connect(url: String, info: Properties): Connection = {
    if (!acceptsURL(url)) return null // per JDBC contract
    val (host, port, db) = PgWireDriver.parseUrl(url)
    val user = Option(info).flatMap(p => Option(p.getProperty("user")))
      .getOrElse("postgres")
    val password = Option(info).flatMap(p => Option(p.getProperty("password")))
    // libpq-named TLS options: sslmode (disable|prefer|require|verify-ca,
    // default prefer) and sslrootcert (PEM path → chain verification).
    val ssl = PgTls.configFrom(
      Option(info).flatMap(p => Option(p.getProperty("sslmode"))),
      Option(info).flatMap(p => Option(p.getProperty("sslrootcert"))))
    val proto = new PgProtocol(host, port, user, db, password, ssl)
    PgJdbc.connection(proto, url, user)
  }

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 0
  override def getMinorVersion: Int = 1
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: Logger =
    throw new java.sql.SQLFeatureNotSupportedException("pgwire: no parent logger")
}

object PgWireDriver {
  val Version = "graft-pgwire 0.1"

  @volatile private var registered = false

  /** Register with DriverManager (idempotent). */
  def ensureRegistered(): Unit = if (!registered) synchronized {
    if (!registered) {
      DriverManager.registerDriver(new PgWireDriver)
      registered = true
    }
  }

  /** `jdbc:postgresql://host[:port]/database[?params]` →
    * (host, port, database). Query params are ignored — the only option
    * the engine needs (user) rides in the Properties. */
  private[pgwire] def parseUrl(url: String): (String, Int, String) = {
    val prefix = "jdbc:postgresql://"
    if (!url.startsWith(prefix))
      throw new SQLException(s"pgwire: unsupported URL form: $url")
    val rest = url.substring(prefix.length)
    val slash = rest.indexOf('/')
    if (slash < 0) throw new SQLException(s"pgwire: URL missing database: $url")
    val hostPort = rest.substring(0, slash)
    val dbAndParams = rest.substring(slash + 1)
    val db = dbAndParams.takeWhile(_ != '?')
    val (host, port) = hostPort.lastIndexOf(':') match {
      case -1 => (hostPort, 5432)
      case i => (hostPort.substring(0, i), hostPort.substring(i + 1).toInt)
    }
    (host, port, db)
  }
}
