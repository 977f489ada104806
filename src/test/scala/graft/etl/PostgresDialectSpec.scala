package graft.etl

import org.scalatest.funsuite.AnyFunSuite

/** Pins the exact SQL a Postgres 12 target receives from the upsert sink
  * (the reference's production target, reference
  * local-run/docker-compose.yml:89 + datahelper/postgres.py:18-38).
  *
  * No Postgres server is available in the sandbox (the behavioral spec
  * runs on embedded Derby — JdbcUpsertSpec), so the Postgres contract is
  * locked at the statement level: every identifier that Postgres would
  * case-fold or reject as a reserved word MUST be double-quoted, table
  * names must stay unquoted (matching Spark's JDBC writer folding), and
  * the promotion must be the two-DELETE + INSERT set-based form. The
  * corpus makes this load-bearing: its columns include the reserved words
  * `from`/`to` and mixed-case names like `trackingCode`
  * (reference README.md:104-105).
  */
class PostgresDialectSpec extends AnyFunSuite {

  test("promotion statements: quoting, IN-subquery delete, null-key delete, insert") {
    val stmts = JdbcUpsert.promotionSql(
      table = "tracking_events",
      staging = "tracking_events_staging",
      keyCol = "trackingCode",
      cols = Seq("trackingCode", "from", "to", "uploadDate"))
    assert(stmts === Seq(
      """DELETE FROM tracking_events WHERE "trackingCode" IN """ +
        """(SELECT "trackingCode" FROM tracking_events_staging)""",
      """DELETE FROM tracking_events WHERE "trackingCode" IS NULL AND EXISTS """ +
        """(SELECT 1 FROM tracking_events_staging WHERE "trackingCode" IS NULL)""",
      """INSERT INTO tracking_events ("trackingCode", "from", "to", "uploadDate") """ +
        """SELECT "trackingCode", "from", "to", "uploadDate" FROM tracking_events_staging"""))
  }

  test("reserved-word and mixed-case key columns are always quoted") {
    val stmts = JdbcUpsert.promotionSql("t", "t_staging", "from", Seq("from"))
    assert(stmts.head ===
      """DELETE FROM t WHERE "from" IN (SELECT "from" FROM t_staging)""")
    // embedded quotes are doubled, never truncated or passed raw
    val weird = JdbcUpsert.promotionSql("t", "t_staging", """a"b""", Seq("""a"b"""))
    assert(weird.head ===
      """DELETE FROM t WHERE "a""b" IN (SELECT "a""b" FROM t_staging)""")
  }

  test("create-if-absent uses standard CTAS WITH NO DATA") {
    assert(JdbcUpsert.createCloneSql("t", "t_staging") ===
      "CREATE TABLE t AS SELECT * FROM t_staging WITH NO DATA")
  }

  test("watermark probe aggregates inside the database with quoted column") {
    assert(JdbcUpsert.watermarkSql("tracking_events", "fileName") ===
      """SELECT MAX("fileName") FROM tracking_events""")
  }
}
