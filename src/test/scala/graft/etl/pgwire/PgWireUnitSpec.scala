package graft.etl.pgwire

import java.time.{ZoneId, ZoneOffset}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pure unit coverage of the pgwire pieces that don't need a server:
  * placeholder splitting, literal encoding, URL parsing, tag parsing and
  * the binary COPY encoding of internal rows. */
class PgWireUnitSpec extends AnyFunSuite {

  test("splitPlaceholders: placeholders outside quotes only") {
    assert(PgJdbc.splitPlaceholders("INSERT INTO t VALUES (?, ?)") ===
      Vector("INSERT INTO t VALUES (", ", ", ")"))
    // '?' inside a single-quoted literal is not a placeholder
    assert(PgJdbc.splitPlaceholders("SELECT '?' WHERE x = ?") ===
      Vector("SELECT '?' WHERE x = ", ""))
    // '' escape keeps the literal open-closed pairing intact
    assert(PgJdbc.splitPlaceholders("SELECT 'it''s ?' , ?") ===
      Vector("SELECT 'it''s ?' , ", ""))
    // '?' inside a double-quoted identifier is not a placeholder
    assert(PgJdbc.splitPlaceholders("""SELECT "a?b" FROM t WHERE c = ?""") ===
      Vector("""SELECT "a?b" FROM t WHERE c = """, ""))
    assert(PgJdbc.splitPlaceholders("no params") === Vector("no params"))
  }

  test("encodeLiteral: strings escape quotes, temporal types are typed literals") {
    assert(PgJdbc.encodeLiteral(null) === "NULL")
    assert(PgJdbc.encodeLiteral("it's") === "'it''s'")
    assert(PgJdbc.encodeLiteral(java.lang.Boolean.TRUE) === "TRUE")
    assert(PgJdbc.encodeLiteral(java.lang.Long.valueOf(42L)) === "42")
    assert(PgJdbc.encodeLiteral(java.lang.Double.valueOf(1.5)) === "1.5")
    assert(PgJdbc.encodeLiteral(java.lang.Double.valueOf(Double.NaN)) === "'NaN'::float8")
    assert(PgJdbc.encodeLiteral(java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789")) ===
      "TIMESTAMP '2024-03-01 12:34:56.789'")
    assert(PgJdbc.encodeLiteral(java.sql.Date.valueOf("2024-03-01")) ===
      "DATE '2024-03-01'")
    assert(PgJdbc.encodeLiteral(Array[Byte](0x41, 0x0a)) === "'\\x410a'::bytea")
  }

  test("parseUrl: host/port/database forms") {
    assert(PgWireDriver.parseUrl("jdbc:postgresql://127.0.0.1:5433/graft") ===
      (("127.0.0.1", 5433, "graft")))
    assert(PgWireDriver.parseUrl("jdbc:postgresql://localhost/postgres") ===
      (("localhost", 5432, "postgres")))
    assert(PgWireDriver.parseUrl("jdbc:postgresql://h:1/db?x=y") ===
      (("h", 1, "db")))
    intercept[java.sql.SQLException] {
      PgWireDriver.parseUrl("jdbc:postgresql:nohost")
    }
  }

  test("CommandComplete tags parse to update counts") {
    assert(PgResult(Vector.empty, Vector.empty, "INSERT 0 5").updateCount === 5)
    assert(PgResult(Vector.empty, Vector.empty, "DELETE 3").updateCount === 3)
    assert(PgResult(Vector.empty, Vector.empty, "MERGE 4").updateCount === 4)
    assert(PgResult(Vector.empty, Vector.empty, "CREATE TABLE").updateCount === 0)
    assert(PgResult(Vector.empty, Vector.empty, "BEGIN").updateCount === 0)
  }

  private def numericHex(s: String): String =
    PgCopyBinary.numericBytes(new java.math.BigDecimal(s))
      .map(b => f"$b%02x").mkString

  test("COPY BINARY numeric encoding: base-10000 groups, weight, sign, " +
    "dscale (hand-checked wire fixtures)") {
    // 0.0001: one digit group [1] at weight -1, dscale 4
    assert(numericHex("0.0001") === "0001" + "ffff" + "0000" + "0004" + "0001")
    // -12345678.90: groups [1234,5678,9000], weight 1, negative, dscale 2
    assert(numericHex("-12345678.90") ===
      "0003" + "0001" + "4000" + "0002" + "04d2" + "162e" + "2328")
    // zero keeps its display scale, no digit groups
    assert(numericHex("0.00") === "0000" + "0000" + "0000" + "0002")
    // 1.5: groups [1, 5000] straddling the point, weight 0
    assert(numericHex("1.5") ===
      "0002" + "0000" + "0000" + "0001" + "0001" + "1388")
    // integer with trailing zero group stripped: 10000 = [1] at weight 1
    assert(numericHex("10000") === "0001" + "0001" + "0000" + "0000" + "0001")
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  /** The COPY stream the encoder writes for `rows`. */
  private def encode(schema: StructType, rows: Seq[InternalRow],
      stampZone: ZoneId = ZoneOffset.UTC): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream
    val out = new CopyOut((b, n) => bytes.write(b, 0, n))
    new PgCopyBinary(schema, stampZone).write(rows.iterator, out)
    out.flush()
    bytes.toByteArray
  }

  /** The tuple frames of a COPY stream: header and trailer stripped. */
  private def tuples(stream: Array[Byte]): Array[Byte] = {
    assert(stream.take(19).toSeq === PgCopyBinary.header.toSeq)
    assert(stream.takeRight(2).toSeq === PgCopyBinary.trailer.toSeq)
    stream.slice(19, stream.length - 2)
  }

  test("COPY BINARY header/trailer and NULL field framing") {
    assert(PgCopyBinary.header.length === 19)
    assert(new String(PgCopyBinary.header.take(7)) === "PGCOPY\n")
    assert(PgCopyBinary.trailer.toSeq === Seq(0xff.toByte, 0xff.toByte))
    // a (long, NULL) tuple: int16 2, int32 8 + payload, int32 -1
    val schema = StructType(Seq(StructField("n", LongType), StructField("s", StringType)))
    assert(hex(tuples(encode(schema, Seq(InternalRow(1L, null))))) ===
      "0002" + "00000008" + "0000000000000001" + "ffffffff")
    // no rows: header and trailer only
    assert(encode(schema, Nil).toSeq ===
      (PgCopyBinary.header ++ PgCopyBinary.trailer).toSeq)
  }

  test("COPY BINARY from internal rows: every supported type's send format") {
    val fields = Seq("s" -> StringType, "i" -> IntegerType, "h" -> ShortType,
      "b" -> ByteType, "d" -> DoubleType, "f" -> FloatType, "t" -> BooleanType,
      "day" -> DateType, "n" -> DecimalType(10, 2), "bin" -> BinaryType,
      "ts" -> TimestampType)
    val schema = StructType(fields.map { case (n, t) => StructField(n, t) })
    val row = InternalRow(UTF8String.fromString("é\t"), 7, 3.toShort, (-1).toByte,
      1.5, 1.5f, true,
      10958, // 2000-01-02
      Decimal(new java.math.BigDecimal("-12345678.90"), 10, 2),
      Array[Byte](0, -1),
      946684800000001L) // 2000-01-01 00:00:00.000001 UTC
    assert(hex(tuples(encode(schema, Seq(row)))) ===
      "000b" +
        "00000003" + "c3a909" + // UTF-8 bytes of the string
        "00000004" + "00000007" +
        "00000002" + "0003" +
        "00000002" + "ffff" + // a byte goes out as int2
        "00000008" + "3ff8000000000000" +
        "00000004" + "3fc00000" +
        "00000001" + "01" +
        "00000004" + "00000001" + // days since 2000-01-01
        "0000000e" + "0003" + "0001" + "4000" + "0002" + "04d2" + "162e" + "2328" +
        "00000002" + "00ff" +
        "00000008" + "0000000000000001") // µs since 2000-01-01
    // a NULL of every type is a -1 length
    assert(hex(tuples(encode(schema, Seq(new GenericInternalRow(fields.length))))) ===
      "000b" + "ffffffff" * fields.length)
  }

  test("COPY BINARY rejects an unsupported column type, naming the column") {
    val e = intercept[IllegalArgumentException](new PgCopyBinary(
      StructType(Seq(StructField("tags", ArrayType(StringType)))), ZoneOffset.UTC))
    assert(e.getMessage.contains("`tags`") && e.getMessage.contains("array<string>"))
  }

  test("COPY BINARY timestamps equal the former Timestamp.toLocalDateTime " +
    "encoding under a non-UTC default zone, across DST changes") {
    val ny = ZoneId.of("America/New_York")
    // every 10 minutes around the 2024 spring-forward and fall-back
    val micros = Seq("2024-03-10T05:00:00Z", "2024-11-03T04:00:00Z").flatMap { s =>
      val t0 = java.time.Instant.parse(s).getEpochSecond * 1000000L
      (0 until 30).map(i => t0 + i * 600L * 1000000L + 123456L)
    }
    val schema = StructType(Seq(StructField("ts", TimestampType)))
    /** The int64 of each single-timestamp tuple. */
    def stored(stampZone: ZoneId): Seq[Long] = {
      val b = java.nio.ByteBuffer.wrap(tuples(encode(schema, micros.map(InternalRow(_)), stampZone)))
      micros.map { _ =>
        assert(b.getShort() === 1 && b.getInt() === 8)
        b.getLong()
      }
    }
    val saved = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone(ny))
    try {
      // the JDBC writer bound DateTimeUtils.toJavaTimestamp(µs), whose
      // wall-clock the server stored in a timestamp column
      val former = micros.map { m =>
        val ldt = DateTimeUtils.toJavaTimestamp(m).toLocalDateTime
        (ldt.toEpochSecond(ZoneOffset.UTC) - 946684800L) * 1000000L +
          (ldt.getNano + 500L) / 1000L
      }
      assert(stored(ZoneOffset.UTC) === former)
      assert(former.distinct.length < former.length, "the fall-back hour repeats wall-clocks")
      // a timestamptz column read that wall-clock in the server's zone:
      // the instant itself, except that the repeated fall-back hour takes
      // the later (standard-time) offset
      val fallBack = java.time.Instant.parse("2024-11-03T06:00:00Z").getEpochSecond * 1000000L
      val expected = micros.map { m =>
        val repeated = m >= fallBack - 3600L * 1000000L && m < fallBack
        m - 946684800L * 1000000L + (if (repeated) 3600L * 1000000L else 0L)
      }
      assert(stored(ny) === expected)
    } finally java.util.TimeZone.setDefault(saved)
  }
}
