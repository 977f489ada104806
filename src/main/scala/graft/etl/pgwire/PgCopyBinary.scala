package graft.etl.pgwire

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDateTime, ZoneId, ZoneOffset, ZonedDateTime}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Encoder of Spark's internal rows into PostgreSQL COPY binary format
  * (public docs: "COPY … Binary Format"): a 19-byte header (signature +
  * flags + extension length), one frame per tuple (int16 field count,
  * then per field an int32 byte length — -1 for NULL — and the field
  * bytes in the type's binary send format, network order), and an int16
  * -1 trailer.
  *
  * The fields come straight from the `InternalRow`: a string's UTF-8
  * bytes are copied out of its `UTF8String`, a timestamp is Spark's
  * microsecond count shifted to the Postgres epoch, and no external
  * `Row`, boxed value or JDBC setter sits in between. Binary COPY does no
  * implicit casts, so the target columns must have the types Spark's
  * PostgresDialect gives the schema (the staging table is created from
  * it): `schema` may hold only the types below, anything else is
  * rejected at construction, naming the column.
  *
  * Per-type formats (all public, from the types' send/recv functions):
  * string → text UTF-8; long/int/short → int8/int4/int2, byte → int2;
  * double/float → float8/float4 IEEE bits; boolean one byte; binary →
  * bytea raw; date → int32 days since 2000-01-01; decimal → numeric as
  * base-10000 digit groups (ndigits/weight/sign/dscale int16 header);
  * timestamp → int64 microseconds since 2000-01-01.
  *
  * Timestamps keep the value the JDBC writer stored: it bound a
  * `java.sql.Timestamp`, i.e. the wall-clock time of the instant in the
  * JVM default zone, and the server read that wall-clock in `stampZone`
  * — UTC for a `timestamp` column, the server's TimeZone for a
  * `timestamptz` one (an ambiguous wall-clock at a fall-back transition
  * takes the later offset, a skipped one the earlier, as the server's
  * parser does). Equal to the JDBC encoding for dates from 1900 on.
  */
private[etl] final class PgCopyBinary(schema: StructType, stampZone: ZoneId)
    extends Serializable {
  import PgCopyBinary._

  private val kinds: Array[Int] = schema.fields.map(f => f.dataType match {
    case StringType => Str
    case LongType => I64
    case IntegerType => I32
    case ShortType => I16
    case ByteType => I8
    case DoubleType => F64
    case FloatType => F32
    case BooleanType => Bool
    case TimestampType => Stamp
    case DateType => Day
    case _: DecimalType => Num
    case BinaryType => Bytes
    case other => throw new IllegalArgumentException(
      s"binary COPY: column `${f.name}` has unsupported type ${other.simpleString}")
  })
  private val decimals: Array[DecimalType] = schema.fields.map(_.dataType match {
    case d: DecimalType => d
    case _ => null
  })

  /** The complete COPY stream of a partition: header, tuples, trailer. */
  def write(rows: Iterator[InternalRow], out: CopyOut): Unit = {
    val wall = new WallClock(ZoneId.systemDefault(), stampZone)
    out.bytes(header)
    while (rows.hasNext) writeRow(rows.next(), out, wall)
    out.bytes(trailer)
  }

  private def writeRow(row: InternalRow, out: CopyOut, wall: WallClock): Unit = {
    out.int16(kinds.length)
    var i = 0
    while (i < kinds.length) {
      if (row.isNullAt(i)) out.int32(-1)
      else kinds(i) match {
        case Str =>
          val s = row.getUTF8String(i)
          out.int32(s.numBytes)
          out.copy(s.getBaseObject, s.getBaseOffset, s.numBytes)
        case I64 => out.int32(8); out.int64(row.getLong(i))
        case I32 => out.int32(4); out.int32(row.getInt(i))
        case I16 => out.int32(2); out.int16(row.getShort(i))
        case I8 => out.int32(2); out.int16(row.getByte(i))
        case F64 => out.int32(8); out.int64(java.lang.Double.doubleToRawLongBits(row.getDouble(i)))
        case F32 => out.int32(4); out.int32(java.lang.Float.floatToRawIntBits(row.getFloat(i)))
        case Bool => out.int32(1); out.int8(if (row.getBoolean(i)) 1 else 0)
        case Stamp => out.int32(8); out.int64(wall.stored(row.getLong(i)) - PgEpochMicros)
        case Day => out.int32(4); out.int32(row.getInt(i) - PgEpochDays)
        case Num =>
          val d = decimals(i)
          val b = numericBytes(row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)
          out.int32(b.length); out.bytes(b)
        case Bytes =>
          val b = row.getBinary(i)
          out.int32(b.length); out.bytes(b)
      }
      i += 1
    }
  }
}

private[etl] object PgCopyBinary {
  private final val Str = 0
  private final val I64 = 1
  private final val I32 = 2
  private final val I16 = 3
  private final val I8 = 4
  private final val F64 = 5
  private final val F32 = 6
  private final val Bool = 7
  private final val Stamp = 8
  private final val Day = 9
  private final val Num = 10
  private final val Bytes = 11

  /** "PGCOPY\n\377\r\n\0" + int32 flags 0 + int32 extension length 0. */
  val header: Array[Byte] =
    "PGCOPY\n".getBytes(UTF_8) ++
      Array(0xff.toByte, '\r'.toByte, '\n'.toByte, 0.toByte) ++
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 0)

  /** File trailer: int16 -1. */
  val trailer: Array[Byte] = Array(0xff.toByte, 0xff.toByte)

  /** Microseconds between the unix epoch and the postgres epoch
    * (2000-01-01). */
  private val PgEpochMicros = 946684800L * 1000000L

  /** Days between the unix epoch and 2000-01-01. */
  private val PgEpochDays = 10957

  /** Spark microseconds → the microseconds the server stores: the
    * wall-clock of the instant in `jvm`, read back in `stamp`. Both steps
    * are a constant shift when the zone has a fixed offset (UTC). */
  private final class WallClock(jvm: ZoneId, stamp: ZoneId) {
    private val jvmRules = jvm.getRules
    private val stampRules = stamp.getRules
    private val fixed = jvmRules.isFixedOffset && stampRules.isFixedOffset
    private val fixedShift =
      if (!fixed) 0L
      else (jvmRules.getOffset(Instant.EPOCH).getTotalSeconds -
        stampRules.getOffset(Instant.EPOCH).getTotalSeconds) * 1000000L

    def stored(micros: Long): Long =
      if (fixed) micros + fixedShift
      else {
        val offset = jvmRules.getOffset(
          Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L))).getTotalSeconds
        val wall = micros + offset * 1000000L
        if (stampRules.isFixedOffset)
          wall - stampRules.getOffset(Instant.EPOCH).getTotalSeconds * 1000000L
        else {
          val sec = Math.floorDiv(wall, 1000000L)
          val frac = Math.floorMod(wall, 1000000L)
          val local = LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC)
          ZonedDateTime.ofLocal(local, stamp, null).withLaterOffsetAtOverlap()
            .toEpochSecond * 1000000L + frac
        }
      }
  }

  /** NumericVar wire form: int16 ndigits, int16 weight (base-10000
    * position of the FIRST digit group relative to the decimal point),
    * int16 sign (0x0000 +, 0x4000 −), int16 dscale (display digits after
    * the point), then ndigits int16 base-10000 groups. NaN/Inf are not
    * producible from BigDecimal. Exposed for the spec's byte-level
    * fixture checks. */
  private[pgwire] def numericBytes(n: java.math.BigDecimal): Array[Byte] = {
    val sign = if (n.signum() < 0) 0x4000 else 0x0000
    val dscale = math.max(n.scale(), 0)
    val abs = n.abs()

    def put16(b: Array[Byte], at: Int, v: Int): Unit = {
      b(at) = ((v >>> 8) & 0xff).toByte; b(at + 1) = (v & 0xff).toByte
    }

    if (abs.compareTo(java.math.BigDecimal.ZERO) == 0) {
      val b = new Array[Byte](8)
      put16(b, 4, sign); put16(b, 6, dscale)
      return b
    }
    val plain = abs.toPlainString // no exponent, optional '.'
    val dot = plain.indexOf('.')
    val intLen = if (dot < 0) plain.length else dot
    val fracLen = if (dot < 0) 0 else plain.length - dot - 1
    // left-pad the integer digits and right-pad the fractional digits to
    // whole base-10000 groups aligned on the decimal point
    val intPad = (4 - intLen % 4) % 4
    val nGroups = (intPad + intLen + fracLen + 3) / 4
    val groups = new Array[Int](nGroups)
    var pos = -intPad // index into the UNPADDED digit stream
    var g = 0
    while (g < nGroups) {
      var v = 0
      var j = 0
      while (j < 4) {
        val d =
          if (pos < 0 || pos >= intLen + fracLen) 0
          else {
            val at = if (pos < intLen) pos else pos + 1 // skip the '.'
            plain.charAt(at) - '0'
          }
        v = v * 10 + d
        pos += 1; j += 1
      }
      groups(g) = v
      g += 1
    }
    var weight = (intLen + intPad) / 4 - 1
    // strip leading zero groups (weight shifts down) and trailing ones
    var lo = 0
    while (lo < nGroups && groups(lo) == 0) { lo += 1; weight -= 1 }
    var hi = nGroups
    while (hi > lo && groups(hi - 1) == 0) hi -= 1
    val b = new Array[Byte](8 + 2 * (hi - lo))
    put16(b, 0, hi - lo); put16(b, 2, weight)
    put16(b, 4, sign); put16(b, 6, dscale)
    var i = lo
    while (i < hi) { put16(b, 8 + 2 * (i - lo), groups(i)); i += 1 }
    b
  }
}
