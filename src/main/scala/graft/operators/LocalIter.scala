package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared machinery for the size-gated driver-local iteration lanes
  * (the [[Graph]] powerIterate / kCore pattern, round 14): a bounded
  * edge/feature relation is collected once and the per-round loop runs
  * as plain JVM code instead of ~8 Spark jobs per round. Every lane
  * SIMULATES its distributed twin round for round — same per-round
  * values, same convergence checks, same loud non-convergence throws —
  * so the two lanes are observationally identical (spec-gated per
  * lane). The input's size alone chooses the lane; each distributed
  * twin is reachable from the specs as a `private[operators]` entry.
  *
  * [[cmp]] mirrors Spark's ordering for the vertex-id types the lanes
  * admit: integral types by numeric value, strings by UTF8 binary
  * comparison (Spark's `least`/`min` on StringType compares UTF8String
  * bytes unsigned — Java String.compareTo differs outside ASCII, so the
  * lane goes through UTF8String). A type without a mirrored ordering
  * returns null and the caller stays on the distributed path.
  */
private[operators] object LocalIter {

  /** Spark-identical comparator for lane-admissible key types, or null
    * (caller must fall back to the distributed lane). */
  def cmp(dt: DataType): (Any, Any) => Int = dt match {
    case LongType => (a, b) =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntegerType => (a, b) =>
      java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case ShortType => (a, b) =>
      java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short])
    case ByteType => (a, b) =>
      java.lang.Byte.compare(a.asInstanceOf[Byte], b.asInstanceOf[Byte])
    case StringType => (a, b) =>
      UTF8String.fromString(a.asInstanceOf[String])
        .compareTo(UTF8String.fromString(b.asInstanceOf[String]))
    case _ => null
  }

  /** Dense int index over collected vertex ids (insertion order). */
  final class VertexIndex {
    private val idx = new java.util.HashMap[Any, Integer]()
    val ids = new scala.collection.mutable.ArrayBuffer[Any]()
    def apply(a: Any): Int = {
      var i = idx.get(a)
      if (i == null) {
        i = Integer.valueOf(ids.length); idx.put(a, i); ids += a
      }
      i.intValue()
    }
    def get(a: Any): Int = { // -1 when absent (no insertion)
      val i = idx.get(a); if (i == null) -1 else i.intValue()
    }
    def size: Int = ids.length
  }

  /** A lane's collected edge relation: per row k, the dense vertex
    * indices `src(k)` and `dst(k)` of its first two columns in `vx`, and
    * the row itself for the lane's further columns. */
  final class Edges(val vx: VertexIndex, val src: Array[Int],
      val dst: Array[Int], val rows: Array[InternalRow]) {
    def size: Int = rows.length
  }

  /** Collects `df`, whose first two columns are vertex ids, and indexes
    * its ids in row order. One helper for every id type: each id is read
    * as the external value a `Row` would carry, so [[VertexIndex.ids]]
    * and [[cmp]] see what they saw when the lanes collected `Row`s. */
  def collectEdges(df: DataFrame): Edges = {
    val srcId = reader(df.schema(0).dataType)
    val dstId = reader(df.schema(1).dataType)
    val rows = collectRows(df)
    val vx = new VertexIndex
    val src = new Array[Int](rows.length)
    val dst = new Array[Int](rows.length)
    var k = 0
    while (k < rows.length) {
      src(k) = vx(srcId(rows(k), 0)); dst(k) = vx(dstId(rows(k), 1)); k += 1
    }
    new Edges(vx, src, dst, rows)
  }

  /** The first column of `df` as external values — a lane's seed ids,
    * looked up with [[VertexIndex.get]]. */
  def collectIds(df: DataFrame): Array[Any] = {
    val id = reader(df.schema(0).dataType)
    collectRows(df).map(id(_, 0))
  }

  /** `df`'s rows in Spark's internal form, collected as one SQL execution
    * (the `JdbcUpsert` staging pattern): no `Row` encoder runs. */
  private def collectRows(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.executeCollect()
    }
  }

  /** Reads column `o` of an internal row of type `dt` as its external
    * value (null for SQL NULL). */
  private def reader(dt: DataType): (InternalRow, Int) => Any = {
    val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    (r, o) => toScala(r.get(o, dt))
  }
}
