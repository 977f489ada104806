package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `window_hashes(text, w, stride)` — generator emitting
  * `(pos, h)` for every `stride`-spaced window of `w` CODE POINTS:
  * `h = fold(0, acc·31 + codePoint) mod 1e9+7` over the window
  * (the [[RollingHashLong]] recurrence, so the DuckDB oracle can
  * reproduce it with `ascii(substring(...))` + `list_reduce` exactly).
  * `pos` is the 0-based code-point offset — both Spark's `substring`
  * and DuckDB's count code points, so `substring(text, pos + 1, w)`
  * retrieves the window identically on either engine.
  *
  * The rolling update is O(1) per position (subtract the outgoing
  * code point's `31^(w-1)` term, multiply, add the incoming one), so
  * a document costs O(len) regardless of `w` — the per-window
  * recompute (O(len·w), what a `transform`/`substring` HOF chain
  * would do interpreted) is what makes exact substring dedup
  * infeasible without this operator. Documents shorter than `w`
  * emit nothing.
  *
  * `dual = true` adds a THIRD output column `h2` — the same
  * polynomial rolled mod [[RollingWindowHashes.Mod2]] (998244353,
  * coprime to 1e9+7). By CRT the pair (h, h2) determines the window
  * polynomial mod ~10¹⁸, so two windows agreeing on both hashes are
  * the same span up to a ~10⁻¹⁸-rate event: d12 uses the pair as a
  * pre-verify filter that kills the 30-bit birthday collisions of h
  * alone (at sf2's ~10⁸ windows, h-only collisions contribute
  * millions of false candidate pairs that would each ship a 50-char
  * span to the verify join). h2 is a FILTER, never the truth — the
  * exact span comparison downstream still decides every surviving
  * pair, so the operator's output is byte-identical with or without
  * it. Default `false` keeps the committed 2-column shape (and the
  * SQL-registered `window_hashes`) unchanged.
  *
  * `dedupPerDoc = true` emits only the FIRST occurrence of each `h`
  * within the document — exactly the `groupBy(doc, h).agg(min(pos))`
  * representative d12 needs (the generator scans left to right, so
  * first occurrence IS min pos, and its h2 is the min-struct row's
  * h2), computed in a per-document hash set INSIDE the generator
  * instead of an O(corpus-characters) shuffle: at sf2 the explode →
  * groupBy shape shuffled ~40M narrow rows and was 80% of d12's
  * runtime. Per-doc state is bounded by the document's own distinct
  * window count. Default `false`: c03's contamination gate
  * deliberately keeps EVERY matching span (a collision shadowing a
  * true benchmark quote is a correctness failure there — see its
  * scaladoc).
  */
case class RollingWindowHashes(child: Expression, w: Int, stride: Int,
    dual: Boolean = false, dedupPerDoc: Boolean = false)
  extends UnaryExpression with Generator with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType &&
        w >= 1 && stride >= 1)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"window_hashes expects (string, w >= 1, stride >= 1), got " +
        s"(${child.dataType.catalogString}, $w, $stride)")

  override def elementSchema: StructType = StructType(
    Seq(StructField("pos", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false)) ++
    (if (dual) Seq(StructField("h2", LongType, nullable = false))
     else Seq.empty))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val cps = v.asInstanceOf[UTF8String].toString.codePoints().toArray
      val n = cps.length
      if (n < w) Iterator.empty
      else {
        val M = RollingHashLong.Mod
        val M2 = RollingWindowHashes.Mod2
        // 31^(w-1) mod M — the outgoing code point's coefficient
        var pw = 1L
        var pw2 = 1L
        var i = 0
        while (i < w - 1) { pw = pw * 31 % M; pw2 = pw2 * 31 % M2; i += 1 }
        // initial window fold
        var h = 0L
        var h2 = 0L
        i = 0
        while (i < w) {
          h = (h * 31 + cps(i)) % M
          h2 = (h2 * 31 + cps(i)) % M2
          i += 1
        }
        val base = new Iterator[InternalRow] {
          private var pos = 0
          private var cur = h
          private var cur2 = h2
          private var primed = true // window at `pos` already folded
          def hasNext: Boolean = pos + w <= n
          def next(): InternalRow = {
            if (!primed) {
              // roll forward from pos-stride to pos (stride O(1) steps)
              var j = pos - stride
              while (j < pos) {
                val out = cps(j) * pw % M
                cur = ((cur - out + M) % M * 31 + cps(j + w)) % M
                if (dual) {
                  val out2 = cps(j) * pw2 % M2
                  cur2 = ((cur2 - out2 + M2) % M2 * 31 + cps(j + w)) % M2
                }
                j += 1
              }
              primed = true
            }
            val row =
              if (dual) new GenericInternalRow(Array[Any](pos, cur, cur2))
              else new GenericInternalRow(Array[Any](pos, cur))
            pos += stride
            primed = false
            row
          }
        }
        if (!dedupPerDoc) base
        else new Iterator[InternalRow] {
          // first-occurrence-of-h filter: rows are fresh
          // GenericInternalRows (never reused), so holding one is safe.
          // Primitive open-addressing set, not java.util.HashSet: the
          // state is per-TASK-concentrated (one pathological document =
          // O(distinct windows) entries on a single thread), and a
          // boxed Long entry costs ~48 bytes vs 8 here (ADVICE r13) —
          // the 6x headroom is the difference between a 100M-window
          // outlier document fitting in task memory or OOMing it.
          private val seen = new RollingWindowHashes.LongOpenSet(
            math.min(1 << 10, Integer.highestOneBit(
              math.max((n - w) / stride + 1, 8)) << 1))
          private var pending: InternalRow = null
          private def advance(): Unit = {
            pending = null
            while (pending == null && base.hasNext) {
              val r = base.next()
              if (seen.add(r.getLong(1))) pending = r
            }
          }
          advance()
          def hasNext: Boolean = pending != null
          def next(): InternalRow = {
            val r = pending; advance(); r
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): RollingWindowHashes =
    copy(child = newChild)
}

object RollingWindowHashes {
  /** Open-addressing set of NON-NEGATIVE longs (rolling hashes live in
    * [0, 1e9+7)), linear probing at ≤0.5 load. Stores `v + 1` so the
    * 0-filled backing array needs no separate occupied bitmap; 8
    * bytes/slot ≈ 16 bytes/entry at worst load vs ~48 for a boxed
    * java.util.HashSet entry. Not Spark's OpenHashSet only because
    * that class is `private[spark]`. */
  private[functions] final class LongOpenSet(initialCapacity: Int) {
    private var cap = math.max(Integer.highestOneBit(
      math.max(initialCapacity, 8)), 8)
    private var table = new Array[Long](cap)
    private var n = 0

    private def mix(key: Long): Int = {
      // fmix64 finalizer — full-avalanche so sequential hashes don't
      // cluster probes
      var k = key
      k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
      k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
      k ^= k >>> 33
      k.toInt
    }

    /** True iff `v` was absent (and is now present). */
    def add(v: Long): Boolean = {
      val key = v + 1
      val mask = cap - 1
      var i = mix(key) & mask
      while (table(i) != 0L) {
        if (table(i) == key) return false
        i = (i + 1) & mask
      }
      table(i) = key
      n += 1
      if (n * 2 > cap) grow()
      true
    }

    private def grow(): Unit = {
      val old = table
      cap <<= 1
      table = new Array[Long](cap)
      val mask = cap - 1
      var j = 0
      while (j < old.length) {
        val key = old(j)
        if (key != 0L) {
          var i = mix(key) & mask
          while (table(i) != 0L) i = (i + 1) & mask
          table(i) = key
        }
        j += 1
      }
    }
  }

  /** Second rolling modulus for `dual = true` — 998244353, prime and
    * coprime to [[RollingHashLong.Mod]] (1e9+7): the CRT product
    * ~9.98·10¹⁷ is what makes the (h, h2) pair collision-free in
    * practice. */
  final val Mod2 = 998244353L

  /** Column API: `window_hashes($"text", 50, 1).as(Seq("pos", "h"))`. */
  def window_hashes(c: Column, w: Int, stride: Int = 1): Column =
    ColumnBridge.column(RollingWindowHashes(ColumnBridge.expression(c), w, stride))

  /** Dual-hash + per-doc first-occurrence form: `(pos, h, h2)`, one row
    * per distinct `h` per document — see the `dedupPerDoc` scaladoc. */
  def window_hashes2_dedup(c: Column, w: Int, stride: Int = 1): Column =
    ColumnBridge.column(RollingWindowHashes(
      ColumnBridge.expression(c), w, stride, dual = true, dedupPerDoc = true))
}
