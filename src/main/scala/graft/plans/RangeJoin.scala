package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, TimestampType}

/** Broadcast range join — the full custom-operator ladder (SURVEY.md §7.3
  * option (c)): logical node → planner strategy → physical operator. The
  * strategy is installed by [[RangeJoin.broadcastRange]], the one
  * producer of [[RangeJoinPlan]], on the session it plans in.
  *
  * Semantics: inner join of a big `left` against a SMALL `right` of
  * keyed intervals, on `leftKey = rightKey AND rightLo <= leftTime <=
  * rightHi`.
  *
  * Why a custom operator: Spark plans an equi-key + range predicate join
  * as a hash join on the key with a post-filter — fine — but with NO equi
  * key (or a hot key) it degenerates to BroadcastNestedLoopJoin: every
  * left row × every right row. This operator broadcasts the intervals as
  * a per-key SORTED index and probes with binary search:
  * O(log i + matches) per row instead of O(i), zero shuffle of the left
  * side, no exchange at all.
  *
  * Supported key/time types: integral and timestamp (all evaluate to a
  * JVM integral internally; timestamps are epoch micros).
  */
case class RangeJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightLo: Expression, rightHi: Expression)
  extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
      newRight: LogicalPlan): RangeJoinPlan =
    copy(left = newLeft, right = newRight)
}

object RangeJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeJoinPlan(l, r, lk, rk, lt, lo, hi) =>
      BroadcastRangeJoinExec(planLater(l), planLater(r), lk, rk, lt, lo, hi) :: Nil
    case _ => Nil
  }
}

case class BroadcastRangeJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightLo: Expression, rightHi: Expression)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  private def toLong(v: Any, dt: DataType): Long = dt match {
    case LongType | TimestampType => v.asInstanceOf[Long]
    case IntegerType              => v.asInstanceOf[Int].toLong
    case other => throw new IllegalArgumentException(
      s"range join: unsupported type $other")
  }

  override protected def doExecute(): RDD[InternalRow] = {
    // Build side: collect (small by contract), group by key, sort by lo.
    val rk = BindReferences.bindReference(rightKey, right.output)
    val lo = BindReferences.bindReference(rightLo, right.output)
    val hi = BindReferences.bindReference(rightHi, right.output)
    val intervals = right.executeCollect().flatMap { row =>
      val k = rk.eval(row); val l = lo.eval(row); val h = hi.eval(row)
      if (k == null || l == null || h == null) None
      else Some((toLong(k, rightKey.dataType),
        (toLong(l, rightLo.dataType), toLong(h, rightHi.dataType), row.copy())))
    }
    val index: Map[Long, Array[(Long, Long, InternalRow)]] =
      intervals.groupBy(_._1).map { case (k, arr) =>
        k -> arr.map(_._2).sortBy(t => (t._1, t._2))
      }
    val bcast = sparkContext.broadcast(index)
    val maxSpanByKey = sparkContext.broadcast(index.map { case (k, arr) =>
      k -> arr.map(t => t._2 - t._1).max
    })

    val lkExpr = leftKey; val ltExpr = leftTime
    val leftOutput = left.output; val fullOutput = output
    left.execute().mapPartitions { iter =>
      val lk = BindReferences.bindReference(lkExpr, leftOutput)
      val lt = BindReferences.bindReference(ltExpr, leftOutput)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(fullOutput, fullOutput)
      val idx = bcast.value
      val spans = maxSpanByKey.value
      iter.flatMap { lrow =>
        val kAny = lk.eval(lrow); val tAny = lt.eval(lrow)
        if (kAny == null || tAny == null) Iterator.empty
        else idx.get(toLong(kAny, lkExpr.dataType)) match {
          case None => Iterator.empty
          case Some(arr) =>
            val t = toLong(tAny, ltExpr.dataType)
            val span = spans(toLong(kAny, lkExpr.dataType))
            // binary search: first interval whose lo could still reach t
            // (lo >= t - maxSpan); scan forward while lo <= t.
            var b = 0; var e = arr.length
            val floor = t - span
            while (b < e) {
              val m = (b + e) >>> 1
              if (arr(m)._1 < floor) b = m + 1 else e = m
            }
            val out = Iterator.range(b, arr.length)
              .takeWhile(i => arr(i)._1 <= t)
              .filter(i => arr(i)._3 != null && t <= arr(i)._2)
              .map(i => resultProj(joined(lrow, arr(i)._3)))
            out
        }
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): BroadcastRangeJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public API: `RangeJoin.broadcastRange(events, windows, "user_id",
  * "r_user", "ts", "lo", "hi")`. Right-side column names must not collide
  * with left-side ones (rename before joining). */
object RangeJoin {
  def broadcastRange(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightLo: String, rightHi: String): DataFrame = {
    // Make the operator plannable on this session: extraStrategies is
    // the public runtime hook for exactly this.
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(RangeJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ RangeJoinStrategy
    val lp = PlanBridge.analyzed(left)
    val rp = PlanBridge.analyzed(right)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${p.output.map(_.name).mkString(",")}"))
    PlanBridge.ofRows(left.sparkSession,
      RangeJoinPlan(lp, rp,
        attr(lp, leftKey), attr(rp, rightKey),
        attr(lp, leftTime), attr(rp, rightLo), attr(rp, rightHi)))
  }
}
