package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

import graft.etl.expressions.{PyEventsArray, PyLiteralToJson}
import graft.functions.{ArrayPairs, BpeEncode, DotProductDouble, RollingHashLong, RollingWindowHashes, SearchSortedDouble, SqDistDouble, TokenShingles, TopKDouble, TopKPairs, VectorMeanDecimal, VectorMeanRounded}

/** Session extension registering the engine's native SQL surface:
  * functions backed by custom Catalyst expressions — `py_to_json(col)`,
  * `py_events(col)`, `top_k(col, k)`, `top_k_pairs(score, id, k)`,
  * `dot_double(a, b)`, `sq_dist_double(a, b)`, `search_sorted(xs, v)`,
  * `rolling_hash(s)`, `array_pairs(xs)`, `window_hashes(s, w[, st])`,
  * `vector_mean(v)`, `token_shingles(s, n[, distinct])`,
  * `bpe_encode(piece, merges)`.
  *
  * The broadcast range join's planner strategy is not registered here:
  * [[graft.plans.RangeJoin.broadcastRange]], the only producer of its
  * logical node, installs the strategy on the session it plans in.
  *
  * Activate with either:
  *   SparkSession.builder().withExtensions(new GraftExtensions) — or —
  *   --conf spark.sql.extensions=graft.GraftExtensions
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, fn: String,
      which: String = "second"): Int = e match {
    case Literal(v: Int, _)   => v
    case Literal(v: Long, _)  => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: $which argument must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("py_to_json"),
      new ExpressionInfo(classOf[PyLiteralToJson].getName, "py_to_json"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "py_to_json(col) takes exactly one argument")
        PyLiteralToJson(args.head)
      }))

    ext.injectFunction((
      new FunctionIdentifier("py_events"),
      new ExpressionInfo(classOf[PyEventsArray].getName, "py_events"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "py_events(col) takes exactly one argument")
        PyEventsArray(args.head)
      }))

    ext.injectFunction((
      new FunctionIdentifier("top_k"),
      new ExpressionInfo(classOf[TopKDouble].getName, "top_k"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "top_k(col, k) takes exactly two arguments")
        // cast like the Column API does: the aggregate's update path
        // assumes Double and would ClassCastException on int/decimal input
        TopKDouble(Cast(args.head, DoubleType), intArg(args(1), "top_k"))
          .toAggregateExpression()
      }))

    ext.injectFunction((
      new FunctionIdentifier("top_k_pairs"),
      new ExpressionInfo(classOf[TopKPairs].getName, "top_k_pairs"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "top_k_pairs(score, id, k) takes exactly three arguments")
        TopKPairs(Cast(args(0), DoubleType), Cast(args(1), LongType),
          intArg(args(2), "top_k_pairs", "third")).toAggregateExpression()
      }))

    ext.injectFunction((
      new FunctionIdentifier("dot_double"),
      new ExpressionInfo(classOf[DotProductDouble].getName, "dot_double"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_double(a, b) takes exactly two arguments")
        DotProductDouble(args(0), args(1))
      }))

    ext.injectFunction((
      new FunctionIdentifier("sq_dist_double"),
      new ExpressionInfo(classOf[SqDistDouble].getName, "sq_dist_double"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "sq_dist_double(a, b) takes exactly two arguments")
        SqDistDouble(args(0), args(1))
      }))

    ext.injectFunction((
      new FunctionIdentifier("search_sorted"),
      new ExpressionInfo(classOf[SearchSortedDouble].getName, "search_sorted"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "search_sorted(splits, v) takes exactly two arguments")
        SearchSortedDouble(args(0), args(1))
      }))

    ext.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHashLong].getName, "rolling_hash"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "rolling_hash(s) takes exactly one argument")
        RollingHashLong(args.head)
      }))

    ext.injectFunction((
      new FunctionIdentifier("array_pairs"),
      new ExpressionInfo(classOf[ArrayPairs].getName, "array_pairs"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "array_pairs(xs) takes exactly one argument")
        ArrayPairs(args.head)
      }))

    ext.injectFunction((
      new FunctionIdentifier("window_hashes"),
      new ExpressionInfo(classOf[RollingWindowHashes].getName, "window_hashes"),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          "window_hashes(text, w [, stride]) takes two or three arguments")
        val stride = if (args.length < 3) 1
          else intArg(args(2), "window_hashes", "third")
        RollingWindowHashes(args.head, intArg(args(1), "window_hashes"), stride)
      }))

    ext.injectFunction((
      new FunctionIdentifier("vector_mean"),
      new ExpressionInfo(classOf[VectorMeanDecimal].getName, "vector_mean"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "vector_mean(v) takes exactly one argument")
        VectorMeanDecimal(args.head).toAggregateExpression()
      }))

    ext.injectFunction((
      new FunctionIdentifier("vector_mean_rounded"),
      new ExpressionInfo(classOf[VectorMeanRounded].getName,
        "vector_mean_rounded"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "vector_mean_rounded(v, mult, scale) takes exactly three arguments")
        VectorMeanRounded(args.head, args(1),
          intArg(args(2), "vector_mean_rounded", "third"))
          .toAggregateExpression()
      }))

    ext.injectFunction((
      new FunctionIdentifier("token_shingles"),
      new ExpressionInfo(classOf[TokenShingles].getName, "token_shingles"),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          "token_shingles(text, n [, distinct]) takes two or three arguments")
        val dist = if (args.length < 3) true else args(2) match {
          case Literal(b: Boolean, _) => b
          case other => throw new IllegalArgumentException(
            s"token_shingles: third argument must be a boolean literal, got $other")
        }
        TokenShingles(args.head, intArg(args(1), "token_shingles"), dist)
      }))

    ext.injectFunction((
      new FunctionIdentifier("bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "bpe_encode"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "bpe_encode(piece, merges) takes exactly two arguments")
        // the merge table must be a plan constant: a foldable
        // array(array(l, r), ...) evaluated once at resolution — never a
        // per-row column (see BpeEncode's scaladoc)
        val m = args(1)
        require(m.foldable && m.dataType.isInstanceOf[ArrayType],
          "bpe_encode: merges must be a foldable array(array(l, r), ...)")
        val evaluated = m.eval()
        require(evaluated != null,
          "bpe_encode: merges must not be null (got a foldable NULL array)")
        val arr = evaluated.asInstanceOf[ArrayData]
        val merges = (0 until arr.numElements()).map { i =>
          val pair = arr.getArray(i)
          require(pair != null && pair.numElements() == 2,
            "bpe_encode: each merge must be a 2-element array(l, r)")
          val l = pair.getUTF8String(0)
          val r = pair.getUTF8String(1)
          require(l != null && r != null,
            "bpe_encode: merge pair elements must be non-null strings")
          (l.toString, r.toString)
        }
        BpeEncode(args.head, merges)
      }))
  }
}
