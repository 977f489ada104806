package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The top-2-gram repetition fraction of ONE document in ONE codegen'd
  * per-row pass: `top2gram_frac(text)` = max occurrence count of any
  * token 2-gram / total 2-gram occurrences, NULL when the document has
  * fewer than two tokens (and on NULL input).
  *
  * This is the per-row twin of `DataOps.repetitionTop2`'s relational
  * form — explode(token_ngrams(text, 2)) → groupBy(doc, gram) count →
  * groupBy(doc) max/sum — which shipped one row per corpus TOKEN into
  * an exchange and aggregated it twice, then joined the result back to
  * the corpus, to compute a value that is a pure function of the single
  * document. Replacing the join with this expression removes one
  * corpus-token-scale exchange, two aggregations and a doc-keyed join
  * from every consumer (the t12 clean report, the quality gate under
  * the x01 curation fixpoint).
  *
  * Value identity with the relational form, piece by piece: the token
  * split is Java `String.split(" ", -1)` = Spark `split(c, " ")`
  * including empties ([[TokenShingles]]'s argument, same helper shape);
  * 2-grams are the same space-joined windows (tokens contain no spaces,
  * so string equality = window equality); counts are exact ints; the
  * fraction is the same double-by-double IEEE division the relational
  * `max(c).cast("double") / sum(c)` performs; and the NULL-on-no-grams
  * convention maps exactly onto the relational form's absent row — both
  * call sites wrap in `coalesce(_, 0.0)` (documents with fewer than two
  * tokens pass the repetition gate). Consumers spec-pin the equality.
  */
case class Top2GramFrac(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"top2gram_frac expects string, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    Top2GramFrac.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("frac")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |java.lang.Double $boxed = graft.functions.Top2GramFrac.compute($c);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Top2GramFrac =
    copy(child = newChild)
}

object Top2GramFrac {

  /** Static so generated code calls it directly. Returns null (boxed)
    * when the document has fewer than two tokens — the relational
    * form's absent-row case. */
  def compute(s: UTF8String): java.lang.Double = {
    val toks = s.toString.split(" ", -1)
    if (toks.length < 2) return null
    val nGrams = toks.length - 1
    val counts = new java.util.HashMap[String, Int](nGrams * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    var maxC = 0
    while (i < nGrams) {
      sb.setLength(0)
      sb.append(toks(i)).append(' ').append(toks(i + 1))
      val g = sb.toString
      val c = counts.merge(g, 1, (a, b) => a + b)
      if (c > maxC) maxC = c
      i += 1
    }
    java.lang.Double.valueOf(maxC.toDouble / nGrams.toDouble)
  }

  def top2gram_frac(c: Column): Column =
    ColumnBridge.column(Top2GramFrac(ColumnBridge.expression(c)))
}
