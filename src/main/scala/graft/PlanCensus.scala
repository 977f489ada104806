package graft

import java.nio.file.{Files, Paths}

/** Plan-discipline audit: one row per registered query summarizing the
  * physical plan — shuffle exchanges, join strategies, codegen spans —
  * so plan regressions are reviewable as a diff, not archaeology.
  * Complements PlanShapeSpec (which gates specific shapes); this is the
  * whole-surface census. Writes a markdown table.
  *
  * Usage: runMain graft.PlanCensus <sfDir> <outFile> [prefixes]
  * (optional comma-separated name-prefix filters, the Verify
  * convention — a family-scoped census at a big SF beats waiting for
  * the whole surface when only the family is under test)
  */
object PlanCensus {
  def main(args: Array[String]): Unit = {
    val (sfDir, outFile) = (args(0), args(1))
    val prefixes = args.lift(2).map(_.split(',').toSeq.filter(_.nonEmpty))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def count(hay: String, needle: String): Int = {
      var i = 0; var n = 0
      while ({ i = hay.indexOf(needle, i); i >= 0 }) { n += 1; i += needle.length }
      n
    }
    val codegenId = """\*\((\d+)\)""".r

    // MEASURED shuffle volume off the executed plan's own SQL metrics —
    // the runtime complement to the static exchange count. The final
    // adaptive plan nests materialized stages as leaves, so the walk
    // descends into AdaptiveSparkPlanExec/QueryStageExec explicitly.
    // (Subquery plans — the 1-row broadcast aggregates — are excluded:
    // their shuffles carry scalar rows.)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    def shuffleWritten(p: SparkPlan): (Long, Long) = {
      val ex = nodes(p).filter(n => n.nodeName.contains("Exchange") &&
        !n.nodeName.contains("Broadcast"))
      (ex.flatMap(_.metrics.get("shuffleBytesWritten").map(_.value)).sum,
        ex.flatMap(_.metrics.get("shuffleRecordsWritten").map(_.value)).sum)
    }

    val header =
      "| query | shuffle | bcast | SMJ | BHJ | SHJ | codegen | scans | shufMB | shufRows |\n" +
        "|---|---|---|---|---|---|---|---|---|---|\n"
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      prefixes.forall(_.exists(n.startsWith))
    }
    val rows = selected.map { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // execute THIS queryExecution so AQE finalizes in place (a
        // df.write would plan a fresh QueryExecution and leave this one
        // un-finalized): the census reports the plan that RAN, with its
        // *(n) whole-stage-codegen markers
        df.queryExecution.executedPlan.execute().foreach(_ => ())
        val full = df.queryExecution.executedPlan.toString
        val i = full.indexOf("== Final Plan ==")
        val j = full.indexOf("== Initial Plan ==")
        val p = if (i >= 0 && j > i) full.substring(i, j) else full
        // exchanges counted on the walked FINAL-plan nodes, not the plan
        // string: `ReusedExchange [...] Exchange hashpartitioning(...)`
        // lines would double-count a reused shuffle as a new one
        val ns = nodes(df.queryExecution.executedPlan)
        val shuffle = ns.count(_.nodeName == "Exchange")
        val bcast = ns.count(_.nodeName == "BroadcastExchange")
        val spans = codegenId.findAllMatchIn(p).map(_.group(1)).toSet.size
        val (sBytes, sRows) = shuffleWritten(df.queryExecution.executedPlan)
        Seq(name, shuffle, bcast,
          count(p, "SortMergeJoin"), count(p, "BroadcastHashJoin"),
          count(p, "ShuffledHashJoin"), spans,
          count(p, "FileScan parquet") + count(p, "FileScan csv"),
          f"${sBytes / 1e6}%.1f", sRows)
          .mkString("| ", " | ", " |")
      } catch {
        // null-message-safe, and padded to the full column count so a
        // failure row cannot corrupt the table layout
        case e: Throwable =>
          val msg = String.valueOf(e.getMessage).replace("|", "/").take(60)
          (Seq(name, s"plan failed: $msg") ++ Seq.fill(8)("-"))
            .mkString("| ", " | ", " |")
      }
    }
    val doc =
      s"# PLANS — physical-plan census (${Paths.get(sfDir).getFileName})\n\n" +
        s"Generated by `runMain graft.PlanCensus $sfDir $outFile` " +
        "(queries are EXECUTED so AQE finalizes).\n" +
        "Columns: shuffle exchanges, broadcast exchanges, sort-merge /\n" +
        "broadcast-hash / shuffled-hash joins, whole-stage-codegen spans,\n" +
        "file scans, and MEASURED shuffle writes (MB / rows) read off the\n" +
        "executed plan's SQL metrics (main plan; scalar subqueries\n" +
        "excluded). shufMB is what actually crossed the wire at this SF —\n" +
        "the number that scales with data, where plan-shape columns must\n" +
        "stay CONSTANT as SF grows.\n\n" +
        header + rows.mkString("\n") + "\n"
    Files.writeString(Paths.get(outFile), doc)
    println(s"[census] wrote ${rows.size} rows to $outFile")
    spark.stop()
  }
}
