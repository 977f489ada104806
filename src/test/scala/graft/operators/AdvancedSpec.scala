package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.TopKDouble.top_k

class AdvancedSpec extends SparkSpec {
  import spark.implicits._

  test("top_k aggregate equals sort-and-take per group") {
    val df = Seq(
      ("a", 5.0), ("a", 9.0), ("a", 1.0), ("a", 7.0),
      ("b", 2.0), ("b", 3.0),
      ("c", 4.0)
    ).toDF("k", "v")
    val got = df.groupBy($"k").agg(top_k($"v", 3).as("top"))
      .as[(String, Seq[Double])].collect().toMap
    assert(got("a") === Seq(9.0, 7.0, 5.0))
    assert(got("b") === Seq(3.0, 2.0))
    assert(got("c") === Seq(4.0))
  }

  test("top_k on real data matches the window formulation") {
    val li = graft.Tables.lineitem(spark, sf("sf0.001"))
    val viaAgg = li.groupBy($"l_returnflag")
      .agg(top_k($"l_extendedprice", 5).as("top"))
      .select($"l_returnflag", explode($"top").as("price"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_returnflag").orderBy($"l_extendedprice".desc)
    val viaWindow = li
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 5)
      .select($"l_returnflag", $"l_extendedprice".as("price"))
    assert(viaAgg.exceptAll(viaWindow).count() === 0)
    assert(viaWindow.exceptAll(viaAgg).count() === 0)
  }

  test("asof backward join picks the latest right row at-or-before") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 101L),
      (1L, ts("2024-01-01 10:00:05"), 102L),
      (1L, ts("2024-01-01 10:00:10"), 103L),
      (2L, ts("2024-01-01 10:00:07"), 201L)
    ).toDF("user_id", "ts", "quote_id")
    val trades = Seq(
      (1L, ts("2024-01-01 10:00:05"), 11L), // equal ts → inclusive match 102
      (1L, ts("2024-01-01 10:00:09"), 12L), // between → 102
      (1L, ts("2024-01-01 10:00:30"), 13L), // after all → 103
      (2L, ts("2024-01-01 10:00:00"), 21L), // before any → null
      (3L, ts("2024-01-01 10:00:00"), 31L)  // key with no right rows → null
    ).toDF("user_id", "ts", "trade_id")
    val out = AsofJoin.backward(trades, quotes, "ts",
        keyCols = Seq("user_id"), rightCols = Seq("quote_id"),
        rightTieBreak = "quote_id")
      .select($"trade_id", $"asof_quote_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(out(11L) === Some(102L))
    assert(out(12L) === Some(102L))
    assert(out(13L) === Some(103L))
    assert(out(21L) === None)
    assert(out(31L) === None)
  }

  test("asof forward join picks the earliest right row at-or-after") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 101L),
      (1L, ts("2024-01-01 10:00:05"), 102L),
      (1L, ts("2024-01-01 10:00:10"), 103L),
      (2L, ts("2024-01-01 10:00:07"), 201L)
    ).toDF("user_id", "ts", "quote_id")
    val trades = Seq(
      (1L, ts("2024-01-01 10:00:05"), 11L), // equal ts → inclusive match 102
      (1L, ts("2024-01-01 10:00:06"), 12L), // between → next is 103
      (1L, ts("2024-01-01 10:00:30"), 13L), // after all → null
      (2L, ts("2024-01-01 10:00:00"), 21L), // before any → 201
      (3L, ts("2024-01-01 10:00:00"), 31L)  // key with no right rows → null
    ).toDF("user_id", "ts", "trade_id")
    val out = AsofJoin.forward(trades, quotes, "ts",
        keyCols = Seq("user_id"), rightCols = Seq("quote_id"),
        rightTieBreak = "quote_id")
      .select($"trade_id", $"asof_quote_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(out(11L) === Some(102L))
    assert(out(12L) === Some(103L))
    assert(out(13L) === None)
    assert(out(21L) === Some(201L))
    assert(out(31L) === None)
  }

  test("asof: a null carried value on the true latest match stays null") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 101L, Option("old")),
      (1L, ts("2024-01-01 10:00:05"), 102L, Option.empty[String]) // latest, null payload
    ).toDF("user_id", "ts", "quote_id", "note")
    val trades = Seq((1L, ts("2024-01-01 10:00:10"), 11L))
      .toDF("user_id", "ts", "trade_id")
    val out = AsofJoin.backward(trades, quotes, "ts",
        keyCols = Seq("user_id"), rightCols = Seq("quote_id", "note"),
        rightTieBreak = "quote_id")
      .select($"trade_id", $"asof_quote_id", $"asof_note").collect().head
    assert(out.getAs[Long]("asof_quote_id") === 102L,
      "must match the latest right ROW")
    assert(out.getAs[String]("asof_note") === null,
      "null field of the latest match must not leak an older row's value")
  }

  test("asof with tolerance nulls out stale matches") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val quotes = Seq((1L, ts("2024-01-01 10:00:00"), 101L))
      .toDF("user_id", "ts", "quote_id")
    val trades = Seq(
      (1L, ts("2024-01-01 10:00:30"), 11L),   // 30s old: within 60s
      (1L, ts("2024-01-01 10:02:00"), 12L))   // 120s old: stale
      .toDF("user_id", "ts", "trade_id")
    val out = AsofJoin.backwardWithTolerance(trades, quotes, "ts",
        Seq("user_id"), Seq("quote_id"), "quote_id", toleranceSeconds = 60)
      .select($"trade_id", $"asof_quote_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(out(11L) === Some(101L))
    assert(out(12L) === None)
  }

  test("HLL sketch rollup: unioned daily sketches estimate per-type users") {
    val got = Advanced.queries("q50_hll_rollup")(spark, sf("sf0.01"))
      .as[(String, Long)].collect().toMap
    val exact = graft.Tables.events(spark, sf("sf0.01"))
      .groupBy($"event_type").agg(countDistinct($"user_id").as("n"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, x) =>
      val e = got(k)
      assert(math.abs(e - x).toDouble / x <= 0.05,
        s"$k: sketch=$e exact=$x — union must preserve accuracy")
    }
  }

  test("approx_count_distinct within declared error of exact") {
    val ev = graft.Tables.events(spark, sf("sf0.01"))
    val approx = ev.agg(approx_count_distinct($"user_id", 0.02))
      .as[Long].head()
    val exact = ev.agg(countDistinct($"user_id")).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact <= 0.05,
      s"approx=$approx exact=$exact")
  }

  test("q68: approx_percentile within the GK rank-error bound of exact") {
    // accuracy=1000 guarantees rank error <= n/1000 per group; assert
    // each sketch value lies between the exact percentiles at
    // p +/- 2/1000 (2x slack so the bound is not knife-edge on ties)
    val ev = graft.Tables.events(spark, sf("sf0.01"))
    val rows = ev.groupBy($"event_type").agg(
        expr("approx_percentile(user_id, 0.5, 1000)").as("ap50"),
        expr("approx_percentile(user_id, 0.9, 1000)").as("ap90"),
        expr("percentile(user_id, 0.498)").as("lo50"),
        expr("percentile(user_id, 0.502)").as("hi50"),
        expr("percentile(user_id, 0.898)").as("lo90"),
        expr("percentile(user_id, 0.902)").as("hi90"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getString(0)
      assert(r.getLong(1) >= r.getDouble(3).floor.toLong &&
        r.getLong(1) <= r.getDouble(4).ceil.toLong,
        s"$t p50: ${r.getLong(1)} outside [${r.getDouble(3)}, ${r.getDouble(4)}]")
      assert(r.getLong(2) >= r.getDouble(5).floor.toLong &&
        r.getLong(2) <= r.getDouble(6).ceil.toLong,
        s"$t p90: ${r.getLong(2)} outside [${r.getDouble(5)}, ${r.getDouble(6)}]")
    }
  }

  test("saltedJoin equals plain join") {
    val ev = graft.Tables.events(spark, sf("sf0.001"))
      .select($"event_id", $"user_id")
    val users = graft.Tables.events(spark, sf("sf0.001"))
      .select($"user_id").distinct()
      .withColumn("user_tag", concat(lit("u"), $"user_id"))
    val salted = Skew.saltedJoin(ev, users, "user_id")
    val plain = ev.join(users, "user_id")
    assert(salted.count() === plain.count())
    assert(salted.select($"event_id", $"user_tag")
      .exceptAll(plain.select($"event_id", $"user_tag")).count() === 0)
  }

  test("adaptiveSaltedJoin: planted hot key proposed, result equals plain join either way") {
    // 95%-one-key probe side under junk churn: the MG proposal must
    // catch the hot key, and the hot/cold routed union must be
    // row-identical to the plain join regardless of what else it proposes
    val probe = ((1 to 5000).map(i => (999L, i.toLong)) ++
      (1 to 300).map(i => (i.toLong, -i.toLong))).toDF("k", "pid")
      .repartition(7)
    val build = (1 to 1000).map(i => (i.toLong, s"b$i"))
      .toDF("k", "tag").union(Seq((999L, "hot")).toDF("k", "tag"))
    val proposed = Skew.proposedHotKeys(probe, "k", k = 64)
      .as[Long].collect().toSet
    assert(proposed.contains(999L), "key above n/k must be proposed")
    val fast = Skew.adaptiveSaltedJoin(probe, build, "k")
      .select($"pid", $"tag").as[(Long, String)].collect().toSeq.sorted
    val plain = probe.join(build, Seq("k"))
      .select($"pid", $"tag").as[(Long, String)].collect().toSeq.sorted
    assert(fast === plain)
    assert(plain.nonEmpty)
  }

  test("AQE splits a planted skewed join partition at runtime (skew=true in the final plan)") {
    // The OTHER half of the skew story: saltedJoin is the explicit fix
    // when the hot keys are known up front; AQE's skew-join split is the
    // runtime fix when they are not. This proves the engine's config
    // surface actually triggers it: one key carries ~99% of the probe
    // side, thresholds are scaled down to test size, and the executed
    // (adaptive, final) plan must show the join marked skew=true —
    // i.e. the hot partition was split instead of stalling one task.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.forceOptimizeSkewedJoin")
    val saved = keys.map(k =>
      k -> scala.util.Try(conf.get(k)).toOption.filter(_ != null))
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      // no broadcast escape hatch: force a genuine shuffled join
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      val probe = spark.range(0, 300000)
        .select(when($"id" % 100 === 0, $"id" % 1000)
          .otherwise(lit(0L)).as("k"), $"id".as("v"))
      val build = spark.range(0, 1000)
        .select($"id".as("k"), ($"id" * 7).as("w"))
      val joined = probe.join(build, "k")
      // drive THIS DataFrame's own QueryExecution (a .count() would plan
      // a separate aggregate execution and leave this one un-finalized)
      assert(joined.queryExecution.toRdd.count() === 300000L)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected a runtime skew-split join:\n${finalPlan.take(4000)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("reference SQL-text queries run via spark.sql and match DSL versions") {
    val corpus = graft.etl.TestCorpus.dir
    val q2 = ReferenceQueries.q2(spark, corpus)
    assert(q2.columns.toSeq === Seq("trackingCode", "total_events"))
    assert(q2.count() > 0)
    val q3 = ReferenceQueries.q3(spark, corpus).collect()
    assert(q3.length >= 10) // rank ≤ 10 with possible ties
    // DSL equivalent of Q3 over the same view
    val events = spark.table("events")
    val counts = events.groupBy($"description")
      .agg(count(lit(1)).as("total_events"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"total_events".desc)
    val dsl = counts.withColumn("event_rank", rank().over(w))
      .filter($"event_rank" <= 10)
      .select($"description", $"total_events", $"event_rank")
    assert(ReferenceQueries.q3(spark, corpus).exceptAll(dsl).count() === 0)
  }

  test("partitioned parquet write enables partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("part_out").toString
    val ev = graft.Tables.events(spark, sf("sf0.001"))
    graft.sources.ParquetSink.writePartitioned(ev, dir,
      partitionCols = Seq("event_type"), sortCols = Seq("ts"))
    val pruned = spark.read.parquet(dir)
      .filter($"event_type" === "purchase")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"partition filter missing from plan:\n$plan")
    assert(pruned.count() ===
      ev.filter($"event_type" === "purchase").count())
  }
}
