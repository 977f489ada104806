package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Change-data operators — the warehouse-side complement of the CDC
  * ingestion pipeline:
  *
  *   - snapshotDiff: given two keyed snapshots, emit the minimal change
  *     set (I/U/D rows) that turns old into new — one full-outer join on
  *     the key, the standard way to RE-DERIVE a change feed when the
  *     source system can't produce one.
  *   - scd2: collapse a version history into type-2 slowly-changing-
  *     dimension validity intervals (valid_from/valid_to, current flag) —
  *     one window pass per key, no self-join.
  */
object Cdc {

  /** Minimal change set turning `oldDf` into `newDf` (both keyed by
    * `key`). Output: key, op ('I'/'U'/'D'), old/new values per compared
    * column. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, key: String,
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty,
      "snapshotDiff needs at least one compared column")
    // explicit presence markers: a row whose compared columns are all
    // null must still count as present (null-sniffing would misclassify)
    val o = oldDf.select(col(key).as("__ok") +: lit(true).as("__old") +:
      compareCols.map(c => col(c).as(s"old_$c")): _*)
    val n = newDf.select(col(key).as("__nk") +: lit(true).as("__new") +:
      compareCols.map(c => col(c).as(s"new_$c")): _*)
    // null-SAFE key join: a null-keyed row present in both snapshots is
    // one (possibly updated) row, not a spurious delete+insert pair
    val joined = o.join(n, col("__ok") <=> col("__nk"), "full_outer")
    val changed = compareCols.map(c =>
      !(col(s"old_$c") <=> col(s"new_$c"))).reduce[Column](_ || _)
    val oldExists = col("__old").isNotNull
    val newExists = col("__new").isNotNull
    joined
      .withColumn("op",
        when(!oldExists && newExists, "I")
          .when(oldExists && !newExists, "D")
          .when(changed, "U"))
      .filter(col("op").isNotNull)
      .select(coalesce(col("__ok"), col("__nk")).as(key) +: col("op") +:
        compareCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Type-2 SCD intervals from a version history: one row per version
    * with [valid_from, valid_to) and an is_current flag; valid_to of the
    * latest version is null. `versionTs` must be unique per key (CDC
    * ingest guarantees this via the file/batch ordering). */
  def scd2(history: DataFrame, key: String, versionTs: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(versionTs).asc)
    history
      .withColumn("valid_from", col(versionTs))
      .withColumn("valid_to", lead(col(versionTs), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Apply a keyed changelog onto a base snapshot — the consuming half
    * of the CDC loop ([[snapshotDiff]] derives a feed, this replays
    * one): per key only the LATEST changelog op (by `seqCols`) matters;
    * a 'D' tombstones the key, any other op REPLACES the value columns,
    * and base keys the changelog never touches pass through. One
    * row_number window over the changelog (keyed, so the shuffle is the
    * feed — never the base), one anti-join, one union; latest-op-wins
    * means the result is independent of how many intermediate ops the
    * feed carried, which is what makes compacted-topic replays safe. */
  def applyChangelog(base: DataFrame, changelog: DataFrame, key: String,
      opCol: String, seqCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(seqCols.map(col(_).desc): _*)
    val latest = changelog.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(key) +: col(opCol).as("__op") +: valueCols.map(col): _*)
    val untouched = base
      .join(latest.select(col(key)), Seq(key), "left_anti")
      .withColumn("src", lit("base"))
    val applied = latest.filter(col("__op") =!= "D")
      .drop("__op").withColumn("src", lit("applied"))
    untouched.unionByName(applied)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The CDC loop's consuming half: first-half-of-month per-user totals
    // as the base snapshot, the second half of the event stream as the
    // changelog (errors are tombstones, anything else replaces the
    // row) — latest-op-wins apply with pass-through of untouched keys.
    "q74_cdc_apply" -> { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      val cutoff = lit("2024-01-15").cast("timestamp")
      val base = ev.filter($"ts" < cutoff).groupBy($"user_id")
        .agg(sum($"value".cast("decimal(18,2)")).cast("double").as("total"),
          count(lit(1)).as("n"))
      val changelog = ev.filter($"ts" >= cutoff)
        .select($"user_id",
          when($"event_type" === "error", "D").otherwise("U").as("op"),
          $"ts", $"event_id", $"value".as("total"), lit(1L).as("n"))
      applyChangelog(base, changelog, "user_id", "op",
        seqCols = Seq("ts", "event_id"), valueCols = Seq("total", "n"))
    },

    // Re-derived change feed: per-user value totals over the first half
    // of the month vs the whole month → I (new users)/U (changed totals).
    "q37_snapshot_diff" -> { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      def totals(df: DataFrame) = df.groupBy($"user_id")
        .agg(sum($"value".cast("decimal(18,2)")).cast("double").as("total"),
          count(lit(1)).as("n"))
      val old = totals(ev.filter($"ts" < lit("2024-01-15").cast("timestamp")))
      val neu = totals(ev)
      snapshotDiff(old, neu, "user_id", Seq("total", "n"))
    },

    // SCD2 over each user's event history (event_id as the version order
    // surrogate; unique per key by construction).
    "q38_scd2" -> { (s, d) =>
      import s.implicits._
      val hist = Tables.events(s, d)
        .select($"user_id", $"event_id", $"event_type", $"value")
      scd2(hist, "user_id", "event_id")
        .select($"user_id", $"event_id", $"event_type",
          $"valid_from", $"valid_to", $"is_current")
    },

    // q93: incremental VIEW maintenance — q74 maintains a row-level
    // base table under a changelog; q93 maintains an AGGREGATE without
    // ever recomputing it: the pre-cutoff per-user view merges with the
    // delta batch's aggregate under signed multiplicities ('error'
    // events retract: w = −1), and the ORACLE IS THE RECOMPUTE over the
    // whole corpus — a green row proves merge(view(R), agg(ΔR)) =
    // view(R ∪ ΔR), zero-elimination included (a user whose deltas net
    // every column to zero LEAVES the view). Money stays in integer
    // cents (q84/q86 convention) so every addition is exact.
    "q93_ivm_maintain" -> { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("__w",
          when($"event_type" === "error", -1L).otherwise(1L))
        .withColumn("__cents",
          $"__w" * round($"value" * 100).cast("long"))
      val cutoff = lit("2024-01-15").cast("timestamp")
      def signedAgg(df: DataFrame) = df.groupBy($"user_id")
        .agg(sum($"__w").as("n"), sum($"__cents").as("cents"))
      mergeAggregates(
        signedAgg(ev.filter($"ts" < cutoff)),
        signedAgg(ev.filter($"ts" >= cutoff)),
        "user_id", Seq("n", "cents"))
    }
  )

  /** Incremental view maintenance: merge a maintained aggregate view
    * with a delta batch's aggregate — the Materialize-style contract
    * that `merge(view(R), agg(ΔR)) = view(R ∪ ΔR)` for sum-style
    * aggregates under SIGNED multiplicities (+1 insert, −1 retraction).
    * One full-outer join on the view key: shuffle cost ∝ |view| +
    * |delta|, never |history| — the whole point of not recomputing.
    * Zero-elimination: a key whose every additive column nets to zero
    * LEAVES the view (the multiset says it no longer exists); without
    * it the view grows monotonically with every key ever touched. */
  def mergeAggregates(view: DataFrame, deltaAgg: DataFrame, key: String,
      sumCols: Seq[String]): DataFrame = {
    require(sumCols.nonEmpty, "mergeAggregates needs additive columns")
    val v = view.select(col(key).as("__vk") +:
      sumCols.map(c => col(c).as(s"__v_$c")): _*)
    val d = deltaAgg.select(col(key).as("__dk") +:
      sumCols.map(c => col(c).as(s"__d_$c")): _*)
    // both sides are key-aggregated (view-scale, not history-scale);
    // the s08 convention: a full outer of bounded arms rides
    // shuffle-hash, not the planner's default sort-merge
    val merged = v.join(d.hint("shuffle_hash"),
        col("__vk") <=> col("__dk"), "full_outer")
      .select(coalesce(col("__vk"), col("__dk")).as(key) +:
        sumCols.map(c => (coalesce(col(s"__v_$c"), lit(0L)) +
          coalesce(col(s"__d_$c"), lit(0L))).as(c)): _*)
    merged.filter(sumCols.map(c => col(c) =!= 0L).reduce[Column](_ || _))
  }

  val oracleSql: Map[String, String] = Map(
    "q74_cdc_apply" ->
      """WITH base AS (SELECT user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |    COUNT(*) AS n
        |  FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY 1),
        |cl AS (SELECT user_id,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    value AS total, CAST(1 AS BIGINT) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-15'),
        |latest AS (SELECT user_id, op, total, n FROM cl WHERE rn = 1)
        |SELECT b.user_id, b.total, b.n, 'base' AS src FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM latest l
        |    WHERE l.user_id = b.user_id)
        |UNION ALL
        |SELECT user_id, total, n, 'applied' AS src FROM latest
        |WHERE op <> 'D'""".stripMargin,

    "q37_snapshot_diff" ->
      """WITH old AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |    COUNT(*) AS n
        |  FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY user_id),
        |neu AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |    COUNT(*) AS n
        |  FROM events GROUP BY user_id),
        |j AS (SELECT coalesce(old.user_id, neu.user_id) AS user_id,
        |        old.total AS old_total, neu.total AS new_total,
        |        old.n AS old_n, neu.n AS new_n
        |      FROM old FULL OUTER JOIN neu ON old.user_id = neu.user_id)
        |SELECT user_id,
        |  CASE WHEN old_total IS NULL AND old_n IS NULL THEN 'I'
        |       WHEN new_total IS NULL AND new_n IS NULL THEN 'D'
        |       WHEN old_total IS DISTINCT FROM new_total
        |         OR old_n IS DISTINCT FROM new_n THEN 'U' END AS op,
        |  old_total, new_total, old_n, new_n
        |FROM j
        |WHERE CASE WHEN old_total IS NULL AND old_n IS NULL THEN 'I'
        |           WHEN new_total IS NULL AND new_n IS NULL THEN 'D'
        |           WHEN old_total IS DISTINCT FROM new_total
        |             OR old_n IS DISTINCT FROM new_n THEN 'U' END IS NOT NULL""".stripMargin,

    "q38_scd2" ->
      """SELECT user_id, event_id, event_type,
        |  event_id AS valid_from,
        |  LEAD(event_id, 1) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS valid_to,
        |  LEAD(event_id, 1) OVER (PARTITION BY user_id ORDER BY event_id)
        |    IS NULL AS is_current
        |FROM events""".stripMargin,

    // the oracle IS the whole-corpus recompute — green proves the
    // merge contract, not just the arithmetic
    "q93_ivm_maintain" ->
      """WITH s AS (SELECT user_id,
        |    CASE WHEN event_type = 'error' THEN -1 ELSE 1 END AS w,
        |    (CASE WHEN event_type = 'error' THEN -1 ELSE 1 END)
        |      * CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT user_id, CAST(SUM(w) AS BIGINT) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS cents
        |FROM s GROUP BY 1
        |HAVING SUM(w) <> 0 OR SUM(cents) <> 0""".stripMargin
  )
}
