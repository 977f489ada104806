package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** Guards the testdata loader against driver testdata-generation drift.
  *
  * The driver has shipped the events `ts` column as TIMESTAMP(NANOS)
  * (arrives as LongType under nanosAsLong), as TIMESTAMP(MICROS,
  * adjusted-to-UTC), and as TIMESTAMP(MICROS, NTZ) across rounds. Round 5
  * lost six window/as-of queries to the NTZ variant — Spark 4 refuses
  * CAST(TIMESTAMP_NTZ AS BIGINT), so every epoch-arithmetic query threw at
  * analysis. Tables.load must always hand queries a session-tz
  * TimestampType `ts`, whatever the parquet encoding.
  */
class TablesSpec extends SparkSpec {

  test("events.ts is session-tz TimestampType and epoch-castable") {
    val ev = Tables.events(spark, sf("sf0.001"))
    val dt = ev.schema("ts").dataType
    assert(dt == TimestampType, s"ts must be TimestampType (LTZ), got $dt")
    // The exact expression that broke in round 5 must analyze and run.
    val r = ev.select(min(col("ts").cast("long")).as("lo"),
                      max(col("ts").cast("long")).as("hi"))
      .head()
    assert(r.getLong(0) > 0L && r.getLong(1) >= r.getLong(0))
  }

  test("widenDense is layout-aware: dense directory layout widens, star " +
    "table and kill-switch never do (r13 ask 5)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-widen").toString
    // a ~8 MB single-part parquet DIRECTORY — the layout the old
    // single-file File.length probe silently skipped (it saw a
    // directory, stat'd it as not-a-file, and never widened). Tokens
    // are hash-unique so parquet can't compress below the widen floor;
    // one row group, so the scan stays narrower than local[4]'s
    // parallelism (the d12 single-row-group shape).
    val docs = (0 until 2000)
      .map { i =>
        val text = (0 until 250)
          .map(j => java.lang.Long.toHexString(
            (i * 1000L + j) * 0x9e3779b97f4a7c15L))
          .mkString(" ")
        (i.toLong, text, "src")
      }
      .toDF("doc_id", "text", "source")
      .repartition(1)
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    docs.toDF("l_orderkey", "l_comment", "l_shipmode")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val scan = spark.read.parquet(s"$dir/documents.parquet")
    assume(scan.rdd.getNumPartitions <
      spark.sparkContext.defaultParallelism,
      "fixture must scan narrower than parallelism for widen to matter")
    // dense table, big enough, narrow scan -> widened to parallelism
    assert(Tables.documents(spark, dir).rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    // star table: same bytes, same layout — never widened (its
    // consumers shuffle right after a cheap scan)
    assert(Tables.lineitem(spark, dir).rdd.getNumPartitions ===
      scan.rdd.getNumPartitions)
    // small dense table (the committed sf dirs) stays on the narrow
    // path — the oracle exercises it unchanged
    val small = Tables.documents(spark, sf("sf0.001"))
    assert(small.rdd.getNumPartitions <=
      spark.sparkContext.defaultParallelism)
  }

  test("NTZ parquet round-trips to the same UTC wall-time values") {
    // Write an NTZ-typed parquet and confirm the loader normalizes it to
    // the identical instants an LTZ read would see under the UTC session.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-ntz").toString
    val src = Seq(1L, 1700000000L, 1700003600L).toDF("secs")
      .withColumn("ts", timestamp_seconds(col("secs")).cast(TimestampNTZType))
      .withColumn("event_id", col("secs"))
      .select("event_id", "ts")
    src.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val back = Tables.events(spark, dir)
    assert(back.schema("ts").dataType == TimestampType)
    val got = back.select(col("ts").cast("long")).as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 1700000000L, 1700003600L))
  }

  /** `Tables.load(dir, name)` with the jobs it launched. */
  private def loadCounted(dir: String, name: String): (DataFrame, Int) = {
    var df: DataFrame = null
    val jobs = jobsOf { df = Tables.load(spark, dir, name) }
    (df, jobs)
  }

  /** The schema inference gives the table, with `ts` as `load` hands it
    * out (session-tz TimestampType, see the tests above). */
  private def inferred(dir: String, name: String): StructType = {
    val raw = spark.read.parquet(s"$dir/$name.parquet").schema
    StructType(raw.map(f =>
      if (f.name == "ts") f.copy(dataType = TimestampType) else f))
  }

  test("load reads every testdata table with no job and the inferred schema") {
    val dir = sf("sf0.001")
    assume(new java.io.File(dir).isDirectory, s"$dir is absent")
    for (name <- Tables.names) {
      val (df, jobs) = loadCounted(dir, name)
      assert(jobs === 0, s"$name: loading must launch no Spark job")
      assert(df.schema === inferred(dir, name), name)
    }
  }

  test("load of a Spark-written directory table (part files, _SUCCESS, " +
    "summary files) matches inference, with no job") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-dir").toString
    val df = (1 to 40).map(i => (i.toLong, s"c$i", BigDecimal(i) / 4,
        java.sql.Date.valueOf("2024-01-01"), Seq(i, i + 1)))
      .toDF("o_orderkey", "o_comment", "o_totalprice", "o_orderdate", "xs")
      .withColumn("o_comment",
        col("o_comment").as("o_comment", new org.apache.spark.sql.types
          .MetadataBuilder().putString("note", "kept").build()))
      .repartition(3)
    df.write.parquet(s"$dir/orders.parquet")
    df.write.option("parquet.summary.metadata.level", "ALL")
      .parquet(s"$dir/lineitem.parquet")
    val files = new java.io.File(s"$dir/orders.parquet").list().toSet
    assert(files.contains("_SUCCESS") && files.count(_.startsWith("part-")) > 1)
    assert(new java.io.File(s"$dir/lineitem.parquet/_common_metadata").exists())
    for (name <- Seq("orders", "lineitem")) {
      val (loaded, jobs) = loadCounted(dir, name)
      assert(jobs === 0, s"$name: loading must launch no Spark job")
      assert(loaded.schema === inferred(dir, name), name)
      assert(loaded.schema("o_comment").metadata.getString("note") === "kept")
      assert(loaded.count() === 40L)
    }
  }

  test("load follows spark.sql.parquet.mergeSchema over part files whose " +
    "schemas differ") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-merge").toString
    val path = s"$dir/customer.parquet"
    Seq((1L, "a")).toDF("c_custkey", "c_name").write.parquet(path)
    Seq((2L, 7)).toDF("c_custkey", "c_nationkey")
      .write.mode("append").parquet(path)
    // off: inference reads one file, and so does load
    assert(Tables.customer(spark, dir).schema === inferred(dir, "customer"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val merged = Tables.customer(spark, dir)
      assert(merged.schema === inferred(dir, "customer"))
      assert(merged.schema.fieldNames.toSet ===
        Set("c_custkey", "c_name", "c_nationkey"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }
}
