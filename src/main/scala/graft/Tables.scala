package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetBridge
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All queries take an `sfDir` (e.g. `/root/testdata/sf0.01`) so the same
  * code runs at any scale factor. At cluster scale the same loaders would
  * point at a partitioned table root; parquet scans get column pruning and
  * predicate pushdown from Catalyst automatically.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The table `name` under `sfDir`, read with no Spark job: the schema
    * comes from the parquet footer on the driver
    * ([[org.apache.spark.sql.graft.ParquetBridge.footerSchema]], the
    * schema inference would return) and is handed to the reader, so the
    * read skips inference's one-task footer job. The schema is read, not
    * declared, because the `ts` encoding differs between testdata
    * generations (below). With `spark.sql.parquet.mergeSchema` on, the
    * table is read the plain way. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = ParquetBridge.footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
    // Normalize the events `ts` column across driver testdata generations:
    //  - TIMESTAMP(NANOS) parquet arrives as nanos-since-epoch LongType when
    //    spark.sql.legacy.parquet.nanosAsLong=true (set by our builders);
    //  - TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as TIMESTAMP_NTZ,
    //    which Spark 4 refuses to cast to numeric (breaks epoch arithmetic).
    // Both become session-tz TimestampType; with the UTC session timezone our
    // builders pin, the NTZ->LTZ cast is value-identical to the wall time
    // DuckDB's oracle sees when it reads the same naive-timestamp parquet.
    widen(spark, normalizeTs(df), sfDir, name)
  }

  /** Tables whose consumers do EXPENSIVE per-row map work right on the
    * scan (tokenize/shingle/rolling-hash over `text`; per-vector float
    * math over `embedding`) — the ones where a narrow scan serializes
    * the whole operator. The star-schema tables are deliberately NOT
    * here: their consumers shuffle (join/agg) right after a cheap scan,
    * so a pre-shuffle of raw bytes would cost more than it saves. */
  private val CpuDenseTables = Set("documents", "embeddings")

  /** Minimum compressed input size before a widen is considered: below
    * this the serial scan is cheap and the extra exchange is pure
    * overhead. Set by the round-14 floor experiment, which measured the
    * CPU-dense single-task stages (d04's per-shingle md5 fingerprint,
    * the c03/c04 rolling-hash and bloom probes, sk01–05's token passes)
    * against the added exchange cost per query. */
  private val WidenMinBytes: Long = 4L << 20

  /** The d12 lesson generalized (round 13): these corpora are written
    * as a SINGLE parquet row group (measured: documents at sf2 = one
    * 12 MB row group), which no `maxPartitionBytes` setting can split —
    * a row group is the parquet read atom — so every text/vector
    * operator's map stage (the rolling-hash explode, the shingle
    * generator, the per-vector dot products) was running on ONE task at
    * sf1/sf2 until its first shuffle. A 100 TB corpus arrives in
    * thousands of row groups and never takes this branch (the partition
    * count check); a dense small-file corpus pays one corpus-linear
    * raw-byte exchange to put the expensive map work on every core.
    * Values are partitioning-invariant by engine convention (decimal
    * sums, deterministic tiebreaks — spec-pinned). */
  private def widen(spark: SparkSession, df: DataFrame, sfDir: String,
      name: String): DataFrame =
    if (!CpuDenseTables.contains(name)) df else widenDense(df)

  /** The size-floor + narrower-than-parallelism widen policy, shared
    * between [[load]] and the operators that widen their own input
    * (d12's substring index — ADVICE r13 flagged the two sites carrying
    * DIVERGENT copies). Layout-aware since round 14 (r13 verdict ask
    * 5): the size probe is the optimizer's own estimate for the plan
    * (for a parquet scan, the relation's file listing — correct for
    * directory layouts and object stores alike), not a local-FS
    * single-file stat that silently skipped directory corpora; the
    * partition probe is the actual scan partitioning (`.rdd` on the
    * PLAN side only — nothing executes). A corpus already wider than
    * the session's parallelism is untouched, so the 100 TB
    * thousands-of-splits case never pays the exchange. */
  def widenDense(df: DataFrame): DataFrame = widenDense(df, WidenMinBytes)

  /** Operator-level floor for inputs whose per-ROW map work is provably
    * heavy — k md5 probes per 4-gram (c04/c05's Bloom pass), a rolling
    * hash per character position (c03's substring screen). There the
    * serial-scan-is-cheap argument behind the default 4 MB floor breaks
    * an order of magnitude earlier: the round-14 A/B (same queries,
    * floors 4 MB vs 256 KB) measured c03 2.07→0.99 s, c04 1.84→0.99 s,
    * c05 1.74→0.85 s from the added exchange, while the same low floor
    * applied GLOBALLY regressed the shuffle-light text family (t13/t21/
    * t23 +0.4–0.7 s each) — so the low floor is opt-in per operator,
    * never the table default. */
  val CpuHeavyMapMinBytes: Long = 256L << 10

  /** The widen with an explicit size floor (see [[CpuHeavyMapMinBytes]]). */
  def widenDense(df: DataFrame, minBytes: Long): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes < minBytes) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= target) df
      else df.repartition(target)
    }

  /** Normalize a `ts` column to session-tz TimestampType whatever the
    * parquet encoding delivered (see [[load]]). */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
