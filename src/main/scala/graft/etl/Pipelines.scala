package graft.etl

import java.sql.Timestamp
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two reference DAGs (dags/postgres_etl/{tracking,events}_table.py)
  * as lazy DataFrame pipelines over the CSV rows tagged with their file
  * name ([[Transforms.addFileName]]). Each is one plan per batch,
  * executed only by the sink's staging write (or by the caller for tests
  * and queries).
  *
  * Incremental contract (SURVEY.md §2.9): the watermark is max(fileName)
  * in the target table; only files strictly greater are read — the
  * watermark filter prunes the file listing, so older files are never
  * opened. Combined
  * with the idempotent delete+insert sink this gives crash-safe,
  * effectively-exactly-once loading at batch granularity — the same
  * contract the reference implements by hand.
  */
object Pipelines {

  private def scan(spark: SparkSession, csvPaths: Seq[String]): DataFrame =
    Transforms.addFileName(
      spark.read.schema(Schemas.source).option("header", "true").csv(csvPaths: _*))

  /** tracking: one row per CDC document (no explode) of the CSV files at
    * `csvPaths` newer than `watermark`.
    * watermark → epoch→ts → uploadDate → project → normalizeNulls →
    * dedupKeepLast (or distinct on the as-written path). The watermark
    * filter comes first so it reaches the scan. */
  def tracking(spark: SparkSession, csvPaths: Seq[String],
      watermark: Option[String] = None,
      clock: Option[Timestamp] = None,
      intendedDedup: Boolean = true): DataFrame = {
    val fresh = Transforms.afterWatermark(watermark)(scan(spark, csvPaths))
      .drop("array_trackingEvents")
    val converted = Transforms.withUploadDate(clock)(
      Transforms.epochSecondsToTs(fresh))
    val projected = Transforms.normalizeNulls(
      Transforms.project(Schemas.trackingColumns)(converted))
    // keep-last already leaves one row per key — the trailing distinct is
    // only needed (and only can remove anything) on the non-dedup path
    if (intendedDedup) Transforms.dedupKeepLast(projected)
    else Transforms.distinctRows(projected)
  }

  /** events: one row per nested tracking event (explode_outer) of the CSV
    * files at `csvPaths` newer than `watermark`.
    * watermark → parse(py literal → array) → explode → uploadDate →
    * project → normalizeNulls → distinct. */
  def events(spark: SparkSession, csvPaths: Seq[String],
      watermark: Option[String] = None,
      clock: Option[Timestamp] = None): DataFrame = {
    val fresh = Transforms.afterWatermark(watermark)(scan(spark, csvPaths))
    val exploded = Transforms.explodeEvents(Transforms.parseEventArray(fresh))
    val converted = Transforms.withUploadDate(clock)(exploded)
    val projected = Transforms.normalizeNulls(
      Transforms.project(Schemas.eventsColumns)(converted))
    Transforms.distinctRows(projected)
  }

  /** Full incremental load step: probe the watermark, build the pipeline,
    * upsert. One call = one reference "DAG run". Returns the rows the
    * promotion committed (0 when no file is newer than the watermark);
    * the pipeline's plan runs once, inside the staging write. */
  def loadIncremental(spark: SparkSession, csvPaths: Seq[String], url: String,
      table: String, pipeline: String, props: Properties = new Properties(),
      clock: Option[Timestamp] = None): Long = {
    val wm = JdbcUpsert.lastUploadedFile(spark, url, table, props = props)
    val df = pipeline match {
      case "tracking" => tracking(spark, csvPaths, wm, clock)
      case "events"   => events(spark, csvPaths, wm, clock)
      case other      => throw new IllegalArgumentException(s"unknown pipeline: $other")
    }
    JdbcUpsert.upsert(df, url, table, "oid__id", props)
  }
}
