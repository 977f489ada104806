package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.etl.expressions.PyLiteralToJson.pyToJson

/** The reference's `process_data` chain (dags/datahelper/postgres.py:117-155)
  * as composable DataFrame → DataFrame stages. Each stage is narrow (no
  * shuffle) except `dedupKeepLast` (shuffle on the key) and `distinctRows`
  * (shuffle on all columns) — the whole per-batch plan is one lazy pipeline
  * scan→parse→explode→project with at most two exchanges.
  */
object Transforms {

  /** S2: each row's source file name — the URI-encoded last segment of
    * its path, as `input_file_name()` gave it — from the file source's
    * `_metadata.file_name`. The lexicographic filename ordering doubles as
    * the CDC version order. The column is constant per file, so Catalyst
    * pushes a filter on it — the watermark's `fileName > wm` — into file
    * listing: files at or below the watermark are never opened. `df` must
    * be a file scan. */
  def withFileName(df: DataFrame): Column =
    df.metadataColumn("_metadata").getField("file_name")

  def addFileName(df: DataFrame): DataFrame =
    df.withColumn("fileName", withFileName(df))

  /** P2: strict `>` watermark filter — the watermark file itself is never
    * re-read (reference: events_table.py:90-92). String comparison matches
    * the reference's lexicographic semantics. */
  def afterWatermark(watermark: Option[String])(df: DataFrame): DataFrame =
    watermark.fold(df)(wm => df.filter(col("fileName") > lit(wm)))

  /** N2+N1 (parse): Python-literal string → typed array column in ONE
    * native codegen'd pass ([[graft.etl.expressions.PyEventsArray]] —
    * no intermediate JSON string, no Jackson re-tokenization; the
    * two-pass `from_json(py_to_json(...))` equivalence is spec-gated).
    * Malformed literals become null arrays rather than killing the job. */
  def parseEventArray(df: DataFrame,
      src: String = "array_trackingEvents", dst: String = "events"): DataFrame =
    df.withColumn(dst, graft.etl.expressions.PyEventsArray.pyEvents(col(src)))
      .drop(src)

  /** N1 (explode+normalize): one row per event element. `explode_outer`,
    * not `explode` — a document with an empty/null array must still emit
    * one all-null event row (SURVEY.md §1.5; pandas explode keeps NaN
    * rows). Flattens the Mongo `{'$date': millis}` into `eventCreatedAt`. */
  def explodeEvents(df: DataFrame, arrCol: String = "events"): DataFrame =
    df.withColumn("e", explode_outer(col(arrCol)))
      .withColumn("trackingCode", col("e.trackingCode"))
      .withColumn("status", col("e.status"))
      .withColumn("description", col("e.description"))
      .withColumn("trackerType", col("e.trackerType"))
      .withColumn("from", col("e.from"))
      .withColumn("to", col("e.to"))
      .withColumn("eventCreatedAt", timestamp_millis(col("e.createdAt.$date")))
      .drop("e", arrCol)

  /** F1: epoch-seconds → timestamp for the document-level time columns. */
  def epochSecondsToTs(df: DataFrame,
      cols: Seq[String] = Schemas.epochSecondCols): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, timestamp_seconds(col(c))))

  /** F3: batch-constant upload timestamp. An injectable clock: pass a fixed
    * value for deterministic replay/tests; None uses current_timestamp()
    * (constant-folded per query — same value for the whole batch, matching
    * the reference's driver-local `datetime.now()`). */
  def withUploadDate(fixed: Option[Timestamp])(df: DataFrame): DataFrame =
    df.withColumn("uploadDate",
      fixed.map(t => lit(t).cast("timestamp")).getOrElse(current_timestamp()))

  /** P1: project to the target column list (+ audit columns). Backticks via
    * `col` handle the reserved-word columns `from`/`to`. */
  def project(cols: Seq[String])(df: DataFrame): DataFrame =
    df.select((cols ++ Schemas.auditColumns).map(col): _*)

  /** F5: the literal strings "NaN"/"NaT"/"None"/"" → NULL across all string
    * columns (reference: postgres.py:152-154 does this pre-load). */
  def normalizeNulls(df: DataFrame): DataFrame = {
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    if (stringCols.isEmpty) df
    else df.na.replace(stringCols.toSeq,
      Map("NaN" -> null, "NaT" -> null, "None" -> null, "" -> null))
  }

  /** D1 with the INTENDED semantics (SURVEY.md §2.8): keep the latest
    * version per key, ordered by fileName (the CDC batch order), then by
    * the VERSION columns (updatedAt/lastSyncTracker — the document's own
    * notion of recency) within a file, then by all remaining columns for
    * a total order.
    *
    * Why not "last row in file order": Spark provides no stable row
    * position after a file is split (monotonically_increasing_id depends
    * on split bin-packing), so in-file order is not reproducible. The
    * version columns ARE the semantic signal file position proxies in a
    * CDC dump — a delete tombstone or newer update carries a later
    * updatedAt, so it wins regardless of physical row placement. The
    * final catch-all tiebreak only decides between rows identical in
    * every version column, where the reference's own choice (pandas
    * keep='last') is equally arbitrary. Deterministic at any
    * partitioning/executor count. */
  def dedupKeepLast(df: DataFrame, key: String = "oid__id",
      orderCol: String = "fileName",
      versionCols: Seq[String] = Seq("updatedAt", "lastSyncTracker")): DataFrame = {
    val versions = versionCols.filter(df.columns.contains)
    val rest = df.columns
      .filter(c => c != key && c != orderCol && !versions.contains(c))
      .map(c => col(c).desc_nulls_last)
    val w = Window.partitionBy(col(key))
      .orderBy(col(orderCol).desc +:
        (versions.map(c => col(c).desc_nulls_last) ++ rest): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** D2: full-row distinct (reference drops exact duplicate rows after
    * null-normalization). */
  def distinctRows(df: DataFrame): DataFrame = df.distinct()

  /** Parse-status flag for quarantining: true when the source cell held a
    * literal but it failed to parse (the reference's `eval` would have
    * crashed the whole batch on such a row; we keep the row, mark it, and
    * let the caller route it to a quarantine sink). */
  def withParseStatus(df: DataFrame,
      src: String = "array_trackingEvents"): DataFrame =
    df.withColumn("parse_failed",
      col(src).isNotNull && pyToJson(col(src)).isNull)

  /** Quarantined read result; `release()` unpersists the shared cached
    * scan once both sides have been consumed. */
  final case class QuarantinedRead(good: DataFrame, bad: DataFrame,
      private val underlying: DataFrame) {
    def release(): Unit = { underlying.unpersist(); () }
  }

  /** CSV ingestion with malformed-row quarantine: PERMISSIVE mode routes
    * rows that do not match the schema into a corrupt-record column
    * instead of failing the job (FAILFAST) or silently dropping them
    * (DROPMALFORMED).
    * The input is cached — Spark disallows filtering on the corrupt
    * column of an un-materialized scan (it is populated at parse time) —
    * and the caller releases it via [[QuarantinedRead.release]].
    */
  def readCsvWithQuarantine(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String]): QuarantinedRead = {
    val schema = org.apache.spark.sql.types.StructType(
      Schemas.source.fields :+
        org.apache.spark.sql.types.StructField("_corrupt_record",
          org.apache.spark.sql.types.StringType))
    val raw = spark.read.schema(schema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(paths: _*)
      .cache()
    val good = raw.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val bad = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    QuarantinedRead(good, bad, raw)
  }
}
