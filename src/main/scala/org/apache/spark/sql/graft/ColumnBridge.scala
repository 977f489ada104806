package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column ↔ Expression conversions.
  *
  * Spark 4 moved the catalyst-`Expression`-backed `Column` constructor
  * behind `org.apache.spark.sql.classic.ExpressionUtils` (private[sql]).
  * Libraries that define native Catalyst expressions conventionally expose
  * them through a small shim in the `org.apache.spark.sql` namespace —
  * the same technique Spark connector/extension projects use. This is the
  * only file outside the `graft` package.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge for constructing a DataFrame from a custom LogicalPlan (the
  * `Dataset.ofRows` entry point is private[sql] in Spark 4). */
object PlanBridge {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Stable unique id of a session (private[sql] in Spark 4). */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit,
    LocalLimit, LocalRelation, Project, RebalancePartitions, Repartition,
    RepartitionByExpression, Sort, Union}
  import org.apache.spark.sql.execution.LogicalRDD
  import org.apache.spark.sql.execution.datasources.LogicalRelation

  /** Size-faithful plan shapes for the two no-job size probes below: a
    * node that neither multiplies rows (Join/Generate/explode) nor
    * collapses them behind a guessed ratio (Aggregate/Window estimates
    * are the ones that were off by orders of magnitude in round 14's
    * probe — a 1M-row join+groupBy carried a 72 TB estimate through its
    * checkpoint). Anything off this list makes the probe answer None and
    * the caller falls back to counting. */
  private def sizeFaithful(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter | _: Sort | _: GlobalLimit | _: LocalLimit |
         _: Repartition | _: RepartitionByExpression |
         _: RebalancePartitions | _: Union => true
    case _ => false
  }

  /** EXACT storage bytes of `df`'s leaves, with NO job: Some(bytes) when
    * every plan node is size-faithful and every leaf is an
    * eagerly-materialized localCheckpoint (a LogicalRDD whose RDD is
    * fully cached in the block manager) or a LocalRelation; None
    * otherwise. The bytes are the block manager's deserialized
    * in-memory (+ spilled-to-disk) sizes — the same units a driver
    * collect of the relation would occupy, which is what local-lane
    * gates bound. */
  def materializedLeafBytes(df: DataFrame): Option[Long] = {
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan
    val sc = df.sparkSession.sparkContext
    lazy val infos = sc.getRDDStorageInfo
    var sum = 0L
    var ok = true
    plan.foreach {
      case l: LogicalRDD =>
        infos.find(_.id == l.rdd.id) match {
          case Some(i) if i.numCachedPartitions >= i.numPartitions =>
            sum += i.memSize + i.diskSize
          case _ => ok = false
        }
      case l: LocalRelation =>
        sum += l.stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong
      case p if p.children.isEmpty => ok = false // unknown leaf
      case p => if (!sizeFaithful(p)) ok = false
    }
    if (ok) Some(sum) else None
  }

  /** The optimizer's sizeInBytes, returned ONLY when it is a
    * scan-derived number: every plan node size-faithful, every leaf a
    * file-source LogicalRelation or a LocalRelation. File-source
    * estimates are real on-disk (compressed) bytes scaled by column
    * pruning — trustworthy to well within an order of magnitude, unlike
    * join/aggregate estimates. None otherwise; no job runs. */
  def scanEstimateBytes(df: DataFrame): Option[BigInt] = {
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan
    var ok = true
    plan.foreach {
      case _: LogicalRelation | _: LocalRelation => ()
      case p if p.children.isEmpty => ok = false
      case p => if (!sizeFaithful(p)) ok = false
    }
    if (ok) Some(plan.stats.sizeInBytes) else None
  }
}

/** Bridge for reading a parquet table's schema on the driver, with no
  * Spark job. `spark.read.parquet` infers the schema through
  * `ParquetUtils.inferSchema`, which reads the chosen footer inside a
  * one-task job; the file listing, the footer read and the session's
  * conversion settings it uses are `private[sql]`. */
object ParquetBridge {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.parquet.format.converter.ParquetMetadataConverter
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.datasources.{FileStatusCache,
    InMemoryFileIndex}
  import org.apache.spark.sql.execution.datasources.parquet.{
    ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
  import org.apache.spark.sql.types.StructType

  /** The schema `spark.read.parquet(path)` would infer, read from one
    * footer on the driver. It lists `path` as the reader does (same
    * index, same listing cache) and takes the file inference takes when
    * schemas are not merged: `_common_metadata`, else `_metadata`, else
    * the first data file in path order. The footer converts as inference
    * converts it: Spark's own schema string when the file carries one,
    * else the parquet schema under the session's conversion settings.
    * None when `spark.sql.parquet.mergeSchema` is on (every file counts
    * then), or when there is no readable file — the caller reads the
    * plain way, which infers or fails as Spark does. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else {
      val hadoopConf = session.sessionState.newHadoopConf()
      val root = new Path(path)
      val files = new InMemoryFileIndex(session,
        Seq(root.getFileSystem(hadoopConf).makeQualified(root)), Map.empty,
        None, FileStatusCache.getOrCreate(session)).allFiles()
        .sortBy(_.getPath.toString)
      def named(n: String): Option[FileStatus] =
        files.find(_.getPath.getName == n)
      val summary = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(files.find(f => !summary(f.getPath.getName)))
        .flatMap { f =>
          val meta =
            try Some(ParquetFooterReader.readFooter(
              HadoopInputFile.fromStatus(f, hadoopConf),
              ParquetMetadataConverter.SKIP_ROW_GROUPS))
            catch { case _: RuntimeException | _: java.io.IOException => None }
          meta.map { m =>
            ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, m),
              new ParquetToSparkSchemaConverter(
                assumeBinaryIsString = conf.isParquetBinaryAsString,
                assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
                inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
                nanosAsLong = conf.legacyParquetNanosAsLong,
                respectUnknownTypeAnnotation =
                  conf.parquetReaderRespectUnknownTypeAnnotation))
          }
        }
    }
  }
}
