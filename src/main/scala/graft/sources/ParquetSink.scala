package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Partition-aware parquet layout — the storage half of the 100 TB design.
  *
  * Writing fact data partitioned by a low-cardinality predicate column
  * (date, event_type, tenant) turns the commonest filters into PARTITION
  * PRUNING: Spark never lists, opens, or schedules the irrelevant
  * directories (`PartitionFilters` in explain, vs `PushedFilters` which
  * still touches every file's footer). Sorting within partitions
  * clusters the sort keys so parquet min/max page stats skip pages too.
  *
  * `maxRecordsPerFile` bounds file sizes so downstream scans parallelize
  * evenly; `spark.sql.files.maxPartitionBytes` does the read-side split.
  */
object ParquetSink {

  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      sortCols: Seq[String] = Nil, maxRecordsPerFile: Long = 5000000L): Unit = {
    val sorted =
      if (sortCols.nonEmpty)
        df.repartition(partitionCols.map(col): _*)
          .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      else df
    sorted.write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }
}
