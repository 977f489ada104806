package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the engine's mains (Bench, Verify,
  * PlanCensus, QueryProbe, FaultInject) and of the test suite's
  * `SparkSpec`, so the code that is checked (Verify, the specs) and the
  * code that is timed (Bench) run under the same settings by
  * construction:
  *
  *  - UTC session time zone and nanos-as-long parquet timestamps (the
  *    value conventions `Tables.load` normalizes against);
  *  - adaptive query execution on;
  *  - `graft.checkpoint` from SPARK_GRAFT_CHECKPOINT (default `local`;
  *    `reliable:<dir>` is the strategy FaultInject's kill leg recovers
  *    under, see Checkpoints);
  *  - a generated-class cache sized to the whole query surface: Spark's
  *    default holds 100 entries, and a sweep that visits all 244 queries
  *    between one query's reps would otherwise recompile every codegen
  *    span (measured: +44 s across the sf0.1 sweep);
  *  - UI off;
  *  - executor jar shipping under SPARK_GRAFT_JARS (see [[ClusterEnv]]).
  */
object GraftSession {
  def apply(master: String, shufflePartitions: String): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("graft.checkpoint",
        sys.env.getOrElse("SPARK_GRAFT_CHECKPOINT", "local"))
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.ui.enabled", "false")
    ClusterEnv.withExecutorEnv(builder, sys.env.get("SPARK_GRAFT_JARS"),
      sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "3g")).getOrCreate()
  }
}
