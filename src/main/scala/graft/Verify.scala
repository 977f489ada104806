package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated name prefixes] — the optional
    // third arg restricts the dump to matching queries (dev iteration
    // only; the driver always calls with two args = full surface).
    val (sfDir, outDir) = (args(0), args(1))
    val prefixes = if (args.length > 2) args(2).split(",").toSeq else Seq("")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER lets the whole surface run under
    // local-cluster[W,C,MB] — separate executor JVMs, so task/broadcast
    // serialization, executor-side classloading of the custom Catalyst
    // expressions (BpeEncode's addReferenceObj merge table, the
    // TypedImperativeAggregate buffer serdes), and real transport are
    // exercised instead of the single-JVM local[] shortcut. Executor
    // JVMs are launched from SPARK_HOME and know nothing of sbt's
    // classpath, so the app classes ship as a jar (SPARK_GRAFT_JARS =
    // sbt package output) and the JDK-17 --add-opens flags are repeated
    // for the executor JVMs (build.sbt only covers the forked driver).
    val spark = GraftSession(
      sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => prefixes.exists(name.startsWith) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
