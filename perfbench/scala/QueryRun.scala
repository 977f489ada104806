package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.DataOps

/** The query workload: timed passes over registered queries at the
  * benchmark's sf0.1 tables. Each query is the `SparkEntry.queries`
  * builder call plus a `collect()`, which materializes every output
  * column and returns the rows, as a user running the query gets them.
  * After each pass, untimed, every query's rows are written out for the
  * checks, so every timed execution is checked. */
final class QueryRun(spark: SparkSession, args: Args, work: Path, tracer: Tracer,
    res: scala.collection.mutable.Map[String, Any]) {
  import Main._

  private val sfDir = args("sf")
  private val names = args("queries").split(",").toSeq
  private val outputs = work.resolve("outputs")

  def run(): Unit = {
    val registry = SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"queries not registered: ${missing.mkString(", ")}")
    /** One pass in `order`, timed per query; then, if `write`, each
      * query's rows are written to outputs/<pass>/<query>. */
    def sweep(pass: String, order: Seq[String], write: Boolean = true): Seq[Map[String, Any]] = {
      val got = tracer.span("sweep", "harness", pass) {
        order.map { n =>
          tracer.span(n, "harness", s"$pass/$n") {
            val (df, b) = timed(tracer.span("build", "operators", s"$pass/$n") {
              registry(n)(spark, sfDir)
            })
            val (rows, e) = timed(tracer.span("exec", "driver", s"$pass/$n")(df.collect()))
            (n, df.schema, rows, b, e)
          }
        }
      }
      got.map { case (n, schema, rows, b, e) =>
        if (write) spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).write
          .parquet(outputs.resolve(pass).resolve(n).toString)
        Map("name" -> n, "build_s" -> b, "exec_s" -> e)
      }
    }
    // warm-up: page cache over the tables, then one pass that pays codegen
    // and the first JIT, whose outputs are checked too, and further
    // unchecked passes, memos evicted as in a timed pass, while the JIT
    // still speeds passes up
    val setup = scala.collection.mutable.LinkedHashMap[String, Double]()
    setup("warmup_s") = timed {
      readAll(java.nio.file.Paths.get(sfDir))
      sweep("warmup", names)
      (2 to args.int("warmup-passes")).foreach { i =>
        DataOps.evictSessionMemos()
        System.gc()
        sweep(s"warmup$i", names, write = false)
      }
    }._2
    res("setup") = setup.toMap
    val oracles = SparkEntry.oracleSql
    res("oracle_sql") = names.map(n => n -> oracles.get(n)).toMap

    val rnd = new java.util.Random(args("seed").toLong)
    val seconds = args.int("seconds")
    val passes = ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    while (morePasses(passes.length, secs(t0), seconds, tracer.enabled, args.int("min-passes"))) {
      DataOps.evictSessionMemos()
      System.gc()
      val order = {
        val l = new java.util.ArrayList[String]()
        names.foreach(l.add)
        java.util.Collections.shuffle(l, rnd)
        scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq
      }
      val traced = tracer.enabled && passes.length % 2 == 1
      tracer.active = traced
      val perQuery = try sweep(s"pass${passes.length}", order) finally tracer.active = false
      val wall = perQuery.map(q => q("build_s").asInstanceOf[Double] +
        q("exec_s").asInstanceOf[Double]).sum
      passes += Map("wall_s" -> wall, "order" -> order, "queries" -> perQuery,
        "traced" -> traced)
    }
    res("measure_s") = secs(t0)
    res("passes") = passes.toSeq
    res("check_passes") = "warmup" +: passes.indices.map(i => s"pass$i")
  }
}
