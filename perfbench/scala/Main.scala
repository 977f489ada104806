package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** `--key value` command-line pairs. */
final class Args(kv: Map[String, String]) {
  def apply(k: String): String =
    kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
}

/** The benchmark's JVM side: builds the session, generates the inputs,
  * runs one workload for a fixed measuring time and writes everything it
  * observed to one JSON file. `run.py` starts Postgres, launches this,
  * checks the outputs and prints the result line.
  *
  * Arguments are `--key value` pairs; see run.py for the full list. */
object Main {
  val Clock = Some(Timestamp.valueOf("2023-09-05 00:00:00"))
  val Tables = Seq("tracking", "events")

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    val out = Paths.get(a("out"))
    val work = Paths.get(a("work"))
    val res = scala.collection.mutable.LinkedHashMap[String, Any]()
    val cores = a.int("cores")
    // session settings come from config.json ("spark"), one key=value per line
    val conf = Files.readAllLines(Paths.get(a("spark-conf"))).toArray.map(_.toString)
      .filter(_.contains("=")).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
    val spark = conf.foldLeft(SparkSession.builder().master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    res("session_ready_ms") = System.currentTimeMillis()
    val listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
    val tracer = new Tracer(a("trace") == "1")
    try {
      a("workload") match {
        case "etl" =>
          new EtlRun(spark, a, work, tracer, res).run()
        case "query" =>
          new QueryRun(spark, a, work, tracer, res).run()
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      res("peak_rss_mb") = peakRssMb()
      res("spans") = tracer.spansJson
      res("jobs") = listener.jobsJson
      res("phases") = listener.phasesJson
      res("cores") = cores
    } catch {
      case e: Throwable =>
        res("error") = e.toString + Option(e.getCause).map(" <- " + _).getOrElse("")
        e.printStackTrace()
    } finally {
      new ObjectMapper().registerModule(DefaultScalaModule).writeValue(out.toFile, res)
      spark.stop()
    }
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, secs(t0))
  }

  /** Whether to run another measured pass: until the measuring time is
    * up, and at least `min` passes so that a slow machine does not change
    * the number of passes a median is taken over. Traced runs alternate
    * untraced and traced passes (odd indices traced) and end on an
    * untraced one, so every traced pass has untraced neighbours to
    * compare against. */
  def morePasses(done: Int, elapsed: Double, seconds: Int, traced: Boolean,
      min: Int): Boolean =
    if (traced) done < math.max(3, min) || done % 2 == 0 || elapsed < seconds
    else done < min || elapsed < seconds

  /** Median of the timed repetitions of a repeatable set-up step. */
  def medianOf(reps: Int)(body: => Unit): Double = {
    val ts = (0 until reps).map(_ => timed(body)._2).sorted
    ts(ts.length / 2)
  }

  def readAll(dir: Path): Unit = {
    val buf = new Array[Byte](1 << 20)
    Files.list(dir).forEach { f =>
      val in = Files.newInputStream(f)
      try { while (in.read(buf) >= 0) () } finally in.close()
    }
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) Files.list(p).forEach(rmTree(_))
    Files.delete(p)
  }
}
