package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.DriverManager
import java.util.Properties

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.{Pipelines, Schemas, Transforms}

/** The etl workload: each pass loads a generated corpus into an empty
  * database, then lands a schedule of small batches on top, every step
  * through `Pipelines.loadIncremental` for both tables, into the Postgres
  * server run.py started. Traced passes make the same calls; the
  * connections they open are split into sink layers by [[TracingDriver]]. */
final class EtlRun(spark: SparkSession, args: Args, work: Path, tracer: Tracer,
    res: scala.collection.mutable.Map[String, Any]) {
  import Main._
  private val url = s"jdbc:postgresql://127.0.0.1:${args("pg-port")}/postgres"
  private val props = {
    val p = new Properties()
    p.setProperty("user", "postgres")
    p.setProperty("password", args("pg-password"))
    p.setProperty("driver", classOf[TracingDriver].getName)
    p
  }
  TracingDriver.register(tracer)
  /** Over traced loads: bytes and rows of the files newer than the
    * watermark, and rows out of the pipelines. */
  private var newBytes = 0L
  private var newRows = 0L
  private var rowsOut = 0L
  /** Data rows per corpus file (no value holds a newline). */
  private var fileRows = Map.empty[String, Long]
  private val corpus = work.resolve("corpus")
  private val seed = args("seed").toLong

  private def sql(stmts: String*): Unit = {
    val c = DriverManager.getConnection(url, props)
    try { val st = c.createStatement(); stmts.foreach(st.execute); st.close() }
    finally c.close()
  }

  /** The first row of each query, over one connection. */
  private def firstRows(qs: String*): Seq[Seq[String]] = {
    val c = DriverManager.getConnection(url, props)
    try qs.map { q =>
      val rs = c.createStatement().executeQuery(q)
      rs.next()
      (1 to rs.getMetaData.getColumnCount).map(rs.getString)
    } finally c.close()
  }

  /** Cumulative server counters, read over a single connection: the
    * `sessions` delta of a pass is its own connections plus the one the
    * earlier reading used. */
  private def pgStats(): Map[String, Double] = {
    val Seq(db, wal, ckpt) = firstRows(
      "SELECT tup_inserted, tup_deleted, temp_bytes, blks_hit, blks_read, sessions " +
        "FROM pg_stat_database WHERE datname = 'postgres'",
      "SELECT wal_bytes FROM pg_stat_wal",
      "SELECT checkpoints_timed + checkpoints_req FROM pg_stat_bgwriter")
    (Seq("tup_inserted", "tup_deleted", "temp_bytes", "blks_hit", "blks_read", "sessions")
      .zip(db) :+ ("wal_bytes" -> wal.head) :+ ("checkpoints" -> ckpt.head))
      .map { case (k, v) => k -> v.toDouble }.toMap
  }

  /** A corpus directory, where its unlanded batches wait, and the batch
    * schedule. */
  private case class Layout(dir: Path, pending: Path, batches: Seq[Seq[String]])

  private def dirBytes(dir: Path, after: Option[String]): Long = {
    var n = 0L
    Files.list(dir).forEach { f =>
      if (after.forall(f.getFileName.toString > _)) n += Files.size(f)
    }
    n
  }

  def run(): Unit = {
    val setup = scala.collection.mutable.LinkedHashMap[String, Double]()
    val files = ArrayBuffer[String]()
    val batches = ArrayBuffer[Seq[String]]()
    val pending = work.resolve("pending")
    def land(l: Layout, names: Seq[String]): Unit = names.foreach(f =>
      Files.move(l.pending.resolve(f), l.dir.resolve(f), StandardCopyOption.ATOMIC_MOVE))
    def unland(l: Layout, names: Seq[String]): Unit = names.foreach(f =>
      Files.move(l.dir.resolve(f), l.pending.resolve(f), StandardCopyOption.ATOMIC_MOVE))
    // input generation, repeated for a steady set-up reading; the last
    // repetition is the one the run uses
    var shape = Map.empty[String, Long]
    setup("input_gen_s") = medianOf(3) {
      rmTree(corpus); rmTree(pending); files.clear(); batches.clear()
      val g = new Corpus(seed, args("insert-share").toDouble, args("empty-share").toDouble)
      files ++= g.writeFiles(corpus, args.int("files"), args.int("rows"),
        args("update-share").toDouble)
      (0 until args.int("batches")).foreach { _ =>
        batches += g.writeFiles(pending, args.int("batch-files"), args.int("batch-rows"),
          args("batch-update-share").toDouble)
      }
      shape = g.stats.toMap
    }
    res("corpus_shape") = shape
    res("base_files") = files.toSeq
    fileRows = (files ++ batches.flatten).map { f =>
      val p = if (Files.exists(corpus.resolve(f))) corpus.resolve(f) else pending.resolve(f)
      f -> (Files.readAllBytes(p).count(_ == '\n') - 1L)
    }.toMap
    res("schedule") = batches.toSeq
    res("corpus_bytes") = dirBytes(corpus, None)

    val full = Layout(corpus, pending, batches.toSeq)
    // the first base file and the first file of each batch, for the
    // first, cold warm-up passes
    val small = Layout(work.resolve("warm"), work.resolve("warm-pending"),
      batches.map(_.take(1)).toSeq)
    Files.createDirectories(small.dir)
    Files.createDirectories(small.pending)
    Files.copy(corpus.resolve(files.head), small.dir.resolve(files.head))
    small.batches.flatten.foreach(f => Files.copy(pending.resolve(f), small.pending.resolve(f)))

    /** Back to an empty database and an unlanded schedule. */
    def reset(l: Layout): Unit = {
      sql("DROP TABLE IF EXISTS tracking", "DROP TABLE IF EXISTS events", "CHECKPOINT")
      l.batches.foreach(b => if (Files.exists(l.dir.resolve(b.head))) unland(l, b))
    }
    /** One step: both tables through loadIncremental; rows committed and
      * seconds per table. `wm` is the watermark the step will find: the
      * newest file loaded by the earlier steps of the pass. */
    def step(l: Layout, name: String, group: String, wm: Option[String]): (Seq[Long], Seq[Double]) =
      tracer.span(name, "harness", group) {
        if (tracer.recording) {
          newBytes += 2 * dirBytes(l.dir, wm)
          newRows += 2 * fileRows.collect { case (f, n) if wm.forall(f > _) &&
            Files.exists(l.dir.resolve(f)) => n }.sum
        }
        Tables.map { t =>
          timed(tracer.span(t, "harness", group) {
            val n = tracer.span("loadIncremental", "etl", group) {
              Pipelines.loadIncremental(spark, Seq(l.dir.toString), url, t, t, props, Clock)
            }
            if (tracer.recording) rowsOut += n
            n
          })
        }.unzip
      }
    def newest(l: Layout): Option[String] = {
      import scala.jdk.CollectionConverters._
      Files.list(l.dir).iterator.asScala.map(_.getFileName.toString).maxOption
    }
    /** A pass: the full load into an empty database, then every batch of
      * the schedule landing and loading in turn. */
    def pass(l: Layout, i: Int, traced: Boolean): Map[String, Any] = {
      tracer.active = traced
      try {
        val ((loadRows, loadT), loadS) = timed(step(l, "load", s"pass$i/load", None))
        val bs = l.batches.zipWithIndex.map { case (b, j) =>
          val wm = newest(l)
          timed { land(l, b); step(l, "batch", s"pass$i/batch$j", wm) }
        }
        Map("load_s" -> loadS, "load_rows" -> loadRows, "load_table_s" -> loadT,
          "batch_s" -> bs.map(_._2), "batch_rows" -> bs.map(_._1._1),
          "wall_s" -> (loadS + bs.map(_._2).sum), "traced" -> traced)
      } finally tracer.active = false
    }

    // warm-up: the page cache over the input, then JIT and codegen on the
    // real load path with untimed passes, the first ones over the small
    // corpus (the same classes load and the same code is generated, in
    // less time), the rest over the full one
    setup("warmup_s") = timed {
      readAll(corpus)
      val plan = Seq.fill(args.int("warmup-small-passes"))(small) ++
        Seq.fill(args.int("warmup-passes"))(full)
      res("warmup_walls") = plan.zipWithIndex.map { case (l, i) =>
        reset(l); pass(l, -1 - i, traced = false)("wall_s")
      }
      reset(small)
      rmTree(small.dir); rmTree(small.pending)
    }._2
    res("setup") = setup.toMap

    val seconds = args.int("seconds")
    val passes = ArrayBuffer[Map[String, Any]]()
    val pgTotals = scala.collection.mutable.HashMap[String, Double]().withDefaultValue(0.0)
    val t0 = System.nanoTime()
    // the last pass's state stays for the checks
    while (morePasses(passes.length, secs(t0), seconds, tracer.enabled, args.int("min-passes"))) {
      reset(full)
      System.gc()
      val traced = tracer.enabled && passes.length % 2 == 1
      val before = if (traced) pgStats() else Map.empty[String, Double]
      passes += pass(full, passes.length, traced)
      if (traced) pgStats().foreach { case (k, v) => pgTotals(k) += v - before(k) }
    }
    res("measure_s") = secs(t0)
    res("passes") = passes.toSeq
    if (tracer.enabled) {
      res("pg") = pgTotals.toMap
      val Seq(bytes, rows) = firstRows(
        "SELECT sum(pg_total_relation_size(c.oid)) FROM pg_class c " +
          "WHERE c.relname IN ('tracking', 'events') AND c.relkind = 'r'",
        "SELECT (SELECT count(*) FROM tracking) + (SELECT count(*) FROM events)")
      res("pg_table_bytes") = bytes.head.toDouble
      res("pg_rows") = rows.head.toLong
      res("new_bytes") = newBytes
      res("new_rows") = newRows
      res("rows_out") = rowsOut
      res("prefix") = prefixTimes()
    }
    // the target columns and their types, for the export the checks read
    res("columns") = Tables.map { t =>
      val df = if (t == "tracking") Pipelines.tracking(spark, Seq(corpus.toString), None, Clock)
        else Pipelines.events(spark, Seq(corpus.toString), None, Clock)
      t -> df.schema.fields.toSeq.map(f => Seq(f.name, f.dataType.simpleString))
    }.toMap
    res("replay_sql") = Map(
      "tracking" -> graft.operators.perfbench.ReplaySql.tracking,
      "events" -> graft.operators.perfbench.ReplaySql.events)
  }

  /** Per-step ETL times as differences between no-op materializations of
    * successive pipeline prefixes over the whole corpus (the full-load
    * path). Traced runs only; outside every pass. */
  private def prefixTimes(): Map[String, Map[String, Double]] = {
    def noop(df: DataFrame): Double =
      medianOf(3)(df.write.format("noop").mode("overwrite").save())
    val dir = Seq(corpus.toString)
    val scanned = Transforms.addFileName(
      spark.read.schema(Schemas.source).option("header", "true").csv(dir: _*))
    val parsed = Transforms.parseEventArray(scanned)
    Map(
      "tracking" -> Seq("scan" -> scanned,
        "dedup" -> Pipelines.tracking(spark, dir, None, Clock)),
      "events" -> Seq("scan" -> scanned, "parse" -> parsed,
        "explode" -> Transforms.explodeEvents(parsed),
        "dedup" -> Pipelines.events(spark, dir, None, Clock))
    ).map { case (t, steps) => t -> steps.map { case (n, df) => n -> noop(df) }.toMap }
  }
}
