package graft.etl.pgwire

import java.sql.Timestamp

import graft.etl.{JdbcUpsert, Pipelines}

/** Manual scaling benchmark (test scope, not part of the suite) for the
  * ETL/reference half — VERDICT r12 item 5: the analytics surface has a
  * three-point scale curve, but the reference-parity half (CSV parse →
  * Python-literal explode → dedup → real-PG15 sink) was only ever
  * measured at the fixed 881-file corpus. This runs BOTH pipelines, the
  * parquet staging write, and the pgwire sink on the pristine 1× corpus
  * AND an N× key-shifted replica corpus (`tools/make_etl_10x.py` — the
  * make_sf1.py convention: `oid__id` prefixed per replica so keep-last
  * dedup and the upsert key space scale linearly), and prints rows/s +
  * ratios for BASELINE.md.
  *
  * Usage:
  *   python3 tools/make_etl_10x.py /tmp/etl_corpus_10x 10
  *   sbt "Test/runMain graft.etl.pgwire.EtlScaleBench /tmp/etl_corpus_10x"
  *
  * Timings are cold-lineage per leg (fresh DataFrame each time; the
  * shared replay relations of EtlQueries — built once per session, see
  * graft.operators.Shared — are deliberately bypassed by calling
  * Pipelines directly). The sink leg stages through COPY + set-based
  * promotion into a throwaway table per leg, dropped afterwards, so the
  * two legs see the same cluster state.
  */
object EtlScaleBench {
  private val Clock = Some(Timestamp.valueOf("2023-09-05 00:00:00"))

  private def csvs(dir: String): Seq[String] = {
    val fs = new java.io.File(dir).listFiles()
    require(fs != null && fs.nonEmpty, s"no files under $dir")
    fs.map(_.getName).filter(_.endsWith(".csv")).sorted
      .map(f => s"$dir/$f").toSeq
  }

  def main(args: Array[String]): Unit = {
    val bigDir = args.headOption.getOrElse("/tmp/etl_corpus_10x")
    val oneDir = graft.operators.EtlQueries.CorpusDir
    require(PgServerFixture.available, "no postgres installation")

    val spark = graft.GraftSession(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    spark.sparkContext.setLogLevel("WARN")

    // page-cache warm both corpora once (the Bench.scala protocol): the
    // 1x corpus is usually warm from other runs, the 10x one never is,
    // and a cold-vs-warm split would masquerade as super-linear scaling
    def warm(dir: String): Unit = {
      val buf = new Array[Byte](1 << 20)
      new java.io.File(dir).listFiles().foreach { f =>
        val in = new java.io.FileInputStream(f)
        try { while (in.read(buf) >= 0) () } finally in.close()
      }
    }
    warm(oneDir); warm(bigDir)

    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    PgWireDriver.ensureRegistered()
    // mode: "all" (default) = pipelines + stage + sink on a STOCK-config
    // server; "sink" = sink legs only, on a server tuned the standard
    // bulk-load way (shared_buffers/max_wal_size sized to the batch) —
    // the first EtlScaleBench run measured the stock sink super-linear
    // (21.9x at 10x) because a 2x30M-row load through 128MB
    // shared_buffers + 1GB max_wal_size is a checkpoint storm, which is
    // deployment config, not pipeline shape; the tuned run separates
    // engine scaling from server config.
    // mode "skew" (r13 ask 6): uniform 10x corpus vs the hot-key 10x
    // corpus (make_etl_10x.py HOT_FRAC — one oid__id owning ~1% of all
    // rows, the one-document-updates-constantly CDC shape): times the
    // keep-last dedup window (tracking), the explode pipeline (events)
    // and the sink upsert key path on both, so a hot-key hot-spot shows
    // up as a hot/uniform ratio, not an anecdote.
    val mode = args.drop(1).headOption.getOrElse("all")
    val hotDir = args.drop(2).headOption.getOrElse("/tmp/etl_corpus_10x_hot")
    val server =
      if (mode == "sink") PgServerFixture.start(extraOpts =
        // the standard bulk-load trio, sized to the 10x batch: the
        // batch's heap fits shared_buffers (no mid-insert eviction),
        // work_mem covers the promotion DELETE's staged-key hash (at
        // 4MB default, 30M keys fall back to an external sort), and
        // minimal wal_level + a wide max_wal_size keep WAL volume and
        // checkpoints off the load path
        "-c shared_buffers=16GB -c max_wal_size=32GB " +
        "-c checkpoint_timeout=30min -c work_mem=1GB " +
        "-c wal_level=minimal -c max_wal_senders=0")
      else PgServerFixture.start()
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val rowCounts = scala.collection.mutable.LinkedHashMap[String, Long]()
    try {
      val tagDirs =
        if (mode == "skew") {
          warm(hotDir)
          Seq(("unif", bigDir), ("hot", hotDir))
        } else Seq(("1x", oneDir), ("10x", bigDir))
      for ((tag, dir) <- tagDirs) {
        val paths = csvs(dir)
        if (mode == "all" || mode == "skew") {
          // tracking pipeline: parse + keep-last dedup, cold lineage
          val (tRows, tSec) = time {
            Pipelines.tracking(spark, paths, clock = Clock).count()
          }
          results(s"tracking_${tag}_sec") = tSec
          rowCounts(s"tracking_${tag}_rows") = tRows
          // events pipeline: parse + literal-parse + explode, cold lineage
          val (eRows, eSec) = time {
            Pipelines.events(spark, paths, clock = Clock).count()
          }
          results(s"events_${tag}_sec") = eSec
          rowCounts(s"events_${tag}_rows") = eRows
        }
        if (mode == "all") {
          // staged replay: the one-time CSV->parquet ingest shape
          val stageDir = s"/tmp/etl_scale_staged_$tag"
          val (_, sSec) = time {
            Pipelines.events(spark, paths, clock = Clock)
              .write.mode("overwrite").parquet(stageDir)
          }
          results(s"stage_${tag}_sec") = sSec
        }
        // sink: full events upsert into real PG15 (COPY + promotion).
        // Input is checkpointed first so the timing isolates the sink.
        val ev = Pipelines.events(spark, paths, clock = Clock)
          .localCheckpoint(true)
        rowCounts(s"sink_${tag}_rows") = ev.count()
        val (_, upSec) = time {
          JdbcUpsert.upsert(ev, server.url, s"ev_scale_$tag", "oid__id",
            server.props)
        }
        results(s"sink_${tag}_sec") = upSec
        val conn = java.sql.DriverManager.getConnection(server.url, server.props)
        try {
          val st = conn.createStatement()
          try st.execute(
            s"DROP TABLE ev_scale_$tag; CHECKPOINT")
          finally st.close()
        } finally conn.close()
      }
    } finally PgServerFixture.stop(server)

    def r(k: String): Double = results(k)
    val legs = mode match {
      case "all" => Seq("tracking", "events", "stage", "sink")
      case "skew" => Seq("tracking", "events", "sink")
      case _ => Seq("sink")
    }
    // ratio = second tag over first: 10x/1x for the scale modes,
    // hot/uniform for the skew mode
    val (loTag, hiTag, ratioName) =
      if (mode == "skew") ("unif", "hot", "ratio_hot")
      else ("1x", "10x", "ratio_10x")
    val ratios = legs.map { k =>
      k -> BigDecimal(r(s"${k}_${hiTag}_sec") / r(s"${k}_${loTag}_sec"))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val fields =
      rowCounts.map { case (k, v) => s""""$k": $v""" } ++
      results.map { case (k, v) => f""""$k": $v%.2f""" } ++
      ratios.map { case (k, v) => s""""${k}_$ratioName": $v""" }
    println(fields.mkString("{", ", ", "}"))
    spark.stop()
  }
}
