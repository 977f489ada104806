package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.{DriverManager, Timestamp}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.etl.Pipelines

class StreamingSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private lazy val corpusDir = graft.etl.TestCorpus.dir
  private val clock = Some(Timestamp.valueOf("2023-09-05 00:00:00"))
  private val derbyColTypes = Some(
    "oid__id VARCHAR(64), trackingCode VARCHAR(64), status VARCHAR(16), " +
      "description VARCHAR(256), trackerType VARCHAR(64), `from` VARCHAR(64), " +
      "`to` VARCHAR(64), fileName VARCHAR(64)")
  private val derbyColTypesTracking = Some(
    "oid__id VARCHAR(64), Op VARCHAR(4), fileName VARCHAR(64)")

  // The ETL sink scenarios default to embedded in-memory Derby (hermetic,
  // zero external deps). Under GRAFT_TEST_MASTER=local-cluster[..] an
  // embedded/in-memory DB is PER-JVM: executor tasks connect to their
  // own empty Derby instance and die with "Table does not exist" — the
  // divergence the round-16 local-cluster sweep surfaced. So in that
  // mode the sink switches to the real client-server PG15 fixture,
  // which IS the production shape (the engine's sink is Postgres;
  // Derby is only the single-JVM test stub). PG gets the default type
  // mapping (the PostgresReferenceParitySpec convention) — the Derby
  // colTypes strings carry backtick quoting PG rejects.
  private def isCluster = isClusterMaster
  private var pgServer: graft.etl.pgwire.PgServerFixture.Running = _
  override def afterAll(): Unit = {
    try { if (pgServer != null) graft.etl.pgwire.PgServerFixture.stop(pgServer) }
    finally super.afterAll()
  }
  /** (url, props, events colTypes, tracking colTypes) of the ETL sink. */
  private lazy val sink: (String, java.util.Properties, Option[String],
      Option[String]) =
    if (isCluster) {
      assume(graft.etl.pgwire.PgServerFixture.available,
        "local-cluster ETL sink needs the postgres fixture")
      graft.etl.pgwire.PgWireDriver.ensureRegistered()
      pgServer = graft.etl.pgwire.PgServerFixture.start()
      (pgServer.url, pgServer.props, None, None)
    } else ("jdbc:derby:memory:streamdb;create=true",
      new java.util.Properties(), derbyColTypes, derbyColTypesTracking)
  private def url = sink._1
  private def sinkProps = sink._2
  private def colTypes = sink._3

  private def countRows(table: String): Long = {
    val conn = DriverManager.getConnection(url, sinkProps)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM $table")
        rs.next(); rs.getLong(1)
      } finally st.close()
    } finally conn.close()
  }

  test("streaming events ETL: micro-batches drain to the upsert sink and " +
      "match the batch pipeline; restart is incremental via checkpoint") {
    val work = Files.createTempDirectory("stream_in").toFile
    val ckpt = Files.createTempDirectory("stream_ckpt").toString
    val all = graft.etl.TestCorpus.files(6)

    // The file source admits maxFilesPerTrigger files per batch ordered
    // by MODIFICATION time; freshly-copied files share an mtime, making
    // batch membership nondeterministic. Stagger mtimes in name order so
    // batches are exactly {f0,f1},{f2,f3},{f4,f5}.
    def copyStaggered(names: Seq[String]): Unit = names.zipWithIndex.foreach {
      case (f, i) =>
        Files.copy(Paths.get(s"$corpusDir/$f"), Paths.get(work.toString, f),
          StandardCopyOption.REPLACE_EXISTING)
        new java.io.File(work, f).setLastModified(1700000000000L + i * 60000L)
    }

    // phase 1: first 4 files, batches of 2 → 2 micro-batch transactions
    copyStaggered(all.take(4).toSeq)
    // The upsert sink is delete-by-key + insert: a document whose versions
    // span micro-batches keeps only its LATEST batch's rows (the
    // reference's cross-batch "latest batch wins" semantics, SURVEY §2.8).
    // Model that independently: batch id = fileIndex / maxFilesPerTrigger;
    // keep each oid's rows from its max batch id.
    def expectedRows(fileNames: Seq[String], batchOf: Map[String, Int]): Long = {
      val df = Pipelines.events(spark,
        fileNames.map(f => s"$corpusDir/$f").toSeq, clock = clock)
      val batchCol = batchOf.foldLeft(lit(-1)) { case (acc, (f, b)) =>
        when(col("fileName") === f, lit(b)).otherwise(acc)
      }
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"oid__id")
      df.withColumn("__b", batchCol)
        .withColumn("__mb", max($"__b").over(w))
        .filter($"__b" === $"__mb")
        .count()
    }

    val q1 = Streaming.eventsFileStream(spark, work.toString, ckpt, url,
      "events_stream", maxFilesPerTrigger = 2, clock = clock,
      props = sinkProps, createTableColumnTypes = colTypes)
    q1.awaitTermination()
    val phase1 = countRows("events_stream")
    val exp1 = expectedRows(all.take(4).toSeq,
      all.take(4).zipWithIndex.map { case (f, i) => f -> i / 2 }.toMap)
    assert(phase1 === exp1,
      "streamed micro-batches must equal latest-batch-wins semantics")

    // phase 2: two more files appear; restart from checkpoint processes
    // ONLY the new ones (incremental, no reprocessing)
    all.slice(4, 6).zipWithIndex.foreach { case (f, i) =>
      Files.copy(Paths.get(s"$corpusDir/$f"), Paths.get(work.toString, f),
        StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(work.toString, f)
        .setLastModified(1700000000000L + (10 + i) * 60000L)
    }
    val q2 = Streaming.eventsFileStream(spark, work.toString, ckpt, url,
      "events_stream", maxFilesPerTrigger = 2, clock = clock,
      props = sinkProps, createTableColumnTypes = colTypes)
    q2.awaitTermination()
    val phase2 = countRows("events_stream")
    val exp2 = expectedRows(all.toSeq,
      all.zipWithIndex.map { case (f, i) => f -> i / 2 }.toMap)
    assert(phase2 === exp2)
  }

  test("streaming tracking ETL: per-key uniqueness holds after micro-batches") {
    val work = Files.createTempDirectory("strk_in").toFile
    val ckpt = Files.createTempDirectory("strk_ckpt").toString
    val all = graft.etl.TestCorpus.files(4)
    all.zipWithIndex.foreach { case (f, i) =>
      Files.copy(Paths.get(s"$corpusDir/$f"), Paths.get(work.toString, f),
        StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(work, f).setLastModified(1700000000000L + i * 60000L)
    }
    val q = Streaming.trackingFileStream(spark, work.toString, ckpt, url,
      "tracking_stream", maxFilesPerTrigger = 2, clock = clock,
      props = sinkProps, createTableColumnTypes = sink._4)
    q.awaitTermination()
    val conn = java.sql.DriverManager.getConnection(url, sinkProps)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(
          """SELECT COUNT(*), COUNT(DISTINCT "oid__id") FROM tracking_stream""")
        rs.next()
        // delete-by-key across batches + keep-last within batch ⇒ the
        // table is unique on the document key
        assert(rs.getLong(1) === rs.getLong(2),
          s"tracking table must be unique per key: ${rs.getLong(1)} vs ${rs.getLong(2)}")
        assert(rs.getLong(1) > 0)
      } finally st.close()
    } finally conn.close()
  }

  test("streaming ETL over self-written CDC files equals latest-batch-wins " +
      "over the batch pipelines (one shared transform chain)") {
    val work = Files.createTempDirectory("stream_cdc")
    // I/U ops, [], 'status': None, keys repeated across files
    val paths = graft.etl.CdcFiles.write(work)
    // the file source admits files in MODIFICATION-time order; stagger
    // them in name order so the batches are exactly {f0,f1},{f2,f3}
    paths.zipWithIndex.foreach { case (p, i) =>
      new java.io.File(p).setLastModified(1700000000000L + i * 60000L)
    }
    val batchOf = graft.etl.CdcFiles.names.zipWithIndex
      .map { case (f, i) => f -> i / 2 }.toMap
    // the upsert's delete-by-key keeps, per document, the rows of the
    // latest micro-batch that carried it
    def latestBatchWins(df: org.apache.spark.sql.DataFrame) = {
      val batchCol = batchOf.foldLeft(lit(-1)) { case (acc, (f, b)) =>
        when(col("fileName") === f, lit(b)).otherwise(acc)
      }
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"oid__id")
      df.withColumn("__b", batchCol)
        .withColumn("__mb", max($"__b").over(w))
        .filter($"__b" === $"__mb")
        .drop("__b", "__mb")
    }
    def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Seq[String] =
      df.select(cols.map(c => col(c).cast("string")): _*).collect()
        .map(_.toSeq.mkString("|")).toSeq.sorted

    Streaming.eventsFileStream(spark, work.toString,
      Files.createTempDirectory("stream_cdc_ev_ckpt").toString, url,
      "events_cdc_stream", maxFilesPerTrigger = 2, clock = clock,
      props = sinkProps, createTableColumnTypes = colTypes).awaitTermination()
    Streaming.trackingFileStream(spark, work.toString,
      Files.createTempDirectory("stream_cdc_tr_ckpt").toString, url,
      "tracking_cdc_stream", maxFilesPerTrigger = 2, clock = clock,
      props = sinkProps, createTableColumnTypes = sink._4).awaitTermination()

    val evCols = graft.etl.Schemas.eventsColumns ++ graft.etl.Schemas.auditColumns
    val evExpected = rows(latestBatchWins(Pipelines.events(spark, paths, clock = clock)), evCols)
    assert(evExpected.nonEmpty)
    assert(rows(spark.read.jdbc(url, "events_cdc_stream", sinkProps), evCols) === evExpected)
    val trCols = graft.etl.Schemas.trackingColumns ++ graft.etl.Schemas.auditColumns
    val trExpected = rows(latestBatchWins(Pipelines.tracking(spark, paths, clock = clock)), trCols)
    assert(trExpected.nonEmpty)
    assert(rows(spark.read.jdbc(url, "tracking_cdc_stream", sinkProps), trCols) === trExpected)
  }

  test("windowed aggregation over a stream equals the batch computation") {
    val eventsPath = sf("sf0.001")
    // stream schema = the RAW parquet schema (ts encoding varies by
    // testdata generation); apply the same normalization the batch
    // loader does
    val rawSchema = spark.read.parquet(s"$eventsPath/events.parquet").schema
    val stream = graft.Tables.normalizeTs(spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(eventsPath))
    val agg = Streaming.windowedEventCounts(stream)
    // complete mode: on finite data, append-mode watermarking would hold
    // back the final windows forever; complete emits every window
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.sql("SELECT * FROM win_out")

    val batch = Streaming.windowedEventCounts(
      graft.Tables.events(spark, eventsPath))
    // batch mode emits every window (no watermark dropping on finite data)
    assert(streamed.count() === batch.count())
    val joined = streamed.as("s").join(batch.as("b"),
      Seq("window_start", "event_type"))
    assert(joined.filter($"s.n_events" =!= $"b.n_events").count() === 0)
    assert(joined.filter($"s.sum_value" =!= $"b.sum_value").count() === 0)
  }

  test("declarative session_window equals the custom batch sessionizer") {
    // Spark's session_window merges events whose gap is STRICTLY LESS
    // than the duration; q42's batch twin starts a new session when the
    // gap EXCEEDS 1800s. gap=1801s aligns the boundary conventions
    // (an exactly-1800s gap stays in-session under both).
    val ev = graft.Tables.events(spark, sf("sf0.001"))
    val declarative = Streaming.sessionWindows(ev, gap = "1801 seconds")
      .as[(Long, Long, Long)].collect().toSet
    val custom = graft.operators.Extended.queries("q42_sessionize_batch")(
        spark, sf("sf0.001"))
      .select($"user_id", $"start_sec", $"n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(declarative === custom,
      "built-in session_window must reproduce the oracled sessionizer")
    assert(declarative.nonEmpty)
  }

  test("misra_gries maintains heavy-hitter candidates incrementally across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.MisraGries.misra_gries
    // hot items arrive SPREAD across three micro-batches while junk
    // churns the k=32 summary; the MG bound (f > n/k survives) must hold
    // over the ACCUMULATED stream state, not just within one batch
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val q = input.toDF().toDF("item")
      .agg(misra_gries($"item", 32).as("mg"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("mg_out").start()
    try {
      // n = 3*(700+200) = 2700, n/k ≈ 84; hot = 900 ≫ 84, junk ≤ 3 each
      (1 to 3).foreach { b =>
        input.addData((1 to 700).map(i => s"junk_${b}_$i") ++
          Seq.fill(300)("hot"): _*)
        q.processAllAvailable()
      }
      val cand = spark.sql("SELECT explode(mg.item) FROM mg_out")
        .as[String].collect().toSet
      assert(cand.size <= 31, s"summary must stay k-bounded, got ${cand.size}")
      assert(cand.contains("hot"),
        "an item above n/k must survive the accumulated stream state")
    } finally q.stop()
  }

  test("streaming dedup drops in-window duplicates, keeps distinct ids") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Streaming.UserEvent]
    val deduped = Streaming.dedupedStream(input.toDS().toDF(),
      idCols = Seq("event_id"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    input.addData(
      Streaming.UserEvent(1L, 100L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      Streaming.UserEvent(1L, 100L, Timestamp.valueOf("2024-01-01 00:00:01"), 1.0),
      Streaming.UserEvent(2L, 101L, Timestamp.valueOf("2024-01-01 00:00:02"), 2.0))
    q.processAllAvailable()
    input.addData( // same id again in a later batch, still within window
      Streaming.UserEvent(3L, 100L, Timestamp.valueOf("2024-01-01 00:00:03"), 3.0),
      Streaming.UserEvent(4L, 102L, Timestamp.valueOf("2024-01-01 00:00:04"), 4.0))
    q.processAllAvailable()
    q.stop()
    val ids = spark.sql("SELECT event_id FROM dedup_out")
      .as[Long].collect().sorted.toSeq
    assert(ids === Seq(100L, 101L, 102L))
  }

  test("dedup ingest: inline LSH rejection across micro-batches leaves no near-dup pair") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("ingest").toString
    val (outDir, idxDir, ckpt) = (s"$tmp/corpus", s"$tmp/index", s"$tmp/ckpt")
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    // AvailableNow drains and stops; each restart shares the checkpoint —
    // three ingests of one corpus split, exactly the nightly-batch shape
    def drain(): Unit = {
      val q = Streaming.dedupIngest(
        input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", outDir, idxDir, ckpt)
      q.awaitTermination()
    }
    (0 to 2).foreach { r =>
      input.addData(docs.filter(_._1 % 3 == r).toSeq)
      drain()
    }
    val ingested = spark.read.parquet(outDir).cache()
    val ids = ingested.select($"doc_id").as[Long].collect().sorted.toSeq
    assert(ids.distinct === ids, "no doc ingested twice")
    // the invariant the operator exists for: NO ingested pair is an
    // LSH near-dup (in-batch or cross-batch)
    assert(graft.operators.Dedup.minHashLshPairs(
      ingested, "doc_id", "text").isEmpty)
    // rejections happened (the corpus has exact dups = jaccard-1 pairs)
    // and every rejected doc has a real near-dup witness in the corpus
    val all = graft.Tables.documents(spark, sf("sf0.001"))
    val dropped = docs.map(_._1).toSet -- ids.toSet
    assert(dropped.nonEmpty, "planted near-dups must be rejected")
    val witnessed = graft.operators.Dedup
      .minHashLshPairs(all, "doc_id", "text")
      .select(explode(array($"doc_a", $"doc_b")).as("d"))
      .as[Long].collect().toSet
    assert(dropped.subsetOf(witnessed),
      s"docs dropped without any near-dup partner: ${(dropped -- witnessed).take(5)}")
    // an empty re-drain (restart, no new data) changes nothing
    drain()
    assert(spark.read.parquet(outDir).count() === ids.length.toLong)
    ingested.unpersist(); ()
  }

  test("stats ingest: 3 batches + restarts merge to EXACTLY the full " +
    "single-scan recompute (q70's oracle shape); replays cannot double-count") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("stats_ingest").toString
    val (statsDir, ckpt) = (s"$tmp/stats", s"$tmp/ckpt")
    val ev = graft.Tables.events(spark, sf("sf0.001"))
      .select($"user_id", $"event_id", $"ts", $"value")
      .as[Streaming.UserEvent].collect()
    val input = MemoryStream[Streaming.UserEvent]
    def drain(checkpoint: String = ckpt): Unit = {
      val q = Streaming.statsIngest(
        input.toDF().select($"user_id", $"ts", $"value"),
        "user_id", "value", statsDir, checkpoint)
      q.awaitTermination()
    }
    // three nightly batches, each a separate drain (restart in between —
    // the persisted snapshot, not memory, carries the state across)
    (0 to 2).foreach { r =>
      input.addData(ev.filter(_.event_id % 3 == r).toSeq)
      drain()
    }
    def collectStats() = Streaming.readStats(spark, statsDir)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val got = collectStats()
    // the q70 contract: merged mergeable state ≡ one-pass recompute, exactly
    val want = graft.Tables.events(spark, sf("sf0.001"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,2)")).as("__sv"))
      .select($"user_id", $"n_events",
        $"__sv".cast("double").as("sum_value"),
        round($"__sv".cast("double") / $"n_events", 6).as("avg_value"))
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got === want, "merged snapshots must equal the full recompute")
    // an empty re-drain (restart, no new data) changes nothing
    drain()
    assert(collectStats() === got)
    // replay safety: batch ids are the commit keys — a stream whose ids
    // rewind (fresh checkpoint against the SAME statsDir, re-offering
    // already-merged data) must be skipped, never double-merged;
    // statsDir and checkpointDir move together or not at all
    input.addData(ev.filter(_.event_id % 3 == 0).toSeq)
    drain(s"$tmp/ckpt_rewound")
    assert(collectStats() === got, "a rewound batch id must not re-merge")
    // storage stays O(keys): only the latest snapshot and its rollback
    // predecessor are retained
    val snaps = new java.io.File(statsDir).listFiles()
      .map(_.getName).filter(_.startsWith("snapshot="))
    assert(snaps.length <= 2, s"snapshots not pruned: ${snaps.toSeq}")
  }

  /** Delete each file, with the `.<name>.crc` checksum sibling Hadoop's
    * local file system writes next to it: a torn commit, as a crash
    * between a batch's writes and its commit record leaves it. */
  private def tear(files: String*): Unit = files.foreach { f =>
    val p = Paths.get(f)
    Files.delete(p)
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc")); ()
  }

  test("stats ingest: a torn snapshot commit is invisible to the reader, " +
    "and the checkpoint's replay of its batch id completes it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("stats_torn").toString
    val (statsDir, ckpt) = (s"$tmp/stats", s"$tmp/ckpt")
    val ev = graft.Tables.events(spark, sf("sf0.001"))
      .select($"user_id", $"event_id", $"ts", $"value")
      .as[Streaming.UserEvent].collect()
    val input = MemoryStream[Streaming.UserEvent]
    def drain(): Unit = Streaming.statsIngest(
      input.toDF().select($"user_id", $"ts", $"value"),
      "user_id", "value", statsDir, ckpt).awaitTermination()
    def collectStats() = Streaming.readStats(spark, statsDir)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val states = (0 to 2).map { r =>
      input.addData(ev.filter(_.event_id % 3 == r).toSeq)
      drain()
      collectStats()
    }
    // batch 2 wrote its snapshot but died before the parquet commit
    // record, and before the checkpoint recorded the batch as done
    tear(s"$statsDir/snapshot=2/_SUCCESS", s"$ckpt/commits/2")
    assert(collectStats() === states(1),
      "a snapshot without its commit record must be invisible")
    drain() // restart: the checkpoint replays batch 2 on the committed state
    assert(collectStats() === states(2),
      "the replayed batch must merge exactly once")
    val snaps = new java.io.File(statsDir).listFiles()
      .map(_.getName).filter(_.startsWith("snapshot="))
    assert(snaps.length <= 2, s"snapshots not pruned: ${snaps.toSeq}")
  }

  test("sketch ingest: 3 batches + restarts reproduce the whole-corpus " +
    "KMV sketch ROW-FOR-ROW (the merge theorem, operational); rewound " +
    "batch ids are skipped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("sketch_ingest").toString
    val (skDir, ckpt) = (s"$tmp/sketch", s"$tmp/ckpt")
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .select($"doc_id", $"source", $"text")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String, String)]
    def drain(checkpoint: String = ckpt): Unit = {
      val q = Streaming.sketchIngest(
        input.toDF().toDF("doc_id", "source", "text"), skDir, checkpoint)
      q.awaitTermination()
    }
    // three ingests, separate drains — the persisted snapshot carries
    // the sketch across restarts, not memory
    (0 until 3).foreach { r =>
      input.addData(docs.filter(_._1 % 3 == r.toLong).toSeq)
      drain()
    }
    def collectSk() = Streaming.readSketch(spark, skDir)
      .as[(String, Long)].collect().sortBy(x => (x._1, x._2)).toSeq
    val got = collectSk()
    val want = graft.operators.DataOps
      .kmvSketchRows(graft.Tables.documents(spark, sf("sf0.001")), 256)
      .as[(String, Long)].collect().sortBy(x => (x._1, x._2)).toSeq
    assert(got === want,
      "merged per-batch sketches must equal the whole-corpus sketch")
    // premise: pruning actually bit — every source is at the k cap, so
    // the cross-batch merge had to evict (no vacuous pass-through)
    assert(got.groupBy(_._1).values.forall(_.size == 256))
    // empty re-drain: nothing moves
    drain()
    assert(collectSk() === got)
    // rewound batch id (fresh checkpoint, same sketchDir): skipped —
    // harmless for a set union, but the commit discipline holds anyway
    input.addData(docs.filter(_._1 % 3 == 0L).toSeq)
    drain(s"$tmp/ckpt_rewound")
    assert(collectSk() === got, "a rewound batch id must be skipped")
    val snaps = new java.io.File(skDir).listFiles()
      .map(_.getName).filter(_.startsWith("snapshot="))
    assert(snaps.length <= 2, s"snapshots not pruned: ${snaps.toSeq}")
  }

  test("cm counter ingest: 3 batches + restarts reproduce the whole-corpus " +
    "Count-Min counter table ROW-FOR-ROW (addition is the merge); a " +
    "rewound batch is skipped BEFORE it can double-count") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("cm_ingest").toString
    val (cmDir, ckpt) = (s"$tmp/counters", s"$tmp/ckpt")
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .select($"doc_id", $"source", $"text")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String, String)]
    def drain(checkpoint: String = ckpt): Unit = {
      val q = Streaming.cmCounterIngest(
        input.toDF().toDF("doc_id", "source", "text"), cmDir, checkpoint)
      q.awaitTermination()
    }
    (0 until 3).foreach { r =>
      input.addData(docs.filter(_._1 % 3 == r.toLong).toSeq)
      drain()
    }
    def collectCm() = Streaming.readCmCounters(spark, cmDir)
      .as[(String, Int, Long, Long)].collect()
      .sortBy(x => (x._1, x._2, x._3)).toSeq
    val got = collectCm()
    val want = graft.operators.DataOps.cmCounters(
        graft.operators.DataOps.cmTokens(
          graft.Tables.documents(spark, sf("sf0.001"))), 16384, 3)
      .as[(String, Int, Long, Long)].collect()
      .sortBy(x => (x._1, x._2, x._3)).toSeq
    assert(got === want,
      "summed per-batch counters must equal the whole-corpus table")
    // premise: the merge actually ADDED (some counter exceeds what any
    // single batch could produce alone — each batch is ~1/3 of docs,
    // and the table's total mass equals the corpus 3-gram count)
    assert(got.map(_._4).sum === want.map(_._4).sum)
    assert(got.exists(_._4 > 1L))
    // empty re-drain: nothing moves
    drain()
    assert(collectCm() === got)
    // rewound batch id (fresh checkpoint, same dir): MUST be skipped —
    // addition is not idempotent, a re-merge would double-count
    input.addData(docs.filter(_._1 % 3 == 0L).toSeq)
    drain(s"$tmp/ckpt_rewound")
    assert(collectCm() === got, "a rewound batch id must be skipped")
    val snaps = new java.io.File(cmDir).listFiles()
      .map(_.getName).filter(_.startsWith("snapshot="))
    assert(snaps.length <= 2, s"snapshots not pruned: ${snaps.toSeq}")
  }

  test("ivm ingest: the maintained view equals the whole-history signed " +
    "recompute after EVERY batch; a zeroed key leaves mid-stream and " +
    "returns; a rewound batch cannot double-retract") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("ivm_ingest").toString
    val (viewDir, ckpt) = (s"$tmp/view", s"$tmp/ckpt")
    // (user, type, value): batch 1 seeds users 1,2; batch 2 retracts
    // ALL of user 1 (they must vanish); batch 3 brings user 1 back
    val batches = Seq(
      Seq((1L, "click", 5.0), (1L, "view", 3.0), (2L, "click", 1.0)),
      Seq((1L, "error", 5.0), (1L, "error", 3.0), (2L, "view", 2.0)),
      Seq((1L, "click", 7.0)))
    val input = MemoryStream[(Long, String, Double)]
    def drain(checkpoint: String = ckpt): Unit = {
      val ev = input.toDF().toDF("user_id", "event_type", "value")
      val q = Streaming.ivmIngest(ev, viewDir, checkpoint)
      q.awaitTermination()
    }
    def collectView() = Streaming.readIvmView(spark, viewDir)
      .as[(Long, Long, Long)].collect().toSet
    def recompute(upTo: Int) = batches.take(upTo).flatten
      .groupBy(_._1).view.mapValues { rows =>
        val n = rows.map(r => if (r._2 == "error") -1L else 1L).sum
        val c = rows.map(r => (if (r._2 == "error") -1L else 1L) *
          math.round(r._3 * 100)).sum
        (n, c)
      }.toMap.collect { case (u, (n, c)) if n != 0 || c != 0 =>
        (u, n, c) }.toSet
    batches.zipWithIndex.foreach { case (b, i) =>
      input.addData(b)
      drain()
      assert(collectView() === recompute(i + 1), s"after batch $i")
    }
    // the zero-elimination actually happened mid-stream
    assert(!recompute(2).exists(_._1 == 1L))
    assert(recompute(3).exists(_._1 == 1L))
    // empty re-drain: nothing moves
    drain()
    assert(collectView() === recompute(3))
    // rewound batch id (fresh checkpoint, same view dir): skipped —
    // a re-applied retraction batch would double-retract
    input.addData(batches(1))
    drain(s"$tmp/ckpt_rewound")
    assert(collectView() === recompute(3),
      "a rewound batch id must be skipped before the merge")
    val snaps = new java.io.File(viewDir).listFiles()
      .map(_.getName).filter(_.startsWith("snapshot="))
    assert(snaps.length <= 2, s"snapshots not pruned: ${snaps.toSeq}")
  }

  test("cdc ingest: seq-ordered changelog batches + restarts equal the " +
    "batch q74 exactly; rewound batch ids are skipped, not re-applied") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("cdc_ingest").toString
    val (baseDir, ckpt) = (s"$tmp/base", s"$tmp/ckpt")
    val ev = graft.Tables.events(spark, sf("sf0.001"))
    val cutoff = lit("2024-01-15").cast("timestamp")
    // seed: q74's base snapshot, committed as snapshot=-1 (src carried
    // so pass-through preserves provenance across rounds)
    ev.filter($"ts" < cutoff).groupBy($"user_id")
      .agg(sum($"value".cast("decimal(18,2)")).cast("double").as("total"),
        count(lit(1)).as("n"))
      .withColumn("src", lit("base"))
      .write.mode("overwrite").parquet(s"$baseDir/snapshot=-1")
    // q74's changelog, sorted by the seq columns so batch cuts respect
    // per-key delivery order (the keyed-CDC-topic guarantee)
    val cl = ev.filter($"ts" >= cutoff)
      .select($"user_id",
        when($"event_type" === "error", "D").otherwise("U").as("op"),
        $"ts", $"event_id", $"value".as("total"), lit(1L).as("n"))
      .as[(Long, String, java.sql.Timestamp, Long, Double, Long)]
      .collect().sortBy(r => (r._3.getTime, r._4))
    val input = MemoryStream[(Long, String, java.sql.Timestamp, Long, Double, Long)]
    def drain(checkpoint: String = ckpt): Unit = {
      val q = Streaming.cdcIngest(
        input.toDF().toDF("user_id", "op", "ts", "event_id", "total", "n"),
        "user_id", "op", Seq("ts", "event_id"), Seq("total", "n"),
        baseDir, checkpoint)
      q.awaitTermination()
    }
    // hoist ONE user (final op U) entirely into batch 0: per-key order
    // is preserved (all their ops ride together), so the chained apply
    // is unaffected — but their 'applied' provenance must now survive
    // two pass-through rounds, exercising the src-preservation path
    // that an always-overwrite-src apply would break
    val uStar = cl.groupBy(_._1).collectFirst {
      case (u, ops) if ops.maxBy(r => (r._3.getTime, r._4))._2 == "U" => u
    }.get
    val (starOps, others) = cl.partition(_._1 == uStar)
    val cuts = Seq(0, others.length / 3, 2 * others.length / 3, others.length)
    val batches = Seq(
      (starOps ++ others.slice(cuts(0), cuts(1))).toSeq,
      others.slice(cuts(1), cuts(2)).toSeq,
      others.slice(cuts(2), cuts(3)).toSeq)
    batches.foreach { b => input.addData(b); drain() }
    def collectBase() = Streaming.readCdcBase(spark, baseDir)
      .select($"user_id", $"total", $"n", $"src")
      .as[(Long, Double, Long, String)].collect().sortBy(_._1).toSeq
    val got = collectBase()
    val want = graft.operators.Cdc.queries("q74_cdc_apply")(
        spark, sf("sf0.001"))
      .select($"user_id", $"total", $"n", $"src")
      .as[(Long, Double, Long, String)].collect().sortBy(_._1).toSeq
    // the hoisted user is the src-preservation witness: touched only in
    // batch 0 with a surviving U, their row must read 'applied' after
    // two pass-through rounds (an always-overwrite-src apply would have
    // relabeled it 'base')
    assert(got.find(_._1 == uStar).exists(_._4 == "applied"),
      s"user $uStar lost its provenance through pass-through rounds")
    assert(got === want,
      "chained per-batch applies must equal one apply of the whole feed")
    // empty re-drain: no new batch, nothing moves
    drain()
    assert(collectBase() === got)
    // rewound batch id (fresh checkpoint, same baseDir, re-offering
    // batch 0's rows): applying stale ops on newer state would REGRESS
    // keys — the snapshot-id guard skips it instead
    input.addData(batches(0))
    drain(s"$tmp/ckpt_rewound")
    assert(collectBase() === got, "a rewound batch must be skipped")
    // storage stays O(keys): latest snapshot + rollback predecessor only
    val snaps = new java.io.File(baseDir).listFiles()
      .map(_.getName).filter(_.startsWith("snapshot="))
    assert(snaps.length <= 2, s"snapshots not pruned: ${snaps.toSeq}")
  }

  test("novelty ingest: doc_id-ordered batches + restarts equal the batch " +
    "t33 exactly; rewound batch ids are skipped, not rescored") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("novelty_ingest").toString
    val (outDir, idxDir, comDir, ckpt) =
      (s"$tmp/out", s"$tmp/index", s"$tmp/commits", s"$tmp/ckpt")
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    def drain(checkpoint: String = ckpt): Unit = {
      val q = Streaming.noveltyIngest(
        input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", outDir, idxDir, comDir, checkpoint)
      q.awaitTermination()
    }
    // three doc_id-ordered ingests, separate drains (restart between:
    // the persisted index + commit markers carry the state, not memory)
    val cuts = Seq(0, docs.length / 3, 2 * docs.length / 3, docs.length)
    (0 until 3).foreach { r =>
      input.addData(docs.slice(cuts(r), cuts(r + 1)).toSeq)
      drain()
    }
    def collectNovelty() = Streaming.readNovelty(spark, outDir, comDir)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val got = collectNovelty()
    // arrival order = doc_id order, so streaming ≡ the batch operator
    val want = graft.operators.DataOps
      .queries("t33_ngram_novelty")(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === want,
      "committed streaming novelty must equal the batch t33 exactly")
    // empty re-drain: no new batch, nothing moves
    drain()
    assert(collectNovelty() === got)
    // rewound batch id (fresh checkpoint, same state dirs, re-offering
    // batch 0's docs): the commit marker detects it BEFORE scoring — a
    // recompute would see the docs' own shingles in the index and score
    // novelty 0 (the non-idempotent-merge trap)
    input.addData(docs.slice(cuts(0), cuts(1)).toSeq)
    drain(s"$tmp/ckpt_rewound")
    assert(collectNovelty() === got, "a rewound batch must be skipped")
  }

  test("novelty ingest: a torn commit marker hides its batch from the " +
    "reader, and the checkpoint's replay rescores it to equal t33") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("novelty_torn").toString
    val (outDir, idxDir, comDir, ckpt) =
      (s"$tmp/out", s"$tmp/index", s"$tmp/commits", s"$tmp/ckpt")
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    def drain(): Unit = Streaming.noveltyIngest(
      input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", outDir, idxDir, comDir, ckpt).awaitTermination()
    def collectNovelty() = Streaming.readNovelty(spark, outDir, comDir)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val cuts = Seq(0, docs.length / 3, 2 * docs.length / 3, docs.length)
    val states = (0 until 3).map { r =>
      input.addData(docs.slice(cuts(r), cuts(r + 1)).toSeq)
      drain()
      collectNovelty()
    }
    // batch 2 wrote its output and index rows but died before its
    // marker, and before the checkpoint recorded the batch as done
    tear(s"$comDir/batch=2/_SUCCESS", s"$ckpt/commits/2")
    assert(collectNovelty() === states(1),
      "a batch without its commit marker must be invisible")
    drain() // restart: batch 2 rescored against batches 0 and 1 only
    val want = graft.operators.DataOps
      .queries("t33_ngram_novelty")(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(collectNovelty() === want,
      "the replayed batch must score as if it had never been torn")
    assert(states(2) === want)
  }

  test("exact-pairs ingest: cumulative feed over 3 restarts equals the " +
    "whole-corpus d16 join; rewound batch ids are skipped, not re-paired") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("exact_pairs_ingest").toString
    val (outDir, idxDir, comDir, ckpt) =
      (s"$tmp/out", s"$tmp/index", s"$tmp/commits", s"$tmp/ckpt")
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    def drain(checkpoint: String = ckpt): Unit = {
      val q = Streaming.exactPairsIngest(
        input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", outDir, idxDir, comDir, checkpoint,
        minJaccard = 0.7, compactEvery = 1, compactMaxFiles = 1)
      q.awaitTermination()
    }
    // three ingests, separate drains (restart between: the persisted
    // inventory index + commit markers carry the state, not memory)
    val cuts = Seq(0, docs.length / 3, 2 * docs.length / 3, docs.length)
    (0 until 3).foreach { r =>
      input.addData(docs.slice(cuts(r), cuts(r + 1)).toSeq)
      drain()
    }
    def collectPairs() = Streaming.readPairs(spark, outDir, comDir)
      .select($"doc_a", $"doc_b", $"n_common", $"size_a", $"size_b",
        $"jaccard")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    val got = collectPairs()
    // each qualifying pair reported EXACTLY once (when its later member
    // ingested) — the cumulative feed is the whole-corpus exact join
    assert(got.distinct.length === got.length,
      "a pair must never be reported twice across batches")
    val want = graft.operators.Dedup.prefixFilterJaccardPairs(
        graft.Tables.documents(spark, sf("sf0.001")), "doc_id", "text",
        n = 3, minJaccard = 0.7)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(want.nonEmpty, "premise: the corpus must contain 0.7-pairs")
    assert(got.sorted === want.sorted,
      "cumulative committed pair feed must equal the batch d16 exactly")
    // empty re-drain: no new batch, nothing moves
    drain()
    assert(collectPairs().sorted === got.sorted)
    // rewound batch id (fresh checkpoint, same state dirs, re-offering
    // batch 0's docs): the commit marker detects it BEFORE pair math — a
    // recompute would re-emit batch 0's in-batch pairs (double-report)
    // and re-append its inventory (doubling n_common for every future
    // probe against those docs)
    input.addData(docs.slice(cuts(0), cuts(1)).toSeq)
    drain(s"$tmp/ckpt_rewound")
    assert(collectPairs().sorted === got.sorted,
      "a rewound batch must be skipped")
    // compaction ran after every batch (compactEvery=1, target 1 file):
    // the per-batch appends must not grow the probe's file count
    val buckets = new java.io.File(idxDir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("bucket_p="))
    assert(buckets.nonEmpty)
    val worst = buckets.map(b => new java.io.File(s"$idxDir/$b").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))).max
    assert(worst <= 1,
      s"compaction must bound per-bucket file count, worst=$worst")
    // probe-equivalence through the swept index: a NEW verbatim copy of
    // a pairless doc must pair with its original at jaccard 1.0 — the
    // compacted inventory lost/duplicated nothing. The same batch ALSO
    // carries batch 0's re-added docs (the original checkpoint never
    // consumed the rewound re-offer above), so this drain additionally
    // proves the at-least-once guard: re-delivered doc ids are dropped
    // against the index instead of duplicating their inventory rows —
    // without the guard, doubled n_common zeroes jaccard denominators
    val paired = (want.map(_._1) ++ want.map(_._2)).toSet
    val lone = docs.find(d => !paired.contains(d._1)).get
    input.addData(Seq((100000L, lone._2)))
    drain()
    val after = collectPairs().sorted
    val fresh = after.diff(got.sorted)
    assert(fresh.length === 1 &&
      fresh.head._1 === lone._1 && fresh.head._2 === 100000L &&
      fresh.head._6 === 1.0,
      s"expected exactly the planted (${lone._1}, 100000) pair, got $fresh")
  }

  test("training-set ingest: 3 id-ordered batches + restarts equal the " +
    "batch x01/x02 capstone; rewound batch ids are skipped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.{DataOps, Dedup}
    val tmp = Files.createTempDirectory("train_ingest").toString
    val (shardsDir, idxDir, manDir, comDir, ckpt) =
      (s"$tmp/shards", s"$tmp/index", s"$tmp/manifest", s"$tmp/commits",
        s"$tmp/ckpt")
    val docsDf = graft.Tables.documents(spark, sf("sf0.001"))
    val train = docsDf.filter(!DataOps.isBenchId($"doc_id"))
    val bench = docsDf.filter(DataOps.isBenchId($"doc_id"))
    // the BATCH capstone (x01's exact body at its parameterization) —
    // the ground truth the cumulative stream must reproduce
    val want = DataOps.prepareTrainingSet(train, bench)
      .withColumn("shard", floor($"first_chunk" / 8).cast("long"))
      .as[(Long, Long, Long, Long, Long, String, Double, Long)]
      .collect().toSeq
    assert(want.nonEmpty, "premise: the batch capstone keeps documents")
    // the out-of-band sampling POLICY: the batch pipeline's clean-corpus
    // temperature rates (production computes/refreshes this artifact out
    // of band — the embeddingIngest centroid convention)
    val curated = Dedup.curateCorpus(train, "doc_id", "text", "lang")
    val clean = curated.join(
      org.apache.spark.sql.functions.broadcast(
        DataOps.contaminatedIds(curated, bench)), Seq("doc_id"), "left_anti")
    val rates = DataOps.temperatureRates(clean, 200.0).cache()
    assert(rates.count() > 0)
    val docs = train.select($"doc_id", $"text", $"lang", $"source")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String, String, String)]
    def drain(checkpoint: String = ckpt): Unit = {
      val q = Streaming.trainingSetIngest(
        input.toDF().toDF("doc_id", "text", "lang", "source"),
        bench, rates, shardsDir, idxDir, manDir, comDir, checkpoint,
        compactEvery = 1, compactMaxFiles = 1)
      q.awaitTermination()
    }
    // three id-ordered ingests, separate drains (restart between: the
    // digest/inventory indexes, manifest snapshots and commit markers
    // carry the state, not memory)
    val cuts = Seq(0, docs.length / 3, 2 * docs.length / 3, docs.length)
    (0 until 3).foreach { r =>
      input.addData(docs.slice(cuts(r), cuts(r + 1)).toSeq)
      drain()
    }
    def collectShards() = Streaming
      .readTrainingShards(spark, shardsDir, comDir)
      .as[(Long, Long, Long, Long, Long, String, Double, Long)]
      .collect().toSeq
    val got = collectShards()
    // every stage preserved: gates, exact+near dedup (keep-min-id ≡
    // first-seen under id order, dropped docs still witness), static
    // decontamination, static policy sampling, packing continued from
    // the committed token total — so the cumulative committed shards ARE
    // the batch x01 rows, chunk numbers and shard assignment included
    assert(got.sorted === want.sorted,
      "cumulative committed shards must equal the batch x01 capstone")
    // final manifest ≡ the batch x02 closed-form shard aggregation
    val wantManifest = DataOps.prepareTrainingSet(train, bench)
      .withColumn("shard", floor($"first_chunk" / 8).cast("long"))
      .groupBy($"shard").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        min($"first_chunk").as("first_chunk"),
        max($"last_chunk").as("last_chunk"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    val gotManifest = Streaming.readTrainingManifest(spark, manDir, comDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(gotManifest === wantManifest,
      "final merged manifest must equal the batch x02 manifest")
    // an empty re-drain (restart, no new data) changes nothing
    drain()
    assert(collectShards().sorted === got.sorted)
    // rewound batch id (fresh checkpoint, same state dirs, re-offering
    // batch 0's docs): the commit marker skips it BEFORE any arithmetic —
    // a recompute would re-append batch 0's shard rows and double the
    // manifest counts (the additive-state cmCounterIngest lesson)
    input.addData(docs.slice(cuts(0), cuts(1)).toSeq)
    drain(s"$tmp/ckpt_rewound")
    assert(collectShards().sorted === got.sorted,
      "a rewound batch must be skipped, not re-packed")
    assert(Streaming.readTrainingManifest(spark, manDir, comDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      === wantManifest)
  }

  test("dedup ingest: auto-compaction bounds index file count across many batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("ingest_compact").toString
    val (outDir, idxDir, ckpt) = (s"$tmp/corpus", s"$tmp/index", s"$tmp/ckpt")
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    def drain(): Unit = {
      val q = Streaming.dedupIngest(
        input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", outDir, idxDir, ckpt,
        compactEvery = 3, compactMaxFiles = 2)
      q.awaitTermination()
    }
    // 9 ingests (3x the base scenario) — sweeps fire after batches 2/5/8
    val nBatches = 9
    (0 until nBatches).foreach { r =>
      input.addData(docs.filter(_._1 % nBatches == r).toSeq)
      drain()
    }
    // bounded: the final sweep ran after the last append, so no bucket
    // may exceed the compactMaxFiles threshold — without the hook, hot
    // buckets would hold up to one file per batch (and the planted-dup
    // corpus touches most buckets every batch)
    val buckets = new java.io.File(idxDir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("bucket_p="))
    assert(buckets.nonEmpty)
    def files(b: String) = new java.io.File(s"$idxDir/$b").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val worst = buckets.map(files).max
    assert(worst <= 2,
      s"compaction must bound per-bucket file count, worst=$worst")
    // probe-equivalence: the swept index holds exactly the band rows of
    // the ingested corpus — compaction lost/duplicated nothing
    val ingested = spark.read.parquet(outDir)
    val expected = graft.operators.Dedup
      .bandIndexRows(ingested, "doc_id", "text")
      .select($"doc", $"band", $"bucket").as[(Long, Int, Long)]
      .collect().toSet
    val actual = spark.read.parquet(idxDir)
      .select($"doc", $"band", $"bucket").as[(Long, Int, Long)]
      .collect().toSet
    assert(actual === expected,
      "swept index content must equal the band rows of the ingested corpus")
    // and the operator's own invariant survives the sweeps
    assert(graft.operators.Dedup.minHashLshPairs(
      ingested, "doc_id", "text").isEmpty)
  }

  test("embedding ingest: IVF-probed rejection across micro-batches leaves no near-dup vector pair") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("vingest").toString
    val (outDir, idxDir, ckpt) = (s"$tmp/vecs", s"$tmp/ivf", s"$tmp/ckpt")
    val emb = graft.Tables.embeddings(spark, sf("sf0.001"))
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    // planted duplicates ACROSS batch boundaries: vec i and its clone
    // (id + 10000, identical direction ⇒ cosine 1) land in different
    // ingests via the % 3 split
    val all = emb ++ emb.filter(_._1 % 7 == 0)
      .map { case (id, v) => (id + 10000L, v.map(x => x * 2.0f)) }
    // offline-trained centroids (production shape: clustering is out of
    // band, the stream only assigns)
    val centroids = graft.operators.Ivf.kmeans(
      graft.Tables.embeddings(spark, sf("sf0.001")).select($"vec_id",
        graft.operators.Similarity.toDouble($"embedding").as("v")),
      nCells = 8, iterations = 2).cache()
    val input = MemoryStream[(Long, Array[Float])]
    def drain(): Unit = {
      val q = Streaming.embeddingIngest(
        input.toDF().toDF("vec_id", "embedding"), centroids,
        outDir, idxDir, ckpt, minCosSim = 0.98, nProbe = 3)
      q.awaitTermination()
    }
    (0 to 2).foreach { r =>
      input.addData(all.filter(_._1 % 3 == r).toSeq)
      drain()
    }
    val ingested = spark.read.parquet(outDir).cache()
    val ids = ingested.select($"vec_id").as[Long].collect().sorted.toSeq
    assert(ids.distinct === ids, "no vector ingested twice")
    // exact O(n²) audit of the invariant: no ingested pair ≥ minCosSim
    val v = ingested.select($"vec_id",
      graft.operators.Similarity.toDouble($"embedding").as("v"))
      .withColumn("__nrm", graft.operators.Similarity.norm($"v"))
    val offending = v.as("a").join(v.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("__cos", graft.operators.Similarity.dot(
        col("a.v"), col("b.v")) / (col("a.__nrm") * col("b.__nrm")))
      .filter($"__cos" >= 0.98).count()
    assert(offending === 0L, "ingested corpus contains a near-dup pair")
    // of every planted (original, clone) pair — cosine 1 by construction
    // — exactly one side survives: whichever batch arrived FIRST won, the
    // other was rejected in-batch or against the persisted index
    val clonePairs = all.map(_._1).filter(_ >= 10000L)
      .map(c => (c, c - 10000L))
    assert(clonePairs.nonEmpty)
    clonePairs.foreach { case (c, o) =>
      assert(ids.contains(c) ^ ids.contains(o),
        s"clone pair ($o, $c): exactly one side must be ingested")
    }
    // the persisted index stays cell-partitioned and replayable
    assert(spark.read.parquet(idxDir).select($"cell").distinct().count() > 1)
    // an empty re-drain (restart, no new data) changes nothing
    drain()
    assert(spark.read.parquet(outDir).count() === ids.length.toLong)
    ingested.unpersist(); centroids.unpersist(); ()
  }

  test("streaming dedup runs identically on the RocksDB state store backend") {
    // SCALE.md prescribes RocksDB for production state (sessionization /
    // dedup state scales with live keys, and the default HDFS-backed
    // store keeps it ALL on-heap). Prove the swap actually works in
    // this build: same scenario as the dedup spec, state provider
    // switched per-query via the session conf.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = scala.util.Try(spark.conf.get(key)).toOption
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Streaming.UserEvent]
      val q = Streaming.dedupedStream(input.toDS().toDF(),
          idCols = Seq("event_id"))
        .writeStream.outputMode("append")
        .format("memory").queryName("rocksdb_dedup_out").start()
      input.addData(
        Streaming.UserEvent(1L, 200L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
        Streaming.UserEvent(2L, 200L, Timestamp.valueOf("2024-01-01 00:00:01"), 2.0),
        Streaming.UserEvent(3L, 201L, Timestamp.valueOf("2024-01-01 00:00:02"), 3.0))
      q.processAllAvailable()
      input.addData(
        Streaming.UserEvent(4L, 200L, Timestamp.valueOf("2024-01-01 00:00:03"), 4.0),
        Streaming.UserEvent(5L, 202L, Timestamp.valueOf("2024-01-01 00:00:04"), 5.0))
      q.processAllAvailable()
      q.stop()
      val ids = spark.sql("SELECT event_id FROM rocksdb_dedup_out")
        .as[Long].collect().sorted.toSeq
      assert(ids === Seq(200L, 201L, 202L))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("stream-stream interval join equals the batch interval join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(u: Long, id: Long, t: String, v: Double) =
      Streaming.UserEvent(u, id, Timestamp.valueOf(t), v)
    val leftRows = Seq(
      ev(1, 1, "2024-01-01 10:00:00", 1), ev(1, 2, "2024-01-01 10:05:00", 1),
      ev(2, 3, "2024-01-01 10:00:30", 1))
    val rightRows = Seq(
      ev(1, 11, "2024-01-01 09:59:30", 2), ev(1, 12, "2024-01-01 10:04:00", 2),
      ev(2, 13, "2024-01-01 10:10:00", 2), ev(3, 14, "2024-01-01 10:00:00", 2))
    val lIn = MemoryStream[Streaming.UserEvent]
    val rIn = MemoryStream[Streaming.UserEvent]
    val joined = Streaming.intervalJoin(
      lIn.toDS().toDF("user_id", "l_id", "l_ts", "l_v"),
      rIn.toDS().toDF("user_id", "r_id", "r_ts", "r_v"),
      "user_id", "l_ts", "r_ts", lowerSeconds = 60, upperSeconds = 0)
    val q = joined.select("l_id", "r_id").writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    lIn.addData(leftRows: _*); rIn.addData(rightRows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT l_id, r_id FROM ssj_out")
      .as[(Long, Long)].collect().toSet
    // batch equivalent over the same finite data
    val lB = leftRows.toDF("user_id", "l_id", "l_ts", "l_v")
    val rB = rightRows.toDF("user_id", "r_id", "r_ts", "r_v")
    val batch = lB.join(rB, lB("user_id") === rB("user_id") &&
        rB("r_ts") >= lB("l_ts") - expr("INTERVAL 60 SECONDS") &&
        rB("r_ts") <= lB("l_ts"))
      .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.contains((1L, 11L))) // 30s before, within window
    assert(!streamed.contains((3L, 13L))) // outside window
  }

  test("stream-static enrichment joins the dim per micro-batch, stateless") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq((1L, "gold", "eu"), (2L, "basic", "us"))
      .toDF("user_id", "tier", "region")
    val input = MemoryStream[Streaming.UserEvent]
    val enriched = Streaming.enrich(input.toDS().toDF(), dim,
      "user_id", "tier", "region")
    val q = enriched.select("event_id", "tier", "region")
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    input.addData(
      Streaming.UserEvent(1L, 100L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      Streaming.UserEvent(2L, 101L, Timestamp.valueOf("2024-01-01 00:00:01"), 2.0),
      Streaming.UserEvent(9L, 102L, Timestamp.valueOf("2024-01-01 00:00:02"), 3.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT event_id, tier, region FROM enrich_out")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    // left join: the unknown user (9) passes through with NULL attributes
    assert(out === Seq((100L, "gold", "eu"), (101L, "basic", "us"),
      (102L, null, null)))
  }

  test("sessionize: event-time gap sessions close when the watermark passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Streaming.UserEvent]
    val sessions = Streaming.sessionize(input.toDS(), gapMs = 30000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    // batch 1: two users, all within one 30s session gap
    input.addData(
      Streaming.UserEvent(1L, 1L, Timestamp.valueOf("2024-01-01 00:00:00"), 10.0),
      Streaming.UserEvent(1L, 2L, Timestamp.valueOf("2024-01-01 00:00:01"), 5.0),
      Streaming.UserEvent(2L, 3L, Timestamp.valueOf("2024-01-01 00:00:02"), 1.0))
    q.processAllAvailable()
    // batch 2: an event one hour later pushes the watermark far past
    // (session_end + gap) for both open sessions → they close and emit
    input.addData(Streaming.UserEvent(3L, 4L,
      Timestamp.valueOf("2024-01-01 01:00:00"), 2.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT * FROM sess_out")
      .as[Streaming.SessionSummary].collect()
    val u1 = out.find(_.user_id == 1L)
    assert(u1.isDefined, s"user 1 session must have closed: ${out.toSeq}")
    assert(u1.get.n_events === 2 && u1.get.total_value === 15.0)
    assert(u1.get.session_start === Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(u1.get.session_end === Timestamp.valueOf("2024-01-01 00:00:01"))
    assert(out.find(_.user_id == 2L).exists(_.n_events == 1))
  }

  test("sessionize splits on intra-batch gaps (AvailableNow backfill replay)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Streaming.UserEvent]
    val sessions = Streaming.sessionize(input.toDS(), gapMs = 30000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_backfill").start()
    // ONE batch carrying three sessions' worth of history for user 1:
    // gaps of 10 minutes between the groups — a backfill shape
    input.addData(
      Streaming.UserEvent(1L, 1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      Streaming.UserEvent(1L, 2L, Timestamp.valueOf("2024-01-01 00:00:05"), 2.0),
      Streaming.UserEvent(1L, 3L, Timestamp.valueOf("2024-01-01 00:10:00"), 4.0),
      Streaming.UserEvent(1L, 4L, Timestamp.valueOf("2024-01-01 00:20:00"), 8.0),
      Streaming.UserEvent(1L, 5L, Timestamp.valueOf("2024-01-01 00:20:10"), 16.0))
    q.processAllAvailable()
    // the two NON-trailing sessions must emit from the same batch, split
    // at each >30s gap, exactly as the q42 batch sessionizer would
    val mid = spark.sql("SELECT * FROM sess_backfill")
      .as[Streaming.SessionSummary].collect().sortBy(_.session_start.getTime)
    assert(mid.length === 2, s"expected 2 closed sessions, got ${mid.toSeq}")
    assert(mid(0).n_events === 2 && mid(0).total_value === 3.0)
    assert(mid(0).session_end === Timestamp.valueOf("2024-01-01 00:00:05"))
    assert(mid(1).n_events === 1 && mid(1).total_value === 4.0)
    // later watermark advance closes the trailing open session too
    input.addData(Streaming.UserEvent(2L, 6L,
      Timestamp.valueOf("2024-01-01 02:00:00"), 0.0))
    q.processAllAvailable()
    q.stop()
    val all = spark.sql("SELECT * FROM sess_backfill")
      .as[Streaming.SessionSummary].collect().filter(_.user_id == 1L)
      .sortBy(_.session_start.getTime)
    assert(all.length === 3)
    assert(all(2).n_events === 2 && all(2).total_value === 24.0)
  }

  test("sessionize merges admitted-late events into the pending session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Streaming.UserEvent]
    // 10-minute lateness: events above the watermark must still land in
    // the session a batch replay would put them in — emission is
    // watermark-final, so nothing is emitted prematurely
    val sessions = Streaming.sessionize(input.toDS(), gapMs = 30000,
      lateness = "10 minutes")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_late").start()
    // batch 1: two sessions for user 1 (gap 00:00:00 → 00:05:00)
    input.addData(
      Streaming.UserEvent(1L, 1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      Streaming.UserEvent(1L, 2L, Timestamp.valueOf("2024-01-01 00:05:00"), 2.0))
    q.processAllAvailable()
    assert(spark.sql("SELECT * FROM sess_late").isEmpty,
      "nothing is final yet — watermark trails by the lateness")
    // batch 2: a late-but-admissible event 10s after the FIRST session's
    // end; batch semantics put it in that first session, not the open one
    input.addData(Streaming.UserEvent(1L, 3L,
      Timestamp.valueOf("2024-01-01 00:00:10"), 4.0))
    q.processAllAvailable()
    // batch 3: far-future event closes everything for user 1
    input.addData(Streaming.UserEvent(2L, 4L,
      Timestamp.valueOf("2024-01-01 02:00:00"), 0.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT * FROM sess_late")
      .as[Streaming.SessionSummary].collect().filter(_.user_id == 1L)
      .sortBy(_.session_start.getTime)
    assert(out.length === 2, s"two sessions expected: ${out.toSeq}")
    assert(out(0).n_events === 2 && out(0).total_value === 5.0,
      s"late event must merge into the FIRST session: ${out(0)}")
    assert(out(0).session_end === Timestamp.valueOf("2024-01-01 00:00:10"))
    assert(out(1).n_events === 1 && out(1).total_value === 2.0)
  }

}
