package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Replay of the reference pipelines over a slice of the real CDC corpus
  * ([[graft.operators.EtlQueries.CorpusDir]] — read-only); the slice tests
  * run wherever that corpus exists. Invariants are computed independently
  * (raw line counts, literal-level array-length counts) so the pipeline is
  * not checking itself.
  */
class EtlPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val corpusDir = graft.operators.EtlQueries.CorpusDir
  private lazy val files = new java.io.File(corpusDir).listFiles()
    .map(_.getName).filter(_.endsWith(".csv")).sorted.take(3)
  private lazy val paths = files.map(f => s"$corpusDir/$f")
  private val clock = Some(Timestamp.valueOf("2023-09-05 00:00:00"))

  private lazy val rawLines: Long = paths.map { p =>
    val src = scala.io.Source.fromFile(p, "ISO-8859-1")
    try src.getLines().size - 1L finally src.close()
  }.sum

  test("tracking pipeline: one row per raw CSV line modulo keep-last dedup") {
    TestCorpus.assumeReference()
    val df = Pipelines.tracking(spark, paths.toSeq, clock = clock)
    val n = df.count()
    val keys = df.select($"oid__id").distinct().count()
    assert(n === keys, "keep-last dedup must leave oid__id unique")
    assert(n > 0 && n <= rawLines)
    // schema contract
    assert(df.columns.toSeq ===
      Schemas.trackingColumns ++ Schemas.auditColumns)
  }

  test("tracking pipeline without dedup keeps every distinct raw line") {
    TestCorpus.assumeReference()
    val df = Pipelines.tracking(spark, paths.toSeq, clock = clock,
      intendedDedup = false)
    // distinct() drops full-row duplicates; with fileName part of every row
    // that means: distinct (document-fields, file) pairs. Compute the same
    // independently from the raw text — the array column is projected away,
    // so only the first five CSV fields define document identity.
    val expected = paths.flatMap { p =>
      val src = scala.io.Source.fromFile(p, "ISO-8859-1")
      try src.getLines().drop(1)
        .map(l => (l.split(",", 6).take(5).mkString(","), p)).toList
      finally src.close()
    }.distinct.size
    assert(df.count() === expected)
    assert(df.count() < rawLines, "corpus contains in-file duplicate rows")
  }

  test("staged replay: parquet stage-and-read is row-identical to the live pipeline and stages once") {
    TestCorpus.assumeReference()
    val live = Pipelines.events(spark, paths.toSeq, clock = clock)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_staged_test").toString
    val staged = graft.operators.EtlQueries.stageAndRead(spark, live, dir)
    // full row-level equivalence on the 3-file slice (bags, not sets —
    // the staged copy must not drop or duplicate rows)
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).groupBy(identity).view.mapValues(_.length).toMap
    assert(staged.columns.toSeq === live.columns.toSeq)
    assert(bag(staged) === bag(live))
    // second call must READ, not re-stage: the marker keys idempotence
    val marker = new java.io.File(dir, "_SUCCESS")
    val stampBefore = marker.lastModified()
    val again = graft.operators.EtlQueries.stageAndRead(spark,
      sys.error("staging must not re-run when the marker exists"), dir)
    assert(again.count() === live.count())
    assert(marker.lastModified() === stampBefore)
  }

  test("events pipeline: row count equals total array elements plus empties") {
    TestCorpus.assumeReference()
    // Independent expectation: count '$date' occurrences per line (one per
    // event) and empty/whitespace-only arrays straight from the raw text.
    var expected = 0L
    paths.foreach { p =>
      val src = scala.io.Source.fromFile(p, "ISO-8859-1")
      try src.getLines().drop(1).foreach { line =>
        val nEvents = "\\$date".r.findAllIn(line).size
        expected += (if (nEvents == 0) 1 else nEvents) // explode_outer keeps empties
      } finally src.close()
    }
    val df = Pipelines.events(spark, paths.toSeq, clock = clock)
    // distinct() may collapse exact-duplicate event rows within a file
    val n = Pipelines.events(spark, paths.toSeq, clock = clock).count()
    assert(n <= expected)
    assert(n > expected / 2, s"suspiciously few rows: $n vs raw $expected")
    assert(df.columns.toSeq === Schemas.eventsColumns ++ Schemas.auditColumns)
  }

  test("events pipeline: no sentinel strings survive, statuses keep zeros") {
    TestCorpus.assumeReference()
    val df = Pipelines.events(spark, paths.toSeq, clock = clock)
    val sentinels = df.filter($"status".isin("None", "NaN", "NaT", "") ||
      $"description".isin("None", "NaN", "NaT", "")).count()
    assert(sentinels === 0)
    val zeroLed = df.filter($"status".startsWith("0")).count()
    assert(zeroLed > 0, "leading-zero statuses must survive as strings")
  }

  test("malformed CSV rows land as typed nulls (PERMISSIVE), never abort the load") {
    // the reference corpus is messy (mixed encodings, ragged rows); pin
    // the parse contract: a row whose epoch column isn't numeric parses
    // with that FIELD null (not a dropped row, not a job failure), and
    // a short row null-pads — silence-with-nulls is detectable
    // downstream (o03/o01), a crashed nightly load is not
    val dir = java.nio.file.Files.createTempDirectory("badcsv")
    val f = dir.resolve("events_bad.csv")
    java.nio.file.Files.writeString(f,
      "Op,oid__id,createdAt,updatedAt,lastSyncTracker,array_trackingEvents\n" +
        "I,good1,1693000000,1693000001,1693000002,[]\n" +
        "I,bad_epoch,NOT_A_NUMBER,1693000001,1693000002,[]\n" +
        "I,short_row,1693000000\n")
    // route through the PRODUCTION reader (Pipelines), not a private
    // copy — this is the spec that forbids a future FAILFAST/
    // DROPMALFORMED option from aborting or silently shrinking the load
    val out = graft.etl.Pipelines.tracking(spark, Seq(f.toString),
      clock = Some(java.sql.Timestamp.valueOf("2023-09-05 00:00:00")))
    val rows = out.select($"oid__id", $"createdAt").collect()
      .map(r => r.getAs[String]("oid__id") -> Option(r.get(1))).toMap
    assert(rows.size === 3, "every physical row must survive the parse")
    assert(rows("good1").nonEmpty)
    assert(rows("bad_epoch").isEmpty,
      "unparseable epoch must become null, not kill the row")
    assert(rows.contains("short_row"), "short rows null-pad and survive")
  }

  test("watermark makes the load incremental and strictly monotone") {
    TestCorpus.assumeReference()
    val all = Pipelines.events(spark, paths.toSeq, clock = clock)
    val wm = files(0) // watermark = first file already loaded
    val inc = Pipelines.events(spark, paths.toSeq,
      watermark = Some(wm), clock = clock)
    assert(inc.count() < all.count())
    assert(inc.filter($"fileName" <= wm).count() === 0)
  }
}
