package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Defensive-ingestion semantics: schema-malformed CSV rows and
  * unparseable event literals are quarantined, never crash the job, and
  * never silently vanish. (The reference's `eval`+pandas path dies on
  * either.) */
class QuarantineSpec extends SparkSpec {
  import spark.implicits._

  test("malformed CSV rows are quarantined, good rows survive") {
    val dir = Files.createTempDirectory("quar").toFile
    val f = new java.io.File(dir, "20240101-000000000.csv")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("Op,oid__id,createdAt,updatedAt,lastSyncTracker,array_trackingEvents")
    w.println("U,aaa,1689877770,1693821695,1693821695,\"[]\"")
    w.println("U,bbb,NOT_A_NUMBER,1693821695,1693821695,\"[]\"") // bad long
    w.println("U,ccc,1689877770,1693821695,1693821695,\"[]\"")
    w.close()
    val qr = Transforms.readCsvWithQuarantine(spark, Seq(f.toString))
    try {
      assert(qr.good.count() === 2)
      assert(qr.bad.count() === 1)
      assert(qr.bad.as[String].head().contains("NOT_A_NUMBER"))
      assert(qr.good.filter($"oid__id" === "bbb").count() === 0)
    } finally qr.release()
  }

  test("header validation flags drifted files, passes the real corpus") {
    val ok = new java.io.File(TestCorpus.dir, TestCorpus.files(1).head)
    val dir = Files.createTempDirectory("hdr").toFile
    val drifted = new java.io.File(dir, "drifted.csv")
    val w = new java.io.PrintWriter(drifted, "UTF-8")
    w.println("Op,oid__id,createdAt,updatedAt,array_trackingEvents") // col missing
    w.println("U,x,1,2,\"[]\"")
    w.close()
    val bad = graft.etl.Schemas.validateHeaders(
      Seq(ok.toString, drifted.toString))
    assert(bad.map(_._1) === Seq(drifted.toString))
    assert(bad.head._2.contains("updatedAt,array_trackingEvents"))
  }

  test("unparseable event literals are flagged, not fatal") {
    val df = Seq(
      ("a", "[{'createdAt': {'$date': 1}, 'trackingCode': 'x', 'status': None, " +
        "'description': 'd', 'trackerType': 't', 'from': 'f', 'to': 'g'}]"),
      ("b", "[{'unterminated..."),     // malformed literal
      ("c", null.asInstanceOf[String]) // genuinely empty source cell
    ).toDF("oid__id", "array_trackingEvents")
    val flagged = Transforms.withParseStatus(df)
    val failures = flagged.filter($"parse_failed").select($"oid__id")
      .as[String].collect().toSeq
    assert(failures === Seq("b")) // null source is NOT a parse failure
    // and the normal pipeline still yields rows for all three
    val parsed = Transforms.explodeEvents(Transforms.parseEventArray(df))
    assert(parsed.count() === 3)
  }
}
