package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class TransformsSpec extends SparkSpec {
  import spark.implicits._

  private val clock = Some(Timestamp.valueOf("2023-09-05 00:00:00"))

  test("parseEventArray + explodeEvents: empty array keeps one null row") {
    val df = Seq(
      ("a", "[{'createdAt': {'$date': 1689856037000}, 'trackingCode': 'tc1', " +
        "'status': '01', 'description': 'd', 'trackerType': 'tt', " +
        "'from': 'f', 'to': 't'}]"),
      ("b", "[]"),
      ("c", null.asInstanceOf[String])
    ).toDF("oid__id", "array_trackingEvents")
    val out = Transforms.explodeEvents(Transforms.parseEventArray(df))
    assert(out.count() === 3) // explode_outer: 'b' and 'c' each keep a row
    val b = out.filter($"oid__id" === "b").collect().head
    assert(b.getAs[String]("trackingCode") === null)
    val a = out.filter($"oid__id" === "a").collect().head
    assert(a.getAs[String]("status") === "01") // leading zero preserved
    assert(a.getAs[Timestamp]("eventCreatedAt") ===
      Timestamp.from(java.time.Instant.ofEpochMilli(1689856037000L)))
  }

  test("multi-event array explodes to one row per event") {
    val arr = "[" + (1 to 5).map(i =>
      s"{'createdAt': {'$$date': ${1689856037000L + i}}, 'trackingCode': 'tc', " +
        "'status': None, 'description': 'd', 'trackerType': 'tt', " +
        "'from': 'f', 'to': 't'}").mkString(", ") + "]"
    val df = Seq(("a", arr)).toDF("oid__id", "array_trackingEvents")
    val out = Transforms.explodeEvents(Transforms.parseEventArray(df))
    assert(out.count() === 5)
    assert(out.filter($"status".isNull).count() === 5) // None → null
  }

  test("epochSecondsToTs converts seconds") {
    val df = Seq(("a", 1689877770L)).toDF("oid__id", "createdAt")
    val out = Transforms.epochSecondsToTs(df, Seq("createdAt"))
    assert(out.collect().head.getAs[Timestamp]("createdAt") ===
      Timestamp.from(java.time.Instant.ofEpochSecond(1689877770L)))
  }

  test("normalizeNulls maps sentinel strings and empties to NULL") {
    val df = Seq(("NaN", "x"), ("NaT", "None"), ("", "ok"))
      .toDF("a", "b")
    val out = Transforms.normalizeNulls(df)
    assert(out.filter($"a".isNull).count() === 3)
    assert(out.filter($"b".isNull).count() === 1)
    assert(out.filter($"b" === "ok").count() === 1)
  }

  test("dedupKeepLast keeps the latest fileName per key") {
    val df = Seq(
      ("k1", "file1.csv", "v1"), ("k1", "file2.csv", "v2"),
      ("k2", "file1.csv", "w1")
    ).toDF("oid__id", "fileName", "payload")
    val out = Transforms.dedupKeepLast(df)
    assert(out.count() === 2)
    assert(out.filter($"oid__id" === "k1").collect().head
      .getAs[String]("payload") === "v2")
  }

  test("afterWatermark is strictly greater-than") {
    val df = Seq(("f1.csv"), ("f2.csv"), ("f3.csv")).toDF("fileName")
    val out = Transforms.afterWatermark(Some("f2.csv"))(df)
    assert(out.as[String].collect().toSeq === Seq("f3.csv"))
    assert(Transforms.afterWatermark(None)(df).count() === 3)
  }

  test("withUploadDate fixed clock is constant and deterministic") {
    val df = Seq("a", "b").toDF("oid__id")
    val out = Transforms.withUploadDate(clock)(df)
    val vals = out.select($"uploadDate").distinct().collect()
    assert(vals.length === 1)
    assert(vals.head.getAs[Timestamp](0) === clock.get)
  }

  test("addFileName tags rows with the name input_file_name gave, a space or % included") {
    val dir = java.nio.file.Files.createTempDirectory("file_names")
    Seq("20230901 000000%20.csv", "20230901-000130000.csv").foreach(n =>
      java.nio.file.Files.write(dir.resolve(n),
        (Schemas.expectedHeader + "\nI,k1,1693000000,1693000100,1693000100,[]\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val scan = spark.read.schema(Schemas.source).option("header", "true").csv(dir.toString)
    val tagged = Transforms.addFileName(scan)
    val names = tagged.select("fileName").as[String].collect().sorted.toSeq
    // the URI-encoded last path segment: the form fileName has always
    // held, so watermarks already loaded still compare
    assert(names === Seq("20230901%20000000%2520.csv", "20230901-000130000.csv"))
    assert(names === scan.select(element_at(split(input_file_name(), "/"), -1))
      .as[String].collect().sorted.toSeq)
    assert(Transforms.afterWatermark(Some(names.head))(tagged)
      .select("fileName").as[String].collect().toSeq === names.tail)
  }
}
