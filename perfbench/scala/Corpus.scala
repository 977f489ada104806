package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded generator of a CDC corpus shaped like the reference dumps
  * (FIXTURES.md §A.1): `yyyymmdd-HHMMSSmmm.csv` files with the six-column
  * source schema, Python-literal event arrays, both `I` and `U` ops, `[]`
  * arrays, `'status': None`, leading-zero statuses, accented descriptions,
  * keys repeated within a file and across files.
  *
  * Values stay inside the space where the DuckDB replay rewrite
  * (`'`→`"`, `None`→`null`) is exact: no double quote, no newline, no
  * `None` inside a string, and `\t` as the only escape.
  *
  * One instance is one key history: files are emitted in timestamp order
  * and later files update keys emitted earlier, so the same generator
  * yields a base history and then the batches that land on top of it.
  *
  * `insertShare` is the share of `I` rows and `emptyShare` the share of new
  * documents with no event; perfbench/README.md gives the source of every
  * shape parameter. */
final class Corpus(seed: Long, insertShare: Double, emptyShare: Double) {
  private val rnd = new SplittableRandom(seed)

  private final class Doc(val key: String, val createdAt: Long) {
    var updatedAt: Long = createdAt
    val events = ArrayBuffer[String]()
  }
  private val docs = ArrayBuffer[Doc]()
  // 2023-07-01T00:00:00Z; file timestamps advance ~97 s each
  private var clockMs = 1688169600000L

  private def hex32(): String = {
    val a = rnd.nextLong(); val b = rnd.nextLong()
    f"$a%016x$b%016x"
  }

  // 3 of 8 null: the reference has 35-40% of events with a null status
  private val statuses = Array("None", "'01'", "None", "'00'", "'21'", "None",
    "'BDE'", "'85'")
  private val descriptions = Array(
    "EMISSAO",
    "Objeto postado",
    "Objeto em trânsito - por favor aguarde",
    "Objeto saiu para entrega ao destinatário",
    "Objeto entregue ao destinatário",
    "Encaminhado para fiscalização aduaneira",
    "Fiscalização aduaneira finalizada",
    "Aguardando pagamento do despacho postal",
    "Objeto recebido na unidade de exportação no país de origem",
    "Objeto não entregue - endereço incorreto",
    "Saída para entrega\\tCDD Curitiba",
    "Devolução autorizada pela Receita Federal")
  private val places = Array.fill(40)(hex32())
  private val trackerTypes = Array.fill(6)(hex32())

  private def newEvent(tsMs: Long): String = {
    val st = statuses(rnd.nextInt(statuses.length))
    val d = descriptions(rnd.nextInt(descriptions.length))
    s"{'createdAt': {'$$date': $tsMs}, 'trackingCode': '${hex32()}', " +
      s"'status': $st, 'description': '$d', " +
      s"'trackerType': '${trackerTypes(rnd.nextInt(trackerTypes.length))}', " +
      s"'from': '${places(rnd.nextInt(places.length))}', " +
      s"'to': '${places(rnd.nextInt(places.length))}'}"
  }

  private def fileName(ms: Long): String = {
    val t = java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
    f"${t.getYear}%04d${t.getMonthValue}%02d${t.getDayOfMonth}%02d-" +
      f"${t.getHour}%02d${t.getMinute}%02d${t.getSecond}%02d" +
      f"${t.getNano / 1000000}%03d.csv"
  }

  /** Shape of what was written so far, for the run's record. */
  val stats = scala.collection.mutable.LinkedHashMap[String, Long](
    "rows" -> 0L, "insert_rows" -> 0L, "repeat_rows" -> 0L, "same_file_repeats" -> 0L,
    "empty_rows" -> 0L, "events" -> 0L, "max_events" -> 0L)
  private def count(k: String, n: Long = 1L): Unit = stats(k) += n

  private def row(sb: java.lang.StringBuilder, op: String, d: Doc): Unit = {
    count("rows"); count("events", d.events.length)
    if (op == "I") count("insert_rows")
    if (d.events.isEmpty) count("empty_rows")
    stats("max_events") = math.max(stats("max_events"), d.events.length.toLong)
    sb.append(op).append(',').append(d.key).append(',').append(d.createdAt)
      .append(',').append(d.updatedAt).append(',').append(d.updatedAt)
      .append(',')
    if (d.events.isEmpty) sb.append("[]")
    else {
      sb.append("\"[")
      var i = 0
      while (i < d.events.length) {
        if (i > 0) sb.append(", ")
        sb.append(d.events(i)); i += 1
      }
      sb.append("]\"")
    }
    sb.append('\n')
  }

  /** Write `n` files of `rows` rows each into `dir`; `updateShare` of the
    * rows re-emit an already generated key, drawn uniformly from every key
    * so far, including those of the file being written. Returns the file
    * names in write (= timestamp) order. */
  def writeFiles(dir: Path, n: Int, rows: Int, updateShare: Double): Seq[String] = {
    Files.createDirectories(dir)
    // new documents carry every `I` row
    val insertOfNew = insertShare / (1 - updateShare)
    (0 until n).map { _ =>
      clockMs += 90000L + rnd.nextInt(15000)
      val nowS = clockMs / 1000
      val name = fileName(clockMs)
      val fileStart = docs.length
      val sb = new java.lang.StringBuilder(rows * 3000)
      sb.append("Op,oid__id,createdAt,updatedAt,lastSyncTracker,array_trackingEvents\n")
      (0 until rows).foreach { _ =>
        val isUpdate = docs.nonEmpty && rnd.nextDouble() < updateShare
        val d =
          if (isUpdate) {
            val i = rnd.nextInt(docs.length)
            count("repeat_rows")
            if (i >= fileStart) count("same_file_repeats")
            docs(i)
          } else {
            val created = nowS - 86400L * (1 + rnd.nextInt(30)) - rnd.nextInt(86400)
            val nd = new Doc(hex32(), created)
            if (rnd.nextDouble() >= emptyShare) {
              // 1..17 events (mean and median 9); 1% long histories up to 88
              val k = if (rnd.nextInt(100) == 0) 18 + rnd.nextInt(71) else 1 + rnd.nextInt(17)
              (0 until k).foreach(i =>
                nd.events += newEvent(created * 1000 + i * 3600000L + rnd.nextInt(1000)))
            }
            docs += nd
            nd
          }
        if (isUpdate && d.events.nonEmpty && rnd.nextInt(4) > 0)
          d.events += newEvent(nowS * 1000 - rnd.nextInt(3600000))
        d.updatedAt = math.max(d.updatedAt + 1, nowS - rnd.nextInt(600))
        val op = if (!isUpdate && rnd.nextDouble() < insertOfNew) "I" else "U"
        row(sb, op, d)
      }
      Files.write(dir.resolve(name), sb.toString.getBytes(StandardCharsets.UTF_8))
      name
    }
  }
}
