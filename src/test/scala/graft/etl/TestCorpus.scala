package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.operators.EtlQueries

/** The CDC corpus the corpus-backed specs read: the reference's extracted
  * corpus ([[EtlQueries.CorpusDir]]) wherever it exists, else a seeded
  * corpus of the same shape, written once per JVM to a temp directory.
  *
  * The generated corpus follows FIXTURES.md §A.1:
  *   - eight `yyyymmdd-HHMMSSmmm.csv` files, so name order is load order;
  *   - both `I` and `U` ops, `[]` arrays, `'status': None` next to
  *     leading-zero statuses, accented descriptions;
  *   - keys repeated across files (every file after the first re-emits a
  *     key of the file before it) and within one file (every tenth row
  *     re-emits the row before it with a later `updatedAt`);
  *   - eleven distinct descriptions.
  * No string holds a double quote, a newline or `None`, so the DuckDB
  * replay rewrite stays exact on it as on the reference corpus. */
object TestCorpus {

  /** The header line of FIXTURES.md §A.1, copied verbatim: the header
    * check compares files against the contract, not the contract with
    * itself. */
  private val Header =
    "Op,oid__id,createdAt,updatedAt,lastSyncTracker,array_trackingEvents"

  private def referencePresent: Boolean =
    new java.io.File(EtlQueries.CorpusDir).isDirectory

  /** Cancels the calling test where the reference corpus is absent: for
    * checks whose expected values are facts about that corpus. */
  def assumeReference(): Unit =
    org.scalatest.Assertions.assume(referencePresent,
      s"the reference corpus ${EtlQueries.CorpusDir} is not present")

  /** The reference corpus where it exists, else the generated one. */
  lazy val dir: String =
    if (referencePresent) EtlQueries.CorpusDir
    else {
      val d = Files.createTempDirectory("graft_test_corpus")
      d.toFile.deleteOnExit()
      write(d).foreach(f => new java.io.File(f).deleteOnExit())
      d.toString
    }

  /** The names of the first `n` CSV files of [[dir]], in name order. */
  def files(n: Int): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".csv")).sorted.take(n).toSeq

  private val Descriptions = Array(
    "TRANSFERENCIA",
    "Objeto em trânsito - por favor aguarde",
    "ENTRADA",
    "Objeto postado",
    "EM ROTA",
    "EMISSAO",
    "TRANSFERIDO PARA UNIDADE",
    "ENTREGUE",
    "Objeto saiu para entrega ao destinatário",
    "Objeto entregue ao destinatário",
    "Encaminhado para fiscalização aduaneira")
  private val Statuses = Array("None", "'01'", "'00'", "'21'", "None", "'BDE'")

  private final class Doc(val key: String, val createdAt: Long) {
    var updatedAt: Long = createdAt
    val events = ArrayBuffer[String]()
  }

  /** Write the eight files of 40 rows each into `out`; returns their
    * paths in name order. */
  private def write(out: Path): Seq[String] = {
    val rnd = new SplittableRandom(20230901L)
    def hex32(): String = f"${rnd.nextLong()}%016x${rnd.nextLong()}%016x"
    val places = Array.fill(8)(hex32())
    val trackerTypes = Array.fill(3)(hex32())
    var nEvents = 0
    // the first events take each value in turn, so every value occurs
    def pick(values: Array[String]): String =
      if (nEvents < values.length) values(nEvents)
      else values(rnd.nextInt(values.length))
    def event(tsMs: Long): String = {
      val e = s"{'createdAt': {'$$date': $tsMs}, 'trackingCode': '${hex32()}', " +
        s"'status': ${pick(Statuses)}, 'description': '${pick(Descriptions)}', " +
        s"'trackerType': '${pick(trackerTypes)}', 'from': '${pick(places)}', " +
        s"'to': '${pick(places)}'}"
      nEvents += 1
      e
    }
    def line(op: String, d: Doc): String = {
      val arr =
        if (d.events.isEmpty) "[]" else d.events.mkString("\"[", ", ", "]\"")
      s"$op,${d.key},${d.createdAt},${d.updatedAt},${d.updatedAt},$arr"
    }

    val docs = ArrayBuffer[Doc]()
    var prev: Doc = null // the document of the row written last
    var clockS = 1693526400L // 2023-09-01T00:00:00Z
    (0 until 8).map { f =>
      clockS += 90 + rnd.nextInt(15)
      val lines = (0 until 40).map { r =>
        // the first row re-emits the last key of the file before; every
        // tenth row the key of the row before it, within the file
        val repeat =
          if ((f > 0 && r == 0) || r % 10 == 9) Some(prev)
          else if (f > 0 && rnd.nextInt(10) < 4) Some(docs(rnd.nextInt(docs.length)))
          else None
        val (op, d) = repeat match {
          case Some(d) =>
            d.updatedAt = math.max(d.updatedAt + 1, clockS - rnd.nextInt(60))
            if (rnd.nextInt(3) > 0) d.events += event(clockS * 1000 - rnd.nextInt(60000))
            ("U", d)
          case None =>
            val d = new Doc(hex32(), clockS - 86400L * (1 + rnd.nextInt(20)))
            // every seventh new document has no event yet: an `[]` array
            if (docs.length % 7 != 3)
              (0 to rnd.nextInt(4)).foreach(i =>
                d.events += event(d.createdAt * 1000 + i * 3600000L))
            docs += d
            (if (docs.length % 5 == 1) "I" else "U", d)
        }
        prev = d
        line(op, d)
      }
      val t = java.time.Instant.ofEpochSecond(clockS)
        .atZone(java.time.ZoneOffset.UTC)
      val name = f"${t.getYear}%04d${t.getMonthValue}%02d${t.getDayOfMonth}%02d-" +
        f"${t.getHour}%02d${t.getMinute}%02d${t.getSecond}%02d${rnd.nextInt(1000)}%03d.csv"
      val path = out.resolve(name)
      Files.write(path, (Header +: lines).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      path.toString
    }
  }
}
