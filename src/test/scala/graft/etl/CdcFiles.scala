package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Four small CDC dump files in the reference's shape (FIXTURES.md §A.1),
  * written by the specs that need them, so the load path is tested with no
  * external corpus. Together they cover:
  *   - both `I` and `U` ops;
  *   - an empty `[]` array;
  *   - `'status': None` next to a leading-zero status;
  *   - an accented description;
  *   - keys repeated across files (k1 in all four, k2 and k3 in two) and
  *     within one file (k5, distinct `updatedAt`).
  * File names are `yyyymmdd-HHMMSSmmm.csv`, so name order is load order. */
object CdcFiles {

  val names: Seq[String] = Seq(
    "20230901-000000000.csv", "20230901-000130000.csv",
    "20230901-000300000.csv", "20230901-000430000.csv")

  private def event(ms: Long, code: String, status: String, desc: String): String =
    s"{'createdAt': {'$$date': $ms}, 'trackingCode': '$code', " +
      s"'status': $status, 'description': '$desc', 'trackerType': 'tt1', " +
      s"'from': 'SP', 'to': 'PR'}"

  private def row(op: String, key: String, updatedAt: Long,
      events: Seq[String]): String = {
    val arr = if (events.isEmpty) "[]" else events.mkString("\"[", ", ", "]\"")
    s"$op,$key,1693000000,$updatedAt,$updatedAt,$arr"
  }

  private val rows: Seq[Seq[String]] = {
    val posted = event(1693000000000L, "c1", "'01'", "Objeto postado")
    val transit = event(1693003600000L, "c1", "None",
      "Objeto em trânsito - por favor aguarde")
    val delivered = event(1693007200000L, "c1", "'00'",
      "Objeto entregue ao destinatário")
    Seq(
      Seq(row("I", "k1", 1693000100L, Seq(posted)),
        row("U", "k2", 1693000100L, Seq()),
        row("U", "k3", 1693000100L, Seq(event(1693000000000L, "c3", "None", "EMISSAO")))),
      Seq(row("U", "k1", 1693000200L, Seq(posted, transit)),
        row("I", "k4", 1693000200L, Seq(event(1693000500000L, "c4", "'21'", "EMISSAO")))),
      Seq(row("U", "k1", 1693000300L, Seq(posted, transit, delivered)),
        row("U", "k2", 1693000300L, Seq(event(1693000900000L, "c2", "None", "EMISSAO"))),
        row("U", "k5", 1693000300L, Seq()),
        row("U", "k5", 1693000310L, Seq(event(1693001000000L, "c5", "'01'", "EMISSAO")))),
      Seq(row("U", "k1", 1693000400L, Seq(posted, transit, delivered)),
        row("U", "k3", 1693000400L, Seq()),
        row("I", "k6", 1693000400L, Seq(event(1693002000000L, "c6", "None", "EMISSAO")))))
  }

  /** Write the first `n` files into `dir`; returns their paths in name
    * order. */
  def write(dir: Path, n: Int = names.length): Seq[String] =
    names.zip(rows).take(n).map { case (name, lines) =>
      val f = dir.resolve(name)
      Files.write(f, (Schemas.expectedHeader +: lines).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      f.toString
    }
}
