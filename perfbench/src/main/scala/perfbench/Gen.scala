package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable
import scala.util.Random

/** Seeded input generator. Writes AIHW-shaped `.xlsx` workbooks with
  * its own minimal SpreadsheetML writer (not the program's encoder, so
  * a codec bug cannot cancel itself out) and keeps the exact answer
  * model for every cell it writes.
  *
  * Workbook shape, per file: a non-matching `Contents` sheet whose
  * header row names states (only the sheet-name gate keeps it out),
  * then `Table 4.n` (category + principal diagnosis), `Table 5.n`
  * (category) and `Table Sn` (category + sex) sheets. Each matching
  * sheet has 1-5 title rows above its header, a `Total` column,
  * `n.p.` and blank cells, tuple-artifact and padded category labels,
  * blank principal-diagnosis cells (kept as "nan"), spacer rows and a
  * source footnote. Cell values are whole numbers, so every sum the
  * program computes in doubles is exact and compared exactly.
  */
object Gen {

  val States: Seq[String] =
    Seq("NSW", "VIC", "QLD", "WA", "SA", "TAS", "ACT", "NT")
  // header spellings as AIHW prints them; the program normalises them
  private val StateHeader = Map("NSW" -> "NSW", "VIC" -> "Vic",
    "QLD" -> "Qld", "WA" -> "WA", "SA" -> "SA", "TAS" -> "Tas",
    "ACT" -> "ACT", "NT" -> "NT")

  val Categories: Seq[String] = Seq(
    "Certain infectious and parasitic diseases", "Neoplasms",
    "Diseases of the blood", "Endocrine, nutritional and metabolic diseases",
    "Mental and behavioural disorders", "Diseases of the nervous system",
    "Diseases of the eye and adnexa", "Diseases of the ear",
    "Diseases of the circulatory system", "Diseases of the respiratory system",
    "Diseases of the digestive system", "Diseases of the skin",
    "Diseases of the musculoskeletal system", "Diseases of the genitourinary system",
    "Pregnancy and childbirth", "Perinatal conditions",
    "Congenital malformations", "Symptoms and abnormal findings",
    "Injury and poisoning", "Factors influencing health status")

  /** Clean-table key: (year, state, category, principal_diagnosis, sex);
    * "" where the sheet has no such column, "nan" for a blank cell. */
  type Key = (Int, String, String, String, String)

  /** Exact model of everything written: clean-table sums and the number
    * of tidy rows (one per numeric state cell of a kept data row). */
  final class Model {
    /** key -> (sum of cells, number of tidy rows) */
    val sums: mutable.Map[Key, (Long, Long)] = mutable.HashMap.empty
    def tidyRows: Long = sums.valuesIterator.map(_._2).sum
    def add(k: Key, v: Long, n: Long = 1L): Unit = {
      val (s0, n0) = sums.getOrElse(k, (0L, 0L))
      sums(k) = (s0 + v, n0 + n)
    }
    def ++=(o: Model): Unit =
      o.sums.foreach { case (k, (v, n)) => add(k, v, n) }
  }

  final case class Sheet(name: String, grid: Seq[Seq[String]])
  final case class Workbook(fileName: String, sheets: Seq[Sheet], model: Model)

  val SexRows = 200

  def fileNameFor(year: Int): String =
    f"admitted-patient-care-${year - 1}-${year % 100}%02d-tables-access.xlsx"

  /** One workbook for `year`: a `Table 4` with `rows` distinct
    * (category, principal diagnosis) rows, a `Table 5` with one row per
    * category and a `Table S` with up to [[SexRows]] (category, sex)
    * rows, which repeat keys so the clean aggregate has sums to merge. */
  def workbook(rnd: Random, year: Int, rows: Int): Workbook = {
    val model = new Model

    def label(c: String): String = rnd.nextInt(10) match {
      case 0 => "(\"" + c + "\", 1.0)" // Excel tuple artifact
      case 1 => "  " + c + " "
      case _ => c
    }

    def sheet(name: String, idHeader: Seq[String],
              idRows: Seq[(String, Seq[String])], kind: String): Sheet = {
      val states = if (kind == "S") States.filterNot(_ == "NT") else States
      val title = Seq(
        Seq(s"$name: Separations by state and territory, ${year - 1}-${year % 100}"),
        Seq.empty, Seq("Number"), Seq(null, null, "Separations"),
        Seq("Public and private hospitals"))
      val offset = 1 + rnd.nextInt(5)
      val header = idHeader ++ states.map(StateHeader) :+ "Total"
      val body = idRows.flatMap { case (cat, ids) =>
        val key0 = ids // principal diagnosis / sex cells (null = blank)
        val cells = states.map { st =>
          rnd.nextInt(25) match {
            case 0 => "n.p."
            case 1 => null
            case _ => (rnd.nextInt(5000) + rnd.nextInt(3) * 20000).toString
          }
        }
        val nums = cells.map(c => if (c == null || c == "n.p.") None else Some(c.toLong))
        states.zip(nums).foreach {
          case (st, Some(v)) =>
            val k: Key = kind match {
              case "4" => (year, st, cat, Option(key0.head).getOrElse("nan"), "")
              case "5" => (year, st, cat, "", "")
              case _   => (year, st, cat, "", Option(key0.head).getOrElse("nan"))
            }
            model.add(k, v)
          case _ => ()
        }
        val row = (label(cat) +: key0) ++ cells :+ nums.flatten.sum.toString
        // spacer rows have a blank first id: the program drops them
        if (rnd.nextInt(30) == 0) Seq(Seq.empty[String], row) else Seq(row)
      }
      val foot = Seq(Seq.empty[String],
        Seq("Source: AIHW National Hospital Morbidity Database."),
        Seq("n.p. not published."))
      Sheet(name, title.take(offset) ++ Seq(header) ++ body ++ foot)
    }

    val t4 = (0 until rows).map { r =>
      val c = Categories(r % Categories.size)
      val j = r / Categories.size
      val pd = if (rnd.nextInt(40) == 0) null
               else f"${c.take(3).toUpperCase}$j%03d ${c.split(' ').last} group $j"
      (c, Seq(pd))
    }
    val t5 = Categories.take(rows).map(c => (c, Seq.empty[String]))
    val tS = (0 until math.min(rows, SexRows)).map { r =>
      (Categories((r / 2) % Categories.size), Seq(if (r % 2 == 0) "Male" else "Female"))
    }
    val contents = Sheet("Contents", Seq(
      Seq("Admitted patient care tables"), Seq.empty,
      Seq("Table", "NSW", "Vic", "Description"),
      Seq("Table 4.1", "1", "2", "Separations by principal diagnosis")))
    val sheets = Seq(contents,
      sheet(s"Table 4.${1 + rnd.nextInt(9)}", Seq(null, "Principal diagnosis"), t4, "4"),
      sheet(s"Table 5.${1 + rnd.nextInt(9)}", Seq(null), t5, "5"),
      sheet(s"Table S${1 + rnd.nextInt(9)}", Seq("Category", "Sex"), tS, "S"))
    Workbook(fileNameFor(year), sheets, model)
  }

  // ---- minimal xlsx writer ---------------------------------------------

  private def esc(s: String): String = s.replace("&", "&amp;")
    .replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  private def colRef(c: Int): String =
    if (c < 26) ('A' + c).toChar.toString
    else colRef(c / 26 - 1) + ('A' + c % 26).toChar

  private def isNumber(s: String): Boolean =
    s.nonEmpty && s.forall(_.isDigit)

  def xlsxBytes(sheets: Seq[Sheet]): Array[Byte] = {
    val strings = mutable.LinkedHashMap.empty[String, Int]
    def sid(s: String): Int = strings.getOrElseUpdate(s, strings.size)
    val sheetXml = sheets.map { sh =>
      val sb = new StringBuilder
      sb ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
      sb ++= """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>"""
      sh.grid.zipWithIndex.foreach { case (row, r) =>
        if (row.exists(_ != null)) {
          sb ++= s"""<row r="${r + 1}">"""
          row.zipWithIndex.foreach {
            case (null, _) => ()
            case (v, c) if isNumber(v) =>
              sb ++= s"""<c r="${colRef(c)}${r + 1}"><v>$v</v></c>"""
            case (v, c) =>
              sb ++= s"""<c r="${colRef(c)}${r + 1}" t="s"><v>${sid(v)}</v></c>"""
          }
          sb ++= "</row>"
        }
      }
      sb ++= "</sheetData></worksheet>"
      sb.result()
    }
    val bytes = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bytes)
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes(UTF_8))
      zip.closeEntry()
    }
    val ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    put("[Content_Types].xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        sheets.indices.map(i =>
          s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
        """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""" +
        "</Types>")
    put("_rels/.rels",
      s"""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        s"""<Relationship Id="rId1" Type="$rel/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    // relationship ids deliberately not in sheet order: readers must
    // resolve sheets through the rels part, as real files require
    val rids = sheets.indices.map(i => s"rId${sheets.size - i + 1}")
    put("xl/workbook.xml",
      s"""<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="$ns" xmlns:r="$rel"><sheets>""" +
        sheets.zipWithIndex.map { case (s, i) =>
          s"""<sheet name="${esc(s.name)}" sheetId="${i + 1}" r:id="${rids(i)}"/>"""
        }.mkString + "</sheets></workbook>")
    put("xl/_rels/workbook.xml.rels",
      s"""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        sheets.indices.map(i =>
          s"""<Relationship Id="${rids(i)}" Type="$rel/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""").mkString +
        s"""<Relationship Id="rId1" Type="$rel/sharedStrings" Target="sharedStrings.xml"/></Relationships>""")
    sheets.indices.foreach(i => put(s"xl/worksheets/sheet${i + 1}.xml", sheetXml(i)))
    put("xl/sharedStrings.xml",
      s"""<?xml version="1.0" encoding="UTF-8"?><sst xmlns="$ns" count="${strings.size}" uniqueCount="${strings.size}">""" +
        strings.keys.map(s => s"<si><t xml:space=\"preserve\">${esc(s)}</t></si>").mkString + "</sst>")
    zip.close()
    bytes.toByteArray
  }

  /** Write `wbs` into a fresh directory; returns total bytes written. */
  def writeWorkbooks(dir: File, wbs: Seq[Workbook]): Long = {
    dir.mkdirs()
    wbs.map { wb =>
      val b = xlsxBytes(wb.sheets)
      Files.write(new File(dir, wb.fileName).toPath, b)
      b.length.toLong
    }.sum
  }

  def model(wbs: Seq[Workbook]): Model = {
    val m = new Model
    wbs.foreach(w => m ++= w.model)
    m
  }

  // ---- curation corpus --------------------------------------------------

  /** The 30 words of the engine's sf0.1 `documents` table (plus the
    * "dup" edit marker), so shingles collide and LSH buckets fill as
    * they do there. */
  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "big", "join", "filter",
    "sort", "hash", "order", "line", "part", "customer", "group", "key",
    "fast", "slow", "row", "the", "agg", "query", "a", "scan", "batch")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `n` documents shaped like sf0.1's: 10-100 words each, 20 sources,
    * about 41% "en" and the rest spread over four other languages, and
    * one in twenty a light edit of an earlier document (one word
    * replaced by "dup"), so near-duplicates exist. */
  def documents(rnd: Random, n: Int): Seq[Doc] = {
    val others = Seq("fr", "de", "es", "zh")
    val out = mutable.ArrayBuffer.empty[Doc]
    (0 until n).foreach { i =>
      val text =
        if (i > 20 && rnd.nextInt(20) == 0) {
          val words = out(rnd.nextInt(out.size)).text.split(' ').toBuffer
          words(rnd.nextInt(words.size)) = "dup"
          words.mkString(" ")
        } else Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size)))
          .mkString(" ")
      val lang = if (rnd.nextInt(100) < 41) "en" else others(rnd.nextInt(others.size))
      out += Doc(i.toLong, text, lang, s"src${i % 20}")
    }
    out.toSeq
  }

  /** `n` 64-d unit vectors around ten labelled centres. */
  def embeddings(rnd: Random, n: Int): Seq[(Long, Array[Float], Int)] = {
    val dim = 64
    val centres = Array.fill(10, dim)(rnd.nextGaussian())
    (0 until n).map { i =>
      val label = rnd.nextInt(10)
      val v = Array.tabulate(dim)(d => centres(label)(d) + 0.8 * rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), label)
    }
  }
}
