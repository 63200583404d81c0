package graft.sources

import java.time.LocalDate
import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** `import.xlsx` — Excel workbook import, reimplementing the
  * reference's `plugins/msoffice/xlsx_importer.cc` semantics on the
  * public OOXML format (ECMA-376) with only the JDK (java.util.zip +
  * StAX):
  *
  *   - rows named `<sheetName>:<rowIndex>` with the index zero-padded
  *     to the width of the sheet's max row index (`xlsx_importer.cc:
  *     792-800`);
  *   - columns named by Excel letters A, B, …, AA (`:771-789`);
  *   - shared strings resolved (`:573-575`), inline strings honored;
  *   - cells whose style's number format is a date render as
  *     timestamps: Excel serial days from the 1899-12-30 epoch
  *     (1904-01-01 when workbookPr@date1904), fractional part = time
  *     of day (`:580-585`);
  *   - duration formats (builtin 45-47) surface as seconds in the
  *     numeric slot (the reference builds a TIMEINTERVAL, `:587-592`;
  *     our EAV variant carries no interval slot — documented);
  *   - `t="b"` cells land in the boolean slot (the reference parses
  *     them as 0/1 integers — we keep the richer type).
  *
  * Output is the engine's EAV cell shape `(rowName, column,
  * value struct(num,str,tsv,flag), ts)` — one row per non-empty cell,
  * cell timestamp = workbook file mtime (the reference stamps cells
  * with the archive's lastModified, `:697`).
  *
  * Scale note: a workbook is a single small zip (the format caps at
  * ~1M rows/sheet) — parsing happens driver-side like the reference,
  * and the result enters the cluster as a DataFrame. Wide-table
  * analytics on imported sheets go through `Eav.fromEav`.
  */
object Xlsx {

  private val cellSchema = StructType(Seq(
    StructField("rowName", StringType, nullable = false),
    StructField("column", StringType, nullable = false),
    StructField("value", StructType(Seq(
      StructField("num", DoubleType),
      StructField("str", StringType),
      StructField("tsv", TimestampType),
      StructField("flag", BooleanType))), nullable = false),
    StructField("ts", TimestampType, nullable = false)))

  private sealed trait CellVal
  private case class NumVal(v: Double) extends CellVal
  private case class StrVal(v: String) extends CellVal
  private case class TsVal(epochMs: Long) extends CellVal
  private case class BoolVal(v: Boolean) extends CellVal

  def importXlsx(spark: SparkSession, path: String,
      sheets: Option[Seq[String]] = None): DataFrame = {
    val zf = new ZipFile(Sources.requireFile(path))
    try {
      def open(name: String) = Option(zf.getEntry(name)).map(zf.getInputStream)

      val shared = open("xl/sharedStrings.xml").map(parseSharedStrings)
        .getOrElse(Vector.empty)
      val dateStyles = open("xl/styles.xml").map(parseStyles)
        .getOrElse(Vector.empty)
      val (sheetRefs, date1904) = open("xl/workbook.xml")
        .map(parseWorkbook)
        .getOrElse(throw new IllegalArgumentException(
          s"$path: not an xlsx workbook (no xl/workbook.xml)"))
      val rels = open("xl/_rels/workbook.xml.rels").map(parseRels)
        .getOrElse(Map.empty[String, String])
      val epoch =
        if (date1904) LocalDate.of(1904, 1, 1) else LocalDate.of(1899, 12, 30)
      val fileTs = new java.sql.Timestamp(
        new java.io.File(path).lastModified())

      val wanted = sheets.map(_.toSet)
      val out = ArrayBuffer.empty[Row]
      for ((name, relId) <- sheetRefs if wanted.forall(_.contains(name))) {
        val target = rels.getOrElse(relId, s"worksheets/sheet1.xml")
        val entry = if (target.startsWith("/")) target.drop(1) else s"xl/$target"
        open(entry).foreach { in =>
          val rows = parseSheet(in, shared, dateStyles, epoch)
          if (rows.nonEmpty) {
            val width = rows.last._1.toString.length
            for ((rowIdx, cells) <- rows; (colIdx, v) <- cells) {
              val rowName = s"$name:${padLeft(rowIdx.toString, width)}"
              val value = v match {
                case NumVal(d) => Row(d, null, null, null)
                case StrVal(s) => Row(null, s, null, null)
                case TsVal(ms) => Row(null, null, new java.sql.Timestamp(ms), null)
                case BoolVal(b) => Row(null, null, null, b)
              }
              out += Row(rowName, colName(colIdx), value, fileTs)
            }
          }
        }
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(out.toSeq, math.max(1, out.size / 50000)),
        cellSchema)
    } finally zf.close()
  }

  private def padLeft(s: String, n: Int): String =
    if (s.length >= n) s else ("0" * (n - s.length)) + s

  /** Excel column letters for a 0-based index (A=0, Z=25, AA=26…). */
  private[graft] def colName(idx: Long): String = {
    val sb = new StringBuilder
    var i = idx
    while (i >= 0) {
      sb.insert(0, ('A' + (i % 26).toInt).toChar)
      i = i / 26 - 1
    }
    sb.toString
  }

  /** 0-based column index from a cell reference like "BC12". */
  private[graft] def colIndex(cellId: String): Long = {
    var i = 0L
    var p = 0
    while (p < cellId.length && Character.isLetter(cellId.charAt(p))) {
      i = i * 26 + (Character.toUpperCase(cellId.charAt(p)) - 'A' + 1)
      p += 1
    }
    i - 1
  }

  private def reader(in: java.io.InputStream): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    // no DTD/external-entity resolution: the payload is untrusted
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(in)
  }

  /** All text content until the matching end of the current element. */
  private def elementText(r: XMLStreamReader): String = {
    val sb = new StringBuilder
    var depth = 1
    while (depth > 0 && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => depth += 1
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          sb.append(r.getText)
        case _ =>
      }
    }
    sb.toString
  }

  /** sharedStrings.xml: one entry per <si>, concatenating every <t>
    * run (rich-text strings split one logical string across runs). */
  private def parseSharedStrings(in: java.io.InputStream): Vector[String] = {
    val r = reader(in)
    val out = Vector.newBuilder[String]
    var cur: StringBuilder = null
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "si" => cur = new StringBuilder
            case "t" if cur != null => cur.append(elementText(r))
            case _ =>
          }
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" =>
            out += cur.toString; cur = null
          case _ =>
        }
      }
    } finally r.close()
    out.result()
  }

  /** styles.xml → per-cellXf "is this a date/duration format" flags:
    * (isDate, isDuration) indexed by the style number cells carry. */
  private def parseStyles(in: java.io.InputStream): Vector[(Boolean, Boolean)] = {
    val r = reader(in)
    val customFmts = scala.collection.mutable.Map.empty[Int, String]
    val xfs = Vector.newBuilder[Int]
    var inCellXfs = false
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "numFmt" =>
              val id = Option(r.getAttributeValue(null, "numFmtId")).map(_.toInt)
              val code = Option(r.getAttributeValue(null, "formatCode"))
              for (i <- id; c <- code) customFmts(i) = c
            case "cellXfs" => inCellXfs = true
            case "xf" if inCellXfs =>
              xfs += Option(r.getAttributeValue(null, "numFmtId"))
                .map(_.toInt).getOrElse(0)
            case _ =>
          }
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" =>
            inCellXfs = false
          case _ =>
        }
      }
    } finally r.close()
    xfs.result().map { id =>
      val duration = (id >= 45 && id <= 47) ||
        customFmts.get(id).exists(isDurationCode)
      val date = !duration &&
        ((id >= 14 && id <= 22) || customFmts.get(id).exists(isDateCode))
      (date, duration)
    }
  }

  /** Date-format heuristic on a custom format code: any y/m/d/h/s
    * token outside quoted literals, [] blocks, and escapes. */
  private def stripLiterals(code: String): String = {
    val sb = new StringBuilder
    var i = 0
    var inQuote = false
    var inBracket = false
    while (i < code.length) {
      val c = code.charAt(i)
      if (inQuote) { if (c == '"') inQuote = false }
      else if (inBracket) { if (c == ']') inBracket = false }
      else c match {
        case '"' => inQuote = true
        case '[' => inBracket = true
        case '\\' => i += 1
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private def isDateCode(code: String): Boolean =
    stripLiterals(code).exists(c => "ymdhsYMDHS".indexOf(c) >= 0)

  private def isDurationCode(code: String): Boolean = {
    // durations quote the leading unit: [h]:mm:ss — the bracket block
    // is exactly what stripLiterals removes, so detect it directly
    val t = code.takeWhile(_ != ';')
    t.contains("[h") || t.contains("[H") || t.contains("[m") || t.contains("[s")
  }

  /** workbook.xml → ordered (sheetName, relId) + date1904 flag. */
  private def parseWorkbook(in: java.io.InputStream)
      : (Vector[(String, String)], Boolean) = {
    val r = reader(in)
    val sheets = Vector.newBuilder[(String, String)]
    var date1904 = false
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "workbookPr" =>
              date1904 = Option(r.getAttributeValue(null, "date1904"))
                .exists(v => v == "1" || v == "true")
            case "sheet" =>
              val name = Option(r.getAttributeValue(null, "name")).getOrElse("")
              // the id attribute lives in the officeDocument
              // relationships namespace; scan attributes by local name
              var relId = ""
              var i = 0
              while (i < r.getAttributeCount) {
                if (r.getAttributeLocalName(i) == "id")
                  relId = r.getAttributeValue(i)
                i += 1
              }
              sheets += ((name, relId))
            case _ =>
          }
          case _ =>
        }
      }
    } finally r.close()
    (sheets.result(), date1904)
  }

  /** workbook.xml.rels → relId → target path (worksheets/sheetN.xml). */
  private def parseRels(in: java.io.InputStream): Map[String, String] = {
    val r = reader(in)
    val out = Map.newBuilder[String, String]
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT
              if r.getLocalName == "Relationship" =>
            val id = Option(r.getAttributeValue(null, "Id"))
            val target = Option(r.getAttributeValue(null, "Target"))
            val tpe = Option(r.getAttributeValue(null, "Type")).getOrElse("")
            if (tpe.endsWith("/worksheet"))
              for (i <- id; t <- target) out += i -> t
          case _ =>
        }
      }
    } finally r.close()
    out.result()
  }

  /** One worksheet → buffered (rowIndex, cells) — buffering mirrors
    * the reference (row names need the max index for padding). */
  private def parseSheet(in: java.io.InputStream, shared: Vector[String],
      dateStyles: Vector[(Boolean, Boolean)], epoch: LocalDate)
      : Vector[(Long, Vector[(Long, CellVal)])] = {
    val r = reader(in)
    val rows = Vector.newBuilder[(Long, Vector[(Long, CellVal)])]
    var rowIdx = 0L
    var cells: scala.collection.mutable.ArrayBuffer[(Long, CellVal)] = null
    var colIdx = -1L
    var cellType = ""
    var cellStyle = -1
    var pendingV: String = null
    var pendingIs: String = null
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "row" =>
              rowIdx = Option(r.getAttributeValue(null, "r"))
                .map(_.toLong).getOrElse(rowIdx + 1)
              cells = scala.collection.mutable.ArrayBuffer.empty
              colIdx = -1L
            case "c" if cells != null =>
              colIdx = Option(r.getAttributeValue(null, "r"))
                .map(colIndex).getOrElse(colIdx + 1)
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
              cellStyle = Option(r.getAttributeValue(null, "s"))
                .map(_.toInt).getOrElse(-1)
              pendingV = null; pendingIs = null
            case "v" if cells != null => pendingV = elementText(r)
            case "t" if cells != null && cellType == "inlineStr" =>
              // rich-text inline strings carry one <t> per run —
              // APPEND runs (like parseSharedStrings), or every run
              // but the last is silently dropped
              val t = elementText(r)
              pendingIs = if (pendingIs == null) t else pendingIs + t
            case _ =>
          }
          case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
            case "row" if cells != null =>
              rows += ((rowIdx, cells.toVector)); cells = null
            case "c" if cells != null =>
              decode(cellType, cellStyle, pendingV, pendingIs, shared,
                dateStyles, epoch).foreach(v => cells += ((colIdx, v)))
            case _ =>
          }
          case _ =>
        }
      }
    } finally r.close()
    rows.result()
  }

  private def decode(tpe: String, style: Int, v: String, inline: String,
      shared: Vector[String], dateStyles: Vector[(Boolean, Boolean)],
      epoch: LocalDate): Option[CellVal] = tpe match {
    case "inlineStr" => Option(inline).map(StrVal)
    case "s" =>
      Option(v).flatMap(s => shared.lift(s.trim.toInt)).map(StrVal)
    case "b" => Option(v).map(s => BoolVal(s.trim == "1"))
    case "str" | "e" => Option(v).map(StrVal) // formula result / error text
    case _ =>
      Option(v).map { raw =>
        val (isDate, isDuration) =
          if (style >= 0) dateStyles.lift(style).getOrElse((false, false))
          else (false, false)
        parseNum(raw) match {
          case Some(d) if isDate =>
            val ms = epoch.toEpochDay * 86400000L + math.round(d * 86400000.0)
            TsVal(ms)
          case Some(d) if isDuration => NumVal(d * 86400.0) // serial days → s
          case Some(d) => NumVal(d)
          case None => StrVal(raw)
        }
      }
  }

  private def parseNum(s: String): Option[Double] =
    try Some(java.lang.Double.parseDouble(s.trim)) catch {
      case _: NumberFormatException => None
    }
}
