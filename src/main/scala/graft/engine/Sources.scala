package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/* The raw-data sources (SURVEY.md §2.1 S1-S3).
  *
  * The reference ingests three raw formats with driver-side Python
  * (multi-sheet Excel via pandas, ECB SDMX XML via ElementTree, legacy
  * XLS) and registers each as a staged table
  * (the reference's src/ingestion modules). All three are real
  * byte-level ingestion with no external codec:
  *  - [[XlsxSource]] (zip + OOXML): the driver reads the workbook's
  *    catalog and each sheet's header; one Spark task per sheet
  *    streams that sheet's rows;
  *  - [[XlsSource]] (OLE2 container + BIFF8 records) and the SDMX XML
  *    path via scala-xml, both parsed on the driver: the files are
  *    tiny in the reference (about 100 holidays, 739 observations).
  * Each `load` may parse on the driver; everything after it runs in
  * Spark. Tables the engine wrote are read back through
  * [[Parquet.read]] and [[Graft.table]].
  */

/** S2: ECB-SDMX-shaped XML FX rates, parsed driver-side with scala-xml.
  *
  * Mirrors `/root/reference/src/ingestion/fx_data.py:29-92` semantics:
  * requires a DataSet with at least one Series, asserts the series
  * currency attribute is GBP, skips individually-malformed observations
  * with a warning, and fails if no valid rate survives. Output: (date,
  * rate).
  */
final case class XmlFxSource(path: String) {
  def load(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val root = scala.xml.XML.loadFile(path)
    val series = root \\ "Series"
    require(series.nonEmpty, s"no Series elements in $path")
    val cur = (series.head \@ "CURRENCY")
    require(cur == "GBP", s"expected CURRENCY=GBP, got $cur")
    val obs = series.head \\ "Obs"
    require(obs.nonEmpty, s"no observations in $path")
    val parsed = obs.flatMap { o =>
      val period = o \@ "TIME_PERIOD"
      val value = o \@ "OBS_VALUE"
      try Some((java.sql.Date.valueOf(period), value.toDouble))
      catch {
        case _: IllegalArgumentException | _: NumberFormatException =>
          System.err.println(s"[XmlFxSource] skipping malformed obs: " +
            s"TIME_PERIOD='$period' OBS_VALUE='$value'")
          None
      }
    }
    require(parsed.nonEmpty, s"no valid observations in $path")
    parsed.toDF("date", "rate")
  }
}

/** S1 (byte-level): genuine multi-sheet `.xlsx` ingestion with NO
  * external codec. An .xlsx file is a zip of OOXML XML parts, read here
  * with `java.util.zip` and StAX, split between the driver and one
  * Spark task per sheet:
  *  - at [[load]] the driver reads the small catalog parts (the sheet
  *    list, the relationship map, styles.xml and the `date1904` flag)
  *    and each sheet's header row. A zip without a workbook part, a
  *    sheet with no header row and a header missing a schema column
  *    fail here, before any action;
  *  - task i opens the zip itself and streams sheet i through StAX, one
  *    row at a time, resolving shared strings as its cells reach them.
  *    Nothing is converted to text and read back, and nothing is
  *    written to disk.
  * Like any Spark file source the frame is lazy over the file: the
  * workbook is read when an action runs, so it must stay in place, and
  * readable by the executors, until then.
  *
  * Mirrors `pd.read_excel(sheet_name=None)` semantics
  * (`/root/reference/src/ingestion/retail_data.py:27-38`): every sheet
  * is read in workbook order (task i scans sheet i), tagged with
  * `source_sheet`, and vertically unioned; row 1 is the header; string
  * cells are trimmed and missing cells are NULL (the engine's
  * documented NULL-not-'nan' contract, SURVEY.md §7.4). Cells are
  * decoded per the OOXML `t` attribute: `s` (shared string),
  * `inlineStr`, `str` (formula result), `b` (boolean), default numeric.
  * Values surface as strings and are cast once, at the edge, to the
  * caller's schema by column name with Spark's own `Cast`.
  *
  * Date cells stored as Excel serial numbers are decoded via
  * styles.xml number-format resolution (what pd.read_excel does
  * through openpyxl): a numeric cell whose resolved format is a
  * date/time format surfaces as an ISO `yyyy-MM-dd` date (or
  * `yyyy-MM-dd HH:mm:ss` when the serial carries a time fraction /
  * the format has time tokens), using the 1900 date system including
  * its fictitious 1900-02-29 (serials >= 61 shift by one day).
  */
final case class XlsxSource(path: String, schema: StructType) {

  def load(spark: SparkSession): DataFrame = {
    val zip = new java.util.zip.ZipFile(path)
    val (sheets, styleIsDate, date1904) = try {
      def part(name: String): Option[scala.xml.Elem] =
        Option(zip.getEntry(name)).map(e =>
          scala.xml.XML.load(zip.getInputStream(e)))
      val workbook = part("xl/workbook.xml")
        .getOrElse(throw new IllegalArgumentException(
          s"$path is not an xlsx: missing xl/workbook.xml"))
      // r:id → worksheet part path (the rels map; scala-xml keys are
      // local names, so the prefixed r:id attribute matches key "id").
      val rels = part("xl/_rels/workbook.xml.rels").toSeq
        .flatMap(_ \ "Relationship")
        .map(r => (r \@ "Id") -> (r \@ "Target").stripPrefix("/xl/"))
        .toMap
      // styles: cell style index -> (isDate, hasTime) via numFmt lookup
      val styles = part("xl/styles.xml")
      val customFmts = styles.toSeq.flatMap(_ \ "numFmts" \ "numFmt")
        .flatMap(n => (n \@ "numFmtId").toIntOption
          .map(_ -> (n \@ "formatCode")))
        .toMap
      val styleIsDate: IndexedSeq[(Boolean, Boolean)] =
        styles.toSeq.flatMap(_ \ "cellXfs" \ "xf").map { xf =>
          val fmtId = (xf \@ "numFmtId").toIntOption.getOrElse(0)
          ExcelCells.dateStyle(fmtId, customFmts.get(fmtId))
        }.toIndexedSeq
      val named = (workbook \ "sheets" \ "sheet").map { s =>
        val rid = s.attributes.iterator
          .collectFirst { case a if a.key == "id" && a.isPrefixed => a.value.text }
          .getOrElse("")
        (s \@ "name") -> rels.getOrElse(rid, "")
      }.filter(_._2.nonEmpty)
      require(named.nonEmpty, s"no sheets found in $path")
      // Mac-origin workbooks flag the 1904 date system on workbookPr;
      // serials then count from 1904-01-01 with no phantom leap day.
      val date1904 = (workbook \ "workbookPr").headOption
        .map(_ \@ "date1904").exists(v => v == "1" || v == "true")
      val shared = new XlsxStax.SharedStrings(zip)
      val sheets = named.map { case (sheetName, target) =>
        val entry = Option(zip.getEntry(s"xl/$target")).getOrElse(
          throw new IllegalArgumentException(s"missing part xl/$target"))
        val header = new XlsxStax.SheetRows(zip.getInputStream(entry),
            shared, styleIsDate, date1904).nextOption()
          .getOrElse(throw new IllegalArgumentException(
            s"$path sheet '$sheetName' is empty (no header row)"))
        // A schema column absent from the sheet header is a caller
        // error, not an all-NULL column: keep the loud contract.
        val names = header.map(_._2)
        val missing = schema.fieldNames.filterNot(names.contains)
        require(missing.isEmpty,
          s"$path sheet '$sheetName': header is missing schema column(s) " +
            s"${missing.mkString(", ")} (header: ${names.mkString(", ")})")
        val fields = Array.fill(header.map(_._1 + 1).maxOption.getOrElse(0))(-1)
        header.foreach { case (c, name) => fields(c) = schema.fieldNames.indexOf(name) }
        XlsxStax.Sheet(sheetName, s"xl/$target", fields)
      }
      (sheets, styleIsDate, date1904)
    } finally zip.close()

    val width = schema.size
    val rows = spark.sparkContext.parallelize(sheets, sheets.size)
      .mapPartitions(_.flatMap(XlsxStax.scan(path, _, width, styleIsDate, date1904)))
    val allString = StructType(schema.fields.map(f =>
      StructField(f.name, StringType)) :+
      StructField("source_sheet", StringType, nullable = false))
    spark.createDataFrame(rows, allString)
      .select(schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)) :+ col("source_sheet"): _*)
  }
}

/** StAX (streaming) readers for the two big xlsx parts, and the task
  * that scans one sheet. Cell semantics are oracle-gated by s1/u2 and
  * XlsxSpec: `t`-attribute dispatch (shared string / inlineStr / bool /
  * formula-str / error / numeric), date-styled serials decoded to ISO
  * and E-notation written out via [[ExcelCells]], values trimmed,
  * missing cells NULL, an empty string kept as "", row 1 = header.
  */
private[engine] object XlsxStax {
  import javax.xml.stream.XMLStreamConstants.{CDATA, CHARACTERS, END_ELEMENT, START_ELEMENT}

  private def factory: javax.xml.stream.XMLInputFactory = {
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(javax.xml.stream.XMLInputFactory.IS_NAMESPACE_AWARE, true)
    f
  }

  /** One sheet of a scan: its workbook name, its zip part, and for each
    * column index the schema position its header names (-1: none).
    */
  final case class Sheet(name: String, part: String, fields: Array[Int])

  /** The rows of `sheet` below its header, as one string per schema
    * field (NULL where the row has no cell) plus the sheet name. Runs
    * inside a Spark task, which opens the workbook itself and closes it
    * when the task completes.
    */
  def scan(path: String, sheet: Sheet, width: Int,
           styleIsDate: IndexedSeq[(Boolean, Boolean)],
           date1904: Boolean): Iterator[Row] = {
    val zip = new java.util.zip.ZipFile(path)
    org.apache.spark.TaskContext.get()
      .addTaskCompletionListener[Unit](_ => zip.close())
    val rows = new SheetRows(zip.getInputStream(zip.getEntry(sheet.part)),
      new SharedStrings(zip), styleIsDate, date1904)
    rows.next() // the header, checked at load
    rows.map { cells =>
      val out = new Array[Any](width + 1)
      cells.foreach { case (c, v) =>
        if (c < sheet.fields.length && sheet.fields(c) >= 0) out(sheet.fields(c)) = v
      }
      out(width) = sheet.name
      Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
    }
  }

  /** The shared-string table (sharedStrings.xml; absent = empty),
    * parsed only as far as the largest index asked for so far: the
    * driver's header read stops within the first entries, a task's
    * scan reads on as its cells need. An entry is every `t` descendant
    * of its `si` concatenated (rich-text runs).
    */
  final class SharedStrings(zip: java.util.zip.ZipFile) {
    private val r = Option(zip.getEntry("xl/sharedStrings.xml"))
      .map(e => factory.createXMLStreamReader(zip.getInputStream(e)))
    private val parsed = scala.collection.mutable.ArrayBuffer.empty[String]
    private val sb = new java.lang.StringBuilder

    def lift(i: Int): Option[String] = {
      while (parsed.size <= i && r.exists(parseNext)) ()
      parsed.lift(i)
    }

    /** Appends the next `si` to `parsed`; false at the end of the part. */
    private def parseNext(r: javax.xml.stream.XMLStreamReader): Boolean = {
      var inSi = false
      var inT = false
      var done = false
      while (!done && r.hasNext) {
        r.next() match {
          case START_ELEMENT =>
            r.getLocalName match {
              case "si" => inSi = true; sb.setLength(0)
              case "t" if inSi => inT = true
              case _ => ()
            }
          case CHARACTERS | CDATA => if (inT) sb.append(r.getText)
          case END_ELEMENT =>
            r.getLocalName match {
              case "t" => inT = false
              case "si" => parsed += sb.toString; done = true
              case _ => ()
            }
          case _ => ()
        }
      }
      done
    }
  }

  /** One worksheet's rows, streamed: each element is one `<row>`'s
    * present cells as (column index, trimmed value), so a reader holds
    * one row at a time, never the sheet. The first element is the
    * header. A cell's column comes from the letters of its `r=`
    * reference, or from its position in the row when it has none.
    */
  final class SheetRows(in: java.io.InputStream, shared: SharedStrings,
                        styleIsDate: IndexedSeq[(Boolean, Boolean)],
                        date1904: Boolean)
      extends Iterator[scala.collection.Seq[(Int, String)]] {
    private val r = factory.createXMLStreamReader(in)
    private var cells = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    private var ready = false // `cells` holds a whole row not yet returned
    private var inRow = false
    private var cellPos = 0
    // current-cell state
    private var cType = ""
    private var cIdx = 0
    private var cStyle: Option[(Boolean, Boolean)] = None
    private var inV = false
    private var vSeen = false
    private var inIsT = false
    private val vText = new java.lang.StringBuilder
    private val isText = new java.lang.StringBuilder

    def hasNext: Boolean = {
      while (!ready && r.hasNext) step(r.next())
      ready
    }

    def next(): scala.collection.Seq[(Int, String)] = {
      if (!hasNext) throw new NoSuchElementException("no row left in the sheet")
      ready = false
      val row = cells
      cells = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      row
    }

    private def step(event: Int): Unit = event match {
      case START_ELEMENT =>
        r.getLocalName match {
          case "row" => inRow = true; cellPos = 0
          case "c" if inRow =>
            val ref = Option(r.getAttributeValue(null, "r")).getOrElse("")
            val letters = ref.takeWhile(_.isLetter)
            cIdx =
              if (letters.isEmpty) cellPos
              else letters.foldLeft(0)(
                (acc, ch) => acc * 26 + (ch - 'A' + 1)) - 1
            cellPos += 1
            cType = Option(r.getAttributeValue(null, "t")).getOrElse("")
            cStyle = Option(r.getAttributeValue(null, "s"))
              .flatMap(_.toIntOption).flatMap(styleIsDate.lift)
            vText.setLength(0); isText.setLength(0)
            inV = false; vSeen = false
          case "v" => inV = true; vSeen = true
          case "t" => inIsT = true
          case _ => ()
        }
      case CHARACTERS | CDATA =>
        if (inV) vText.append(r.getText)
        else if (inIsT) isText.append(r.getText)
      case END_ELEMENT =>
        r.getLocalName match {
          case "v" => inV = false
          case "t" => inIsT = false
          case "c" if inRow => cellValue().foreach(v => cells += cIdx -> v.trim)
          case "row" if inRow => inRow = false; ready = true
          case _ => ()
        }
      case _ => ()
    }

    private def cellValue(): Option[String] = cType match {
      case "s" =>
        if (!vSeen) None
        else vText.toString.trim.toIntOption.flatMap(shared.lift)
      case "inlineStr" => Some(isText.toString)
      case "b" =>
        if (!vSeen) None
        else Some(if (vText.toString.trim == "1") "true" else "false")
      case "str" => if (vSeen) Some(vText.toString) else None
      // error cells (#DIV/0!, #VALUE!, ...) are NULL in the
      // pd.read_excel contract — never data, even for string columns
      case "e" => None
      case _ =>
        if (!vSeen) None
        else {
          val raw = vText.toString
          cStyle match {
            case Some((true, withTime)) =>
              Some(raw.trim.toDoubleOption
                .map(ExcelCells.serialToIso(_, withTime, date1904))
                .getOrElse(raw))
            case _ =>
              // Writers emit large/small numerics in scientific
              // notation (`1.067371E7`); a LongType cast of that
              // string is NULL — silent data loss. Normalize through
              // the numeric renderer (integral doubles print plain).
              if (raw.indexOf('E') >= 0 || raw.indexOf('e') >= 0)
                Some(raw.trim.toDoubleOption
                  .map(ExcelCells.numericText).getOrElse(raw))
              else Some(raw)
          }
        }
    }
  }
}
