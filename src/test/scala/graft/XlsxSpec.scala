package graft

import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.sql.types._
import graft.engine.XlsxSource

/** Byte-level xlsx ingestion: the spec hand-assembles a real two-sheet
  * OOXML zip (shared strings, inline strings, numerics, booleans, a
  * skipped cell) and asserts XlsxSource reproduces
  * pd.read_excel(sheet_name=None) semantics — all sheets read, tagged,
  * unioned, header row consumed, strings trimmed, missing cells NULL,
  * values cast to the caller's schema.
  */
class XlsxSpec extends SparkTestBase {

  private def writeXlsx(): String = {
    val f = Files.createTempFile("graft", ".xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(f))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    put("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |  <sheets>
        |    <sheet name="Year 2009-2010" sheetId="1" r:id="rId1"/>
        |    <sheet name="Year 2010-2011" sheetId="2" r:id="rId2"/>
        |  </sheets>
        |</workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |  <Relationship Id="rId1" Target="worksheets/sheet1.xml"/>
        |  <Relationship Id="rId2" Target="worksheets/sheet2.xml"/>
        |</Relationships>""".stripMargin)
    put("xl/sharedStrings.xml",
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <si><t>invoice</t></si>
        |  <si><t>qty</t></si>
        |  <si><t>desc</t></si>
        |  <si><t>  WHITE MUG  </t></si>
        |  <si><r><t>RED </t></r><r><t>LANTERN</t></r></si>
        |</sst>""".stripMargin)
    // sheet1: header + 2 rows; row 3 omits the desc cell entirely (NULL)
    put("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <sheetData>
        |    <row r="1">
        |      <c r="A1" t="s"><v>0</v></c>
        |      <c r="B1" t="s"><v>1</v></c>
        |      <c r="C1" t="s"><v>2</v></c>
        |    </row>
        |    <row r="2">
        |      <c r="A2" t="inlineStr"><is><t>INV-1</t></is></c>
        |      <c r="B2"><v>6</v></c>
        |      <c r="C2" t="s"><v>3</v></c>
        |    </row>
        |    <row r="3">
        |      <c r="A3" t="inlineStr"><is><t>INV-2</t></is></c>
        |      <c r="B3"><v>12</v></c>
        |    </row>
        |  </sheetData>
        |</worksheet>""".stripMargin)
    // sheet2: one row, rich-text shared string + boolean-typed qty cell
    put("xl/worksheets/sheet2.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <sheetData>
        |    <row r="1">
        |      <c r="A1" t="s"><v>0</v></c>
        |      <c r="B1" t="s"><v>1</v></c>
        |      <c r="C1" t="s"><v>2</v></c>
        |    </row>
        |    <row r="2">
        |      <c r="A2" t="str"><v>INV-3</v></c>
        |      <c r="B2"><v>3</v></c>
        |      <c r="C2" t="s"><v>4</v></c>
        |    </row>
        |  </sheetData>
        |</worksheet>""".stripMargin)
    zos.close()
    f.toString
  }

  test("XlsxSource reads all sheets byte-level: tags, unions, trims, casts") {
    val schema = StructType(Seq(
      StructField("invoice", StringType),
      StructField("qty", LongType),
      StructField("desc", StringType)))
    val df = XlsxSource(writeXlsx(), schema).load(spark)
    assert(df.schema.fieldNames.toSeq ===
      Seq("invoice", "qty", "desc", "source_sheet"))
    val rows = df.orderBy("invoice").collect().map(r =>
      (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2), r.getString(3)))
    assert(rows.toSeq === Seq(
      ("INV-1", 6L, "WHITE MUG", "Year 2009-2010"),
      ("INV-2", 12L, null, "Year 2009-2010"),
      ("INV-3", 3L, "RED LANTERN", "Year 2010-2011")))
  }

  test("XlsxSource handles cells without r= refs positionally") {
    val f = Files.createTempFile("graft-noref", ".xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(f))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    put("xl/workbook.xml",
      """<workbook xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |  <sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets>
        |</workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<Relationships>
        |  <Relationship Id="rId1" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin)
    put("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData>
        |  <row><c t="inlineStr"><is><t>k</t></is></c>
        |       <c t="inlineStr"><is><t>v</t></is></c></row>
        |  <row><c t="inlineStr"><is><t>x</t></is></c><c><v>7</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    val rows = XlsxSource(f.toString, schema).load(spark).collect()
    assert(rows.length === 1)
    assert(rows.head.getString(0) === "x" && rows.head.getLong(1) === 7L)
  }

  test("XlsxSource reads formula cells' cached values, ignores formula text") {
    // Real workbooks carry <f> formulas with cached <v> results — the
    // reader must take the cached value (numeric and t="str" string
    // formulas both) and never let the formula TEXT leak into data.
    val f = Files.createTempFile("graft-formula", ".xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(f))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    put("xl/workbook.xml",
      """<workbook xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |  <sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets>
        |</workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<Relationships>
        |  <Relationship Id="rId1" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin)
    put("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData>
        |  <row r="1"><c r="A1" t="inlineStr"><is><t>label</t></is></c>
        |       <c r="B1" t="inlineStr"><is><t>total</t></is></c></row>
        |  <row r="2"><c r="A2" t="str"><f>CONCAT("a","b")</f><v>ab</v></c>
        |       <c r="B2"><f>SUM(C1:C9)</f><v>41.5</v></c></row>
        |  <row r="3"><c r="A3" t="e"><f>1/0</f><v>#DIV/0!</v></c>
        |       <c r="B3"><v>7</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val schema = StructType(Seq(
      StructField("label", StringType), StructField("total", DoubleType)))
    val rows = XlsxSource(f.toString, schema).load(spark)
      .orderBy("total").collect()
    assert(rows.length === 2)
    assert(rows(0).isNullAt(0) && rows(0).getDouble(1) === 7.0,
      "error cell must be NULL, never its error text")
    assert(rows(1).getString(0) === "ab",
      "string-formula cell must yield its cached value, not the formula")
    assert(rows(1).getDouble(1) === 41.5,
      "numeric-formula cell must yield its cached value")
  }

  test("XlsxSource decodes date-styled serial cells via styles.xml") {
    val f = Files.createTempFile("graft-dates", ".xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(f))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    put("xl/workbook.xml",
      """<workbook xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |  <sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets>
        |</workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<Relationships>
        |  <Relationship Id="rId1" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin)
    // style 0: plain numeric (fmt 0); style 1: builtin date fmt 14;
    // style 2: custom yyyy-mm-dd (165); style 3: datetime fmt 22
    put("xl/styles.xml",
      """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <numFmts count="1">
        |    <numFmt numFmtId="165" formatCode="yyyy\-mm\-dd"/>
        |  </numFmts>
        |  <cellXfs count="4">
        |    <xf numFmtId="0"/>
        |    <xf numFmtId="14"/>
        |    <xf numFmtId="165"/>
        |    <xf numFmtId="22"/>
        |  </cellXfs>
        |</styleSheet>""".stripMargin)
    // serial 25569 = 1970-01-01; 61 = 1900-03-01 (post-leap-bug shift);
    // 44927.5 = 2023-01-01 12:00:00; unstyled 25569 stays numeric text
    put("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData>
        |  <row><c t="inlineStr"><is><t>d14</t></is></c>
        |       <c t="inlineStr"><is><t>d165</t></is></c>
        |       <c t="inlineStr"><is><t>ts22</t></is></c>
        |       <c t="inlineStr"><is><t>plain</t></is></c></row>
        |  <row><c s="1"><v>25569</v></c>
        |       <c s="2"><v>61</v></c>
        |       <c s="3"><v>44927.5</v></c>
        |       <c s="0"><v>25569</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val schema = StructType(Seq(
      StructField("d14", DateType), StructField("d165", DateType),
      StructField("ts22", StringType), StructField("plain", LongType)))
    val r = XlsxSource(f.toString, schema).load(spark).collect().head
    assert(r.getDate(0).toString === "1970-01-01")
    assert(r.getDate(1).toString === "1900-03-01")
    assert(r.getString(2) === "2023-01-01 12:00:00")
    assert(r.getLong(3) === 25569L)
  }

  test("XlsxSource honors the 1904 date system and E-notation numerics") {
    val f = Files.createTempFile("graft-1904", ".xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(f))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    put("xl/workbook.xml",
      """<workbook xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |  <workbookPr date1904="1"/>
        |  <sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets>
        |</workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<Relationships>
        |  <Relationship Id="rId1" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin)
    put("xl/styles.xml",
      """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14"/></cellXfs>
        |</styleSheet>""".stripMargin)
    // 1904 system: serial 0 = 1904-01-01, no phantom leap day.
    // big = 10,673,710 written the way writers actually emit large
    // numerics — scientific notation; a naive LongType cast yields NULL.
    val serial = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.of(1904, 1, 1), java.time.LocalDate.of(2010, 6, 15))
    put("xl/worksheets/sheet1.xml",
      s"""<worksheet><sheetData>
         |  <row><c t="inlineStr"><is><t>d</t></is></c>
         |       <c t="inlineStr"><is><t>big</t></is></c></row>
         |  <row><c s="1"><v>$serial</v></c>
         |       <c s="0"><v>1.067371E7</v></c></row>
         |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val schema = StructType(Seq(
      StructField("d", DateType), StructField("big", LongType)))
    val r = XlsxSource(f.toString, schema).load(spark).collect().head
    assert(r.getDate(0).toString === "2010-06-15")
    assert(r.getLong(1) === 10673710L)
  }

  test("XlsxSource rejects a zip without a workbook part") {
    val f = Files.createTempFile("notx", ".xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(f))
    zos.putNextEntry(new ZipEntry("hello.txt"))
    zos.write("hi".getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    val schema = StructType(Seq(StructField("a", StringType)))
    assertThrows[IllegalArgumentException] {
      XlsxSource(f.toString, schema).load(spark)
    }
  }

  private def zipOf(parts: (String, String)*): String = {
    val f = Files.createTempFile("graft-parts", ".xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(f))
    parts.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
    f.toString
  }

  /** A workbook of `sheets` (name, data rows of (k, v)), each sheet
    * in its own part, with the header row `headers`.
    */
  private def workbook(headers: Seq[String],
                       sheets: Seq[(String, Seq[(String, Int)])]): String = {
    val ns = """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships""""
    // rIds and part numbers count down, so neither follows sheet order
    val ids = sheets.indices.map(i => sheets.size - i)
    def cell(v: String) = s"""<c t="inlineStr"><is><t>$v</t></is></c>"""
    val parts = sheets.zip(ids).map { case ((_, rows), id) =>
      s"xl/worksheets/sheet$id.xml" ->
        (s"<worksheet><sheetData><row>${headers.map(cell).mkString}</row>" +
          rows.map { case (k, v) => s"<row>${cell(k)}<c><v>$v</v></c></row>" }.mkString +
          "</sheetData></worksheet>")
    }
    zipOf(Seq(
      "xl/workbook.xml" -> (s"<workbook $ns><sheets>" + sheets.zip(ids).map {
        case ((n, _), id) => s"""<sheet name="$n" sheetId="$id" r:id="rId$id"/>"""
      }.mkString + "</sheets></workbook>"),
      "xl/_rels/workbook.xml.rels" -> ("<Relationships>" + ids.map(id =>
        s"""<Relationship Id="rId$id" Target="worksheets/sheet$id.xml"/>""")
        .mkString + "</Relationships>")) ++ parts: _*)
  }

  private val kv = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType)))

  test("XlsxSource returns rows in workbook order, not sheet-name order") {
    val path = workbook(Seq("k", "v"), Seq(
      "Zeta" -> Seq("z1" -> 1, "z2" -> 2),
      "Alpha" -> Seq("a1" -> 3),
      "Mid" -> Seq("m1" -> 4, "m2" -> 5)))
    val rows = XlsxSource(path, kv).load(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows.toSeq === Seq(("z1", 1L, "Zeta"), ("z2", 2L, "Zeta"),
      ("a1", 3L, "Alpha"), ("m1", 4L, "Mid"), ("m2", 5L, "Mid")))
  }

  test("XlsxSource rejects a header missing a schema column at load, " +
      "naming the sheet and the column") {
    val path = workbook(Seq("k", "value"), Seq("Only" -> Seq("x" -> 1)))
    // load() runs no Spark job: the check is on the driver's header read
    val e = intercept[IllegalArgumentException](XlsxSource(path, kv).load(spark))
    assert(e.getMessage.contains("sheet 'Only'"), e.getMessage)
    assert(e.getMessage.contains("missing schema column(s) v "), e.getMessage)
  }

  test("XlsxSource writes nothing to java.io.tmpdir; the frame reads the " +
      "workbook itself when an action runs") {
    val path = workbook(Seq("k", "v"), Seq("S" -> Seq("x" -> 1)))
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def entries = Option(tmp.list()).toSet.flatten
    val before = entries
    val df = XlsxSource(path, kv).load(spark)
    assert(df.collect().length === 1)
    assert((entries -- before).isEmpty, s"new entries: ${entries -- before}")
    // Like any Spark file source, the frame is lazy over the file: it
    // keeps no copy, so the workbook must stay until the last action.
    Files.delete(java.nio.file.Paths.get(path))
    assertThrows[org.apache.spark.SparkException](df.collect())
  }
}
