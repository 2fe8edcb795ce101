package graft

import graft.sources.Xlsx
import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

/** The dependency-free XLSX reader must handle the format's real
  * variability: shared strings, rich-text runs, sparse rows, numeric
  * cells, booleans, and workbook→rels sheet indirection.
  */
class XlsxSpec extends GraftSuite {

  private def zipOf(entries: (String, String)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.finish()
    bos.toByteArray
  }

  private val ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

  test("writer -> reader roundtrip preserves header and values") {
    val bos = new ByteArrayOutputStream()
    Xlsx.write(Seq("name", "qty"),
      Seq(Seq("widget <&> \"q\"", "5"), Seq("ünïcodé", "")), bos)
    val (header, rows) = Xlsx.parse(bos.toByteArray)
    assert(header == Vector("name", "qty"))
    assert(rows == Vector(Vector("widget <&> \"q\"", "5"), Vector("ünïcodé", "")))
  }

  test("writeTable streams and the row guard trips before the driver holds the table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_xlsx").toString
    val df = (1 to 10).map(i => (i, s"v$i")).toDF("id", "v")
    // under the cap: round-trips
    Xlsx.writeTable(spark, df, s"$dir/ok.xlsx", maxRows = 100)
    val (h, rows) = Xlsx.parse(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/ok.xlsx")))
    assert(h == Vector("id", "v") && rows.length == 10)
    // over the cap: typed error, partial file deleted
    intercept[Xlsx.SizeExceeded] {
      Xlsx.writeTable(spark, df, s"$dir/big.xlsx", maxRows = 5)
    }
    assert(!new java.io.File(s"$dir/big.xlsx").exists(), "partial file left behind")
  }

  test("shared strings, rich-text runs, numerics, booleans, sparse rows") {
    val shared =
      s"""<?xml version="1.0"?><sst xmlns="$ns" count="3" uniqueCount="3">
         |<si><t>alpha</t></si>
         |<si><r><rPr/><t>ri</t></r><r><t>ch</t></r></si>
         |<si><t xml:space="preserve"> padded </t></si>
         |</sst>""".stripMargin
    // B2 missing (sparse), C3 numeric, boolean in C2
    val sheet =
      s"""<?xml version="1.0"?><worksheet xmlns="$ns"><sheetData>
         |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="inlineStr"><is><t>h2</t></is></c><c r="C1" t="s"><v>1</v></c></row>
         |<row r="2"><c r="A2" t="s"><v>2</v></c><c r="C2" t="b"><v>1</v></c></row>
         |<row r="3"><c r="A3"><v>3.25</v></c><c r="B3" t="str"><v>fx</v></c><c r="C3"><v>42</v></c></row>
         |</sheetData></worksheet>""".stripMargin
    val (header, rows) = Xlsx.parse(zipOf(
      "xl/sharedStrings.xml" -> shared,
      "xl/worksheets/sheet1.xml" -> sheet))
    assert(header == Vector("alpha", "h2", "rich"))
    assert(rows == Vector(
      Vector(" padded ", "", "TRUE"),
      Vector("3.25", "fx", "42")))
  }

  test("workbook/rels indirection picks the FIRST sheet, not sheet1.xml by name") {
    val wb =
      s"""<?xml version="1.0"?><workbook xmlns="$ns" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
         |<sheets><sheet name="Data" sheetId="1" r:id="rId7"/><sheet name="Other" sheetId="2" r:id="rId8"/></sheets>
         |</workbook>""".stripMargin
    val rels =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId8" Type="t" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId7" Type="t" Target="worksheets/sheet9.xml"/>
        |</Relationships>""".stripMargin
    def sheetWith(v: String) =
      s"""<?xml version="1.0"?><worksheet xmlns="$ns"><sheetData>
         |<row r="1"><c r="A1" t="inlineStr"><is><t>$v</t></is></c></row>
         |<row r="2"><c r="A2" t="inlineStr"><is><t>x</t></is></c></row>
         |</sheetData></worksheet>""".stripMargin
    val (header, _) = Xlsx.parse(zipOf(
      "xl/workbook.xml" -> wb,
      "xl/_rels/workbook.xml.rels" -> rels,
      "xl/worksheets/sheet1.xml" -> sheetWith("WRONG"),
      "xl/worksheets/sheet9.xml" -> sheetWith("first")))
    assert(header == Vector("first"))
  }

  test("degenerate sheets: header-only, fully empty, and cells without refs") {
    // header-only: zero data rows, header intact
    val headerOnly =
      s"""<?xml version="1.0"?><worksheet xmlns="$ns"><sheetData>
         |<row r="1"><c r="A1" t="inlineStr"><is><t>only</t></is></c></row>
         |</sheetData></worksheet>""".stripMargin
    val (h1, r1) = Xlsx.parse(zipOf("xl/worksheets/sheet1.xml" -> headerOnly))
    assert(h1 == Vector("only") && r1.isEmpty)
    // empty sheetData
    val empty = s"""<?xml version="1.0"?><worksheet xmlns="$ns"><sheetData/></worksheet>"""
    val (h2, r2) = Xlsx.parse(zipOf("xl/worksheets/sheet1.xml" -> empty))
    assert(h2.isEmpty && r2.isEmpty)
    // cells missing the r attribute place sequentially
    val noRefs =
      s"""<?xml version="1.0"?><worksheet xmlns="$ns"><sheetData>
         |<row><c t="inlineStr"><is><t>a</t></is></c><c t="inlineStr"><is><t>b</t></is></c></row>
         |<row><c><v>1</v></c><c><v>2</v></c></row>
         |</sheetData></worksheet>""".stripMargin
    val (h3, r3) = Xlsx.parse(zipOf("xl/worksheets/sheet1.xml" -> noRefs))
    assert(h3 == Vector("a", "b") && r3 == Vector(Vector("1", "2")))
  }

  test("colIndex handles multi-letter references and rejects absurd ones") {
    assert(Xlsx.colIndex("A1") == 0)
    assert(Xlsx.colIndex("Z9") == 25)
    assert(Xlsx.colIndex("AA3") == 26)
    assert(Xlsx.colIndex("BC7") == 54)
    assert(Xlsx.colIndex("XFD1") == 16383) // Excel's last column
    // a crafted ref must not allocate a quarter-billion-slot row
    intercept[graft.sources.Intake.UnsupportedFormat](Xlsx.colIndex("ZZZZZZ1"))
  }

  test("directory reads reject mismatched headers instead of misaligning columns") {
    val dir = java.nio.file.Files.createTempDirectory("graft_xlsx_mix").toFile
    def put(name: String, header: Seq[String]): Unit = {
      val out = new java.io.FileOutputStream(new java.io.File(dir, name))
      Xlsx.write(header, Seq(Seq("1", "2")), out); out.close()
    }
    put("a.xlsx", Seq("x", "y"))
    put("b.xlsx", Seq("y", "x")) // same width, reordered -> positional mapping would corrupt
    intercept[graft.sources.Intake.UnsupportedFormat](
      Xlsx.read(spark, dir.getAbsolutePath))
  }

  test("directory reads tolerate empty member sheets (CSV-directory semantics)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_xlsx_empty").toFile
    val out = new java.io.FileOutputStream(new java.io.File(dir, "b_data.xlsx"))
    Xlsx.write(Seq("x", "y"), Seq(Seq("1", "2")), out); out.close()
    // sorts FIRST, so the non-empty file must still define the schema
    val e = new java.io.FileOutputStream(new java.io.File(dir, "a_empty.xlsx"))
    Xlsx.write(Seq(), Seq(), e); e.close()
    val df = Xlsx.read(spark, dir.getAbsolutePath)
    assert(df.columns.toSeq == Seq("x", "y") && df.count() == 1)
  }

  test("read() produces an all-string DataFrame via Intake dispatch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_xlsx").toFile
    val f = new java.io.File(dir, "t.xlsx")
    val out = new java.io.FileOutputStream(f)
    Xlsx.write(Seq("k", "v"), (1 to 100).map(i => Seq(i.toString, s"row$i")), out)
    out.close()
    val df = graft.sources.Intake.read(spark, f.getAbsolutePath)
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.count() == 100)
    import spark.implicits._
    assert(df.filter($"k" === "42").select($"v").head().getString(0) == "row42")
  }
}
