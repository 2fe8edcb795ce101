package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** XLSX source (SURVEY.md §2.1) — real, dependency-free implementation
  * of the reference's `pd.read_excel(..., engine="openpyxl",
  * dtype=str)` path (streamlit_app.py:172-174): an .xlsx file is a ZIP
  * of XML parts, parsed here with the JDK's ZipInputStream + StAX
  * (no POI, no new dependency).
  *
  * Mirrors the reference contract: first worksheet only, first row is
  * the header, every value arrives as a string (numbers keep their
  * stored lexical form; callers cast — schema-on-read like SniffCsv).
  * Shared strings, inline strings, rich-text runs, sparse rows and
  * out-of-order zip entries are all handled.
  *
  * Scale note: one .xlsx is not splittable (central-directory ZIP +
  * row-major XML), and the intake size cap bounds it (reference
  * max_file_mb, streamlit_app.py:150) — so a single file parses on the
  * driver like the reference, while batch parallelism comes from
  * `Pipeline.ingest`'s per-file distributed jobs; a directory input
  * unions per-file parses.
  */
object Xlsx {

  private val MainNs = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

  private def xmlFactory: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    // never resolve external entities from untrusted uploads
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f
  }

  /** Decompressed-size ceiling across the parts we read: the intake
    * cap bounds the COMPRESSED upload, but XML compresses ~100:1, so
    * a crafted archive (zip bomb) could still exhaust driver memory
    * without this guard.
    */
  private val MaxInflatedBytes = 256L * 1024 * 1024

  /** All relevant zip parts, buffered (entries may appear in any
    * order; files are intake-size-capped).
    */
  private def zipParts(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = scala.collection.mutable.Map.empty[String, Array[Byte]]
    var inflated = 0L
    var e: ZipEntry = zin.getNextEntry
    while (e != null) {
      val name = e.getName
      if (name == "xl/workbook.xml" || name == "xl/_rels/workbook.xml.rels" ||
          name == "xl/sharedStrings.xml" || name.startsWith("xl/worksheets/")) {
        val bos = new ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = zin.read(buf)
        while (n > 0) {
          inflated += n
          if (inflated > MaxInflatedBytes)
            throw Intake.UnsupportedFormat(
              s"xlsx inflates past ${MaxInflatedBytes >> 20} MB — refusing (zip bomb guard)")
          bos.write(buf, 0, n)
          n = zin.read(buf)
        }
        out(name) = bos.toByteArray
      }
      zin.closeEntry()
      e = zin.getNextEntry
    }
    zin.close()
    out.toMap
  }

  /** `<si>` entries; rich-text runs concatenate their `<t>` pieces. */
  private[graft] def parseSharedStrings(in: InputStream): Vector[String] = {
    val r = xmlFactory.createXMLStreamReader(in)
    val out = Vector.newBuilder[String]
    var cur: StringBuilder = null
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "si" =>
          cur = new StringBuilder
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "t" && cur != null =>
          cur ++= r.getElementText
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" =>
          out += cur.toString; cur = null
        case _ =>
      }
    }
    r.close()
    out.result()
  }

  /** Excel's own column ceiling (XFD). A crafted ref like "ZZZZZZ1"
    * would otherwise make the sparse-row padder allocate a ~26⁶-slot
    * buffer per row — bypassing the inflation guard entirely.
    */
  private val MaxCols = 16384

  /** "BC7" → 0-based column index 54; refs beyond XFD are rejected. */
  private[graft] def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      if (acc > MaxCols)
        throw Intake.UnsupportedFormat(s"cell reference $ref exceeds the $MaxCols-column limit")
      i += 1
    }
    acc - 1
  }

  /** Stream `<sheetData>`: one Vector[String] per row, cells placed by
    * their `r` reference (sparse rows keep their gaps as "").
    */
  private[graft] def parseSheet(in: InputStream, shared: Vector[String]): Vector[Vector[String]] = {
    val r = xmlFactory.createXMLStreamReader(in)
    val rows = Vector.newBuilder[Vector[String]]
    var cells: scala.collection.mutable.ArrayBuffer[String] = null
    var cellType: String = null
    var cellCol = -1
    var inlineStr: StringBuilder = null
    var pending: String = null

    def put(col: Int, v: String): Unit = {
      while (cells.length <= col) cells += ""
      cells(col) = v
    }
    def flushCell(): Unit = if (cellCol >= 0) {
      val v =
        if (inlineStr != null) inlineStr.toString
        else if (pending == null) ""
        else cellType match {
          case "s" => shared.lift(pending.toInt).getOrElse("")
          case "b" => if (pending == "1") "TRUE" else "FALSE"
          case _ => pending // n / str / d keep the stored lexical form
        }
      put(cellCol, v)
      cellCol = -1; cellType = null; inlineStr = null; pending = null
    }

    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" =>
              cells = scala.collection.mutable.ArrayBuffer.empty[String]
            case "c" if cells != null =>
              flushCell()
              val ref = r.getAttributeValue(null, "r")
              cellCol = if (ref != null) colIndex(ref) else cells.length
              cellType = r.getAttributeValue(null, "t")
            case "v" if cellCol >= 0 =>
              pending = r.getElementText
            case "is" if cellCol >= 0 =>
              inlineStr = new StringBuilder
            case "t" if inlineStr != null =>
              inlineStr ++= r.getElementText
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "row" =>
              flushCell()
              rows += cells.toVector
              cells = null
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    rows.result()
  }

  /** First worksheet part name by workbook sheet order (falls back to
    * the lexicographically first `xl/worksheets/` entry).
    */
  private def firstSheetPart(parts: Map[String, Array[Byte]]): String = {
    val viaWorkbook =
      for {
        wb <- parts.get("xl/workbook.xml")
        rels <- parts.get("xl/_rels/workbook.xml.rels")
        rid <- firstSheetRid(new ByteArrayInputStream(wb))
        target <- relTarget(new ByteArrayInputStream(rels), rid)
      } yield if (target.startsWith("/")) target.stripPrefix("/") else s"xl/$target"
    viaWorkbook.filter(parts.contains).getOrElse(
      parts.keys.filter(_.startsWith("xl/worksheets/")).toSeq.sorted.headOption
        .getOrElse(sys.error("xlsx has no worksheet part")))
  }

  private def firstSheetRid(in: InputStream): Option[String] = {
    val r = xmlFactory.createXMLStreamReader(in)
    var rid: Option[String] = None
    while (r.hasNext && rid.isEmpty) {
      if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet")
        rid = Option(r.getAttributeValue(
          "http://schemas.openxmlformats.org/officeDocument/2006/relationships", "id"))
    }
    r.close()
    rid
  }

  private def relTarget(in: InputStream, rid: String): Option[String] = {
    val r = xmlFactory.createXMLStreamReader(in)
    var target: Option[String] = None
    while (r.hasNext && target.isEmpty) {
      if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "Relationship" &&
          r.getAttributeValue(null, "Id") == rid)
        target = Option(r.getAttributeValue(null, "Target"))
    }
    r.close()
    target
  }

  /** header + data rows, padded/truncated to header width (pandas
    * header=0 contract).
    */
  private[graft] def parse(bytes: Array[Byte]): (Vector[String], Vector[Vector[String]]) = {
    val parts = zipParts(bytes)
    val shared = parts.get("xl/sharedStrings.xml")
      .map(b => parseSharedStrings(new ByteArrayInputStream(b)))
      .getOrElse(Vector.empty)
    val all = parseSheet(new ByteArrayInputStream(parts(firstSheetPart(parts))), shared)
    if (all.isEmpty) (Vector.empty, Vector.empty)
    else {
      val header = all.head
      val w = header.length
      (header, all.tail.map(row => row.padTo(w, "").take(w)))
    }
  }

  private def readFileBytes(spark: SparkSession, p: Path): Array[Byte] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(p).getLen.toInt
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  /** All-string DataFrame from one .xlsx file or a directory of them
    * (same header required across files, like a CSV directory).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(s => s.isFile && s.getPath.getName.toLowerCase.endsWith(".xlsx"))
          .map(_.getPath).sortBy(_.getName).toSeq
      else Seq(p)
    if (files.isEmpty) throw Intake.UnsupportedFormat(s"no .xlsx files under $path")
    val parsedAll = files.map(f => f -> parse(readFileBytes(spark, f)))
    // empty sheets contribute nothing (CSV-directory tolerance) …
    val nonEmpty = parsedAll.filter(_._2._1.nonEmpty)
    if (nonEmpty.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], StructType(Nil))
    val header = nonEmpty.head._2._1
    val parsed = nonEmpty.map(_._2)
    // … but non-empty sheets must agree on ONE header — silently
    // mapping a reordered sheet's columns by position would corrupt data
    nonEmpty.drop(1).foreach { case (f, (h, _)) =>
      if (h != header)
        throw Intake.UnsupportedFormat(
          s"$f header ${h.mkString(",")} differs from ${nonEmpty.head._1}'s ${header.mkString(",")}")
    }
    val schema = StructType(header.map(StructField(_, StringType, nullable = true)))
    val w = header.length
    val rows = parsed.flatMap(_._2).map(r => Row.fromSeq(r.padTo(w, "").take(w)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.length / 50000 + 1)), schema)
  }

  // ---------------------------------------------------------------- writer

  private def xmlEscape(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c => c.toString
    }

  private def colName(idx: Int): String = {
    var i = idx + 1
    val sb = new StringBuilder
    while (i > 0) {
      val rem = (i - 1) % 26
      sb.insert(0, ('A' + rem).toChar)
      i = (i - 1) / 26
    }
    sb.toString
  }

  /** Thrown when an xlsx export exceeds the row cap — the format
    * itself tops out at 2^20 rows per sheet, and the writer is
    * driver-streamed by design; large tables belong in the
    * parquet/CSV sinks.
    */
  final case class SizeExceeded(maxRows: Long) extends RuntimeException(
    s"xlsx export exceeds $maxRows rows; xlsx is a driver-sized interchange format — " +
      "use the parquet/CSV sinks for large tables")

  def write(header: Seq[String], rows: Seq[Seq[String]], out: OutputStream): Unit =
    write(header, rows.iterator, out)

  /** Minimal single-sheet xlsx with inlineStr cells — the intake-side
    * fixture/export utility (drives the reader's spec + gate query);
    * not a distributed sink (the format itself is single-file). Rows
    * stream straight into the zip entry, so memory is one row, not
    * the sheet.
    */
  def write(header: Seq[String], rows: Iterator[Seq[String]], out: OutputStream): Unit = {
    val z = new ZipOutputStream(out)
    def entry(name: String, content: String): Unit = {
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    entry("[Content_Types].xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
        |</Types>""".stripMargin)
    entry("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin)
    entry("xl/workbook.xml",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<workbook xmlns="$MainNs" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
         |<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
         |</workbook>""".stripMargin)
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin)
    z.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
    def emit(s: String): Unit = z.write(s.getBytes("UTF-8"))
    emit(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n<worksheet xmlns="$MainNs"><sheetData>""")
    var ri = 0
    (Iterator.single(header) ++ rows).foreach { row =>
      val sb = new StringBuilder
      sb ++= s"""<row r="${ri + 1}">"""
      row.zipWithIndex.foreach { case (v, ci) =>
        if (v != null && v.nonEmpty)
          sb ++= s"""<c r="${colName(ci)}${ri + 1}" t="inlineStr"><is><t>${xmlEscape(v)}</t></is></c>"""
      }
      sb ++= "</row>"
      emit(sb.toString)
      ri += 1
    }
    emit("</sheetData></worksheet>")
    z.closeEntry()
    z.finish()
  }

  /** Write to any Hadoop URI. Streams partition by partition through
    * `toLocalIterator` — the driver holds one partition, never the
    * table — and a hard row guard throws [[SizeExceeded]] (deleting
    * the partial file) instead of letting a caller point this at
    * `lineitem` and OOM the driver. Default cap = the sheet format's
    * own 2^20-row limit.
    */
  def writeTable(spark: SparkSession, df: DataFrame, path: String,
                 maxRows: Long = 1048575): Unit = {
    import scala.jdk.CollectionConverters._
    val header = df.columns.toSeq
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    var n = 0L
    val guarded = df.toLocalIterator().asScala.map { r =>
      n += 1
      if (n > maxRows) throw SizeExceeded(maxRows)
      r.toSeq.map(v => if (v == null) "" else v.toString)
    }
    // close exactly once, then delete the partial file on failure —
    // a double close (or a close() that itself throws mid-flush)
    // must never mask the typed SizeExceeded or skip the cleanup
    var failed: Throwable = null
    try write(header, guarded, out)
    catch { case e: Throwable => failed = e }
    finally {
      try out.close()
      catch { case e: Throwable => if (failed == null) failed = e }
    }
    if (failed != null) {
      try fs.delete(p, false)
      catch { case _: Throwable => () }
      throw failed
    }
  }
}
