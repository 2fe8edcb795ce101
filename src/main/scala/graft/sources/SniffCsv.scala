package graft.sources

import com.univocity.parsers.csv.CsvParser
import java.nio.charset.{CodingErrorAction, StandardCharsets}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Delimiter/encoding-sniffing CSV source (SURVEY.md §2.1).
  *
  * Re-expresses the reference's `detect_csv_delimiter` (csv.Sniffer
  * over a 4 KiB sample, streamlit_app.py:78) and `bytes_to_text`
  * (utf-8-sig → latin-1 fallback, streamlit_app.py:86) Spark-first:
  * the sniff reads a bounded sample and the header line on the driver
  * (inherently a sample-sized operation), then the actual load is a
  * distributed `spark.read.csv` with the detected dialect and the
  * header's schema — so a 100 TB directory of uniform CSVs still
  * scans fully parallel, and no job runs to infer the schema.
  *
  * Mirrors the reference's `dtype=str`: every column arrives as
  * string; callers cast afterwards (schema-on-read).
  */
object SniffCsv {
  val Candidates: Seq[Char] = Seq(',', ';', '\t', '|')
  private val SampleBytes = 4096
  private val Bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte)

  /** One file's sniff: the dialect and the header line's raw tokens
    * (`None` when the file has no non-blank line).
    */
  final case class Dialect(delimiter: Char, charset: String, header: Option[Array[String]]) {
    /** The header as written — Spark's reader renames duplicate
      * columns, so structural header checks (blank / duplicate names,
      * reference streamlit_app.py:185-189) look at these tokens. A
      * file with no header line reads as one blank name.
      */
    def rawHeader: Array[String] = header.getOrElse(Array(""))
  }

  /** Head bytes of the first data file: `path` itself, or the first
    * non-empty file under it by name, skipping the `_`/`.` files
    * Spark's reader skips. At least the 4 KiB sample, and on to the
    * end of the header line however wide it is.
    */
  private def headBytes(spark: SparkSession, path: String): (Array[Byte], Option[(Int, Int)]) = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file =
      if (fs.getFileStatus(hPath).isDirectory)
        fs.listStatus(hPath)
          .filter(s => s.isFile && s.getLen > 0 && !s.getPath.getName.matches("[_.].*"))
          .map(_.getPath).sortBy(_.getName)
          .headOption.getOrElse(sys.error(s"no data files under $path"))
      else hPath
    val in = fs.open(file)
    try {
      var buf = new Array[Byte](SampleBytes)
      var len = 0
      var eof = false
      while (!eof && (len < SampleBytes || headerLine(buf, len, eof).isEmpty)) {
        if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
        val n = in.read(buf, len, buf.length - len)
        if (n < 0) eof = true else len += n
      }
      (buf.take(len), headerLine(buf, len, eof))
    } finally in.close()
  }

  /** Byte bounds of the header line in `bytes(0, len)`: the first line
    * holding a byte above space after a UTF-8 BOM — Spark's header
    * rule (`line.trim.nonEmpty`) in bytes, exact for UTF-8 and
    * latin-1. Lines end at `\n` or `\r`, as Hadoop's line reader
    * splits them; the last line ends at `len` once input is exhausted.
    */
  private def headerLine(bytes: Array[Byte], len: Int, atEof: Boolean): Option[(Int, Int)] = {
    var start = if (len >= 3 && bytes.take(3).sameElements(Bom)) 3 else 0
    var seen = false
    var i = start
    while (i < len) {
      val b = bytes(i)
      if (b == '\n' || b == '\r') {
        if (seen) return Some((start, i))
        start = i + 1
      } else if ((b & 0xff) > ' ') seen = true
      i += 1
    }
    if (seen && atEof) Some((start, len)) else None
  }

  /** UTF-8 if the sample decodes cleanly, else latin-1 — the
    * reference's fallback chain. Decodes with endOfInput=false so a
    * multi-byte character truncated by the 4 KiB sample boundary
    * reads as underflow, not as malformed input (otherwise any
    * accented character near the boundary would misdetect the whole
    * file as latin-1).
    */
  def sniffCharset(sample: Array[Byte]): String = {
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    val out = java.nio.CharBuffer.allocate(sample.length)
    val res = dec.decode(java.nio.ByteBuffer.wrap(sample), out, false)
    if (res.isError) "ISO-8859-1" else "UTF-8"
  }

  /** Pick the candidate whose per-line count is consistent and maximal
    * across sample lines (csv.Sniffer's core heuristic).
    */
  def sniffDelimiter(sample: String): Char = {
    val lines = sample.split("\r?\n").filter(_.nonEmpty).take(10)
    if (lines.isEmpty) return ','
    val scored = Candidates.map { d =>
      val counts = lines.map(_.count(_ == d))
      val consistent = counts.nonEmpty && counts.forall(_ == counts.head) && counts.head > 0
      (d, consistent, counts.headOption.getOrElse(0))
    }
    scored.filter(_._2).sortBy(-_._3).headOption.map(_._1)
      .getOrElse(scored.sortBy(-_._3).head._1)
  }

  /** One driver read per file: charset and delimiter from the 4 KiB
    * sample, header tokens from the whole header line.
    */
  def sniff(spark: SparkSession, path: String): Dialect = {
    val (bytes, line) = headBytes(spark, path)
    val sample = bytes.take(SampleBytes)
    val charset = sniffCharset(sample)
    val delimiter = sniffDelimiter(new String(sample, charset).stripPrefix("\uFEFF"))
    val header = line.map { case (start, end) =>
      tokenize(new String(bytes, start, end - start, charset), csvOptions(delimiter, charset))
    }
    Dialect(delimiter, charset, header)
  }

  /** [[Dialect.rawHeader]] of `path`. */
  def rawHeader(spark: SparkSession, path: String): Array[String] = sniff(spark, path).rawHeader

  private def readOptions(delimiter: Char, charset: String): Map[String, String] = Map(
    "header" -> "true",
    "delimiter" -> delimiter.toString,
    "encoding" -> charset,
    "inferSchema" -> "false")

  private def csvOptions(delimiter: Char, charset: String): CSVOptions =
    new CSVOptions(readOptions(delimiter, charset), true, "UTC")

  /** One line through the parser Spark's CSV reader uses for rows
    * (univocity with `CSVOptions.asParserSettings`), so quotes,
    * doubled quotes and backslash escapes read as Spark reads them.
    * An empty field is `""`, never null.
    */
  private def tokenize(line: String, opts: CSVOptions): Array[String] =
    Option(new CsvParser(opts.asParserSettings).parseLine(line))
      .getOrElse(Array(""))
      .map(t => if (t == null) "" else t)

  /** The all-string schema Spark's header inference gives: names
    * through Spark's own `CSVUtils.makeSafeHeader` (blank → `_c{i}`,
    * duplicate → `{name}{i}`, case-insensitively unless
    * `spark.sql.caseSensitive`); no header line → no columns.
    */
  private def headerSchema(spark: SparkSession, d: Dialect): StructType = {
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    val opts = csvOptions(d.delimiter, d.charset)
    StructType(d.header.toSeq.flatMap(h =>
      CSVUtils.makeSafeHeader(h, caseSensitive, opts).map(StructField(_, StringType))))
  }

  /** Distributed all-string read with the sniffed dialect and the
    * header-derived schema, so no job runs to infer it.
    *
    * FAILFAST, not Spark's default PERMISSIVE: the reference reads
    * with `on_bad_lines="error"` (streamlit_app.py:169), so a single
    * ragged row rejects the whole file. PERMISSIVE would silently
    * null-pad/truncate malformed rows and accept a file the
    * reference refuses — a fidelity divergence, and at 100 TB a
    * silent data-corruption vector. The throw surfaces at first
    * action; `Pipeline.ingestWith` maps it to the reference's
    * "Failed to parse file" issue.
    */
  def read(spark: SparkSession, path: String): DataFrame = read(spark, path, sniff(spark, path))

  /** [[read]] with a [[sniff]] already made. */
  def read(spark: SparkSession, path: String, d: Dialect): DataFrame =
    spark.read.options(readOptions(d.delimiter, d.charset))
      .schema(headerSchema(spark, d))
      .option("mode", "FAILFAST")
      .csv(path)

  /** Quarantine read — the at-scale complement of [[read]]'s
    * FAILFAST: PERMISSIVE with a `_corrupt` column, so malformed rows
    * land in quarantine WITH their raw line while clean rows flow.
    * The reference (single files, human in the loop) aborts; a
    * 100 TB intake can't let one bad line park a petabyte — it
    * quarantines and accounts. Returns the frame with `_corrupt`
    * (NULL for clean rows); callers split/count. The corrupt column
    * must be materialized in the same projection as the data columns
    * (Spark requires selecting the raw column with the parsed ones).
    */
  def readQuarantine(spark: SparkSession, path: String): DataFrame = {
    val d = sniff(spark, path)
    // the header schema + the corrupt sink — Spark only routes
    // malformed records when the user schema CONTAINS the field.
    // Ragged rows in BOTH directions (token deficit and surplus)
    // quarantine with their raw line (RobustQSpec pins this).
    val schema = StructType(headerSchema(spark, d).fields :+ StructField("_corrupt", StringType))
    spark.read.options(readOptions(d.delimiter, d.charset))
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
  }
}
