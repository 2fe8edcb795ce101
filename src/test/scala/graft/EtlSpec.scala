package graft

import java.nio.file.Files
import graft.etl.{Normalize, Validation}
import graft.sources.{Intake, SniffCsv}

class EtlSpec extends GraftSuite {
  import spark.implicits._

  private def writeTemp(name: String, bytes: Array[Byte]): String = {
    val d = Files.createTempDirectory("graft_etl").toFile
    val f = new java.io.File(d, name)
    Files.write(f.toPath, bytes)
    f.getAbsolutePath
  }

  test("SniffCsv detects each candidate delimiter") {
    for (d <- Seq(",", ";", "\t", "|")) {
      val csv = s"a${d}b${d}c\n1${d}2${d}3\n4${d}5${d}6\n"
      val p = writeTemp("t.csv", csv.getBytes("UTF-8"))
      val df = SniffCsv.read(spark, p)
      assert(df.columns.toSeq == Seq("a", "b", "c"), s"delimiter '$d'")
      assert(df.count() == 2)
    }
  }

  test("SniffCsv falls back to latin-1 on invalid UTF-8") {
    val content = "name,city\nJosé,París\n".getBytes("ISO-8859-1")
    assert(SniffCsv.sniffCharset(content) == "ISO-8859-1")
    val p = writeTemp("l1.csv", content)
    val rows = SniffCsv.read(spark, p).collect()
    assert(rows.head.getString(0) == "José")
  }

  test("SniffCsv strips a UTF-8 BOM from the header") {
    val bom = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte)
    val p = writeTemp("bom.csv", bom ++ "h1,h2\nx,y\n".getBytes("UTF-8"))
    val df = SniffCsv.read(spark, p)
    assert(df.columns.toSeq == Seq("h1", "h2"))
  }

  test("SniffCsv header names match Spark's header inference, canonical CSV included") {
    val bom = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte)
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    val cases: Seq[(String, Array[Byte])] = Seq(
      "quoted delimiter" -> "\"last, first\",age\nsmith,1\n".getBytes("UTF-8"),
      "doubled quote" -> "\"she said \"\"hi\"\"\",x\n1,2\n".getBytes("UTF-8"),
      "backslash escape" -> "\"a\\\"b\",c\n1,2\n".getBytes("UTF-8"),
      "utf-8 bom" -> (bom ++ "h1,h2\nx,y\n".getBytes("UTF-8")),
      "bom, quoted first name" -> (bom ++ "\"h,1\",h2\nx,y\n".getBytes("UTF-8")),
      "latin-1 names" -> "José;Müller;Ærø\n1;2;3\n".getBytes(latin1),
      "bom before latin-1" -> (bom ++ "nom,ville\nJosé,París\n".getBytes(latin1)),
      "blank name" -> "a,,c\n1,2,3\n".getBytes("UTF-8"),
      "case-insensitive duplicates" -> "A,a,b\n1,2,3\n".getBytes("UTF-8"),
      "exact duplicates" -> "h|h|h\n1|2|3\n".getBytes("UTF-8"),
      "leading blank lines" -> "\n  \r\nx\ty\n1\t2\n".getBytes("UTF-8"),
      "crlf" -> "p,q\r\n1,2\r\n".getBytes("UTF-8"),
      "no trailing newline" -> "only,header".getBytes("UTF-8"))
    def firstLine(dir: String): String = {
      val part = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-")).head
      scala.io.Source.fromFile(part, "UTF-8").getLines().next()
    }
    def check(label: String, p: String): Unit = {
      val d = SniffCsv.sniff(spark, p)
      // Spark's own header inference with the same dialect, then the
      // BOM strip the reader has always applied
      val inferred = spark.read.option("header", "true")
        .option("delimiter", d.delimiter.toString).option("encoding", d.charset)
        .option("mode", "FAILFAST").csv(p)
      val expected = inferred.columns.headOption match {
        case Some(first) if first.startsWith("\uFEFF") =>
          inferred.withColumnRenamed(first, first.stripPrefix("\uFEFF"))
        case _ => inferred
      }
      val got = SniffCsv.read(spark, p)
      assert(got.columns.toSeq == expected.columns.toSeq, label)
      assert(got.collect().toSeq == expected.collect().toSeq, label)
      val out = Files.createTempDirectory("graft_parity").toString
      Normalize.writeCanonicalCsv(expected, s"$out/expected")
      Normalize.writeCanonicalCsv(got, s"$out/got")
      assert(firstLine(s"$out/got") == firstLine(s"$out/expected"), label)
    }
    cases.foreach { case (label, bytes) => check(label, writeTemp("t.csv", bytes)) }
    // a directory of part files: the etl_csv_roundtrip shape, with the
    // writer's _SUCCESS and .crc files beside the parts
    val dir = Files.createTempDirectory("graft_parts").toString + "/nation"
    Seq((0, "ALGERIA; NORTH", 0), (1, "ARGENTINA", 1), (2, "BRAZIL", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey").repartition(2)
      .write.option("header", "true").option("delimiter", ";").csv(dir)
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".crc")))
    check("part files", dir)
  }

  test("SniffCsv reads a header wider than the 4 KiB sample whole") {
    val names = (1 to 600).map(i => f"column_$i%04d")
    val header = names.mkString(",")
    assert(header.length > 4096)
    val p = writeTemp("wide.csv", (header + "\n" + names.indices.mkString(",") + "\n").getBytes("UTF-8"))
    val d = SniffCsv.sniff(spark, p)
    assert(d.delimiter == ',' && d.rawHeader.length == 600 && d.rawHeader.sameElements(names))
    val df = SniffCsv.read(spark, p)
    assert(df.columns.toSeq == names)
    assert(df.collect().head.getString(599) == "599")
  }

  test("Intake dispatches by extension; unknown formats are typed errors") {
    val p = writeTemp("a.csv", "x,y\n1,2\n".getBytes("UTF-8"))
    assert(Intake.read(spark, p).count() == 1)
    val bos = new java.io.ByteArrayOutputStream()
    graft.sources.Xlsx.write(Seq("x", "y"), Seq(Seq("1", "2")), bos)
    val x = writeTemp("a.xlsx", bos.toByteArray)
    assert(Intake.read(spark, x).count() == 1)
    intercept[Intake.UnsupportedFormat](Intake.read(spark, "/tmp/nope.pdf"))
  }

  test("Validation.annotate flags failing rules only") {
    val df = Seq((1, -5.0), (2, 10.0)).toDF("id", "bal")
    val out = Validation.annotate(df, Seq(
        Validation.Rule("neg", $"bal" < 0), Validation.Rule("big", $"bal" > 100)))
      .collect().map(r => r.getInt(0) -> (r.getString(2), r.getBoolean(3))).toMap
    assert(out(1) == ("neg", false))
    assert(out(2) == ("", true))
  }

  test("Validation.tableSummary detects blank and duplicate headers") {
    val dup = Seq((1, 2)).toDF("x", "x")
    val r = Validation.tableSummary(dup, "t").collect().head
    assert(r.getAs[Boolean]("dup_headers"))
    val blank = Seq((1, 2)).toDF("x", " ")
    assert(Validation.tableSummary(blank, "t").collect().head.getAs[Boolean]("blank_headers"))
  }

  test("fileSizeOk gates on byte size like the reference max_file_mb") {
    val p = writeTemp("sized.csv", ("x," * 1000 + "\n").getBytes("UTF-8"))
    assert(Validation.fileSizeOk(spark, p, maxMb = 1))
    assert(!Validation.fileSizeOk(spark, p, maxMb = 0))
  }

  test("Normalize.allString: nulls to empty, everything string, trimmed") {
    val df = Seq((Some(1), Some(" a ")), (None, None)).toDF("n", "s")
    val rows = Normalize.allString(df).collect()
    assert(rows.map(_.getString(0)).toSet == Set("1", ""))
    assert(rows.map(_.getString(1)).toSet == Set("a", ""))
  }

  test("Normalize canonical CSV sink round-trips (s3a-shaped API on file://)") {
    val out = Files.createTempDirectory("graft_sink").toString + "/out"
    Normalize.writeCanonicalCsv(Seq((1, "x y"), (2, "z")).toDF("id", "v"), out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 2 && back.columns.toSeq == Seq("id", "v"))
  }

  test("latest-wins upsert: updates override, new keys insert, version wins") {
    val base = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "ver")
    val updates = Seq((2L, "b2", 2L), (3L, "c", 1L)).toDF("k", "v", "ver")
    val merged = graft.etl.Upsert.latestWins(base, updates, Seq("k"), $"ver")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    // same version: the update side wins the tie
    val tied = graft.etl.Upsert.latestWins(base, Seq((1L, "a9", 1L)).toDF("k", "v", "ver"),
      Seq("k"), $"ver").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tied(1L) == "a9")
  }

  test("session prefix matches the reference uploads/{ts}_{id8} shape") {
    val p = graft.etl.Manifest.sessionPrefix("20260812_054512", "a1b2c3d4")
    assert(p == "uploads/20260812_054512_a1b2c3d4")
  }

  test("sanitize matches the reference charset rule") {
    val got = Seq("a b/c@d", "ok_name-1.txt").toDF("s")
      .select(Normalize.sanitize($"s")).as[String].collect()
    assert(got.toSeq == Seq("a_b_c_d", "ok_name-1.txt"))
  }
}
