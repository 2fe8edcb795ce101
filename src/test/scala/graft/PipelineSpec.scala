package graft

import graft.etl.{GraftConfig, Pipeline}
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, atomic}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.jdk.CollectionConverters._

/** End-to-end reference-workflow parity: mixed-quality upload batch →
  * validated, normalized outputs + manifest under an isolated session
  * prefix (reference `new_session_prefix`, streamlit_app.py:92-94).
  */
class PipelineSpec extends GraftSuite {
  import spark.implicits._

  test("ingest validates, normalizes and manifests a mixed upload batch") {
    val in = Files.createTempDirectory("graft_in").toFile
    val out = Files.createTempDirectory("graft_out").toString + "/session"
    def put(name: String, content: String): Unit =
      Files.write(new java.io.File(in, name).toPath, content.getBytes("UTF-8"))

    put("good_comma.csv", "a,b\n1,2\n3,4\n")
    put("good semi.csv", "x;y;z\n5;6;7\n")
    put("dup_headers.csv", "h,h\n1,2\n")
    put("quoted header.csv", "\"last, first\",age\nsmith,1\n")
    put("ragged.csv", "a,b\n1,2\n3,4,5\n")
    put("sheet.xlsx", "not really xlsx")

    val raw = Pipeline.ingestWith(spark, in.getAbsolutePath,
      graft.etl.GraftConfig(Some(out), 50),
      sessionTs = Some("20260101_000000"), sessionId = Some("abcd1234"),
      clock = () => "2026-01-01T00:00:00Z").collect()
    // per-file upload timestamp from the injected clock (reference
    // uploaded_at_utc parity)
    assert(raw.forall(_.getAs[String]("uploaded_at_utc") == "2026-01-01T00:00:00Z"))
    val manifest = raw.map(r => r.getAs[String]("file") ->
        (r.getAs[Boolean]("accepted"), r.getAs[Long]("rows"), r.getAs[Seq[String]]("issues")))
      .toMap

    assert(manifest("good_comma.csv")._1 && manifest("good_comma.csv")._2 == 2)
    assert(manifest("good semi.csv")._1 && manifest("good semi.csv")._2 == 1)
    assert(!manifest("dup_headers.csv")._1 &&
      manifest("dup_headers.csv")._3.exists(_.contains("Duplicate")))
    // quote-aware raw-header parsing: "last, first" is ONE header, not
    // a blank/duplicate pair
    assert(manifest("quoted header.csv")._1,
      s"quoted header rejected: ${manifest("quoted header.csv")._3}")
    // reference on_bad_lines="error" parity: one ragged row rejects
    // the whole file (FAILFAST, not PERMISSIVE null-padding)
    assert(!manifest("ragged.csv")._1 &&
      manifest("ragged.csv")._3.exists(_.startsWith("Failed to parse file")),
      s"ragged CSV not rejected: ${manifest("ragged.csv")._3}")
    assert(!manifest("sheet.xlsx")._1)

    // accepted files landed as canonical CSV under the session prefix
    val session = s"$out/uploads/20260101_000000_abcd1234"
    val back = spark.read.option("header", "true").csv(s"$session/good_comma")
    assert(back.count() == 2 && back.columns.toSeq == Seq("a", "b"))
    assert(new java.io.File(s"$session/good_semi").exists())
    // manifest written as JSON inside the session prefix
    assert(spark.read.json(s"$session/manifest").count() == 6)
  }

  test("sink preflight: typed ok/unavailable instead of raw stack traces") {
    val tmp = Files.createTempDirectory("graft_sink").toString
    val ok = Pipeline.checkSink(spark, GraftConfig(Some(tmp), 50))
    assert(ok.ok, ok.detail)
    // the probe must clean its marker up
    assert(!new java.io.File(tmp, ".graft_preflight").exists())
    val offline = Pipeline.checkSink(spark, GraftConfig(None, 50))
    assert(!offline.ok && offline.detail.contains("offline"))
    val bogus = Pipeline.checkSink(spark, GraftConfig(Some("nosuchscheme://bucket/x"), 50))
    assert(!bogus.ok, "bogus scheme reported reachable")
    assert(!bogus.detail.contains("\tat "), s"stack trace leaked: ${bogus.detail}")
  }

  test("tolerant config: offline mode validates without writing; allowXlsx gates uploads") {
    // missing / blank / malformed settings degrade, never throw
    assert(GraftConfig.load(Map.empty) == GraftConfig(None, 50, allowXlsx = true))
    assert(GraftConfig.load(Map(
      GraftConfig.SinkKey -> "  ", GraftConfig.MaxFileMbKey -> "not-a-number",
      GraftConfig.AllowXlsxKey -> "false")) == GraftConfig(None, 50, allowXlsx = false))

    val in = Files.createTempDirectory("graft_in3").toFile
    val out = Files.createTempDirectory("graft_out3").toString + "/never_created"
    Files.write(new java.io.File(in, "good.csv").toPath, "a,b\n1,2\n".getBytes("UTF-8"))
    Files.write(new java.io.File(in, "bad.csv").toPath, "h,h\n1,2\n".getBytes("UTF-8"))
    val bos = new java.io.ByteArrayOutputStream()
    graft.sources.Xlsx.write(Seq("x"), Seq(Seq("1")), bos)
    Files.write(new java.io.File(in, "sheet.xlsx").toPath, bos.toByteArray)

    // offline + xlsx disabled: full validation, zero writes
    val manifest = Pipeline.ingestWith(spark, in.getAbsolutePath,
      GraftConfig(sinkUri = None, allowXlsx = false))
      .collect().map(r => r.getAs[String]("file") ->
        (r.getAs[Boolean]("accepted"), r.getAs[String]("dest"), r.getAs[Seq[String]]("issues")))
      .toMap
    assert(manifest("good.csv")._1 && manifest("good.csv")._2 == "")
    assert(!manifest("bad.csv")._1 && manifest("bad.csv")._3.exists(_.contains("Duplicate")))
    assert(!manifest("sheet.xlsx")._1 &&
      manifest("sheet.xlsx")._3.exists(_.contains("disabled")))
    assert(!new java.io.File(out).exists(), "offline mode must not write anywhere")

    // same batch with a sink configured: the xlsx is accepted again
    val online = Pipeline.ingestWith(spark, in.getAbsolutePath,
      GraftConfig(sinkUri = Some(out)),
      sessionTs = Some("20260101_000000"), sessionId = Some("cafe0123"))
      .collect().map(r => r.getAs[String]("file") -> r.getAs[Boolean]("accepted")).toMap
    assert(online("good.csv") && online("sheet.xlsx") && !online("bad.csv"))
    assert(new java.io.File(s"$out/uploads/20260101_000000_cafe0123/good").exists())
  }

  test("two ingest runs into the same outDir never collide") {
    val in = Files.createTempDirectory("graft_in2").toFile
    val out = Files.createTempDirectory("graft_out2").toString + "/session"
    Files.write(new java.io.File(in, "t.csv").toPath, "a,b\n1,2\n".getBytes("UTF-8"))

    Pipeline.ingest(spark, in.getAbsolutePath, out,
      sessionTs = Some("20260101_000000"), sessionId = Some("aaaaaaaa"))
    Pipeline.ingest(spark, in.getAbsolutePath, out,
      sessionTs = Some("20260101_000000"), sessionId = Some("bbbbbbbb"))

    val a = s"$out/uploads/20260101_000000_aaaaaaaa/t"
    val b = s"$out/uploads/20260101_000000_bbbbbbbb/t"
    assert(new java.io.File(a).exists() && new java.io.File(b).exists())
    assert(spark.read.option("header", "true").csv(a).count() == 1)
    assert(spark.read.option("header", "true").csv(b).count() == 1)
  }

  private def dropOf(files: (String, Array[Byte])*): String = {
    val in = Files.createTempDirectory("graft_drop").toFile
    files.foreach { case (name, b) => Files.write(new java.io.File(in, name).toPath, b) }
    in.getAbsolutePath
  }

  private def xlsx(header: Seq[String], rows: Seq[Seq[String]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    graft.sources.Xlsx.write(header, rows, bos)
    bos.toByteArray
  }

  /** No ingest pool thread outlives its call (a finished thread may
    * take a moment to leave the live set).
    */
  private def assertNoIngestThreads(): Unit = {
    def live = Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.isAlive && t.getName.startsWith(Pipeline.IngestThreadName))
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (live.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(live.isEmpty, live.map(_.getName))
  }

  test("concurrent ingest: manifest in file order, every malformed class keeps its issue") {
    // the largest file sorts first, so files finish out of name order
    val big = ("id,v\n" + (1 to 30000).map(i => s"$i,value_$i").mkString("\n") + "\n").getBytes("UTF-8")
    val in = dropOf(
      "a_large.csv" -> big,
      "b_empty.csv" -> Array.emptyByteArray,
      "c_header_only.csv" -> "a,b\n".getBytes("UTF-8"),
      "d_blank_header.csv" -> "a,,c\n1,2,3\n".getBytes("UTF-8"),
      "e_dup_header.csv" -> "h;h\n1;2\n".getBytes("UTF-8"),
      "f_ragged.csv" -> "a,b\n1,2\n3,4,5\n".getBytes("UTF-8"),
      "g_over_cap.csv" -> ("x,y\n" + "1,2\n" * 300000).getBytes("UTF-8"),
      "h_sheet.xlsx" -> xlsx(Seq("x"), Seq(Seq("1"))),
      "i_good.csv" -> "k|v\n1|a\n2|b\n".getBytes("UTF-8"))
    val out = Files.createTempDirectory("graft_conc").toString
    val finished = new atomic.AtomicInteger()
    val raw = Pipeline.ingestWith(spark, in, GraftConfig(Some(out), 1, allowXlsx = false),
      sessionTs = Some("20260101_000000"), sessionId = Some("c0ffee00"),
      clock = () => finished.incrementAndGet().toString).collect()
    val names = raw.map(_.getAs[String]("file")).toSeq
    assert(names == names.sorted && names.length == 9)
    // the clock runs once per file, as each finishes
    assert(raw.map(_.getAs[String]("uploaded_at_utc").toInt).sorted.toSeq == (1 to 9))
    val byFile = raw.map(r => r.getAs[String]("file") ->
      (r.getAs[Boolean]("accepted"), r.getAs[Long]("rows"), r.getAs[Long]("cols"),
        r.getAs[Seq[String]]("issues"))).toMap
    val blank = "One or more column headers are blank."
    val noRows = "No data rows found."
    assert(byFile("a_large.csv") == ((true, 30000L, 2L, Nil)))
    assert(byFile("b_empty.csv") == ((false, 0L, 0L, Seq(blank, noRows))))
    assert(byFile("c_header_only.csv") == ((false, 0L, 2L, Seq(noRows))))
    assert(byFile("d_blank_header.csv") == ((false, 1L, 3L, Seq(blank))))
    assert(byFile("e_dup_header.csv") == ((false, 1L, 2L, Seq("Duplicate column headers detected."))))
    assert(byFile("f_ragged.csv") == ((false, 0L, 0L, Seq(
      s"Failed to parse file: [FAILED_READ_FILE.NO_HINT] Encountered error while reading file " +
        s"file://$in/f_ragged.csv.  SQLSTATE: KD001"))))
    assert(byFile("g_over_cap.csv") == ((false, 0L, 0L, Seq("File exceeds max size (1 MB)."))))
    assert(byFile("h_sheet.xlsx") == ((false, 0L, 0L, Seq("XLSX uploads are disabled."))))
    assert(byFile("i_good.csv") == ((true, 2L, 2L, Nil)))
    // the sink's manifest is in file order too
    val session = s"$out/uploads/20260101_000000_c0ffee00"
    val sunk = spark.read.json(s"$session/manifest").collect().map(_.getAs[String]("file")).toSeq
    assert(sunk == names)
    assert(spark.read.option("header", "true").csv(s"$session/a_large").count() == 30000)
    assertNoIngestThreads()
  }

  test("files sharing a sanitized destination write in name order, never at once") {
    val in = dropOf(
      "same name.csv" -> "a\n1\n".getBytes("UTF-8"),
      "same_name.csv" -> "b\n2\n3\n".getBytes("UTF-8"),
      "same_name.xlsx" -> xlsx(Seq("c"), Seq(Seq("4"), Seq("5"), Seq("6"))))
    val out = Files.createTempDirectory("graft_same").toString
    val raw = Pipeline.ingestWith(spark, in, GraftConfig(Some(out), 50),
      sessionTs = Some("20260101_000000"), sessionId = Some("5a5e5a5e")).collect()
    assert(raw.forall(_.getAs[Boolean]("accepted")))
    val dest = s"$out/uploads/20260101_000000_5a5e5a5e/same_name"
    assert(raw.map(_.getAs[String]("dest")).toSet == Set(dest))
    // the last file by name wins, as a serial loop leaves it
    val back = spark.read.option("header", "true").csv(dest)
    assert(back.columns.toSeq == Seq("c") && back.count() == 3)
  }

  /** `body`'s result, the job group of every job it starts, in start
    * order, and the bytes its tasks wrote. Listener events arrive in
    * order: once a sentinel job run after `body` is seen, so is every
    * job of `body`.
    */
  private def jobsOf[A](body: => A): (A, Seq[String], Long) = {
    val groups = new ConcurrentLinkedQueue[String]()
    val written = new atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => written.addAndGet(m.outputMetrics.bytesWritten))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val result = try {
      val r = body
      sc.setJobGroup("graft-ingest-sentinel", "sentinel")
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("graft-ingest-sentinel") && System.nanoTime() < deadline) Thread.sleep(20)
      r
    } finally sc.removeSparkListener(listener)
    val seen = groups.asScala.toSeq
    assert(seen.lastOption.contains("graft-ingest-sentinel"), seen)
    (result, seen.dropRight(1), written.get())
  }

  test("a caller's job group tags every job the ingest runs") {
    val in = dropOf(
      "a.csv" -> "a,b\n1,2\n".getBytes("UTF-8"),
      "b.csv" -> "c;d\n3;4\n".getBytes("UTF-8"),
      "c.csv" -> "e,e\n5,6\n".getBytes("UTF-8"),
      "d.xlsx" -> xlsx(Seq("x"), Seq(Seq("1"))))
    val out = Files.createTempDirectory("graft_tag").toString
    val sc = spark.sparkContext
    val (_, ingest, _) = jobsOf {
      sc.setJobGroup("graft-ingest-tag", "ingest under a caller's group")
      try Pipeline.ingestWith(spark, in, GraftConfig(Some(out), 50)).collect()
      finally sc.clearJobGroup()
    }
    // one job per parsed file, the rejected c.csv included; none for
    // the manifest
    assert(ingest == Seq.fill(4)("graft-ingest-tag"), ingest)
  }

  test("a rejected later file never clears the shared destination of an accepted earlier one") {
    Seq("ragged" -> "x,y\n1,2\n3,4,5\n", "header-only" -> "x,y\n").foreach { case (kind, later) =>
      val in = dropOf(
        "same name.csv" -> "a\n1\n".getBytes("UTF-8"),
        "same_name.csv" -> later.getBytes("UTF-8"))
      val out = Files.createTempDirectory("graft_keep").toString
      val raw = Pipeline.ingestWith(spark, in, GraftConfig(Some(out), 50),
        sessionTs = Some("20260101_000000"), sessionId = Some("4ee94ee9")).collect()
      val session = s"$out/uploads/20260101_000000_4ee94ee9"
      val dest = s"$session/same_name"
      val m = raw.map(r => r.getAs[String]("file") -> (r.getAs[Boolean]("accepted"), r.getAs[String]("dest"))).toMap
      assert(m == Map("same name.csv" -> (true, dest), "same_name.csv" -> (false, "")), kind)
      val back = spark.read.option("header", "true").csv(dest)
      assert(back.columns.toSeq == Seq("a") && back.as[String].collect().toSeq == Seq("1"), kind)
      val sunk = spark.read.json(s"$session/manifest").collect()
        .map(r => r.getAs[String]("file") -> (r.getAs[Boolean]("accepted"), r.getAs[String]("dest"))).toMap
      assert(sunk == m, kind)
    }
  }

  test("the driver-written manifest matches Spark's JSON writer byte for byte") {
    // non-ASCII rides in the clock's value: a JVM under the C locale
    // cannot name a file outside ASCII
    val in = dropOf(
      "Zurich \"q\".csv" -> "a,b\n1,2\n".getBytes("UTF-8"),
      "back\\slash.csv" -> "c\n3\n".getBytes("UTF-8"),
      "dup.csv" -> "h,h\n1,2\n".getBytes("UTF-8"))
    val out = Files.createTempDirectory("graft_json").toString
    // the first file to finish gets a null stamp, which Spark's writer
    // leaves out of its line
    val stamps = new atomic.AtomicInteger()
    val m = Pipeline.ingestWith(spark, in, GraftConfig(Some(out), 50),
      sessionTs = Some("20260101_000000"), sessionId = Some("15015015"),
      clock = () => if (stamps.getAndIncrement() == 0) null else "Z\u00fcrich \u6771\u4eac \ud83d\ude00 \"q\" \\ \t")
    val ours = s"$out/uploads/20260101_000000_15015015/manifest"
    val theirs = s"$out/spark_manifest"
    graft.etl.Manifest.writeJson(
      m.select("file", "dest", "rows", "cols", "accepted", "uploaded_at_utc"), theirs)
    def part(dir: String): Array[Byte] = {
      val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.length == 1, parts.toSeq)
      Files.readAllBytes(parts.head.toPath)
    }
    val text = new String(part(ours), "UTF-8")
    assert(part(ours).sameElements(part(theirs)), (text, new String(part(theirs), "UTF-8")))
    // the awkward values are really in it: raw UTF-8, escaped quote,
    // backslash and tab, and the rejected file's empty dest
    assert(text.contains("\"file\":\"Zurich \\\"q\\\".csv\""), text)
    assert(text.contains("\"file\":\"back\\\\slash.csv\""), text)
    assert(text.contains("\"uploaded_at_utc\":\"Z\u00fcrich \u6771\u4eac \ud83d\ude00 \\\"q\\\" \\\\ \\t\""), text)
    assert(text.contains("\"file\":\"dup.csv\",\"dest\":\"\""), text)
    assert(text.split('\n').count(!_.contains("uploaded_at_utc")) == 1, text)
    assert(new java.io.File(ours, "_SUCCESS").isFile)
    val (a, b) = (spark.read.json(ours), spark.read.json(theirs))
    assert(a.columns.toSeq == b.columns.toSeq)
    assert(a.collect().toSeq == b.collect().toSeq && a.count() == 3)
  }

  test("offline mode parses, counts and rejects as with a sink, one job per parsed file") {
    val in = dropOf(
      "good.csv" -> "a,b\n1,2\n".getBytes("UTF-8"),
      "header_only.csv" -> "a,b\n".getBytes("UTF-8"),
      "ragged.csv" -> "a,b\n1,2\n3,4,5\n".getBytes("UTF-8"),
      "dup_ragged.csv" -> ("h,h\n" + "1,2\n" * 3 + "3,4,5\n").getBytes("UTF-8"),
      "empty_sheet.xlsx" -> xlsx(Seq("x"), Nil))
    def run(cfg: GraftConfig) = Pipeline.ingestWith(spark, in, cfg,
        sessionTs = Some("20260101_000000"), sessionId = Some("0ff11e00")).collect()
      .map(r => r.getAs[String]("file") ->
        (r.getAs[Boolean]("accepted"), r.getAs[Long]("rows"), r.getAs[Long]("cols"), r.getAs[Seq[String]]("issues")))
      .toMap
    val (offline, offlineJobs, offlineBytes) = jobsOf(run(GraftConfig(None, 50)))
    val out = Files.createTempDirectory("graft_offline").toString
    val (online, onlineJobs, onlineBytes) = jobsOf(run(GraftConfig(Some(out), 50)))
    assert(offlineJobs.length == 5 && onlineJobs.length == 5, (offlineJobs, onlineJobs))
    assert(offlineBytes == 0L && onlineBytes > 0L, (offlineBytes, onlineBytes))
    assert(new java.io.File(in).list().length == 5)
    assert(offline == online)
    val failed = s"Failed to parse file: [FAILED_READ_FILE.NO_HINT] Encountered error while reading file "
    assert(offline("ragged.csv") == ((false, 0L, 0L, Seq(s"${failed}file://$in/ragged.csv.  SQLSTATE: KD001"))))
    assert(offline("dup_ragged.csv") == ((false, 0L, 0L, Seq("Duplicate column headers detected.",
      s"${failed}file://$in/dup_ragged.csv.  SQLSTATE: KD001"))))
    assert(offline("header_only.csv") == ((false, 0L, 2L, Seq("No data rows found."))))
    assert(offline("empty_sheet.xlsx") == ((false, 0L, 1L, Seq("No data rows found."))))
    assert(offline("good.csv") == ((true, 1L, 2L, Nil)))
  }

  test("an ingest leaves nothing persisted, no rejected destination and no manifest temp file") {
    val in = dropOf(
      "good.csv" -> "a,b\n1,2\n".getBytes("UTF-8"),
      "ragged.csv" -> "a,b\n1,2\n3,4,5\n".getBytes("UTF-8"),
      "header_only.csv" -> "a,b\n".getBytes("UTF-8"),
      "blank_header.csv" -> "a,,c\n1,2,3\n".getBytes("UTF-8"))
    val out = Files.createTempDirectory("graft_clean").toString
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    val raw = Pipeline.ingestWith(spark, in, GraftConfig(Some(out), 50),
      sessionTs = Some("20260101_000000"), sessionId = Some("c1ea0c1e")).collect()
    assert(raw.map(r => r.getAs[String]("file") -> r.getAs[Boolean]("accepted")).toMap ==
      Map("good.csv" -> true, "ragged.csv" -> false, "header_only.csv" -> false, "blank_header.csv" -> false))
    assert(sc.getPersistentRDDs.keySet == persisted, sc.getPersistentRDDs)
    val session = new java.io.File(s"$out/uploads/20260101_000000_c1ea0c1e")
    assert(session.list().sorted.toSeq == Seq("good", "manifest"))
    val manifest = new java.io.File(session, "manifest").list().filterNot(_.startsWith(".")).sorted.toSeq
    assert(manifest == Seq("_SUCCESS", "part-00000.json"), manifest)
  }

  test("an exception escaping a file's body reaches the caller as itself") {
    graft.testfs.UnreadableSimFileSystem.register(spark)
    val in = dropOf(
      "good.csv" -> "a,b\n1,2\n".getBytes("UTF-8"),
      "unreadable.csv" -> "a,b\n1,2\n".getBytes("UTF-8"),
      "zz.csv" -> "c,d\n3,4\n".getBytes("UTF-8"))
    val out = Files.createTempDirectory("graft_fail").toString
    val e = intercept[java.nio.file.AccessDeniedException] {
      Pipeline.ingestWith(spark, "unreadsim://" + in, GraftConfig(Some(out), 50))
    }
    assert(e.getMessage.endsWith("unreadable.csv"))
    assertNoIngestThreads()
  }

  test("a header wider than the 4 KiB sample is checked whole") {
    // 584 names of 6 bytes and a 7-byte first name put a delimiter at
    // byte 4095: a header cut at 4 KiB would end in a blank name
    val names = "xc00001" +: (2 to 600).map(i => f"c$i%05d")
    assert(names.mkString(",").charAt(4095) == ',')
    val row = names.indices.mkString(",")
    val dup = names.init :+ "xc00001"
    val in = dropOf(
      "wide.csv" -> s"${names.mkString(",")}\n$row\n".getBytes("UTF-8"),
      "wide_dup.csv" -> s"${dup.mkString(",")}\n$row\n".getBytes("UTF-8"))
    val m = Pipeline.ingestWith(spark, in, GraftConfig(None, 50)).collect()
      .map(r => r.getAs[String]("file") ->
        (r.getAs[Boolean]("accepted"), r.getAs[Long]("cols"), r.getAs[Seq[String]]("issues"))).toMap
    assert(m("wide.csv") == ((true, 600L, Nil)))
    assert(m("wide_dup.csv") == ((false, 600L, Seq("Duplicate column headers detected."))))
  }
}
