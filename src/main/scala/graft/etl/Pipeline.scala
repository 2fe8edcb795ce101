package graft.etl

import graft.GraftSession
import graft.sources.{Intake, SniffCsv}
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import scala.jdk.CollectionConverters._

/** The reference's whole intake workflow as one callable (SURVEY.md
  * §2.1): enumerate uploads → per-file size + structural validation →
  * canonical-CSV normalization into a session prefix → manifest
  * (streamlit_app.py:215-330 end to end).
  *
  * Files run concurrently on a bounded driver pool of
  * `min(files, GraftSession.cores)` threads, so a session's intake
  * time tracks its slowest file rather than the sum of its files. Each
  * parsed file costs one distributed Spark job, which parses it in
  * full, counts its rows and writes its canonical CSV, so a 100-file ×
  * 1 TB-each drop ingests with full cluster parallelism per file. The
  * manifest is written from the driver, with no job, and lists files in
  * name order whatever order they finish in.
  */
object Pipeline {

  final case class FileResult(
      file: String, dest: String, rows: Long, cols: Long,
      issues: Seq[String], accepted: Boolean, uploaded_at_utc: String)

  /** Typed sink reachability: ok or an actionable reason. */
  final case class SinkCheck(ok: Boolean, detail: String)

  /** Preflight the configured sink — the reference's "test S3
    * connection" action with `explain_boto_error`'s
    * provider-error → actionable-message mapping
    * (streamlit_app.py:119-130, 220-228). Writes, reads back and
    * deletes a marker object under the prefix, so every failure a
    * real ingest would hit mid-write (bad URI, unreachable endpoint,
    * no permission) surfaces up front as a typed message instead of
    * a raw Hadoop stack trace.
    */
  def checkSink(spark: SparkSession, cfg: GraftConfig): SinkCheck =
    cfg.sinkUri match {
      case None => SinkCheck(ok = false, "No sink configured (offline mode) — validation runs, nothing is written.")
      case Some(uri) =>
        val marker = new Path(s"$uri/.graft_preflight")
        try {
          val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val out = fs.create(marker, true)
          try out.write("graft".getBytes("UTF-8")) finally out.close()
          val in = fs.open(marker)
          val ok = try { val b = new Array[Byte](5); in.readFully(b); new String(b, "UTF-8") == "graft" }
          finally in.close()
          fs.delete(marker, false)
          if (ok) SinkCheck(ok = true, s"Sink reachable and writable: $uri")
          else SinkCheck(ok = false, s"Sink readback mismatch at $uri — storage may be corrupting writes.")
        } catch {
          case e: java.net.UnknownHostException =>
            SinkCheck(ok = false, s"Sink endpoint unreachable (${e.getMessage}) — check the URI host/region.")
          case e: org.apache.hadoop.security.AccessControlException =>
            SinkCheck(ok = false, s"Access denied to $uri (${e.getMessage}) — check credentials/policy.")
          case _: java.io.FileNotFoundException | _: IllegalArgumentException =>
            SinkCheck(ok = false, s"Sink URI invalid or bucket/path missing: $uri.")
          case e: java.io.IOException =>
            SinkCheck(ok = false, s"Sink I/O failed for $uri: ${e.getMessage}.")
          // object-store connectors throw RuntimeExceptions for
          // credential/endpoint misconfiguration — the probe exists
          // precisely to translate those, so never let one escape
          case scala.util.control.NonFatal(e) =>
            SinkCheck(ok = false,
              s"Sink probe failed for $uri (${e.getClass.getSimpleName}: ${e.getMessage}).")
        }
    }

  /** `uploads/{YYYYMMDD_HHMMSS}_{uuid8}` — the reference's per-session
    * object prefix (`new_session_prefix`, streamlit_app.py:92-94), so
    * two ingest runs into the same `outDir` can never collide or
    * overwrite each other. `ts`/`id` injectable for deterministic tests.
    */
  def sessionPrefix(outDir: String,
                    ts: Option[String] = None, id: Option[String] = None): String = {
    val t = ts.getOrElse(
      java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")))
    val u = id.getOrElse(java.util.UUID.randomUUID.toString.replace("-", "").take(8))
    s"$outDir/uploads/${t}_$u"
  }

  def ingest(spark: SparkSession, inDir: String, outDir: String,
             maxFileMb: Int = 50,
             sessionTs: Option[String] = None,
             sessionId: Option[String] = None): DataFrame =
    ingestWith(spark, inDir, GraftConfig(Some(outDir), maxFileMb), sessionTs, sessionId)

  /** Config-driven intake. OFFLINE mode (no sink configured) still
    * runs every size/structural validation and returns the manifest —
    * the reference's validate-even-when-S3-is-unavailable contract
    * (load_cfg + offline ZIP, streamlit_app.py:37-50,333) — it just
    * writes nothing; `allowXlsx=false` rejects .xlsx uploads with a
    * typed issue like the reference's feature gate. `clock` stamps
    * each file's `uploaded_at_utc`; it is called from the pool threads
    * as each file finishes, so it must be thread-safe.
    */
  def ingestWith(spark: SparkSession, inDir: String, cfg: GraftConfig,
                 sessionTs: Option[String] = None,
                 sessionId: Option[String] = None,
                 clock: () => String = () => java.time.Instant.now().toString): DataFrame = {
    import spark.implicits._
    val session = cfg.sinkUri.map(out => sessionPrefix(out, sessionTs, sessionId))
    val inPath = new Path(inDir)
    val fs = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(inPath).filter(_.isFile).map(_.getPath)
      .filter(p => p.getName.toLowerCase.endsWith(".csv") ||
        p.getName.toLowerCase.endsWith(".xlsx"))
      .sortBy(_.getName)

    // Files whose names sanitize to one destination share a task, so
    // two writes never race on one directory. An overwrite clears its
    // destination before its job runs, so the group runs from its last
    // name back and only files until the first accepted one write: the
    // last accepted file by name owns the destination, as a loop in
    // name order would leave it, and no earlier file can clear it.
    val tasks = files.toSeq.groupBy(destName).values.toSeq.map { group =>
      (() => group.reverse.foldLeft(List.empty[FileResult]) { (later, p) =>
        val dest = session.map(s => s"$s/${destName(p)}")
        ingestFile(spark, p, cfg, dest, write = !later.exists(_.accepted), clock) :: later
      }): Callable[Seq[FileResult]]
    }
    // A pool per call: its threads are created by the caller, so they
    // inherit the caller's Spark local properties (job group,
    // description, scheduler pool) — a long-lived pool would carry
    // whatever its threads were created under.
    val threads = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(tasks.size.min(GraftSession.cores).max(1), { (r: Runnable) =>
      val t = new Thread(r, s"$IngestThreadName-${threads.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    val results =
      try pool.invokeAll(tasks.asJava).asScala.toSeq.flatMap { f =>
        try f.get() catch { case e: ExecutionException => throw e.getCause }
      }
      finally {
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      }

    val sorted = results.sortBy(_.file)
    session.foreach { s =>
      Manifest.writeJsonLines(spark.sparkContext.hadoopConfiguration, s"$s/manifest",
        sorted.map(r => Seq("file" -> r.file, "dest" -> r.dest, "rows" -> r.rows, "cols" -> r.cols,
          "accepted" -> r.accepted, "uploaded_at_utc" -> r.uploaded_at_utc)))
    }
    sorted.toDF()
  }

  /** Name prefix of the threads [[ingestWith]] runs files on. */
  private[graft] val IngestThreadName = "graft-ingest"

  private def destName(p: Path): String =
    p.getName.replaceFirst("\\.[^.]+$", "").replaceAll("[^A-Za-z0-9._-]", "_")

  /** One upload end to end: size check → read → header checks → one
    * job that parses the file in full (FAILFAST) and counts its rows as
    * it goes. The job writes the canonical CSV to `dest` when `write` is
    * set and the file passed every check before it; otherwise it writes
    * to the `noop` sink, which still reports rows for offline mode and
    * for files rejected on their headers. A destination left by a
    * failed or empty file is deleted.
    */
  private def ingestFile(spark: SparkSession, p: Path, cfg: GraftConfig,
                         dest: Option[String], write: Boolean, clock: () => String): FileResult = {
    val issues = scala.collection.mutable.ArrayBuffer.empty[String]
    val csv = p.getName.toLowerCase.endsWith(".csv")
    if (!cfg.allowXlsx && !csv)
      issues += "XLSX uploads are disabled."
    if (!Validation.fileSizeOk(spark, p.toString, cfg.maxFileMb))
      issues += s"File exceeds max size (${cfg.maxFileMb} MB)."
    val (rows, cols) =
      if (issues.nonEmpty) (0L, 0L)
      else try {
        // one sniff per CSV gives the dialect, the schema and the raw
        // header: Spark's reader renames duplicate columns on read
        val (d, headers) =
          if (csv) {
            val s = SniffCsv.sniff(spark, p.toString)
            (SniffCsv.read(spark, p.toString, s), s.rawHeader)
          } else {
            val d = Intake.read(spark, p.toString)
            (d, d.columns)
          }
        if (headers.exists(_.trim.isEmpty)) issues += "One or more column headers are blank."
        if (headers.distinct.length != headers.length) issues += "Duplicate column headers detected."
        // The whole-file parse happens even in offline mode: the read
        // is FAILFAST (reference on_bad_lines="error"), and the
        // all-string projection both sinks apply references every
        // column, so CSV column pruning cannot skip the fields that
        // would expose a ragged row. The row count rides on the same
        // job as an observed metric.
        val seen = new Observation()
        val observed = d.observe(seen, count(lit(1)).as("rows"))
        val target = dest.filter(_ => write && issues.isEmpty)
        val n =
          try {
            target match {
              case Some(t) => Normalize.writeCanonicalCsv(observed, t)
              case None => Normalize.allString(observed).write.format("noop").mode("overwrite").save()
            }
            seen.get("rows").asInstanceOf[Long]
          } catch { case e: Exception => target.foreach(delete(spark, _)); throw e }
        if (n == 0L) {
          issues += "No data rows found."
          target.foreach(delete(spark, _))
        }
        (n, d.columns.length.toLong)
      } catch {
        case e: Intake.UnsupportedFormat => issues += e.getMessage; (0L, 0L)
        // a failed write job surfaces the reader's FAILED_READ_FILE
        // error itself, so the issue reads the same with or without a sink
        case e: Exception => issues += s"Failed to parse file: ${e.getMessage}"; (0L, 0L)
      }
    val accepted = issues.isEmpty
    // per-file upload timestamp (reference uploaded_at_utc,
    // streamlit_app.py:308) — clock injectable for deterministic tests
    FileResult(p.getName, if (accepted) dest.getOrElse("") else "",
      rows, cols, issues.toSeq, accepted, clock())
  }

  private def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
