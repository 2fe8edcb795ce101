package graftbench

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import graft.etl.{GraftConfig, Manifest, Normalize, Pipeline, Validation}
import graft.operators.CacheLedger
import graft.sources.{Intake, SniffCsv, Xlsx}

/** The benchmark's JVM side. `run.py` generates the inputs, starts this
  * with them, and checks what it leaves behind. One run: build the
  * session, `--warm` untimed warm passes (the first also leaves the
  * outputs `run.py` checks), then `--passes` timed passes over the op
  * list. With `--trace 1`, timed passes alternate between untraced and
  * traced, and the tracer's spans and per-op counters are written out
  * at the end.
  *
  * Usage: Main --workload W --warm N --passes N --trace 0|1 --work DIR --out FILE
  *        [--lake DIR] [--intake DIR --max-file-mb N]
  */
object Main {
  val Workloads: Map[String, Seq[String]] = Map(
    "lake_analytics" -> Seq("q1_pricing_summary", "q5_region_revenue", "q6_forecast_revenue",
      "etl_table_digest", "q_approx_quantile"),
    "training_data" -> Seq("q_label_prop", "text_tfidf"))

  final case class Op(name: String, run: Int => Unit)
  final case class OpTime(name: String, wallS: Double, error: String)

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val passCount = a("passes").toInt
    val traced = a("trace") == "1"
    val work = a("work")
    val result = new java.util.LinkedHashMap[String, Any]()

    // XLSX uploads are written here, before the session exists, so the
    // writer's cost stays out of setup_s
    val g0 = System.nanoTime()
    val sessions = a.get("intake").toSeq.flatMap { dir =>
      new File(dir).listFiles().filter(_.isDirectory).sortBy(_.getName).toSeq
    }
    sessions.foreach(writeXlsx)
    result.put("xlsx_gen_s", (System.nanoTime() - g0) / 1e9)

    val b0 = System.nanoTime()
    val spark = GraftSession.get("graftbench")
    val buildS = (System.nanoTime() - b0) / 1e9
    val ops: Seq[Op] =
      if (workload == "intake_sessions") intakeOps(spark, sessions, work, a("max-file-mb").toInt)
      else Workloads(workload).map(g => gateOp(spark, g, a("lake"), s"$work/out/$g"))

    def pass(p: Int, timer: (String, Int) => (=> Unit) => Double): (Double, Seq[OpTime]) = {
      val t0 = System.nanoTime()
      val times = ops.map { op =>
        var err: String = null
        val s = timer(op.name, p) {
          try op.run(p)
          catch { case NonFatal(e) => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
        }
        OpTime(op.name, s, err)
      }
      if (workload == "intake_sessions" && p != 0) deleteRec(new File(s"$work/sink/p$p"))
      ((System.nanoTime() - t0) / 1e9, times)
    }
    val plain: (String, Int) => (=> Unit) => Double = (_, _) => body => {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    // untimed warm passes 0, -1, …: pass 0 also leaves the outputs the
    // checks read (gate results as parquet, intake sinks)
    val w0 = System.nanoTime()
    val warm = (0 until -a("warm").toInt by -1).map(p => pass(p, plain))
    val warmOps = warm.flatMap(_._2)
    val warmS = (System.nanoTime() - w0) / 1e9
    result.put("build_s", buildS)
    result.put("warm_s", warmS)
    result.put("warm_passes_s", warm.map(_._1).asJava)
    result.put("warm_errors", warmOps.filter(_.error != null).map(o => s"${o.name}: ${o.error}").asJava)

    // traced runs alternate untraced and traced passes, `passes` in all
    // and at least two of each
    val trace = if (traced) Some(new Trace(spark)) else None
    val passes = new java.util.ArrayList[Any]()
    for (p <- 1 to (if (traced) passCount.max(4) else passCount)) {
      val on = trace.filter(_ => p % 2 == 0)
      on.foreach(_.attach())
      val (wall, times) = pass(p, on.map(t => (n: String, q: Int) => t.op(n, q) _).getOrElse(plain))
      on.foreach(_.detach())
      passes.add(Map("pass" -> p, "traced" -> on.isDefined, "wall_s" -> wall,
        "ops" -> times.map(t => Map("name" -> t.name, "wall_s" -> t.wallS, "error" -> t.error).asJava).asJava).asJava)
    }
    result.put("passes", passes)

    if (workload == "intake_sessions") result.put("manifests", manifests(spark, sessions, work))
    else result.put("oracle_sql", Workloads(workload).flatMap(g => SparkEntry.oracleSql.get(g).map(g -> _)).toMap.asJava)

    trace.foreach { t =>
      t.finish()
      result.put("ops", t.ops.map(opJson).asJava)
      result.put("spans", t.spans.map(s => Map("id" -> s.id, "kind" -> s.kind, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start" -> s.start, "end" -> s.end, "self_ms" -> s.selfMs).asJava).asJava)
      if (workload == "intake_sessions") result.put("layers", layerReplay(spark, sessions, work, a("max-file-mb").toInt))
    }
    result.put("cores", GraftSession.cores)
    result.put("rss_peak_mb", rssPeakMb)
    spark.stop()
    mapper.writeValue(new File(a("out")), result)
  }

  private def release(spark: SparkSession): Unit = {
    CacheLedger.release()
    spark.catalog.clearCache()
  }

  /** A gate into the `noop` sink (into parquet at `out` on the warm
    * pass, for the oracle compare), releasing what it pinned — the way
    * every gate runner in the repository drives one.
    */
  def gateOp(spark: SparkSession, gate: String, lake: String, out: String): Op = {
    val fn = SparkEntry.queries(gate)
    Op(gate, p => {
      try {
        val w = fn(spark, lake).write.mode("overwrite")
        if (p == 0) w.parquet(out) else w.format("noop").save()
      } finally release(spark)
    })
  }

  private def sinkOf(work: String, p: Int): String = s"file://$work/sink/p$p"

  /** Issues per file of each session's warm-pass manifest. */
  private val warmIssues = scala.collection.mutable.Map.empty[String, Map[String, java.util.List[String]]]

  def intakeOps(spark: SparkSession, sessions: Seq[File], work: String, maxFileMb: Int): Seq[Op] =
    sessions.map { s =>
      Op(s.getName, p => {
        val manifest = Pipeline.ingestWith(spark, s.getPath, GraftConfig(Some(sinkOf(work, p)), maxFileMb),
          sessionTs = Some("20260101_000000"), sessionId = Some(s.getName),
          clock = () => "2026-01-01T00:00:00Z").collect()
        if (p == 0) warmIssues(s.getName) = manifest.map(r => r.getString(0) -> r.getSeq[String](4).asJava).toMap
      })
    }

  /** The manifest of each warm-pass session as the sink holds it, plus
    * the issues `ingestWith` returned (the sink's manifest drops them).
    */
  private def manifests(spark: SparkSession, sessions: Seq[File], work: String): java.util.List[Any] =
    sessions.map { s =>
      val issues = warmIssues.getOrElse(s.getName, Map.empty)
      val dir = s"$work/sink/p0/uploads/20260101_000000_${s.getName}"
      val rows = spark.read.json(s"file://$dir/manifest").collect().map { r =>
        Map("file" -> r.getAs[String]("file"), "dest" -> r.getAs[String]("dest"),
          "rows" -> r.getAs[Long]("rows"), "cols" -> r.getAs[Long]("cols"),
          "accepted" -> r.getAs[Boolean]("accepted"),
          "issues" -> issues.getOrElse(r.getAs[String]("file"), null)).asJava
      }
      Map("session" -> s.getName, "files" -> rows.toSeq.asJava).asJava: Any
    }.asJava

  /** Times each layer's public function per file, in the order
    * `ingestWith` calls them, into a separate sink.
    */
  private def layerReplay(spark: SparkSession, sessions: Seq[File], work: String,
                          maxFileMb: Int): java.util.List[Any] = {
    import spark.implicits._
    def ms[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e6)
    }
    sessions.map { s =>
      val out = s"file://$work/sink/layers/${s.getName}"
      val files = s.listFiles().filter(f => f.isFile && f.getName.matches(".*\\.(csv|xlsx)")).sortBy(_.getName)
      val perFile = files.toSeq.map { f =>
        val path = f.getPath
        val csv = path.endsWith(".csv")
        val t = new java.util.LinkedHashMap[String, Any]()
        t.put("file", f.getName)
        val (sizeOk, sizeMs) = ms(Validation.fileSizeOk(spark, path, maxFileMb))
        t.put("size_check_ms", sizeMs)
        var rows = 0L
        if (sizeOk) try {
          if (csv) {
            t.put("sniff_ms", ms(SniffCsv.sniff(spark, path))._2)
            t.put("raw_header_ms", ms(SniffCsv.rawHeader(spark, path))._2)
          }
          val ((df, n), parseMs) = ms {
            val d = Intake.read(spark, path)
            d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            (d, d.rdd.count())
          }
          rows = n
          t.put(if (csv) "parse_ms" else "xlsx_ms", parseMs)
          if (n > 0) t.put("write_ms", ms(Normalize.writeCanonicalCsv(df, s"$out/${f.getName}"))._2)
          df.unpersist(blocking = false)
        } catch { case NonFatal(e) => t.put("error", e.getClass.getSimpleName) }
        t.put("rows", rows)
        (f.getName, rows, t)
      }
      val manifest = perFile.map { case (name, rows, _) => (name, "", rows, 0L, rows > 0, "") }
        .toDF("file", "dest", "rows", "cols", "accepted", "uploaded_at_utc")
      val manifestMs = ms(Manifest.writeJson(manifest, s"$out/manifest"))._2
      Map("session" -> s.getName, "manifest_ms" -> manifestMs,
        "files" -> perFile.map(_._3).asJava).asJava: Any
    }.asJava
  }

  /** Turns each `<name>.xlsx.spec.json` (header + rows) into `<name>.xlsx`. */
  private def writeXlsx(dir: File): Unit =
    dir.listFiles().filter(_.getName.endsWith(".xlsx.spec.json")).foreach { spec =>
      val tree = mapper.readTree(spec)
      val header = tree.get("header").elements().asScala.map(_.asText()).toSeq
      val rows = tree.get("rows").elements().asScala.map(_.elements().asScala.map(_.asText()).toSeq)
      val out = new FileOutputStream(new File(dir, spec.getName.stripSuffix(".spec.json")))
      try Xlsx.write(header, rows, out) finally out.close()
      spec.delete()
    }

  private def opJson(o: OpStats): java.util.Map[String, Any] = Map[String, Any](
    "name" -> o.name, "pass" -> o.pass, "wall_ms" -> o.wallMs, "gc_ms" -> o.gcMs,
    "jobs" -> o.jobs, "stages" -> o.stages, "tasks" -> o.tasks,
    "task_run_ms" -> o.taskRunMs, "task_cpu_ms" -> o.taskCpuNs / 1e6,
    "shuffle_write_bytes" -> o.shuffleWrite, "shuffle_read_bytes" -> o.shuffleRead,
    "shuffle_fetch_wait_ms" -> o.fetchWaitMs, "spill_bytes" -> o.spill,
    "input_bytes" -> o.inBytes, "input_records" -> o.inRecords, "output_bytes" -> o.outBytes,
    "cache_bytes" -> o.cacheBytes, "plan_executions" -> o.planExecutions,
    "analysis_ms" -> o.analysisMs, "optimization_ms" -> o.optimizationMs,
    "planning_ms" -> o.planningMs, "driver_gap_ms" -> o.driverGapMs,
    "call_sites" -> o.callSites.toMap.asJava).asJava

  private def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status"), StandardCharsets.UTF_8).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def deleteRec(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }
}
