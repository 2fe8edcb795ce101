package graft.etl

import graft.sources.ParquetRead
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal lakehouse commit log — the transaction-log pattern behind
  * Delta/Iceberg table formats, dependency-free: a table directory
  * holds immutable parquet data files plus a `_log/` of versioned
  * commit entries recording which files each version ADDED and
  * REMOVED. Reads never list the data directory (object-store listing
  * is slow at scale and historically eventually consistent) — a
  * snapshot is the log REPLAY: survivors = ∪adds − ∪removes up to the
  * requested version, which is also what makes TIME TRAVEL free:
  * replay to an older version and read exactly the files that were
  * live then.
  *
  * ==Commit protocol (object-store safe)==
  *
  * Versions are dense integers claimed optimistically, and the claim
  * is engineered for stores with NO atomic rename and NO exclusive
  * create (classic object stores — the reference's own storage tier,
  * streamlit_app.py:301, is S3-backed):
  *
  *  1. '''Data''' is materialized once under `_data/<batch>/` with
  *     globally unique names and NEVER renamed or copied — a file is
  *     invisible to every reader until a commit references it, so the
  *     write is its own staging. (On S3 a "rename" copies all data
  *     bytes; a protocol that renames data does not survive 100 TB.)
  *  2. The full commit JSON is written to `_log/_attempts/
  *     <version>-<batch>.json` — a unique, uncontended name, closed
  *     and complete before step 3 ever runs.
  *  3. The version is CLAIMED by publishing a tiny pointer object
  *     `_log/<version>.json` (`{"version":v,"attempt":"..."}`) with an
  *     if-absent guard: on file systems whose `create(p, overwrite =
  *     false)` is genuinely exclusive (HDFS, local) that call is the
  *     guard; on a [[FileSystem]] implementing [[AtomicPut]] the
  *     store's conditional PUT is used (S3 `If-None-Match: *`, GCS
  *     generation 0, Azure `If-None-Match`). Exactly one concurrent
  *     writer wins; losers see `false`, recompute the next version,
  *     and retry — their already-written data files are version-
  *     independent, so nothing is re-staged.
  *
  * A KNOWN object-store scheme without [[AtomicPut]] fails fast with
  * an explanation rather than running an unsafe check-then-create —
  * classic S3 without conditional writes needs an external coordinator
  * (the public Delta-on-S3 LogStore story) and pretending otherwise
  * corrupts logs. Readers are torn-proof by construction: attempt
  * files are complete before their pointer exists, pointers are
  * single-digest-sized and published atomically where [[AtomicPut]]
  * is available, and [[readCommit]] validates completeness (with a
  * bounded retry for the HDFS small-write sliver).
  *
  * Scale notes: the log is metadata (bytes per version, not per row);
  * replay is O(versions) driver-side over tiny JSON entries; the data
  * path stays ordinary distributed parquet I/O with zero post-write
  * data movement.
  */
object CommitLog {

  final case class Commit(version: Long, add: Seq[String], remove: Seq[String])

  /** A concurrent writer claimed the version first. Retryable: recompute
    * the next version and re-commit — staged data files are reusable.
    */
  final class VersionRace(version: Long)
    extends RuntimeException(s"version $version was claimed by a concurrent writer")

  /** Schemes of stores with no exclusive create and copy+delete rename.
    * (`s3sim` / `ccsim` are the test shims that emulate those
    * semantics locally — `s3sim` models a store exposing its own
    * conditional write as [[AtomicPut]], `ccsim` models the S3A
    * public surface: no AtomicPut, conditional create advertised via
    * path capability.)
    */
  private[etl] val ObjectStoreSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss",
      "cos", "swift", "s3sim", "ccsim")

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def scheme(f: org.apache.hadoop.fs.FileSystem): String =
    try Option(f.getScheme).getOrElse("") catch { case _: Throwable => "" }

  private def logDir(tableDir: String) = s"$tableDir/_log"
  private def attemptsDir(tableDir: String) = s"$tableDir/_log/_attempts"

  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }

  /** Publish `bytes` at the contended `path` iff absent — the single
    * claim primitive, resolved in strict preference order (the full
    * scheme → guarantee table lives on [[ConditionalCreate]]):
    *
    *  1. the FileSystem implements [[AtomicPut]] → its own
    *     conditional write;
    *  2. the FileSystem ADVERTISES Hadoop 3.4.x conditional create
    *     (`hasPathCapability(fs.option.create.conditional.overwrite)`
    *     — S3A with hadoop-aws ≥ 3.4.1 does) → the
    *     [[ConditionalCreateAtomicPut]] adapter: one builder create
    *     whose publish carries the store's If-None-Match guard;
    *  3. a KNOWN object-store scheme with neither → fail fast (see
    *     class doc — check-then-create is not a commit protocol);
    *  4. otherwise (HDFS/local) → the genuinely exclusive
    *     `create(p, false)`.
    */
  private[etl] def putIfAbsent(f: org.apache.hadoop.fs.FileSystem,
                               p: org.apache.hadoop.fs.Path,
                               bytes: Array[Byte]): Boolean = f match {
    case ap: AtomicPut => ap.putIfAbsent(p, bytes)
    case cc if ConditionalCreate.supports(cc, p) =>
      new ConditionalCreateAtomicPut(cc).putIfAbsent(p, bytes)
    case _ =>
      if (ObjectStoreSchemes(scheme(f))) throw new IllegalStateException(
        s"scheme '${scheme(f)}' is an object store without exclusive create: " +
          "its FileSystem must implement graft.etl.AtomicPut or advertise " +
          "Hadoop 3.4.x conditional create (conditional PUT — S3 If-None-Match, " +
          "GCS generation 0, Azure If-None-Match) or commits need an external " +
          "coordinator; refusing an unsafe check-then-create")
      try {
        val out = f.create(p, false) // exclusive on HDFS/local: the guard
        try out.write(bytes) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        case e: java.io.IOException
          if e.getMessage != null && e.getMessage.toLowerCase.contains("exist") => false
      }
  }

  /** List committed versions, ascending. */
  def versions(spark: SparkSession, tableDir: String): Seq[Long] = {
    val f = fs(spark, tableDir)
    val p = new org.apache.hadoop.fs.Path(logDir(tableDir))
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .map(n => n.stripSuffix(".json").toLong)
      .sorted
  }

  private def readText(f: org.apache.hadoop.fs.FileSystem, path: String): String = {
    val in = f.open(new org.apache.hadoop.fs.Path(path))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def readCommit(spark: SparkSession, tableDir: String, v: Long): Commit = {
    val f = fs(spark, tableDir)
    // minimal parser for the writer's own shapes (the FileName contract
    // guarantees no recorded name contains a comma/quote/bracket):
    //   pointer: {"version":N,"attempt":"<v>-<batch>.json"}
    //   inline (legacy logs): {"version":N,"add":[...],"remove":[...]}
    def arr(txt: String, key: String): Seq[String] = {
      val m = ("\"" + key + "\"\\s*:\\s*\\[([^\\]]*)\\]").r.findFirstMatchIn(txt)
      m.map(_.group(1)).filter(_.trim.nonEmpty)
        .map(_.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\"")))
        .getOrElse(Seq.empty)
    }
    // bounded retry: on HDFS the pointer is a single tiny write, but a
    // reader racing the writer's close can in principle see a prefix —
    // an incomplete JSON here means "in flight", not "corrupt"
    var attempt = 0
    while (true) {
      val txt = readText(f, s"${logDir(tableDir)}/$v.json")
      val complete = txt.trim.endsWith("}") &&
        (txt.contains("\"attempt\"") || txt.contains("\"add\""))
      if (complete) {
        val ptr = "\"attempt\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt)
        val body = ptr match {
          case Some(m) => readText(f, s"${attemptsDir(tableDir)}/${m.group(1)}")
          case None => txt // legacy inline commit
        }
        return Commit(v, arr(body, "add"), arr(body, "remove"))
      }
      attempt += 1
      if (attempt >= 4) throw new java.io.IOException(
        s"commit $v of $tableDir is incomplete after $attempt reads (torn write?)")
      Thread.sleep(50L * attempt)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Data-file naming contract. Every name the log ever records is
    * either a legacy in-place name `part-<8 hex>-<i>.parquet` or a
    * staged path `_data/<8 hex>/<spark part file name>`; the writer
    * ASSERTS it, which is what makes [[readCommit]]'s minimal
    * split-on-comma JSON parser safe — no recorded name can contain a
    * comma, quote, backslash, or bracket, so escaping can never matter
    * on the read path.
    */
  private val FileName =
    "(?:part-[0-9a-f]{8}-[0-9]+\\.parquet|_data/[0-9a-f]{8}/[0-9a-zA-Z._=-]+\\.parquet)".r

  /** Two-phase commit: full JSON to an uncontended attempt file, then
    * claim the version with an if-absent pointer publish. Throws
    * [[VersionRace]] when a concurrent writer won the version; any
    * other failure best-effort removes both the attempt file and (the
    * claim cannot have returned true) the pointer, so no torn or
    * half-referenced entry survives in the log.
    */
  private def writeCommit(spark: SparkSession, tableDir: String, c: Commit,
                          batch: String): Unit = {
    (c.add ++ c.remove).foreach(n => require(FileName.matches(n),
      s"commit log file name '$n' violates the data-file naming contract"))
    val f = fs(spark, tableDir)
    f.mkdirs(new org.apache.hadoop.fs.Path(attemptsDir(tableDir)))
    val attemptName = s"${c.version}-$batch.json"
    val attemptPath = new org.apache.hadoop.fs.Path(s"${attemptsDir(tableDir)}/$attemptName")
    val json = s"""{"version":${c.version},""" +
      s""""add":[${c.add.map(a => "\"" + esc(a) + "\"").mkString(",")}],""" +
      s""""remove":[${c.remove.map(r => "\"" + esc(r) + "\"").mkString(",")}]}"""
    val pointerPath = new org.apache.hadoop.fs.Path(s"${logDir(tableDir)}/${c.version}.json")
    val pointer = s"""{"version":${c.version},"attempt":"$attemptName"}"""
    try {
      val out = f.create(attemptPath, true) // unique name: never contended
      try out.write(json.getBytes("UTF-8")) finally out.close()
      if (!putIfAbsent(f, pointerPath, pointer.getBytes("UTF-8"))) {
        try f.delete(attemptPath, false) catch { case _: Throwable => () }
        throw new VersionRace(c.version)
      }
    } catch {
      case vr: VersionRace => throw vr
      case e: Throwable =>
        // the claim did not return true, so the pointer (if it exists at
        // all) is this writer's partial debris, not a winner's — remove
        // both it and the attempt so nothing torn replays later
        try f.delete(attemptPath, false) catch { case _: Throwable => () }
        try f.delete(pointerPath, false) catch { case _: Throwable => () }
        throw e
    }
  }

  /** Live file set at `version` (default: latest), table-dir-relative. */
  def liveFiles(spark: SparkSession, tableDir: String,
                version: Option[Long] = None): Seq[String] = {
    val vs = versions(spark, tableDir)
    val upTo = version.getOrElse(vs.lastOption.getOrElse(-1L))
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    vs.filter(_ <= upTo).foreach { v =>
      val c = readCommit(spark, tableDir, v)
      live ++= c.add
      live --= c.remove
    }
    live.toSeq
  }

  /** Materialize `df` once as immutable data files under
    * `_data/<batch>/` — unique names, zero renames, invisible to every
    * snapshot reader until a commit references them. Returns the
    * table-dir-relative names to pass to [[commitStaged]]. The batch id
    * doubles as the commit attempt id.
    */
  def stageData(spark: SparkSession, df: DataFrame, tableDir: String): Seq[String] = {
    val f = fs(spark, tableDir)
    val batch = java.util.UUID.randomUUID().toString.take(8)
    val dir = s"$tableDir/_data/$batch"
    df.write.parquet(dir)
    f.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).sorted
      .map(n => s"_data/$batch/$n")
  }

  private def batchOf(staged: Seq[String]): String =
    staged.headOption.map(_.split("/")(1)).getOrElse("00000000")

  /** Commit already-staged files as the next version, with an
    * optimistic retry loop: losing the version claim to a concurrent
    * writer recomputes the next version (and, for overwrite, the
    * then-live prior set) and tries again — staged data is version-
    * independent, so races cost metadata only. After `maxRetries`
    * consecutive losses, or on any non-race failure, the staged files
    * are deleted (no commit references them — the directory invariant
    * `table = log-referenced files + in-flight batches` holds) and the
    * error propagates.
    */
  def commitStaged(spark: SparkSession, tableDir: String, staged: Seq[String],
                   overwrite: Boolean, maxRetries: Int = 3): Long = {
    val f = fs(spark, tableDir)
    def cleanup(): Unit = {
      staged.foreach { n =>
        try f.delete(new org.apache.hadoop.fs.Path(s"$tableDir/$n"), false)
        catch { case _: Throwable => () }
      }
      try f.delete(new org.apache.hadoop.fs.Path(s"$tableDir/_data/${batchOf(staged)}"), true)
      catch { case _: Throwable => () }
    }
    var losses = 0
    while (true) {
      val prior = liveFiles(spark, tableDir)
      val v = versions(spark, tableDir).lastOption.getOrElse(-1L) + 1
      try {
        writeCommit(spark, tableDir, Commit(v, staged,
          if (overwrite) prior else Seq.empty), batchOf(staged))
        return v
      } catch {
        case r: VersionRace =>
          losses += 1
          if (losses > maxRetries) { cleanup(); throw r }
        case e: Throwable => cleanup(); throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Write `df` as a new version. `overwrite = true` removes every
    * previously-live file from the snapshot (their bytes stay for
    * older versions — time travel); `false` appends.
    */
  def write(spark: SparkSession, df: DataFrame, tableDir: String,
            overwrite: Boolean, maxRetries: Int = 3): Long =
    commitStaged(spark, tableDir, stageData(spark, df, tableDir), overwrite, maxRetries)

  /** Compact the current snapshot: rewrite the live data files into
    * `ceil(liveBytes / targetFileBytes)` files (≥ 1) as a NEW version
    * whose commit adds the compacted files and removes every
    * previously-live one. Content is untouched — same rows, fewer
    * files — and the swap is the same claim-guarded commit as any
    * write, so readers see the pre- or post-compaction file set,
    * never a mix. Old files stay on disk for time travel until
    * [[vacuum]] retires them.
    *
    * Scale notes: the rewrite is one distributed scan + write sized by
    * data volume; `targetFileBytes` bounds per-task output so a 100 TB
    * table compacts to many right-sized files, not one driver-killer
    * (the N→1 case is just the small-table degenerate of the same
    * formula).
    */
  def compact(spark: SparkSession, tableDir: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val f = fs(spark, tableDir)
    val live = liveFiles(spark, tableDir)
    require(live.nonEmpty, s"nothing to compact in $tableDir")
    val bytes = live.map(n =>
      f.getFileStatus(new org.apache.hadoop.fs.Path(s"$tableDir/$n")).getLen).sum
    val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val snap = snapshot(spark, tableDir)
    write(spark, snap.repartition(nOut), tableDir, overwrite = true)
  }

  /** Retention sweep: delete data files not live at ANY of the last
    * `keepVersions` versions. Log entries are RETAINED as an audit
    * trail (they are metadata-sized); only data files are deleted, so
    * `versions()` still lists expired versions — reading one merely
    * fails on its missing files. Time travel to every RETAINED
    * version still reads exactly its original file set (a file live at
    * any retained version is never deleted — the "never delete
    * referenced files" guarantee); versions older than the window
    * become unreadable by construction, which is the same contract as
    * Delta/Iceberg `VACUUM`/`expire_snapshots`.
    *
    * Returns the deleted data-file names. Replay safety: retained
    * versions replay from version 0 over the FULL log (log entries are
    * bytes, not data), so only data files are deleted; log entries are
    * kept — an audit trail costs nothing at metadata scale. Emptied
    * `_data/<batch>` directories are swept opportunistically.
    */
  def vacuum(spark: SparkSession, tableDir: String,
             keepVersions: Int = 2): Seq[String] = {
    require(keepVersions >= 1, "must retain at least the latest version")
    val f = fs(spark, tableDir)
    val vs = versions(spark, tableDir)
    if (vs.isEmpty) return Seq.empty
    val retained = vs.takeRight(keepVersions)
    val referenced = retained
      .flatMap(v => liveFiles(spark, tableDir, Some(v))).toSet
    // every name any commit ever added (the universe of data files the
    // log owns); in-flight batches and the _log dir are not ours
    val everAdded = vs.flatMap(v => readCommit(spark, tableDir, v).add).toSet
    val doomed = (everAdded -- referenced).toSeq.sorted
    // report only what this sweep actually removed — a re-run over an
    // already-vacuumed table is a no-op, not a repeat claim
    val removed = doomed.filter { n =>
      val p = new org.apache.hadoop.fs.Path(s"$tableDir/$n")
      try f.exists(p) && f.delete(p, false) catch { case _: Throwable => false }
    }
    // sweep batch dirs the deletions emptied (metadata hygiene only —
    // correctness never depends on directory structure)
    removed.flatMap(n => n.split("/") match {
      case Array("_data", batch, _) => Some(batch); case _ => None
    }).distinct.foreach { batch =>
      val d = new org.apache.hadoop.fs.Path(s"$tableDir/_data/$batch")
      try if (f.exists(d) && f.listStatus(d).isEmpty) f.delete(d, true)
      catch { case _: Throwable => () }
    }
    removed
  }

  /** Snapshot read at `version` (default: latest). An empty snapshot
    * (no versions, or everything removed) returns an empty frame with
    * no schema claim — callers that need a schema read a live one.
    */
  def snapshot(spark: SparkSession, tableDir: String,
               version: Option[Long] = None): DataFrame = {
    val files = liveFiles(spark, tableDir, version).map(n => s"$tableDir/$n")
    if (files.isEmpty) spark.emptyDataFrame
    else ParquetRead.read(spark, files: _*)
  }
}
