package graft.etl

import graft.sources.ParquetRead
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write–Audit–Publish (WAP) — the lake publishing discipline every
  * production pipeline converges on: never write into the serving
  * path directly; stage, audit the STAGED bytes (not the DataFrame
  * that produced them — the audit must see exactly what readers
  * will), and only then atomically swap the staged directory in.
  * The reference app's validate-then-upload flow
  * (streamlit_app.py:150-199 → 280-330) is this pattern at
  * single-file scale; Wap generalizes it to tables.
  *
  * Mechanics: `publish` writes parquet to `<root>/_staged/<table>`,
  * re-reads it, runs the audit (row-level [[Validation.Rule]]s — all
  * rows must be acceptable — plus a row-count floor), and on pass
  * swaps the staged directory onto `<root>/<table>` with renames only
  * (atomic metadata operations on HDFS-like filesystems; object
  * stores swap a pointer the same way via their committers): the
  * current serving directory is parked at `<root>/_prev_<table>`
  * before the staged one renames in, so the previous table's bytes
  * exist at every instant and a crash mid-swap is recoverable — a
  * reader or operator always finds the old table, the new table, or
  * both, never neither. A failed audit leaves
  * the staged directory in place for inspection and touches nothing
  * the readers see. The published table's order-independent
  * [[TableDigest]] is returned so downstream consumers can verify
  * what they read is what was published.
  *
  * Scale notes: audit cost is one scan of the staged data (the rules
  * are codegen'd predicates + one aggregate); the swap is O(1)
  * metadata. Nothing here is driver-sized.
  */
object Wap {

  final case class WapReport(
      table: String,
      published: Boolean,
      nRows: Long,
      nViolations: Long,
      digest: Long,
      servingPath: String,
      stagedPath: String)

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Crash recovery: if a prior publish died after parking the serving
    * table at `_prev_<table>` but before renaming the staged table in,
    * the serving path is absent and `_prev_` holds the only copy —
    * restore it. Returns true if a restore happened. [[publish]] runs
    * this on entry too; expose it so operators can heal a table without
    * publishing. Readers must tolerate the brief serving-absent window
    * between the two renames of an in-flight publish (retry-once is
    * sufficient — the window is two O(1) metadata ops).
    */
  def recover(spark: SparkSession, root: String, table: String): Boolean = {
    val f = fs(spark, root)
    val serving = new org.apache.hadoop.fs.Path(s"$root/$table")
    val prev = new org.apache.hadoop.fs.Path(s"$root/_prev_$table")
    if (f.exists(prev) && !f.exists(serving)) {
      require(f.rename(prev, serving), s"recover rename $prev -> $serving failed")
      true
    } else false
  }

  /** Stage `df`, audit the staged bytes, publish on pass.
    *
    * @param rules     row-level violation predicates; any violating row
    *                  fails the audit
    * @param minRows   row-count floor (an empty publish is almost
    *                  always an upstream failure, not a valid table)
    * @param digestCols engine-portable renderings for the content
    *                  digest (the TableDigest caller contract)
    */
  def publish(spark: SparkSession, df: DataFrame, root: String, table: String,
              rules: Seq[Validation.Rule], digestCols: DataFrame => Seq[Column],
              minRows: Long = 1L): WapReport = {
    val stagedPath = s"$root/_staged/$table"
    val servingPath = s"$root/$table"
    // runtime scoping: the directory-rename swap is only atomic on
    // HDFS-like file systems. On an object store a "rename" copies all
    // data bytes non-atomically — refuse and point at the safe path.
    val sch = try Option(fs(spark, root).getScheme).getOrElse("")
              catch { case _: Throwable => "" }
    require(!CommitLog.ObjectStoreSchemes(sch),
      s"Wap.publish swaps directories by rename, which scheme '$sch' cannot do " +
        "atomically (copy+delete); use Wap.publishVersioned — the commit-log " +
        "pointer swap is the object-store-safe publish")
    recover(spark, root, table) // heal a crashed prior swap before anything else
    df.write.mode("overwrite").parquet(stagedPath)
    val staged = ParquetRead.read(spark, stagedPath)
    val audit = Validation.annotate(staged, rules)
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(!col("acceptable"), 1L).otherwise(0L)), lit(0L)).as("bad"))
      .collect().head
    val (n, bad) = (audit.getLong(0), audit.getLong(1))
    val pass = bad == 0 && n >= minRows
    if (pass) {
      val f = fs(spark, root)
      val serving = new org.apache.hadoop.fs.Path(servingPath)
      f.mkdirs(serving.getParent)
      // never delete-then-rename: a crash between the delete and the
      // rename would destroy the only copy of the serving table. Move
      // the current serving ASIDE first (rename, an O(1) metadata op),
      // rename the staged table in, and only then drop the aside copy —
      // at every instant the previous table bytes exist somewhere, so a
      // crash at any point is recoverable (the old table is either
      // still serving or parked at _prev_<table>).
      val prev = new org.apache.hadoop.fs.Path(s"$root/_prev_$table")
      // _prev_ is only ever dropped when serving exists (a crashed prior
      // swap was healed by recover() on entry, so a surviving _prev_ here
      // with serving absent cannot be the only copy — but stay defensive
      // and never delete it unless serving is present).
      if (f.exists(prev) && f.exists(serving)) f.delete(prev, true)
      val hadPrev = f.exists(serving)
      if (hadPrev) require(f.rename(serving, prev),
        s"rename $servingPath -> ${prev} failed")
      require(f.rename(new org.apache.hadoop.fs.Path(stagedPath), serving),
        s"rename $stagedPath -> $servingPath failed")
      if (hadPrev) f.delete(prev, true)
      val published = ParquetRead.read(spark, servingPath)
      val d = TableDigest.digest(published, table, digestCols(published))
        .collect().head
      WapReport(table, published = true, n, bad, d.getLong(2), servingPath, stagedPath)
    } else
      WapReport(table, published = false, n, bad, 0L, servingPath, stagedPath)
  }

  final case class VersionedWapReport(
      tableDir: String,
      published: Boolean,
      nRows: Long,
      nViolations: Long,
      digest: Long,
      version: Long)

  /** Object-store-safe WAP: stage/audit/publish against a
    * [[CommitLog]] table instead of a directory swap. The staged data
    * IS a written-but-uncommitted batch — unique immutable files no
    * snapshot reader can see — so the audit reads exactly the bytes
    * readers would, and "publish" is the commit-log pointer claim
    * (tiny, atomic, if-absent-guarded): no rename of anything,
    * anywhere, which is what makes this the S3-semantics path
    * (see [[CommitLog]]'s protocol doc). A failed audit leaves the
    * uncommitted batch in `_data/<batch>/` for inspection — invisible
    * to readers by construction, reclaimable by any later cleanup of
    * unreferenced batches.
    *
    * Readers never see a serving-absent window at all (unlike the
    * rename swap): the previous version stays live until the instant
    * the new pointer lands, and time travel to it keeps working after.
    */
  def publishVersioned(spark: SparkSession, df: DataFrame, tableDir: String,
                       rules: Seq[Validation.Rule],
                       digestCols: DataFrame => Seq[Column],
                       minRows: Long = 1L): VersionedWapReport = {
    val staged = CommitLog.stageData(spark, df, tableDir)
    if (staged.isEmpty) // a zero-file write can never clear the row floor
      return VersionedWapReport(tableDir, published = false, 0L, 0L, 0L, -1L)
    val stagedDf = ParquetRead.read(spark, staged.map(n => s"$tableDir/$n"): _*)
    val audit = Validation.annotate(stagedDf, rules)
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(!col("acceptable"), 1L).otherwise(0L)), lit(0L)).as("bad"))
      .collect().head
    val (n, bad) = (audit.getLong(0), audit.getLong(1))
    val pass = bad == 0 && n >= minRows
    if (pass) {
      val v = CommitLog.commitStaged(spark, tableDir, staged, overwrite = true)
      val published = CommitLog.snapshot(spark, tableDir, Some(v))
      val d = TableDigest.digest(published, tableDir, digestCols(published))
        .collect().head
      VersionedWapReport(tableDir, published = true, n, bad, d.getLong(2), v)
    } else
      VersionedWapReport(tableDir, published = false, n, bad, 0L, -1L)
  }
}
