package graft

import org.apache.spark.sql.SparkSession

/** The gate runner Bench, ScaleCurve and Verify share: one timed run,
  * the inter-gate release and the codegen warm-up. Each entry point
  * keeps its own iteration count, release points and gc cadence; only
  * the mechanics live here.
  */
object Gates {

  /** Wall seconds of one full evaluation of gate `name` against `dir`.
    * The noop sink evaluates every output column — a bare count() lets
    * Catalyst prune projection work (md5/regexp scans would be measured
    * as near-free). A failed run reads as -1.0, never as a fast run,
    * and prints `[tag] name FAILED: msg` on stderr.
    */
  def run(spark: SparkSession, tag: String, name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch { case e: Throwable =>
      System.err.println(s"[$tag] $name FAILED: ${e.getMessage}")
      -1.0
    }
  }

  /** Min of a gate's iteration times; -1.0 if any iteration failed, so
    * a failure sentinel never shrinks into a fast cell.
    */
  def best(times: Seq[Double]): Double = if (times.contains(-1.0)) -1.0 else times.min

  /** Drop everything a gate pinned: the cache ledger, cached frames and
    * every tracked RDD — clearCache alone leaves localCheckpoint blocks
    * (the CC/pointer-jump gates') pinned, and that debris once inflated
    * every later timing. `gc` adds a System.gc, the expensive part.
    */
  def release(spark: SparkSession, gc: Boolean): Unit = {
    graft.operators.CacheLedger.release()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(r => try r.unpersist(blocking = true) catch { case _: Throwable => () })
    if (gc) System.gc()
  }

  /** Run each gate once against the smallest lake, outside any timed
    * region, so whole-stage-codegen classes compile before timing
    * starts — a cold JVM otherwise charges one-time compilation to
    * whichever gates run first. Failures are ignored here; the timed
    * run reports them.
    */
  def warm(spark: SparkSession, names: Seq[String], dir: String): Unit = {
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
  }
}
