package graft.operators

import org.apache.spark.sql.DataFrame

/** JVM-wide ledger of the DataFrames graft operators have persisted.
  *
  * Operators return LAZY plans, so they cannot unpersist their own
  * intermediates — the caller has not executed anything when the
  * operator returns. A long-lived library session calls [[release]]
  * after materializing its outputs to free every pinned block without
  * the bluntness of `spark.catalog.clearCache()` (which would also
  * drop the CALLER's caches). Verify and Bench call `Gates.release`
  * between gates, which runs [[release]] and then clears every other
  * cache, so sweeps never accumulate either way; PageRank additionally
  * offers an eager `runReleased` variant for its checkpoint-friendly
  * shape.
  */
object CacheLedger {
  private val ledger = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  /** Persists `df` and records it for a later [[release]]. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist()
    ledger.add(p)
    p
  }

  /** Unpersists every tracked intermediate (non-blocking eviction,
    * like ContextCleaner's) and sweeps the scratch-dir ledger
    * ([[TempDirs]]) — both are "the previous gate's leftovers", and
    * every caller sits between gates, after materialization.
    */
  def release(): Unit = {
    var d = ledger.poll()
    while (d != null) { d.unpersist(); d = ledger.poll() }
    TempDirs.sweep()
  }
}
