package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.{col, when}

/** The one way the iterative graph operators solve a small input inside
  * a single task: [[ClusterDedup]]'s components (union-find), [[Bfs]]'s
  * hop distances (frontier sets) and [[LabelProp]]'s rounds.
  *
  * Each round of their distributed loops costs ~0.5-1.5 s of job and
  * stage scheduling (measured r17) while the bench graphs move KBs,
  * so when the input fits one task the whole solve runs as
  * `coalesce(1).mapPartitions(solve)` — no shuffle: the caller's cached
  * partitions fold into one task — and is checkpointed EAGERLY, so the
  * solve runs inside that one checkpoint job and the caller's lineage
  * stays as shallow as the loop's. Every solver reproduces its loop's
  * output bit-identically (PropertySpec pins both paths on each).
  *
  * The one threshold is `spark.graft.localMaxEdges`, counted in
  * symmetric-edge rows (default 4M: two longs per row ≈ 64 MB of input
  * plus the solver's maps, far below an executor's working set). The
  * rule is `limit > 0 && rows <= limit`, so `0` forces every operator's
  * distributed loop. It is priced off the COUNTED data, never the core
  * count: at 100 TB the count exceeds any sane setting and the loops
  * run unchanged.
  */
object LocalSolve {

  val MaxEdgesConf = "spark.graft.localMaxEdges"
  private val MaxEdgesDefault = 4000000L

  /** `solve` over all of `input` in one task, eagerly checkpointed as a
    * DataFrame with columns `cols`, when `input` is defined (the caller's
    * id-type guard passed) and `rows` symmetric-edge rows fit the
    * threshold; `None` tells the caller to run its distributed loop.
    * Each column comes with the nullability the loop's output gives it,
    * so a gate writes one schema whichever path ran: a column the
    * encoder makes `not null` (a primitive) that the loop's makes
    * nullable is relaxed by a projection the optimizer folds away, and
    * a frame with nothing to relax is checkpointed as it is.
    * The threshold is read and checked first, whatever the input, so a
    * value that is not a non-negative integer throws on every graph.
    * `input` and `rows` are by-name: at a threshold of 0 nothing is
    * counted, and an ineligible input is never built.
    */
  def apply[T, U: Encoder](spark: SparkSession, input: => Option[Dataset[T]], rows: => Long,
      cols: (String, Boolean)*)(solve: Iterator[T] => Iterator[U]): Option[DataFrame] = {
    val limit = spark.conf.getOption(MaxEdgesConf).fold(MaxEdgesDefault)(v =>
      v.toLongOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
        s"$MaxEdgesConf must be a non-negative integer, got '$v'")))
    input.filter(_ => limit > 0 && rows <= limit).map { ds =>
      val out = ds.coalesce(1).mapPartitions(solve).toDF(cols.map(_._1): _*)
      val relax = cols.collect { case (c, true) if !out.schema(c).nullable => c }.toSet
      Checkpoints.truncate(if (relax.isEmpty) out else out.select(out.columns.toSeq.map(c =>
        if (relax(c)) when(col(c).isNotNull, col(c)).as(c) else col(c)): _*))
    }
  }
}
