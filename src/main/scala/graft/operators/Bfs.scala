package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Multi-source breadth-first search over an undirected edge list —
  * hop-count shortest paths (the reachability/radius primitive next
  * to [[PageRank]] and [[Triangles]] in the graph family).
  *
  * Frontier expansion: each round joins only the CURRENT frontier
  * against the symmetrized edges — work per round is
  * O(edges incident to the frontier), never O(nodes × rounds), and
  * the settled-distance table grows monotonically so a node is
  * expanded exactly once. Every round's frontier is lazily
  * `localCheckpoint`ed (the ClusterDedup lineage rule: persist alone
  * leaves the logical chain growing superlinearly in planning cost,
  * and an executor loss would replay the whole loop).
  */
object Bfs {

  /** @param edges   distinct undirected pairs in `u`/`v` columns
    * @param sources `node` column — distance-0 seeds
    * @param rounds  fixed hop budget; nodes further than this are absent
    */
  def distances(edges: DataFrame, sources: DataFrame, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      .transform(CacheLedger.persist) // probed every round; released by CacheLedger.release()/clearCache
    // SINGLE-TASK path for long ids; its count doubles as the cache fill
    // the loop's first round would otherwise pay inside a bigger job.
    // It mirrors the loop verbatim: dist-0 rows are the source rows AS
    // GIVEN (duplicates preserved — the loop never distincts them), each
    // round settles the unseen distinct neighbor set of the previous
    // frontier, and expansion stops at `rounds` hops. Edge and source
    // rows ride ONE union (tag column), so no driver collect is involved.
    val longIds = Seq("u", "v").forall(c => sym.schema(c).dataType == LongType) &&
      sources.schema.fields.exists(f => f.name == "node" && f.dataType == LongType)
    // the loop's `node` is nullable when a source or a reached neighbor
    // can be; its `dist` is a literal
    val nullNodes = sources.schema("node").nullable || (rounds > 0 && sym.schema("v").nullable)
    val local = LocalSolve(spark, Option.when(longIds)(
        sym.select(lit(0).as("t"), col("u"), col("v"))
          .unionByName(sources.select(lit(1).as("t"), col("node").as("u"), lit(-1L).as("v")))
          .as[(Int, Long, Long)]),
        sym.count(), "node" -> nullNodes, "dist" -> false) { it =>
      val adj = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      val srcRows = scala.collection.mutable.ArrayBuffer.empty[Long]
      it.foreach { case (t, a, b) =>
        if (t == 0)
          adj.getOrElseUpdate(a,
            scala.collection.mutable.ArrayBuffer.empty[Long]) += b
        else srcRows += a
      }
      val settled = scala.collection.mutable.LongMap.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      srcRows.foreach { s =>
        out += ((s, 0L))
        if (!settled.contains(s)) settled(s) = 0L
      }
      var frontier: Array[Long] = settled.keysIterator.toArray
      var r = 1L
      while (r <= rounds && frontier.nonEmpty) {
        val next = scala.collection.mutable.LongMap.empty[Unit]
        frontier.foreach { n =>
          adj.get(n).foreach(_.foreach { v =>
            if (!settled.contains(v)) next(v) = ()
          })
        }
        frontier = next.keysIterator.toArray
        frontier.foreach { v => settled(v) = r; out += ((v, r)) }
        r += 1
      }
      out.iterator
    }
    local.getOrElse {
      var dist = sources.select(col("node"), lit(0L).as("dist"))
      var frontier = dist.select(col("node"))
      for (r <- 1 to rounds) {
        val next = frontier.join(sym, frontier("node") === sym("u"))
          .select(col("v").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .withColumn("dist", lit(r.toLong))
          .transform(Checkpoints.truncate(_, eager = false))
        dist = dist.unionByName(next)
        frontier = next.select(col("node"))
      }
      dist
    }
  }
}
