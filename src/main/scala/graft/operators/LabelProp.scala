package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Synchronous label propagation for community detection — the third
  * iterative graph primitive next to [[PageRank]] and
  * [[ClusterDedup]]'s connected components.
  *
  * Each round every node adopts the most frequent label among its
  * neighbors (ties broken by the SMALLEST label — fully
  * deterministic, so a SQL oracle can replay the rounds verbatim;
  * classic async LPA is run-order-dependent and ungateable). A fixed
  * round count keeps the lineage linear, the q_pagerank pattern.
  *
  * Scale: the undirected edge list persists once and re-serves every
  * round; the label vector (one row per node) is the only update —
  * each round is one shuffle on the neighbor key plus one argmax
  * window over (node, label) counts, never anything quadratic.
  */
object LabelProp {

  /** @param edges (src, dst) pairs, made undirected + deduped here.
    * Returns (node, label) after `rounds` synchronous rounds, labels
    * seeded with each node's own id.
    */
  def run(edges: DataFrame, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // persisted via the ledger: the operator returns a LAZY plan, so
    // release is the caller's move (Verify/Bench clearCache per gate)
    val und = CacheLedger.persist(
      edges.select(col("src").as("u"), col("dst").as("v"))
        .union(edges.select(col("dst"), col("src")))
        .distinct())
    // SINGLE-TASK path for string-typed graphs; its count doubles as the
    // cache fill the loop's first round would otherwise pay inside a
    // bigger job. It mirrors the loop verbatim: labels seed as each
    // node's id, every round each node adopts the most frequent label
    // among its neighbors' PREVIOUS-round labels, ties to the smallest
    // label. `und` is symmetric + distinct, so the adjacency map holds
    // each node's full neighbor set. The tie-break must order ids
    // exactly as the window's `orderBy(label)` does: UTF8String compares
    // UNSIGNED UTF-8 bytes, which differs from java.lang.String's UTF-16
    // order outside ASCII — so nodes are ranked once under an explicit
    // unsigned-byte comparator and the rounds run on integer ranks.
    val strIds = Seq("u", "v").forall(c => und.schema(c).dataType == StringType)
    val local = LocalSolve(spark,
        Option.when(strIds)(und.select(col("u"), col("v")).as[(String, String)]),
        und.count(), "node" -> true, "label" -> true) { it =>
        val pairs = it.toArray
        val ord: Ordering[String] = (a: String, b: String) => {
          val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0
          val n = math.min(x.length, y.length)
          var c = 0
          while (i < n && c == 0) {
            c = (x(i) & 0xff) - (y(i) & 0xff); i += 1
          }
          if (c != 0) c else x.length - y.length
        }
        val nodes = pairs.iterator.flatMap(e => Iterator(e._1, e._2))
          .toArray.distinct.sorted(ord)
        val idx = nodes.iterator.zipWithIndex.toMap
        val adj = Array.fill(nodes.length)(
          scala.collection.mutable.ArrayBuffer.empty[Int])
        pairs.foreach { case (u, v) => adj(idx(u)) += idx(v) }
        var labels = Array.tabulate(nodes.length)(identity)
        for (_ <- 1 to rounds) {
          val next = new Array[Int](nodes.length)
          var n = 0
          while (n < nodes.length) {
            val cnt = scala.collection.mutable.LongMap.empty[Long]
            adj(n).foreach { v =>
              val l = labels(v).toLong
              cnt(l) = cnt.getOrElse(l, 0L) + 1L
            }
            var bestL = Int.MaxValue
            var bestC = -1L
            cnt.foreach { case (l, c) =>
              if (c > bestC || (c == bestC && l < bestL)) {
                bestL = l.toInt; bestC = c
              }
            }
            next(n) = bestL
            n += 1
          }
          labels = next
        }
        nodes.indices.iterator.map(i => (nodes(i), nodes(labels(i))))
      }
    local.getOrElse {
      val nodes = und.select(col("u").as("node")).distinct()
      var labels = nodes.select(col("node"), col("node").as("label"))
      for (_ <- 1 to rounds) {
        val counts = und
          .join(labels, und("v") === labels("node"))
          .groupBy(und("u").as("n"), col("label"))
          .agg(count(lit(1)).as("c"))
        val best = counts
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("n")).orderBy(col("c").desc, col("label"))))
          .filter(col("rk") === 1)
          .select(col("n").as("node"), col("label"))
        labels = Checkpoints.truncate(best, eager = false)
      }
      labels
    }
  }
}
