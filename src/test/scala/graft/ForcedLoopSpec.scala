package graft

import graft.operators.LocalSolve

/** The forced-loop pass: with `spark.graft.localMaxEdges` at 0 every
  * graph gate runs its distributed loop instead of [[LocalSolve]]'s
  * single task, the path the oracle no longer reaches at test scale.
  * Each gate's sf0.001 output (row count and order-independent sum of
  * per-row `xxhash64`) must equal its default-path pin.
  */
class ForcedLoopSpec extends GraftSuite {
  private val pins = Seq(
    "dedup_clusters" -> (21L, -3188130947898948079L),
    "dedup_minhash_clusters" -> (483L, -231129436514785905L),
    "q_golden_record" -> (145L, -8523020777510694434L),
    "emb_dbscan" -> (500L, -8392602446857954060L),
    "emb_knn_components" -> (3L, 1354150265000830599L),
    "emb_knn_components_scaled" -> (3L, 1354150265000830599L),
    "q_shortest_paths" -> (190L, 1777852118766864412L),
    "q_graph_ecc" -> (1L, 1640985121259524860L),
    "q_label_prop" -> (155L, 3215568847479496721L),
    "q_modularity" -> (1L, 2304646772201024011L))

  pins.foreach { case (gate, expected) =>
    test(s"$gate forced-loop output matches its default-path pin") {
      val got = withSQLConf(LocalSolve.MaxEdgesConf -> "0")(pin(gate))
      Gates.release(spark, gc = false)
      assert(got == expected)
    }
  }
}
