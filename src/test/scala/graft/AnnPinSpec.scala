package graft

/** Output pins for the ANN gates: those built from `Similarity.annTopK`'s
  * shared stages — the in-memory pipelines, the persisted index, the
  * recall eval and the k-means step that shares their seed set and
  * assignment — and the brute-force, LSH, MIPS, kNN-join and
  * graph-search gates still outside it, so folding them in has a guard.
  * Each gate's sf0.001 output must keep its row count and
  * its order-independent sum of per-row `xxhash64` values. The DuckDB
  * compare is what proves these outputs right; the pin catches any
  * expression drift in a shared stage without it.
  */
class AnnPinSpec extends GraftSuite {
  private val pins = Seq(
    "ann_ivf_topk" -> (100L, -9059862207215250726L),
    "ann_pq_topk" -> (100L, 589601621793629744L),
    "ann_pq_rerank" -> (100L, 6061262407388203022L),
    "ann_pq_trained" -> (100L, 8373313462158261293L),
    "ann_pq_trained_rerank" -> (100L, -4511925146853754557L),
    "ann_sq8_topk" -> (100L, 6407213034666374721L),
    "ann_sq8_rerank" -> (100L, -9059862207215250726L),
    "ann_ivf_pq_topk" -> (100L, 3123366352288329586L),
    "ann_ivf_pq_rerank" -> (100L, -1498855307618713179L),
    "ann_ivf_pq_trained_rerank" -> (100L, 8882682343498299374L),
    "ann_ivf_pq_trained_rerank_scaled" -> (100L, 9037045893125229550L),
    "ann_ivf_sq8_rerank" -> (100L, 9037045893125229550L),
    "ann_ivf_sq8_persisted" -> (100L, 9037045893125229550L),
    "ann_ivf_sq8_append" -> (100L, 374898135969460397L),
    "ann_ivf_sq8_trained" -> (100L, -3385149399687715408L),
    "ann_recall_eval" -> (10L, 1197298787047668740L),
    "emb_kmeans_step" -> (512L, -5490820331656527218L),
    "ann_bruteforce_topk" -> (100L, -9059862207215250726L),
    "ann_lsh_topk" -> (100L, 1222485054873394005L),
    "ann_mips_topk" -> (100L, 1222485054873394005L),
    "ann_knn_join" -> (2500L, -511473802118913508L),
    "ann_knn_join_scaled" -> (2500L, -511473802118913508L),
    "ann_graph_search" -> (100L, -4775047322711660255L))

  pins.foreach { case (gate, expected) =>
    test(s"$gate output matches its sf0.001 pin") {
      val got = pin(gate)
      Gates.release(spark, gc = false)
      assert(got == expected)
    }
  }
}
