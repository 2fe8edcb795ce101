package graft

import graft.operators.ClusterDedup

class ClusterSpec extends GraftSuite {
  import spark.implicits._

  test("connected components merge transitive chains to min id") {
    // components: {1,2,3,4} via chain, {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val got = ClusterDedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("maxIter bounds the propagation loop") {
    // the 30-node chain contracts to a 29-node chain whose labels need
    // ~6 pointer-jumping rounds; the single-task path is switched off so
    // the loop (not union-find) runs, and giving up after 3 rounds must
    // throw rather than return unconverged labels
    val chain = (1L to 30L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    spark.catalog.clearCache()
    val e = intercept[IllegalStateException] {
      withSQLConf("spark.graft.localMaxEdges" -> "0") {
        ClusterDedup.connectedComponents(chain, maxIter = 3).collect()
      }
    }
    assert(e.getMessage.contains("3 rounds"), e.getMessage)
    assert(spark.sharedState.cacheManager.isEmpty, "the throw left cached edges behind")
  }

  test("a malformed single-task threshold fails loudly, naming its key") {
    // string ids never take the single-task path, but the key is still checked
    val graphs = Seq(Seq((1L, 2L)).toDF("id_a", "id_b"), Seq(("a", "b")).toDF("id_a", "id_b"))
    spark.catalog.clearCache()
    for (pairs <- graphs; bad <- Seq("-1", "4M", "1.5")) {
      val e = intercept[IllegalArgumentException] {
        withSQLConf("spark.graft.localMaxEdges" -> bad) {
          ClusterDedup.connectedComponents(pairs).collect()
        }
      }
      assert(e.getMessage.contains("spark.graft.localMaxEdges") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
      assert(spark.sharedState.cacheManager.isEmpty, "the throw left cached pairs behind")
    }
  }

  test("50-node chain converges within the default budget (pointer jumping + checkpoint)") {
    // worst-case diameter graph: plain min-propagation needs ~50
    // rounds (> default maxIter); pointer jumping halves label depth
    // per round, and periodic localCheckpoint keeps the plan shallow.
    // localMaxEdges=0 forces the distributed loop so its convergence
    // stays covered now that small graphs take the single-task path.
    spark.conf.set("spark.graft.localMaxEdges", "0")
    try {
      val chain = (1L to 50L).sliding(2).map(s => (s.head, s.last)).toSeq
        .toDF("id_a", "id_b")
      val got = ClusterDedup.connectedComponents(chain).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 50 && got.values.forall(_ == 1L),
        s"unconverged labels: ${got.filter(_._2 != 1L).take(5)}")
    } finally spark.conf.unset("spark.graft.localMaxEdges")
  }

  test("single-task union-find fast path is bit-identical to the distributed loop") {
    // mixed shapes: a 40-node chain (diameter), two cliques (density),
    // isolated edges, and ids far apart (no accidental ordering help)
    val es = (1L to 40L).sliding(2).map(s => (s.head, s.last)).toSeq ++
      (for (a <- 100L to 107L; b <- (a + 1) to 107L) yield (a, b)) ++
      (for (a <- 900L to 905L; b <- (a + 1) to 905L) yield (a, b)) ++
      Seq((5000L, 7000L), (7000L, 7001L), (42000L, 42001L))
    val pairs = new scala.util.Random(17).shuffle(es).toDF("id_a", "id_b")
    val fast = ClusterDedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    spark.conf.set("spark.graft.localMaxEdges", "0")
    val loop =
      try ClusterDedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
      finally spark.conf.unset("spark.graft.localMaxEdges")
    assert(fast == loop, s"fast≠loop: ${fast.diff(loop).take(5)} vs ${loop.diff(fast).take(5)}")
  }
}
