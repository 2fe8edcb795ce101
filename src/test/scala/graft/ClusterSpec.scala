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
    val chain = (1L to 30L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    val got = ClusterDedup.connectedComponents(chain, maxIter = 3).collect()
    assert(got.nonEmpty) // bounded, returns possibly-unconverged labels
  }

  test("50-node chain converges within the default budget (pointer jumping + checkpoint)") {
    // worst-case diameter graph: plain min-propagation needs ~50
    // rounds (> default maxIter); pointer jumping halves label depth
    // per round, and periodic localCheckpoint keeps the plan shallow.
    // localMaxPairs=0 forces the distributed loop so its convergence
    // stays covered now that small graphs take the single-task path.
    spark.conf.set("spark.graft.cc.localMaxPairs", "0")
    try {
      val chain = (1L to 50L).sliding(2).map(s => (s.head, s.last)).toSeq
        .toDF("id_a", "id_b")
      val got = ClusterDedup.connectedComponents(chain).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 50 && got.values.forall(_ == 1L),
        s"unconverged labels: ${got.filter(_._2 != 1L).take(5)}")
    } finally spark.conf.unset("spark.graft.cc.localMaxPairs")
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
    spark.conf.set("spark.graft.cc.localMaxPairs", "0")
    val loop =
      try ClusterDedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
      finally spark.conf.unset("spark.graft.cc.localMaxPairs")
    assert(fast == loop, s"fast≠loop: ${fast.diff(loop).take(5)} vs ${loop.diff(fast).take(5)}")
  }
}
