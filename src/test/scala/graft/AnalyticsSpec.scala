package graft

import org.apache.spark.sql.functions._

/** Specs for the round-3 analytics wave: Bloom-pruned joins, CDC
  * snapshot diff, and feature scaling.
  */
class AnalyticsSpec extends GraftSuite {
  import spark.implicits._

  // ------------------------------------------------------- bloom join

  test("bloom prune never drops a true match (no false negatives)") {
    val build = Seq(1L, 5L, 9L, 123456L).toDF("k")
    val probe = (1L to 2000L).toDF("p")
    val kept = graft.operators.BloomJoin.prune(probe, build, "p", "k", 1 << 10, 3)
      .collect().map(_.getLong(0)).toSet
    assert(Set(1L, 5L, 9L).subsetOf(kept), s"lost a build key from $kept")
  }

  test("bloom prune actually prunes: pass set is far smaller than the probe") {
    val build = Seq(7L, 77L).toDF("k")
    val probe = (1L to 5000L).toDF("p")
    val n = graft.operators.BloomJoin.prune(probe, build, "p", "k", 1 << 14, 3).count()
    assert(n >= 2 && n < 500, s"bloom pruned to $n of 5000 — not selective")
  }

  test("bloom gate's pass count dominates its true-match count") {
    val rows = graft.queries.Analytics.qBloomJoin(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(1) >= r.getLong(2)),
      "false negative: fewer bloom passes than true matches")
  }

  test("bloom prune plans a broadcast bitmap, not a shuffle join") {
    val t = Tables(spark, sf0001)
    val build = t.customer.filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val p = graft.operators.BloomJoin
      .prune(t.orders, build, "o_custkey", "c_custkey", 1 << 16, 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), s"bitmap not broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"shuffle join in bloom prune:\n$p")
  }

  // ---------------------------------------------------- snapshot diff

  test("snapshot diff classifies insert, delete, change, unchanged") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "bal")
    val cur = Seq((1L, "a", 10.0), (2L, "b", 99.0), (4L, "d", 40.0))
      .toDF("id", "name", "bal")
    val got = graft.etl.SnapshotDiff.diff(base, cur, "id", Seq("name", "bal"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "deleted", 4L -> "inserted"))
  }

  test("snapshot diff distinguishes NULL from empty string") {
    val base = Seq((1L, Some("")), (2L, Option.empty[String])).toDF("id", "v")
    val cur = Seq((1L, Option.empty[String]), (2L, Some(""))).toDF("id", "v")
    val got = graft.etl.SnapshotDiff.diff(base, cur, "id", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "changed", 2L -> "changed"))
  }

  // ----------------------------------------------------- pagerank

  test("pagerank conserves teleport mass and ranks sinks above sources") {
    val edges = Seq(("a", "x"), ("b", "x"), ("c", "y")).toDF("src", "dst")
    val r = graft.operators.PageRank.run(edges, iters = 5)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r.values.forall(_ > 0.0))
    // x has two in-edges, y one, sources none: rank(x) > rank(y) > rank(a)
    assert(r("x") > r("y") && r("y") > r("a"))
    // source nodes keep exactly the teleport share (1-d)/N
    assert(math.abs(r("a") - 0.15 / 5) < 1e-12)
    assert(r("a") == r("b") && r("b") == r("c"))
  }

  test("pagerank is invariant to input partitioning") {
    val t = Tables(spark, sf0001)
    val edges = t.lineitem.join(t.orders, $"l_orderkey" === $"o_orderkey")
      .select(concat(lit("s"), $"l_suppkey").as("src"),
        concat(lit("c"), $"o_custkey").as("dst")).distinct()
    def ranked(df: org.apache.spark.sql.DataFrame) =
      graft.operators.PageRank.run(df, iters = 3)
        .select($"node", round($"r", 8).as("r"))
        .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(ranked(edges.repartition(1)) == ranked(edges.repartition(13)))
  }

  test("runReleased matches run and frees the per-run caches") {
    val edges = Seq(("a", "x"), ("b", "x"), ("c", "y"), ("x", "y")).toDF("src", "dst")
    val lazyRanks = graft.operators.PageRank.run(edges, iters = 4)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    spark.catalog.clearCache()
    val released = graft.operators.PageRank.runReleased(edges, iters = 4)
    val got = released.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(got == lazyRanks)
    // the long-lived-session contract: the two persisted tables are
    // gone (the result's own checkpoint blocks live at the RDD level,
    // outside the cache manager, and free on dereference)
    assert(spark.sharedState.cacheManager.isEmpty,
      "runReleased must leave no persisted tables behind")
  }

  // ---------------------------------------------------- retention

  test("retention cohort offset-0 cell counts every cohort member") {
    val out = graft.queries.Analytics.qRetentionCohort(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    assert(out.forall(_._2 >= 0), "negative week offset — activity before first touch")
    // every user is active in their own cohort week, so for each cohort
    // the offset-0 count must be >= any later offset's count
    out.groupBy(_._1).foreach { case (_, rows) =>
      val at0 = rows.find(_._2 == 0L).map(_._3).getOrElse(0L)
      assert(rows.forall(_._3 <= at0), s"offset 0 not the max in $rows")
    }
  }

  // ------------------------------------------- unpivot / merge-schema

  test("unpivot emits one row per (row, measure) and inverts pivot") {
    val base = Tables(spark, sf0001).lineitem.filter($"l_orderkey" <= 100)
    val out = graft.queries.Analytics.qUnpivot(spark, sf0001)
    assert(out.count() == base.count() * 3)
    assert(out.select($"measure").distinct().count() == 3)
  }

  test("merge-schema read NULL-pads each batch's missing column") {
    val out = graft.queries.Analytics.etlMergeSchema(spark, sf0001)
    assert(out.filter($"batch" === 1 && $"n_regionkey".isNotNull).count() == 0)
    assert(out.filter($"batch" === 2 && $"n_name".isNotNull).count() == 0)
    assert(out.filter($"n_nationkey".isNull).count() == 0)
  }

  // ------------------------------------------------- lm score / shuffle

  test("unigram lm scores are negative log-probs, higher for common-token docs") {
    val out = graft.queries.Analytics.textLmScore(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.nonEmpty)
    assert(out.values.forall(_ < 0.0), "log-prob means must be negative")
  }

  test("shuffle batch is deterministic and plans as ordered take") {
    val a = graft.queries.Analytics.etlShuffleBatch(spark, sf0001).collect()
    val b = graft.queries.Analytics.etlShuffleBatch(spark, sf0001).collect()
    assert(a.map(_.getLong(0)).toSeq == b.map(_.getLong(0)).toSeq)
    assert(a.length == 100)
    val p = graft.queries.Analytics.etlShuffleBatch(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"global sort in shuffle batch:\n$p")
  }

  // -------------------------------------------------- feature scaling

  test("z-scored features have zero mean per (label, dim)") {
    val bad = graft.queries.Analytics.embFeatureScale(spark, sf001)
      .join(Tables(spark, sf001).embeddings.select($"vec_id", $"label"), "vec_id")
      .groupBy($"label", $"dim").agg(avg($"z").as("mz"))
      .filter(abs($"mz") > 0.001).count()
    assert(bad == 0, s"$bad (label, dim) groups with non-zero z mean")
  }

  // ----------------------------------------------- triangle counting

  test("triangle count: K4 has 4, a 4-cycle and a hub star have 0") {
    def n(edges: Seq[(Long, Long)]): Long =
      graft.operators.Triangles.count(edges.toDF("u", "v"), "u", "v")
        .collect().head.getLong(0)
    // K4: every 3-subset closes
    assert(n(Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L))) == 4)
    // C4: no chords, no triangles
    assert(n(Seq((1L,2L),(2L,3L),(3L,4L),(4L,1L))) == 0)
    // star: the hub orients AWAY from leaves under degree order and
    // nothing closes — also exercises the hub-safety of orientation
    assert(n((2L to 20L).map(i => (1L, i))) == 0)
    // K4 plus a pendant edge: still 4
    assert(n(Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),(4L,5L))) == 4)
  }

  test("per-node triangle credits and wedge denominators are exact") {
    // K4 + pendant: nodes 1-3 sit in 3 triangles with deg 3 (wedges 3);
    // node 4 in 3 with deg 4 (wedges 6); pendant node 5 in 0, deg 1
    val got = graft.operators.Triangles.perNode(
        Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),(4L,5L)).toDF("u","v"),
        "u", "v")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((3L, 3L)) && got(2L) == ((3L, 3L)) && got(3L) == ((3L, 3L)))
    assert(got(4L) == ((3L, 6L)))
    assert(got(5L) == ((0L, 0L)))
  }

  // ----------------------------------------------- multi-source BFS

  test("bfs settles exact hop distances, expands each node once, stops at the hop budget") {
    // path 1-2-3-4-5-6 plus a disconnected edge 10-11
    val edges = Seq((1L,2L),(2L,3L),(3L,4L),(4L,5L),(5L,6L),(10L,11L)).toDF("u","v")
    val got = graft.operators.Bfs.distances(
        edges, Seq(1L).toDF("node"), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // nodes 5, 6 (dist 4, 5) and the 10-11 component are absent
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("bfs multi-source: nearest seed wins and seeds stay at zero") {
    // 1-2-3-4-5 seeded from both ends: middle node takes the min side
    val edges = Seq((1L,2L),(2L,3L),(3L,4L),(4L,5L)).toDF("u","v")
    val got = graft.operators.Bfs.distances(
        edges, Seq(1L, 5L).toDF("node"), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
  }

  test("k-core peeling strips a tail one hop per round down to the stable core") {
    // triangle 1-2-3 with tail 3-4-5: k=2 peels 5 (round 1) then 4
    // (round 2); the triangle is the stable 2-core
    val edges = Seq((1L,2L),(2L,3L),(1L,3L),(3L,4L),(4L,5L)).toDF("u","v")
    def run(rounds: Int) =
      graft.operators.KCore.peel(edges, k = 2, rounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one round is not enough: node 4 still has degree 2 when 5 goes
    assert(run(1).keySet === Set(1L, 2L, 3L, 4L))
    assert(run(2) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(run(3) === run(2)) // converged: further rounds are no-ops
  }

  test("k-core of a graph below k is empty") {
    val chain = Seq((1L,2L),(2L,3L),(3L,4L)).toDF("u","v")
    assert(graft.operators.KCore.peel(chain, k = 3, rounds = 2).count() === 0L)
  }

  test("bfs with an empty frontier mid-run returns only the settled set") {
    val edges = Seq((1L,2L)).toDF("u","v")
    val got = graft.operators.Bfs.distances(
        edges, Seq(1L).toDF("node"), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L))
  }

  test("bfs single-task fast path is bit-identical to the frontier loop") {
    // mixed shapes: a long chain past the hop budget, a clique, a
    // disconnected component, duplicate sources (the loop preserves
    // duplicate dist-0 rows), ids far apart
    val es = (1L to 30L).sliding(2).map(s => (s.head, s.last)).toSeq ++
      (for (a <- 500L to 505L; b <- (a + 1) to 505L) yield (a, b)) ++
      Seq((9000L, 9001L), (9001L, 9002L), (3L, 500L))
    val edges = new scala.util.Random(17).shuffle(es).toDF("u", "v")
    val srcs = Seq(1L, 505L, 1L).toDF("node") // dup seed on purpose
    def run() = graft.operators.Bfs.distances(edges, srcs, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val fast = run()
    spark.conf.set("spark.graft.localMaxEdges", "0")
    val loop = try run()
      finally spark.conf.unset("spark.graft.localMaxEdges")
    assert(fast == loop,
      s"fast≠loop: ${fast.diff(loop).take(5)} vs ${loop.diff(fast).take(5)}")
  }
}
