package graft

import graft.queries.EntityQ

/** Round-7 wave Y (queries/EntityQ.scala): golden-record resolution. */
class EntitySpec extends GraftSuite {
  import spark.implicits._

  test("golden record: originals survive, dirty copies fold back onto their source") {
    val rows = EntityQ.qGoldenRecord(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val nCust = Tables(spark, sf0001).customer.count()
    rows.foreach { r =>
      // survivorship picks an ORIGINAL (ids < 10^7) as the golden record
      assert(r.getAs[Long]("golden_id") < 10000000L, s"cluster ${r.get(0)}")
      assert(r.getAs[Long]("n_members") >= 2L)
      // min-label clusters are labeled by their min member = the golden id
      assert(r.getAs[Long]("cluster") === r.getAs[Long]("golden_id"))
      assert(r.getAs[String]("golden_name").startsWith("Customer#"))
    }
    // the fixture plants one dirty copy per customer; the vast majority
    // must re-merge (some perturbed names can exceed distance 2 at the
    // trigram DF cap — the declared blocking contract)
    assert(rows.length >= (nCust * 0.8).toLong, s"${rows.length} of $nCust merged")
    // no chain-merging: balance agreement keeps clusters tight
    assert(rows.count(_.getAs[Long]("n_members") > 2L) <= (nCust * 0.02).toInt)
  }

  test("BlockedMatch.levWithin agrees with Spark's levenshtein at every threshold") {
    import graft.operators.BlockedMatch.levWithin
    import org.apache.spark.sql.functions.{col, levenshtein}
    val strs = Seq("", "a", "ab", "Customer#000000123", "Customer#000015124",
      "Custmer#000000123", "kitten", "sitting", "flaw", "lawn",
      "μüαβ", "μüβ", "αβγδ", "identical", "identical")
    val pairs = for (a <- strs; b <- strs) yield (a, b)
    val df = pairs.toDF("a", "b")
    for (k <- Seq(0, 1, 2, 3)) {
      val sparkSide = df.withColumn("lv", levenshtein(col("a"), col("b")))
        .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getInt(2) <= k)).toMap
      pairs.foreach { case (a, b) =>
        assert(levWithin(a, b, k) == sparkSide((a, b)),
          s"levWithin('$a','$b',$k) disagrees with Spark")
      }
    }
  }

  test("BlockedMatch spanning edges: components equal the full verified pair " +
    "graph, including transitive chains the block-min star would miss") {
    import graft.operators.{BlockedMatch, ClusterDedup}
    import org.apache.spark.sql.functions.{col, levenshtein}
    // block X: a chain — lev(aaaa, aacc)=2, lev(aacc, cccc)=2, but
    // lev(aaaa, cccc)=4: the min member does NOT match the far member
    // directly, so a (member, block-min) star verify would split the
    // chain; the union-find must keep it whole. Block Y: a clique of
    // near-identicals plus an unmatchable outlier. A pair spanning
    // two blocks dedupes.
    val rows = Seq(
      (1L, "aaaa", "X"), (2L, "aacc", "X"), (3L, "cccc", "X"),
      (10L, "zzzz", "Y"), (11L, "zzzy", "Y"), (12L, "zzyy", "Y"),
      (14L, "zzyz", "Y"), (13L, "qqqqqqqq", "Y"),
      (1L, "aaaa", "Z"), (2L, "aacc", "Z")).toDF("id", "s", "blk")
    val edges = BlockedMatch.levSpanningEdges(rows, Seq("blk"), "id", "s", maxDist = 2)
      .distinct()
    val got = ClusterDedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // truth: full verified pair graph per block
    val full = rows.as("a").join(rows.as("b"), "blk")
      .filter(col("a.id") < col("b.id"))
      .filter(levenshtein(col("a.s"), col("b.s")) <= 2)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    val want = ClusterDedup.connectedComponents(full)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"got $got want $want")
    assert(got(3L) == 1L, "transitive chain must stay one component")
    assert(!got.contains(13L), "unmatched outlier must be absent")
    // spanning output is smaller than the clique graph on the clique block
    assert(edges.count() < full.count())
    // giant-block route (r16, ADVICE #3): forcing every block over the
    // big-block threshold sends them through the chunk-parallel
    // distributed verify — components must be IDENTICAL to the
    // sequential loop's (the pair list may differ from the star
    // forest; components may not)
    val gotBig = ClusterDedup.connectedComponents(
        BlockedMatch.levSpanningEdges(rows, Seq("blk"), "id", "s",
          maxDist = 2, bigBlock = 1).distinct())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotBig == want, s"big-block route diverged: $gotBig want $want")
  }

  test("fellegi-sunter: true copies outscore chance collisions") {
    val rows = EntityQ.qFellegiSunter(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val matches = rows.filter(_.getAs[Boolean]("is_match"))
    // every planted copy pair that survived blocking agrees on all
    // three scored attributes and clears the match threshold
    val copyPairs = rows.filter(r =>
      r.getAs[Long]("id_b") == r.getAs[Long]("id_a") + 10000000L)
    assert(copyPairs.nonEmpty, "blocking must surface planted copies")
    copyPairs.foreach { r =>
      assert(r.getAs[Boolean]("cents_agree") && r.getAs[Boolean]("mkt_agree")
        && r.getAs[Boolean]("nat_agree"), s"copy pair disagrees: $r")
      assert(r.getAs[Boolean]("is_match"), s"copy pair below threshold: $r")
    }
    // the near-unique attribute carries the weight: every match
    // agrees on balance cents (segment/nation alone cannot clear 5)
    matches.foreach(r => assert(r.getAs[Boolean]("cents_agree"),
      s"match without the dominant evidence: $r"))
    // weights are calibrated log-odds: full agreement beats any
    // single disagreement
    val full = rows.filter(r => r.getAs[Boolean]("cents_agree")
      && r.getAs[Boolean]("mkt_agree") && r.getAs[Boolean]("nat_agree"))
      .map(_.getAs[Double]("weight"))
    val partial = rows.filterNot(r => r.getAs[Boolean]("cents_agree")
      && r.getAs[Boolean]("mkt_agree") && r.getAs[Boolean]("nat_agree"))
      .map(_.getAs[Double]("weight"))
    if (full.nonEmpty && partial.nonEmpty)
      assert(full.min > partial.max,
        s"log-odds ordering violated: full min ${full.min} <= partial max ${partial.max}")
  }
}
