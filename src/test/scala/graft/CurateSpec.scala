package graft

import graft.queries.{CurateQ, GraphQ}

/** Round-7 wave K (queries/CurateQ.scala + GraphQ.qModularity). */
class CurateSpec extends GraftSuite {
  import spark.implicits._

  test("cdc apply reconciles: applied keys = all keys minus tombstones") {
    val rows = CurateQ.etlCdcApply(spark, sf0001).collect()
    val applied = rows.map(_.getAs[Long]("n_orders")).sum
    val expected = Tables(spark, sf0001).orders
      .filter($"o_orderkey" % 13 =!= 0).count()
    assert(applied === expected)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_base") + r.getAs[Long]("n_inserted") +
        r.getAs[Long]("n_updated") === r.getAs[Long]("n_orders"))
      assert(r.getAs[Long]("total_cents") > 0L)
    }
  }

  test("cdc apply: updates win over base, tombstones drop %13 keys") {
    val rows = CurateQ.etlCdcApply(spark, sf0001).collect()
    // updated rows exist (there are %7 keys not killed by %13 tombstones)
    assert(rows.map(_.getAs[Long]("n_updated")).sum > 0L)
    // every surviving key class is represented: base-only and inserted
    assert(rows.map(_.getAs[Long]("n_base")).sum > 0L)
    assert(rows.map(_.getAs[Long]("n_inserted")).sum > 0L)
  }

  test("expectations: every verdict matches an independent recount") {
    val rows = CurateQ.etlExpectations(spark, sf0001).collect()
    assert(rows.length === 7)
    val byCheck = rows.map(r => r.getAs[String]("check") ->
      (r.getAs[Long]("observed"), r.getAs[Boolean]("passed"))).toMap
    val l = Tables(spark, sf0001).lineitem
    assert(byCheck("row_count") === ((l.count(), true)))
    // the synthetic lake REALLY contains duplicate (orderkey, linenumber)
    // pairs — the suite's whole point is to surface that, so pin the
    // exact duplicate count against an independent recount
    val dups = l.count() - l.select($"l_orderkey", $"l_linenumber").distinct().count()
    assert(byCheck("uniqueness_pk") === ((dups, dups == 0L)))
    Seq("completeness_l_shipdate", "nonnegative_l_extendedprice",
      "range_l_discount_0_01", "range_l_quantity_1_50", "set_l_returnflag_anr")
      .foreach(c => assert(byCheck(c) === ((0L, true)), c))
  }

  test("naive bayes confusion reconciles to the held-out split") {
    val rows = CurateQ.qNaiveBayes(spark, sf001).collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    val heldOut = Tables(spark, sf001).documents.filter($"doc_id" % 5 === 0).count()
    assert(total === heldOut)
    rows.foreach { r =>
      assert(r.getAs[Long]("n") <= r.getAs[Long]("n_true"))
      val s = r.getAs[Double]("share_of_true")
      assert(s > 0.0 && s <= 1.0)
    }
    // the marker words (der/die, el/los, le/la...) are high-frequency
    // training features, so English must dominate its own row
    val en = rows.filter(r => r.getAs[String]("lang") == "en")
    val enCorrect = en.find(_.getAs[String]("pred_lang") == "en")
    assert(enCorrect.isDefined)
    assert(enCorrect.get.getAs[Long]("n") * 2 > enCorrect.get.getAs[Long]("n_true"))
  }

  test("dtw wavefront fold matches a hand-computed DP") {
    // a=[1,2,3], b=[1,3]: dp grid gives DTW=1 (match 1-1, 2-either, 3-3)
    val df = spark.sql(
      s"""SELECT ${CurateQ.dtwExpr("array(1L,2L,3L)", "array(1L,3L)", "3", "2")} AS dtw""")
    assert(df.collect().head.getAs[Long]("dtw") === 1L)
    // identical series align along the diagonal for free
    val self = spark.sql(
      s"""SELECT ${CurateQ.dtwExpr("array(5L,9L,2L,7L)", "array(5L,9L,2L,7L)", "4", "4")} AS dtw""")
    assert(self.collect().head.getAs[Long]("dtw") === 0L)
    // one-element vs series: every element must map to the singleton
    val one = spark.sql(
      s"""SELECT ${CurateQ.dtwExpr("array(2L)", "array(1L,3L,2L)", "1", "3")} AS dtw""")
    assert(one.collect().head.getAs[Long]("dtw") === 2L) // |2-1|+|2-3|+|2-2|
  }

  test("ts_dtw on the lake: bounded by the L1 of the coupled series") {
    val r = CurateQ.tsDtw(spark, sf0001).collect().head
    val la = r.getAs[Long]("la"); val lb = r.getAs[Long]("lb")
    assert(la > 0 && lb > 0)
    val dtw = r.getAs[Long]("dtw")
    assert(dtw >= 0L && dtw < 1000000000000000L) // a real path, not INF
    assert(r.getAs[Double]("avg_step_cost") >= 0.0)
  }

  test("distinctive terms: top-3 per source, ranked by descending z") {
    val rows = CurateQ.corpusDistinctiveTerms(spark, sf0001).collect()
    val bySource = rows.groupBy(_.getAs[String]("source"))
    assert(bySource.nonEmpty)
    bySource.foreach { case (_, rs) =>
      assert(rs.length <= 3)
      val zs = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("z_e4"))
      assert(zs.zip(zs.tail).forall { case (hi, lo) => hi >= lo })
      rs.foreach(r => assert(r.getAs[Long]("n_in_source") > 0L))
    }
  }

  test("modularity is a genuine quality score in [-1, 1]") {
    val r = GraphQ.qModularity(spark, sf0001).collect().head
    val m = r.getAs[Long]("m_edges")
    val q4m2 = r.getAs[Long]("q_times_4m2")
    assert(m > 0L)
    assert(r.getAs[Long]("n_communities") >= 1L)
    assert(math.abs(q4m2) <= 4L * m * m) // |Q| <= 1 in exact units
    val mod = r.getAs[Double]("modularity")
    assert(mod >= -1.0 && mod <= 1.0)
  }
}
