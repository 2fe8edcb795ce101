package graft

import graft.queries.InsightQ

/** Round-7 wave L (queries/InsightQ.scala). */
class InsightSpec extends GraftSuite {
  import spark.implicits._

  test("AR(2) fit is stationary and forecasts revert toward the mean") {
    val rows = InsightQ.tsArForecast(spark, sf0001).collect().sortBy(_.getAs[Long]("h"))
    assert(rows.length === 7)
    val phi1 = rows.head.getAs[Double]("phi1")
    val phi2 = rows.head.getAs[Double]("phi2")
    // Yule-Walker on a real series yields a stationary AR(2)
    assert(phi2 > -1.0 && phi2 < 1.0)
    assert(phi1 + phi2 < 1.0 && phi2 - phi1 < 1.0)
    // with |phi| < 1 the h-step forecast contracts toward mu: the
    // centered magnitude at h=7 is no larger than at h=1 by much
    val fc = rows.map(_.getAs[Double]("forecast"))
    assert(fc.forall(f => f > 0.0)) // daily purchase counts are positive
  }

  test("periodogram: 10 frequencies, ranks are a permutation by power") {
    val rows = InsightQ.tsPeriodogram(spark, sf0001).collect()
    assert(rows.length === 10)
    assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to 10L))
    val byRank = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("power_e8"))
    assert(byRank.zip(byRank.tail).forall { case (hi, lo) => hi >= lo })
    rows.foreach(r => assert(r.getAs[Long]("power_e8") >= 0L))
  }

  test("train/holdout split is leak-free and covers the corpus") {
    val rows = InsightQ.corpusTrainHoldout(spark, sf0001).collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getAs[Long]("overlap_sources") === 0L))
    val docs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(docs === Tables(spark, sf0001).documents.count())
    val sources = rows.map(_.getAs[Long]("n_sources")).sum
    assert(sources === Tables(spark, sf0001).documents.select("source").distinct().count())
  }

  test("l-diversity: l is bounded by group size and the band count") {
    val rows = InsightQ.etlLDiversity(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val l = r.getAs[Long]("l_diversity")
      assert(l >= 1L && l <= r.getAs[Long]("n"))
      assert(r.getAs[Boolean]("at_risk") === (l < 3))
    }
  }

  test("revenue bridge: effects reconcile to the exact delta") {
    val r = InsightQ.qRevenueBridge(spark, sf001).collect().head
    assert(r.getAs[Long]("month1") === r.getAs[Long]("month0") + 1)
    val delta = r.getAs[Long]("delta_cents")
    assert(delta === r.getAs[Long]("rev1_cents") - r.getAs[Long]("rev0_cents"))
    // Laspeyres decomposition is exact up to per-part 1e-4 rounding:
    // price + volume + mix + new - lost == delta within n_parts quanta
    val approx = (r.getAs[Long]("price_eff_e4") + r.getAs[Long]("volume_eff_e4") +
      r.getAs[Long]("mix_eff_e4")) / 10000L +
      r.getAs[Long]("new_eff_cents") - r.getAs[Long]("lost_eff_cents")
    val parts = r.getAs[Long]("n_common_parts") + 1
    assert(math.abs(approx - delta) <= parts, s"bridge residual too large: $approx vs $delta")
    assert(r.getAs[Long]("n_common_parts") > 0L)
  }

  test("spectral entropy: bounds and dominant-share consistency with the spectrum") {
    val r = InsightQ.tsSpectralEntropy(spark, sf0001).collect().head
    val hN = r.getAs[Double]("entropy_norm")
    assert(hN >= 0.0 && hN <= 1.0 + 1e-9)
    assert(r.getAs[Long]("n_freqs") === 10L)
    val dom = r.getAs[Double]("dominant_share")
    assert(dom >= 0.1 - 1e-9 && dom <= 1.0) // max share >= uniform share
    // recompute from the gated periodogram
    val pw = InsightQ.tsPeriodogram(spark, sf0001).collect()
      .map(_.getAs[Long]("power_e8").toDouble)
    val tot = pw.sum
    assert(math.abs(dom - math.round(1e6 * pw.max / tot) / 1e6) < 1e-3)
    val h = pw.filter(_ > 0).map { p => val q = p / tot; -q * math.log(q) }.sum
    assert(math.abs(r.getAs[Double]("entropy") - h) < 1e-4)
  }

  test("xyz analysis: classes partition the part universe with sane CV ordering") {
    val rows = graft.queries.OpsQ.qXyzAnalysis(spark, sf0001).collect()
      .map(r => r.getAs[String]("cls") ->
        (r.getAs[Long]("n_parts"), r.getAs[Double]("share"))).toMap
    val partsShipped = Tables(spark, sf0001).lineitem
      .select($"l_partkey").distinct().count()
    assert(rows.values.map(_._1).sum === partsShipped)
    assert(math.abs(rows.values.map(_._2).sum - 1.0) < 0.001)
    assert(rows.keySet.subsetOf(Set("X", "Y", "Z")))
  }
}
