package graft

import graft.queries.EvalQ

/** Round-7 wave M (queries/EvalQ.scala). */
class EvalSpec extends GraftSuite {

  test("BPE training: merges are real pairs and symbol count shrinks each round") {
    val rows = EvalQ.textBpeTrain(spark, sf0001).collect().sortBy(_.getAs[Long]("round"))
    assert(rows.length === 3)
    rows.foreach { r =>
      val pair = r.getAs[String]("pair")
      assert(pair.split(" ").length === 2, s"'$pair' is not a 2-symbol pair")
      assert(r.getAs[String]("merged") === pair.replace(" ", ""))
      assert(r.getAs[Long]("n") > 0L)
    }
    // each merge removes n occurrences: total symbols strictly decrease
    val tots = rows.map(_.getAs[Long]("total_symbols"))
    assert(tots.zip(tots.tail).forall { case (a, b) => b < a },
      s"symbol counts not decreasing: ${tots.toSeq}")
    // exactly: round r removes its merge count from the running total
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("total_symbols") - b.getAs[Long]("n") ===
          b.getAs[Long]("total_symbols"))
      case _ =>
    }
  }

  test("cluster purity: shares bounded, global purity consistent") {
    val rows = EvalQ.embClusterPurity(spark, sf0001).collect()
    assert(rows.length === 8)
    val purity = rows.head.getAs[Double]("purity")
    assert(rows.forall(_.getAs[Double]("purity") === purity))
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total === Tables(spark, sf0001).embeddings.count())
    rows.foreach { r =>
      assert(r.getAs[Long]("top_n") <= r.getAs[Long]("n"))
      val s = r.getAs[Double]("top_share")
      assert(s > 0.0 && s <= 1.0)
    }
    // purity can't be below the best cluster-blind guess floor of 1/n_labels
    assert(purity >= 1.0 / 8 && purity <= 1.0)
  }

  test("power analysis: arms partition users, required n is positive") {
    val r = EvalQ.qPowerAnalysis(spark, sf0001).collect().head
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") === r.getAs[Long]("n_users"))
    assert(r.getAs[Double]("var_cents2") > 0.0)
    assert(r.getAs[Double]("mde_cents") > 0.0)
    assert(r.getAs[Long]("required_per_arm") > 0L)
    assert(r.getAs[Boolean]("powered") ===
      (math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b")) >= r.getAs[Long]("required_per_arm")))
  }

  test("freshness audit: freshest table reads zero days behind") {
    val rows = EvalQ.etlFreshnessAudit(spark, sf0001).collect()
    assert(rows.length === 3)
    assert(rows.exists(_.getAs[Long]("days_behind") === 0L))
    rows.foreach { r =>
      val behind = r.getAs[Long]("days_behind")
      assert(behind >= 0L)
      assert(r.getAs[Boolean]("stale") === (behind > 30))
    }
  }

  test("seasonality strength: R² in [0,1] and peak weekday valid") {
    val r = EvalQ.qSeasonalityStrength(spark, sf0001).collect().head
    val r2 = r.getAs[Double]("r2_weekday")
    assert(r2 >= 0.0 && r2 <= 1.0)
    val wd = r.getAs[Long]("peak_weekday")
    assert(wd >= 0L && wd <= 6L)
    assert(r.getAs[Long]("n_days") > 0L)
    assert(r.getAs[Double]("peak_mean_cents") > 0.0)
  }
}
