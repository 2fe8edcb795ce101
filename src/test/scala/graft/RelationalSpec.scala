package graft

import graft.queries.Relational

class RelationalSpec extends GraftSuite {

  test("q1 pricing summary: six groups, sane aggregates") {
    val rows = Relational.q1PricingSummary(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 6)
    val byKey = rows.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(byKey.keys.forall { case (rf, ls) =>
      Set("A", "N", "R")(rf) && Set("O", "F")(ls)
    })
    rows.foreach { r =>
      assert(r.getDouble(2) > 0)            // sum_qty
      assert(r.getLong(9) > 0)              // count_order
      assert(r.getDouble(6) <= r.getDouble(3)) // avg_qty <= sum_base_price (trivially)
    }
  }

  test("q1 is map-side combinable (partial aggregate in plan)") {
    val plan = Relational.q1PricingSummary(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"))
  }

  test("q1 overflow guard: pathological coarse partitioning still sums exactly") {
    // the envelope (≤75M rows per partition-group partial) holds even
    // when the caller collapses the input to ONE partition — the guard
    // must stay silent and the sums must equal the default-partitioned
    // run exactly (both phases sum exact integers, so partitioning
    // cannot change the answer)
    val base = Relational.q1PricingSummary(spark, sf0001).collect().toSeq
    val one = spark.read.parquet(s"$sf0001/lineitem.parquet").coalesce(1)
    val dir1 = java.nio.file.Files.createTempDirectory("graft_q1_guard").toString
    one.write.mode("overwrite").parquet(s"$dir1/lineitem.parquet")
    // single-file read still splits by maxPartitionBytes; force one
    // partition through the conf so the guard's envelope is actually
    // stressed from the scan side
    val coarse = withSQLConf(
      "spark.sql.files.maxPartitionBytes" -> (1L << 40).toString,
      "spark.sql.files.openCostInBytes" -> "0") {
      Relational.q1PricingSummary(spark, dir1).collect().toSeq
    }
    assert(coarse.map(_.toString).sorted == base.map(_.toString).sorted)
  }

  test("q1 overflow guard: past-envelope partial fails loudly, not silently") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // shape of the q1 partial with a fabricated count past the bound:
    // the guard column must raise, not return a wrapped value
    val df = Seq((1L, 80000000L)).toDF("v", "c")
      .agg(Relational.guardedLong(sum($"v"), max($"c"), 70000000L, "boom").as("g"))
    val e = intercept[Exception](df.collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("boom")))
    // and under the bound it passes the value through untouched
    val ok = Seq((1L, 5L)).toDF("v", "c")
      .agg(Relational.guardedLong(sum($"v"), max($"c"), 70000000L, "boom").as("g"))
      .head().getLong(0)
    assert(ok == 1L)
  }
}
