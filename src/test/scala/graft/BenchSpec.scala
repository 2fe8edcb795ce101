package graft

import scala.jdk.CollectionConverters._

/** Bench's record rule on synthetic tier results — a gate that did not
  * run is absent, a scalar that did not run is null, -1.0 is a failed
  * run — and one real sf1 tier, with a fresh child JVM, on the smallest
  * lake.
  */
class BenchSpec extends GraftSuite {
  private val battery = Bench.Result("/lake", 2, "/warm", 600, Seq("a" -> 1.23456, "b" -> 2.0))
  private val sf1Scalars = Seq("sf1_spark_fresh_over_oracle", "sf1_spark_fresh_over_oracle_median",
    "sf1_bucketed_build_sec", "sf1_bucketed_fresh_over_oracle", "sf1_bucketed_fresh_over_oracle_median")

  test("top-level keys keep the order of BENCH_FULL_r17.json") {
    assert(Bench.record(battery).fieldNames().asScala.toSeq == Seq("metric", "value", "unit",
      "queries", "isolated", "battery_vs_isolated", "notes", "fresh", "sf1_headliners",
      "sf1_headliners_fresh", "sf1_headliners_fresh_median", "sf1_oracle",
      "sf1_spark_fresh_over_oracle", "sf1_spark_fresh_over_oracle_median", "sf1_bucketed",
      "sf1_bucketed_fresh", "sf1_bucketed_fresh_median", "sf1_bucketed_build_sec",
      "sf1_layout_dividend_fresh", "sf1_bucketed_fresh_over_oracle",
      "sf1_bucketed_fresh_over_oracle_median", "sf1_fresh_protocol", "authoritative", "sf",
      "iters", "warmup"))
  }

  test("a trimmed isolated gate is absent, and cells carry 4 decimals") {
    val r = Bench.record(battery.copy(isolated = Seq("b" -> 1.0), trimmed = Seq("isolated:a")))
    assert(!r.get("isolated").has("a"))
    assert(r.get("isolated").get("b").asDouble == 1.0)
    assert(r.get("battery_vs_isolated").get("b").asDouble == 2.0)
    assert(r.get("queries").get("a").asDouble == 1.2346)
    assert(r.get("value").asDouble == 3.2346)
    assert(r.get("notes").asText.contains("BUDGET-TRIMMED (SPARK_GRAFT_BENCH_BUDGET=600s): isolated:a"))
  }

  test("sf1 tiers that did not run read null ratios and an empty map per cell set") {
    val r = Bench.record(battery)
    sf1Scalars.foreach(k => assert(r.get(k).isNull, k))
    Seq("sf1_headliners", "sf1_headliners_fresh", "sf1_oracle", "sf1_bucketed",
      "sf1_bucketed_fresh", "sf1_layout_dividend_fresh").foreach(k => assert(r.get(k).isEmpty, k))
  }

  test("sf1 tiers that ran give cells, ratios, the dividend and the build time") {
    val h = "q6_forecast_revenue"
    val r = Bench.record(battery.copy(oracle = Seq(h -> 0.5),
      flat = Some(Bench.Sf1(Seq(h -> 3.0), Seq((h, 1.0, 1.5)), Some(2.0), Some(3.0))),
      bucketed = Some(Bench.Sf1(Seq(h -> 2.0), Seq((h, 0.5, 0.75)), Some(1.0), Some(1.5))),
      bucketBuildSec = Some(12.34567)))
    assert(r.get("sf1_headliners_fresh").get(h).asDouble == 1.0)
    assert(r.get("sf1_headliners_fresh_median").get(h).asDouble == 1.5)
    assert(r.get("sf1_spark_fresh_over_oracle").asDouble == 2.0)
    assert(r.get("sf1_bucketed_fresh_over_oracle_median").asDouble == 1.5)
    assert(r.get("sf1_layout_dividend_fresh").get(h).asDouble == 2.0)
    assert(r.get("sf1_bucketed_build_sec").asDouble == 12.3457)
  }

  test("a failed gate reads -1.0 and makes the total -1.0, in the partial record too") {
    val failed = battery.copy(queries = battery.queries :+ ("c" -> -1.0))
    Seq(failed, failed.copy(partial = true)).map(Bench.record).foreach { r =>
      assert(r.get("queries").get("c").asDouble == -1.0)
      assert(r.get("value").asDouble == -1.0)
    }
    assert(Bench.record(failed.copy(partial = true)).get("notes").asText.startsWith("PARTIAL"))
    val build = Bench.record(battery.copy(bucketBuildSec = Some(-1.0)))
    assert(build.get("sf1_bucketed_build_sec").asDouble == -1.0)
  }

  test("a BENCH_ONLY record makes no agreement claim and no watchlist -1.0") {
    val g = "stream_interval_replay"
    val r = Bench.record(Bench.Result("/lake", 2, "/warm", 2700, Seq(g -> 3.0),
      allTimes = Some(Seq(g -> Seq(3.1, 3.0)))))
    assert(r.get("notes").asText == "")
    assert(!r.toString.contains("-1.0"))
    assert(r.get("alltimes").get(g).elements().asScala.map(_.asDouble).toSeq == Seq(3.1, 3.0))
  }

  test("the watchlist names only gates the isolated tier re-timed") {
    val r = Bench.record(battery.copy(queries = Seq("q_pagerank" -> 2.2, "q_user_paths" -> 5.0),
      isolated = Seq("q_pagerank" -> 2.0)))
    val notes = r.get("notes").asText
    assert(notes.contains("battery and isolated agree within 1.3x"))
    assert(notes.contains("watchlist: q_pagerank battery/isolated=1.1 (harness warmth, not a regression)"))
    assert(!notes.contains("q_user_paths"))
  }

  test("sf1Tier times a headliner in-process and in a fresh child JVM") {
    val gate = "q6_forecast_revenue"
    val run = new Bench.Run(spark, 1, "", new Bench.Budget(3600))
    val t = run.sf1Tier(sf0001, "sf1", Seq(gate), Map(gate -> 0.01), children = 1)
    assert(t.inProcess.map(_._1) == Seq(gate) && t.inProcess.head._2 > 0)
    val Seq((g, min, med)) = t.fresh
    assert(g == gate && min > 0 && min <= med)
    assert(t.overOracle.contains(math.round(100.0 * min / 0.01) / 100.0))
  }
}
