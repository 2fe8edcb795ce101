package graft

import graft.queries.RobustQ
import graft.sources.SniffCsv
import org.apache.spark.sql.functions._

/** Round-7 robustness wave (queries/RobustQ.scala). */
class RobustQSpec extends GraftSuite {

  test("quarantine intake keeps clean rows and captures ragged raw lines") {
    val r = RobustQ.etlQuarantine(spark, sf0001).collect().head
    val nations = Tables(spark, sf0001).nation.count()
    assert(r.getAs[Long]("n_clean") === nations)
    assert(r.getAs[Long]("n_quarantined") === 2L)
    assert(r.getAs[String]("sample_corrupt").contains("OVERFLOWIA"))
  }

  test("quarantine reader: ragged rows in BOTH directions quarantine with raw lines") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/t.csv"),
      "a,b,c\n1,2,3\n4,5\n6,7,8,9\n".getBytes)
    val q = SniffCsv.readQuarantine(spark, s"$tmp/t.csv").collect()
    assert(q.length === 3)
    val corrupt = q.filter(_.getAs[String]("_corrupt") != null)
    assert(corrupt.length === 2)
    assert(corrupt.map(_.getAs[String]("_corrupt")).toSet === Set("4,5", "6,7,8,9"))
  }

  test("backtest error accounting is exact and per-forecast") {
    val r = RobustQ.tsBacktest(spark, sf0001).collect().head
    val days = Tables(spark, sf0001).orders
      .select(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000"))
      .distinct().count()
    assert(r.getAs[Long]("n_forecasts") === days - 1)
    assert(r.getAs[Double]("mae_holt") > 0.0)
    assert(r.getAs[Double]("mae_naive") > 0.0)
  }

  test("NOT IN with a null subquery row selects nothing; NOT EXISTS ignores it") {
    val r = RobustQ.qNotInNulls(spark, sf0001).collect().head
    assert(r.getAs[Long]("n_not_in") === 0L)
    assert(r.getAs[Long]("n_not_in_nullfree") === r.getAs[Long]("n_not_exists"))
    assert(r.getAs[Long]("n_not_exists") > 0L)
  }

  test("header mapping recovers every canonical column despite typos") {
    val rows = graft.queries.HeaderQ.etlHeaderMap(spark, sf0001).collect()
    val orders = Tables(spark, sf0001).orders.columns.toSet
    assert(rows.length === orders.size)
    // every corrupted header maps back to a distinct canonical column
    assert(rows.map(_.getAs[String]("mapped_to")).toSet === orders)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("accepted"))
      assert(r.getAs[Long]("distance") >= 1) // the corruption really happened
    }
  }
}
