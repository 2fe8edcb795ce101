package graft

import graft.queries.SqlFaceQ
import org.apache.spark.sql.functions._

/** Round-7 API-surface wave (queries/SqlFaceQ.scala). */
class SqlFaceSpec extends GraftSuite {

  test("native expressions resolve through the SQL face with sane outputs") {
    val rows = SqlFaceQ.qSqlExtensions(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("common_tokens") >= 0)
      assert(r.getAs[Int]("n_trigrams") >= 0)
    }
  }

  test("broadcast and shuffle-hash hints agree exactly and actually diverge in strategy") {
    val df = SqlFaceQ.qJoinHints(spark, sf0001)
    df.collect().foreach { r =>
      assert(r.getAs[Long]("n_broadcast") === r.getAs[Long]("n_shuffle"))
      assert(r.getAs[Long]("cents_broadcast") === r.getAs[Long]("cents_shuffle"))
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.contains("ShuffledHashJoin"))
  }

  test("SQL-face breadth: one gate per family runs as Spark SQL text, DSL = SQL exactly") {
    // the oracle strings are written in the portable-ANSI discipline;
    // for these representatives they are VALID Spark SQL too — so the
    // same text DuckDB validates also runs through spark.sql(), and
    // must reproduce the DSL plan's rows bit-for-bit. One gate per
    // §2 family keeps the sweep broad without re-testing dialect
    // corners (DuckDB-only list/hex idioms stay oracle-side).
    val dir = sf0001
    val t = Tables(spark, dir)
    Seq("region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
      "supplier" -> t.supplier, "part" -> t.part, "orders" -> t.orders,
      "lineitem" -> t.lineitem, "events" -> t.events,
      "documents" -> t.documents, "embeddings" -> t.embeddings)
      .foreach { case (n, df) => df.createOrReplaceTempView(n) }
    val gates = Seq(
      "q1_pricing_summary",   // relational agg
      "q4_order_priority",    // exists subquery
      "q_having",             // group filter
      "q_semi_anti",          // semi/anti joins
      "q_topk_per_group",     // window rank
      "q_window_running",     // running frames
      "q_rollup",             // grouping sets family
      "q_revenue_bridge",     // insight family
      "q_abc_analysis",       // ops family
      "etl_k_anonymity",      // governance family
      "corpus_length_buckets",// corpus curation family
      "dedup_exact"           // dedup family
    )
    // the ONE dialect token the two engines cannot share: integer
    // division is `//` in DuckDB and `div` in Spark SQL. Everything
    // else in these gates' oracles is common SQL.
    def dialect(sql: String): String = sql.replace("//", " div ")
    gates.foreach { g =>
      val dsl = SparkEntry.queries(g)(spark, dir)
      val viaSql = spark.sql(dialect(SparkEntry.oracleSql(g)))
      val cols = dsl.columns.sorted.toSeq
      assert(viaSql.columns.sorted.toSeq == cols, s"$g: column sets differ")
      val a = dsl.select(cols.map(col): _*).collect().map(_.toSeq).sortBy(_.mkString("|"))
      val b = viaSql.select(cols.map(col): _*).collect().map(_.toSeq).sortBy(_.mkString("|"))
      assert(a.toSeq == b.toSeq, s"$g: DSL and SQL-text results differ")
    }
  }

  test("decimal and integer-cents money paths agree on every group") {
    val rows = SqlFaceQ.qDecimalMoney(spark, sf0001).collect()
    assert(rows.length === 5)
    rows.foreach(r => assert(r.getAs[Boolean]("paths_agree")))
  }
}
