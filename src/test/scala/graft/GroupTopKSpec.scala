package graft

import graft.operators.TopK

class GroupTopKSpec extends GraftSuite {
  import spark.implicits._

  test("native GroupTopK matches the window formulation exactly") {
    val part = Tables(spark, sf0001).part
    val viaWindow = TopK(part,
      Seq($"p_brand"), Seq($"p_retailprice".desc, $"p_partkey"), 3)
      .select($"p_brand", $"p_partkey", $"rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val viaNative = TopK.native(part,
      Seq($"p_brand"), Seq($"p_retailprice".desc, $"p_partkey"), 3)
      .select($"p_brand", $"p_partkey", $"rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaNative == viaWindow && viaNative.nonEmpty)
  }

  test("native GroupTopK plans without a Sort or Window operator") {
    val plan = TopK.native(Tables(spark, sf0001).part,
      Seq($"p_brand"), Seq($"p_retailprice".desc, $"p_partkey"), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GroupTopK"), s"custom exec missing:\n$plan")
    assert(!plan.contains("Window"), s"unexpected Window:\n$plan")
    assert(!plan.contains("Sort "), s"unexpected Sort:\n$plan")
  }

  test("native GroupTopK handles k larger than group size") {
    val df = Seq(("a", 1), ("a", 2), ("b", 5)).toDF("g", "v")
    val got = TopK.native(df, Seq($"g"), Seq($"v".desc), 10)
      .select($"g", $"v", $"rk").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == Set(("a", 2, 1), ("a", 1, 2), ("b", 5, 1)))
  }
}
