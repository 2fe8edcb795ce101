package graft

import graft.queries.TemporalQ

/** Round-7 temporal/relational-algebra wave (queries/TemporalQ.scala). */
class TemporalSpec extends GraftSuite {
  import spark.implicits._

  test("relational division equals the anti-join formulation") {
    val got = TemporalQ.qRelDivision(spark, sf0001)
      .select($"user_id").as[Long].collect().toSet
    // independent formulation: no (user, type) pair missing
    val ev = Tables(spark, sf0001).events
    val users = ev.select($"user_id").distinct()
    val types = ev.select($"event_type").distinct()
    val missing = users.crossJoin(types)
      .join(ev.select($"user_id", $"event_type").distinct(),
        Seq("user_id", "event_type"), "left_anti")
      .select($"user_id").distinct().as[Long].collect().toSet
    val expected = users.as[Long].collect().toSet -- missing
    assert(got === expected)
  }

  test("temporal join covers every order exactly once") {
    val rows = TemporalQ.qTemporalJoin(spark, sf0001).collect()
    val orders = Tables(spark, sf0001).orders.count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum === orders)
    assert(rows.map(_.getAs[Long]("as_of")).toSet === Set(1L, 2L, 3L))
  }

  test("bitmap IVM state merge is consistent with the full recompute") {
    val rows = TemporalQ.qIvmDistinct(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("consistent")))
  }
}
