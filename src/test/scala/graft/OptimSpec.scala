package graft

import graft.queries.OptimQ

/** Round-7 optimizer-infrastructure wave (queries/OptimQ.scala). */
class OptimSpec extends GraftSuite {
  import spark.implicits._

  test("bitmap distinct equals the classic distinct on every group") {
    val rows = OptimQ.qBitmapDistinct(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_distinct_bitmap") === r.getAs[Long]("n_distinct_exact"))
      // the bitmap state is at most one word per 64 keys of the span
      assert(r.getAs[Long]("n_words") <= r.getAs[Long]("n_distinct_exact"))
    }
  }

  test("join size estimate brackets the truth and the truth is the self-join count") {
    val r = OptimQ.qJoinSizeEst(spark, sf0001).collect().head
    val ev = Tables(spark, sf0001).events.select($"user_id")
    val actual = ev.join(ev.withColumnRenamed("user_id", "u2"),
      $"user_id" === $"u2").count()
    assert(r.getAs[Long]("true_size") === actual)
    val ratio = r.getAs[Double]("err_ratio")
    assert(ratio > 0.5 && ratio < 2.0) // synopsis is sane on this data
  }

  test("mahalanobis top-20 is distinct, ranked, and non-negative") {
    val rows = OptimQ.embMahalanobis(spark, sf0001).orderBy($"rk").collect()
    assert(rows.length === 20)
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length === 20)
    val scores = rows.map(_.getAs[Double]("maha_score"))
    assert(scores.forall(_ >= 0.0))
    assert(scores.zip(scores.tail).forall { case (hi, lo) => hi >= lo })
  }
}
