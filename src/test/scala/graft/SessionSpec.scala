package graft

/** Pins the one session config every entry point runs under: the
  * specs, Verify, Bench, Recall, ScaleCurve and graftbench all build
  * their session through GraftSession.get.
  */
class SessionSpec extends GraftSuite {

  test("the shared session pins the config every entry point runs under") {
    val n = GraftSession.cores
    sys.env.get("SPARK_GRAFT_CPUS").foreach(v => assert(n == v.toInt))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == n.toString)
    assert(spark.sparkContext.defaultParallelism == n)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    // only GraftExtensions injects this strategy (GraftExtensions.register
    // adds functions, not planner rules)
    assert(spark.sessionState.planner.strategies.contains(graft.plans.GroupTopKStrategy))
  }

  test("SPARK_GRAFT_CPUS must be a positive integer") {
    assert(GraftSession.coresFrom(Some("3")) == 3)
    assert(GraftSession.coresFrom(None) == Runtime.getRuntime.availableProcessors().min(32))
    for (bad <- Seq("0", "-2", "four", "", "2.5"))
      intercept[IllegalArgumentException](GraftSession.coresFrom(Some(bad)))
  }
}
