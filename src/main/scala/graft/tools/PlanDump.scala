package graft.tools

/** Prints the formatted physical plan of named gates against a lake —
  * the `.explain("formatted")` iteration loop the build brief asks for,
  * runnable per-lake (flat vs bucketed) without editing query code.
  *
  * Usage: runMain graft.tools.PlanDump <lakeDir> <gate>[,<gate>...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val gates = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.GraftSession.get("plandump")
    gates.foreach { g =>
      println(s"===== $g @ $dir =====")
      val df = graft.SparkEntry.queries(g)(spark, dir)
      df.explain("formatted")
    }
    spark.stop()
  }
}
