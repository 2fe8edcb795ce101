package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The sf1 bench lakes (flat 10×-replicated + orderkey-bucketed) as
  * ONE shared builder: graft.Bench's sf1 tiers call these, and the
  * standalone main rebuilds the identical lakes for out-of-band perf
  * iteration — a single construction, so the tier the artifact
  * measures and the tier a perf session drives can never drift.
  * Order keys shift per replica so join fan-out per key stays
  * realistic; dims are reused (facts outgrow dims in a real lake).
  *
  * Usage: runMain graft.tools.Sf1Lakes [sfDir] [flatOut] [bucketedOut]
  */
object Sf1Lakes {

  val Dims: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "events", "documents", "embeddings")

  /** PINNED bucket count (r14 advice): deriving it from the local CPU
    * count made a perf session on a different box build a
    * differently-bucketed lake than the bench artifact measured —
    * re-opening the drift channel this shared builder exists to close.
    * 32 matches the build container's local[32]; override via
    * SPARK_GRAFT_BUCKETS only when deliberately studying layout.
    */
  def defaultBuckets: Int = sys.env.getOrElse("SPARK_GRAFT_BUCKETS", "32").toInt

  /** 10×-replicated flat lake: orders/lineitem replicated with shifted
    * order keys, every other table copied as-is.
    */
  def buildFlat(spark: SparkSession, sfDir: String, out: String): Unit = {
    val t = graft.Tables(spark, sfDir)
    val maxOrder = t.orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1
    def replicate(df: DataFrame, shifts: Map[String, Long]) = {
      val rep = spark.range(10).toDF("__r")
      df.crossJoin(rep).select(df.columns.map { c =>
        shifts.get(c) match {
          case Some(step) => (col(c) + col("__r") * step).as(c)
          case None => col(c)
        }
      }: _*)
    }
    replicate(t.orders, Map("o_orderkey" -> maxOrder))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    replicate(t.lineitem, Map("l_orderkey" -> maxOrder))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    for (n <- Dims) t.byName(n).write.mode("overwrite").parquet(s"$out/$n.parquet")
  }

  /** Orderkey-bucketed copy of a flat lake: facts bucketed+sorted on
    * their order key through [[graft.sources.BucketedLake]] (the
    * durable marker serves every later session), dims copied plain.
    */
  def buildBucketed(spark: SparkSession, flatDir: String, out: String,
                    numBuckets: Int): Unit = {
    val src = graft.Tables(spark, flatDir)
    graft.sources.BucketedLake.write(src.orders, s"$out/orders.parquet",
      numBuckets, Seq("o_orderkey"), Seq("o_orderkey"))
    graft.sources.BucketedLake.write(src.lineitem, s"$out/lineitem.parquet",
      numBuckets, Seq("l_orderkey"), Seq("l_orderkey"))
    for (n <- Dims)
      spark.read.parquet(s"$flatDir/$n.parquet")
        .write.mode("overwrite").parquet(s"$out/$n.parquet")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val flat = args.lift(1).getOrElse("/tmp/graft_bench_sf1")
    val bucketed = args.lift(2).getOrElse("/tmp/graft_bench_sf1b")
    val spark = graft.GraftSession.get("sf1lakes")
    buildFlat(spark, sfDir, flat)
    buildBucketed(spark, flat, bucketed, defaultBuckets)
    println(s"[sf1lakes] flat=$flat bucketed=$bucketed")
    spark.stop()
  }
}
