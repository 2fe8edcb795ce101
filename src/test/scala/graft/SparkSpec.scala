package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs — one JVM-wide SparkSession. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.get("graft-test")
  val sf0001 = "/root/testdata/sf0.001"
  val sf001  = "/root/testdata/sf0.01"
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf0001: String = SparkSpec.sf0001
  def sf001: String  = SparkSpec.sf001

  /** A frame's row count and its order-independent sum of per-row
    * `xxhash64` values. */
  def pinOf(df: DataFrame): (Long, Long) = {
    val hashes = df.select(xxhash64(df.columns.map(col): _*)).collect().map(_.getLong(0))
    (hashes.length.toLong, hashes.sum)
  }

  /** [[pinOf]] a gate's sf0.001 output. */
  def pin(gate: String): (Long, Long) = pinOf(SparkEntry.queries(gate)(spark, sf0001))

  /** Set SQL confs for the duration of `body`, restoring the prior
    * values after. The shared session is JVM-wide and suites run
    * sequentially in the single forked test JVM (Test/fork := true,
    * no testForkedParallel) — this helper scopes any conf mutation to
    * its test so that assumption is the only one the suites rely on.
    */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
