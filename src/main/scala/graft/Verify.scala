package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.get("verify")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=q1,q2 restricts the dump (iteration aid,
    // mirrors Bench's SPARK_GRAFT_BENCH_ONLY); unset = all queries.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter {
      case (name, _) => only.forall(_.contains(name))
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release each operator's persisted sketch/index tables — a
      // long-lived session would otherwise accumulate every query's
      // cached blocks (the operators deliberately return lazy plans
      // and cannot unpersist their own intermediates) — and sweep the
      // gate's scratch dirs (index artifacts, stream sinks): the
      // result is already on disk, so nothing still reads them
      Gates.release(spark, gc = false)
    }
    // Jackson escapes quotes, backslashes and every control char, so a
    // tab or CR inside an oracle query still leaves valid JSON.
    val json = new ObjectMapper().writeValueAsString(SparkEntry.oracleSql.asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
