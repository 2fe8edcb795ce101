package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming exact dedup (SURVEY.md §2.7): dropDuplicates over a keyed
  * stream with a watermark bounding the dedup state — the streaming
  * face of `dedup_exact`.
  */
class StreamDedupSpec extends GraftSuite {
  import spark.implicits._

  test("stream dedup drops cross-batch duplicate ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (event_id, ts_us)
    val deduped = input.toDS()
      .toDF("event_id", "ts_us")
      .withColumn("ts", timestamp_micros($"ts_us"))
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    try {
      input.addData((1L, 1000L), (2L, 2000L), (1L, 1500L)) // in-batch dup
      q.processAllAvailable()
      input.addData((2L, 3000L), (3L, 4000L))              // cross-batch dup
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select($"event_id")
        .as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("replay-harness collect enforces its gate-scale contract with a typed cap") {
    import graft.queries.SimilarityQ
    val big = spark.range(0, 100L).select($"id")
    // over-cap: typed error, not an OOM-ish silent pull
    val e = intercept[SimilarityQ.ReplayCorpusTooLarge] {
      SimilarityQ.collectReplay(big.as[Long], cap = 10L)
    }
    assert(e.cap == 10L && e.rows == 11L)
    // at-cap passes and returns the full corpus
    assert(SimilarityQ.collectReplay(big.as[Long], cap = 100L).length == 100)
  }
}
