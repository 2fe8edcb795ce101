package graft

/** Output pins for the nine micro-batch replay gates. Each replays the
  * lake through a streaming plan and must keep its sf0.001 row count
  * and its order-independent sum of per-row `xxhash64` values, whatever
  * transport carries the stream's output back. The DuckDB compare is
  * what proves these outputs right; the pin catches drift in the shared
  * replay harness without it.
  */
class ReplayPinSpec extends GraftSuite {
  private val pins = Seq(
    "stream_interval_replay" -> (5L, 9064176608275595547L),
    "stream_outer_replay" -> (210L, 7468718731838293577L),
    "stream_static_replay" -> (1000L, 7328301565882709711L),
    "stream_ohlc_replay" -> (868L, -4031556792305476995L),
    "stream_spend_replay" -> (15L, 8630826875796735076L),
    "stream_cdc_replay" -> (3L, 5750069788326508266L),
    "stream_dedup_replay" -> (1000L, -7325502552028767145L),
    "stream_session_replay" -> (946L, -2946284460168897789L),
    "stream_session_state" -> (946L, 6577506070420540129L))

  pins.foreach { case (gate, expected) =>
    test(s"$gate output matches its sf0.001 pin") {
      val got = pin(gate)
      Gates.release(spark, gc = false)
      assert(got == expected)
    }
  }
}
