package graft

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

/** Gates that run at once on one session — as a notebook or a server
  * shares it — must give exactly their serial outputs: no operator,
  * lake read or cache may leak state between concurrent queries.
  */
class SharedSessionSpec extends GraftSuite {

  test("two gates running at once on one session give their serial outputs") {
    val gates = Seq("q_label_prop", "text_tfidf")
    val serial = gates.map(g => g -> pin(g)).toMap
    Gates.release(spark, gc = false) // the concurrent runs recompute, not hit the cache
    val pool = Executors.newFixedThreadPool(2)
    val start = new CyclicBarrier(2)
    try {
      val running = gates.map(g => g -> pool.submit(new Callable[(Long, Long)] {
        def call(): (Long, Long) = { start.await(); pin(g) }
      }))
      val together = running.map { case (g, f) => g -> f.get(10, TimeUnit.MINUTES) }.toMap
      assert(together == serial)
    } finally {
      pool.shutdownNow()
      Gates.release(spark, gc = false)
    }
  }
}
