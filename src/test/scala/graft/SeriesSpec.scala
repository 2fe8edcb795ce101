package graft

import graft.queries.SeriesQ
import org.apache.spark.sql.functions._

/** Round-7 wave R (queries/SeriesQ.scala) — SAX / Bollinger / rolling corr. */
class SeriesSpec extends GraftSuite {
  import spark.implicits._

  private def dailyRevenue(dir: String): Array[(Long, Long)] =
    Tables(spark, dir).lineitem
      .select(expr("unix_micros(l_shipdate) div 86400000000").as("day"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
      .groupBy($"day").agg(expr("sum(c) div 100").as("y"))
      .orderBy($"day")
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  test("sax: valid alphabet, symbol agrees with paa, weighted paa sums to ~0") {
    val rows = SeriesQ.tsSax(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sym = r.getAs[String]("sym"); val paa = r.getAs[Double]("paa")
      assert(Set("a", "b", "c", "d").contains(sym))
      val expected =
        if (paa < -0.6745) "a" else if (paa < 0) "b"
        else if (paa < 0.6745) "c" else "d"
      assert(sym === expected, s"paa $paa")
    }
    // z-scores average to zero, so the day-weighted PAA mean must too
    val weighted = rows.map(r => r.getAs[Long]("n_days") * r.getAs[Double]("paa")).sum
    val nDays = rows.map(_.getAs[Long]("n_days")).sum
    assert(math.abs(weighted / nDays) < 1e-3)
  }

  test("bollinger bands match a direct rolling recomputation") {
    val daily = dailyRevenue(sf0001)
    val expected = daily.sliding(20).map { w =>
      val day = w.last._1; val y = w.last._2
      val s = w.map(_._2).sum; val q = w.map(v => v._2 * v._2).sum
      val mean = s.toDouble / 20
      val sd = math.sqrt((20.0 * q - s.toDouble * s) / (20.0 * 19))
      (day, y, mean, math.abs(y - mean) > 2 * sd)
    }.toArray
    val rows = SeriesQ.tsBollinger(spark, sf0001).collect()
    assert(rows.length === expected.length)
    rows.zip(expected).foreach { case (r, (day, y, mean, breach)) =>
      assert(r.getAs[Long]("day") === day)
      assert(r.getAs[Long]("y") === y)
      assert(math.abs(r.getAs[Double]("mean") - mean) < 1e-3)
      assert(r.getAs[Double]("lower") <= r.getAs[Double]("mean"))
      assert(r.getAs[Double]("upper") >= r.getAs[Double]("mean"))
      val flagged = r.getAs[Boolean]("breach_hi") || r.getAs[Boolean]("breach_lo")
      assert(flagged === breach, s"day $day")
      assert(!(r.getAs[Boolean]("breach_hi") && r.getAs[Boolean]("breach_lo")))
    }
  }

  test("rolling correlation matches a direct recomputation and stays in [-1,1]") {
    val daily = Tables(spark, sf0001).events
      .select(expr("unix_micros(ts) div 86400000000").as("day"), $"event_type")
      .groupBy($"day")
      .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("a"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("b"))
      .orderBy($"day")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = daily.sliding(14).map { w =>
      val c = 14.0
      val sa = w.map(_._2).sum; val sb = w.map(_._3).sum
      val saa = w.map(v => v._2 * v._2).sum; val sbb = w.map(v => v._3 * v._3).sum
      val sab = w.map(v => v._2 * v._3).sum
      val den = math.sqrt(c * saa - sa.toDouble * sa) * math.sqrt(c * sbb - sb.toDouble * sb)
      (w.last._1, if (den == 0) None else Some((c * sab - sa.toDouble * sb) / den))
    }.toArray
    val rows = SeriesQ.tsRollingCorr(spark, sf0001).collect()
    assert(rows.length === expected.length)
    rows.zip(expected).foreach { case (r, (day, corr)) =>
      assert(r.getAs[Long]("day") === day)
      val got = Option(r.getAs[Any]("corr14")).map(_.asInstanceOf[Double])
      (got, corr) match {
        case (Some(g), Some(e)) =>
          assert(math.abs(g - e) < 1e-4); assert(g >= -1.0 && g <= 1.0)
        case (None, None) =>
        case other => fail(s"day $day: $other")
      }
    }
  }

  test("haar decomposition replays driver-side on the dyadic embedding") {
    val rows = graft.queries.SeriesQ.tsHaar(spark, sf0001).orderBy($"level").collect()
    assert(rows.length === 11)
    val daily = Tables(spark, sf0001).orders
      .groupBy(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("day"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
      .orderBy($"day").as[(Long, Long)].collect().map(_._2.toDouble)
    var a = (daily.take(2048) ++ Array.fill(math.max(0, 2048 - daily.length))(0.0)).toArray
    rows.foreach { r =>
      val lvl = r.getAs[Long]("level").toInt
      val next = Array.tabulate(a.length / 2)(k => (a(2 * k) + a(2 * k + 1)) / 2.0)
      val det = Array.tabulate(a.length / 2)(k => (a(2 * k) - a(2 * k + 1)) / 2.0)
      // HALF_UP like both engines' round() (Math.round half-toward-+∞
      // diverges on the exact negative halves levels ≥ 5 produce)
      def rnd(x: Double): BigInt =
        BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
      val energy = det.map(d => rnd(d * 1e4) * rnd(d * 1e4)).sum
      assert(r.getAs[Long]("n_coeffs") === next.length.toLong, s"level $lvl")
      val got = r.getAs[Double]("energy")
      assert(math.abs(got - energy.toDouble / 1e8) <= math.abs(got) * 1e-12, s"energy@$lvl")
      a = next
    }
    assert(a.length === 1)
    assert(math.abs(rows.head.getAs[Double]("approx") - math.floor(a(0)) / 100.0) < 1.0)
  }

  test("kalman gain converges to the steady state and the recurrence replays") {
    val rows = graft.queries.SeriesQ.tsKalman(spark, sf0001).orderBy($"day").collect()
    // steady state for Q=1/4, R=1: P* = (-Q + sqrt(Q^2 + 4QR)) / 2, K* = P*
    val pStar = (-0.25 + math.sqrt(0.0625 + 1.0)) / 2.0
    assert(math.abs(rows.last.getAs[Double]("gain") - pStar) < 1e-4)
    // driver-side replay of the identical recurrence
    val daily = Tables(spark, sf0001).orders
      .groupBy(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("day"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
      .orderBy($"day").as[(Long, Long)].collect()
    var xh = daily.head._2.toDouble; var p = 1.0
    rows.zipWithIndex.drop(1).foreach { case (r, i) =>
      val y = daily(i)._2.toDouble
      val k = (p + 0.25) / (p + 0.25 + 1.0)
      xh = xh + k * (y - xh)
      p = (1.0 - k) * (p + 0.25)
      assert(math.abs(r.getAs[Double]("level") - xh / 100) <= 1e-4, s"level@${r.get(0)}")
      assert(math.abs(r.getAs[Double]("gain") - k) <= 1e-6)
    }
  }

  test("matrix profile: a planted motif pair finds itself at corr 1, dist 0") {
    // series s: pattern P at days 1-7 and an EXACT copy at days 21-27,
    // noise elsewhere — windows 1 and 21 must be mutual nearest
    // neighbors with z-normalized distance 0 (corr 1.0)
    val p = Seq(5L, 9L, 2L, 8L, 3L, 7L, 4L)
    val noise = Seq(10L, 11L, 13L, 10L, 12L, 14L, 10L, 15L, 11L, 13L, 12L, 10L, 14L)
    val ys = p ++ noise ++ p ++ Seq(11L, 12L)
    val df = ys.zipWithIndex.map { case (c, d) => ("s", d.toLong + 1L, c) }
      .toDF("event_type", "day", "cnt")
    val out = SeriesQ.matrixProfile(df).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getAs[Double]("nn_corr"), r.getAs[Double]("nn_dist")))
      .toMap
    assert(out(1L) == ((21L, 1.0, 0.0)), s"window 1 got ${out(1L)}")
    assert(out(21L) == ((1L, 1.0, 0.0)), s"window 21 got ${out(21L)}")
    // every profile row respects the exclusion zone and the d range
    out.foreach { case (i, (j, corr, dist)) =>
      assert(math.abs(i - j) >= 7, s"exclusion zone violated at $i -> $j")
      assert(corr <= 1.0 && dist >= 0.0)
    }
  }

  test("granger: a planted lag-1 causal link shows up in exactly one direction") {
    // y_t = 3*x_{t-1} (pure lagged dependence), x_t = a deterministic
    // pseudo-noise series => F(x->y) huge, F(y->x) small
    val xs = Seq(5L, 9L, 2L, 8L, 3L, 7L, 4L, 6L, 1L, 9L, 2L, 8L, 5L, 3L, 7L,
      1L, 6L, 4L, 9L, 2L, 7L, 5L, 8L, 3L, 6L)
    val rows = xs.indices.drop(1).map { t =>
      (t.toLong, 3L * xs(t - 1) + (t % 2), xs(t))
    }
    val df = rows.toDF("day", "y", "x")
    val out = SeriesQ.granger(df).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("f_stat")).toMap
    assert(out("x_to_y") > 100.0, s"planted direction must dominate: $out")
    assert(out("y_to_x") < out("x_to_y") / 10.0, s"reverse direction must be weak: $out")
  }

  test("granger: a saturated (zero-residual) fit reports NULL F, not a crash") {
    val xs = Seq(5L, 9L, 2L, 8L, 3L, 7L, 4L, 6L, 1L, 9L)
    val rows = xs.indices.drop(1).map(t => (t.toLong, 3L * xs(t - 1), xs(t)))
    val out = SeriesQ.granger(rows.toDF("day", "y", "x")).collect()
      .map(r => r.getString(0) -> r.isNullAt(4)).toMap
    assert(out("x_to_y"), "perfect lagged fit must yield NULL f_stat")
  }

  test("matrix profile: zero-variance windows are excluded from both sides") {
    // constant series: every window has sigma 0 => no output rows
    val flat = (1 to 30).map(d => ("c", d.toLong, 5L)).toDF("event_type", "day", "cnt")
    assert(SeriesQ.matrixProfile(flat).count() == 0L)
  }

  test("matrix profile: a series shorter than one window yields empty, not a crash") {
    // ADVICE r13: sequence(1, size-6) steps -1 when size < 7, so an
    // unguarded plan exploded a descending range and slice(ys, 0, 7)
    // threw — while the DuckDB oracle's range(1, len-5) was empty.
    // A 6-day series (and a 1-day one) must produce zero rows.
    val sparse = (1 to 6).map(d => ("s6", d.toLong, (d * 3 % 7).toLong)) :+ (("s1", 1L, 4L))
    val df = sparse.toDF("event_type", "day", "cnt")
    assert(SeriesQ.matrixProfile(df).count() == 0L)
    // and a mixed frame still profiles the long series normally
    val mixed = df.union((1 to 20).map(d => ("ok", d.toLong, (d * 5 % 11).toLong))
      .toDF("event_type", "day", "cnt"))
    val out = SeriesQ.matrixProfile(mixed).collect()
    assert(out.nonEmpty && out.forall(_.getString(0) == "ok"))
  }
}
