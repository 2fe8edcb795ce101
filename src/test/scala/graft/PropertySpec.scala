package graft

import graft.operators.TopK
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks for the native expressions: the codegen'd
  * fast paths must agree with straightforward Scala reference
  * implementations on arbitrary generated inputs (deterministic
  * seed so failures reproduce).
  */
class PropertySpec extends GraftSuite {
  import spark.implicits._

  private def forAll[A](gen: Gen[A], trials: Int = 25)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    (1 to trials).foreach { _ =>
      gen.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
    }
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))

  private def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  private val vecGen: Gen[Array[Float]] =
    Gen.choose(1, 16).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-10.0f, 10.0f)).map(_.toArray))

  test("VecDot agrees with a reference fold on arbitrary vectors") {
    forAll(vecGen) { a =>
      val b = a.map(x => x * 0.5f + 1.0f)
      val expected = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        acc + x.toDouble * y.toDouble
      }
      val got = Seq((a, b)).toDF("a", "b")
        .select(graft.functions.VecDot($"a", $"b")).as[Double].head()
      assert(got == expected)
    }
  }

  test("SortedIntersectSize equals set-intersection size on arbitrary token sets") {
    val tokensGen = Gen.listOf(Gen.oneOf("a", "b", "c", "dd", "ee", "f1", "g", "hh"))
    forAll(tokensGen, tokensGen) { (xs, ys) =>
      val (sa, sb) = (xs.distinct.sorted, ys.distinct.sorted)
      val expected = (sa.toSet & sb.toSet).size.toLong
      val got = Seq((sa, sb)).toDF("a", "b")
        .select(graft.functions.SortedIntersectSize($"a", $"b")).as[Long].head()
      assert(got == expected)
    }
  }

  test("Misra-Gries guarantee: items with freq > n/capacity always survive") {
    val itemsGen = Gen.listOfN(200, Gen.oneOf("hot", "warm", "w1", "w2", "w3", "w4"))
    forAll(itemsGen) { items =>
      whenever(items.nonEmpty) {
        val capacity = 4
        val counts = items.groupBy(identity).view.mapValues(_.size).toMap
        val guaranteed = counts.filter(_._2 > items.size / capacity).keySet
        val mg = items.map(Tuple1(_)).toDF("t")
          .agg(graft.functions.MisraGriesAgg.heavyHitters($"t", capacity))
          .collect().head.getMap[String, Long](0)
        assert(guaranteed.subsetOf(mg.keySet.toSet))
      }
    }
  }

  test("HyperplaneBands: deterministic, band-count/width contract, split-invariance") {
    forAll(vecGen) { a =>
      whenever(a.length >= 2) {
        val df = Seq(Tuple1(a), Tuple1(a)).toDF("v")
        val sigs = df.select(graft.functions.HyperplaneBands($"v", 6, 8))
          .as[Seq[Long]].collect()
        // same vector -> same signature, every band within 8 bits
        assert(sigs(0) == sigs(1))
        assert(sigs(0).length == 6 && sigs(0).forall(b => b >= 0 && b < 256))
        // bands are independent slices: changing the probe count only
        // truncates/extends, never reshuffles earlier bands
        val fewer = df.select(graft.functions.HyperplaneBands($"v", 3, 8))
          .as[Seq[Long]].head()
        assert(sigs(0).take(3) == fewer)
      }
    }
  }

  test("RollingHash equals the interpreted HOF fold on BMP strings") {
    val strGen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(' ', '.', ',', 'é', 'ß', '中'))).map(_.mkString)
    forAll(strGen) { s =>
      val df = Seq(Tuple1(s)).toDF("t")
      val native = df.select(graft.functions.RollingHash($"t")).as[Long].head()
      val hof = df.select(aggregate(
        transform(split($"t", ""), ch => ascii(ch).cast("long")),
        lit(0L),
        (acc, x) => pmod(acc * lit(257L) + x, lit(2147483647L)))).as[Long].head()
      assert(native == hof, s"mismatch on ${s.take(40)}")
    }
  }

  test("RollingHash folds astral chars per code point (DuckDB ascii() semantics)") {
    // the OLD HOF split surrogate pairs into lone halves that re-encode
    // as '?' — corrupted input; the expression matches the oracle
    // instead (DuckDB: ascii('😀') = 128512)
    val native = Seq(Tuple1("😀")).toDF("t")
      .select(graft.functions.RollingHash($"t")).as[Long].head()
    assert(native == 128512L, s"astral fold wrong: $native")
  }

  test("native GroupTopK equals window top-k on arbitrary grouped data") {
    val rowsGen = Gen.listOfN(60,
      Gen.zip(Gen.oneOf("g1", "g2", "g3"), Gen.choose(0, 20)))
    forAll(rowsGen) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
          .toDF("g", "v", "id")
        val window = TopK(df, Seq($"g"), Seq($"v".desc, $"id"), 3)
          .select($"g", $"id", $"rk").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
        val native = TopK.native(df, Seq($"g"), Seq($"v".desc, $"id"), 3)
          .select($"g", $"id", $"rk").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
        assert(native == window)
      }
    }
  }
}
