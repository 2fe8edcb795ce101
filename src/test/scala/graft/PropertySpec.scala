package graft

import graft.operators.{Bfs, ClusterDedup, LabelProp, LocalSolve, TopK}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
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

  /** `f` on the single-task path, then with the threshold at 0 (every
    * graph operator's distributed loop). */
  private def bothPaths[A](f: => A): (A, A) =
    (f, withSQLConf(LocalSolve.MaxEdgesConf -> "0")(f))

  // one graph per trial, each shape on its own id range: a random graph
  // over 0..19 (its own self-loops and repeats included), a chain over
  // 100.. longer than the 4-hop BFS budget, isolated self-loops over
  // 200.., and a repeated subset of all of those edges
  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    nRand <- Gen.choose(0, 30)
    rand <- Gen.listOfN(nRand, Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L)))
    chainLen <- Gen.choose(0, 12)
    nLoops <- Gen.choose(0, 3)
    base = rand ++ (100L until 100L + chainLen).map(a => (a, a + 1)) ++
      (200L until 200L + nLoops).map(a => (a, a))
    dupes <- Gen.someOf(base)
  } yield base ++ dupes

  // LPA ids: every "Ａ" (U+FF21) id sorts before every "😀" (U+1F600) id
  // in unsigned UTF-8 (Spark's string order) but after it in UTF-16, so
  // each tie between an even and an odd id exercises the single-task
  // tie-break's byte comparator
  private def lpaId(i: Long): String = (if (i % 2 == 0) "Ａ" else "😀") + i

  test("graph operators give the same output on the single-task path and the distributed loop") {
    // each path's output schema, and its rows sorted
    def out[A: Ordering: scala.reflect.ClassTag](df: DataFrame)(row: Row => A) =
      (df.schema, df.collect().map(row).sorted.toSeq)
    // long ids as `toDF` gives them (not null) or as a lake gives them
    // (nullable): the loops' output nullability follows the input's
    def pairs(es: Seq[(Long, Long)], nullable: Boolean, a: String, b: String) =
      if (nullable) es.map { case (x, y) => (Option(x), Option(y)) }.toDF(a, b)
      else es.toDF(a, b)
    def cc(es: Seq[(Long, Long)], nullable: Boolean = false) =
      bothPaths(out(ClusterDedup.connectedComponents(pairs(
        es.map { case (a, b) => (a min b, a max b) }, nullable, "id_a", "id_b")))(
      r => (r.getLong(0), r.getLong(1))))
    def bfs(es: Seq[(Long, Long)], srcs: Seq[Long], nullable: Boolean = false) =
      bothPaths(out(Bfs.distances(pairs(es, nullable, "u", "v"),
        if (nullable) srcs.map(Option(_)).toDF("node") else srcs.toDF("node"), rounds = 4))(
      r => (r.getLong(0), r.getLong(1))))
    def lpa(es: Seq[(Long, Long)], rounds: Int) = bothPaths(out(LabelProp.run(
        es.map { case (a, b) => (lpaId(a), lpaId(b)) }.toDF("src", "dst"), rounds))(
      r => (r.getString(0), r.getString(1))))
    def check[A](what: String, got: ((StructType, Seq[A]), (StructType, Seq[A]))): Unit = {
      val ((fastSchema, fast), (loopSchema, loop)) = got
      assert(fastSchema == loopSchema,
        s"$what fast schema ${fastSchema.fields.mkString(", ")} ≠ loop ${loopSchema.fields.mkString(", ")}")
      assert(fast == loop,
        s"$what fast≠loop: ${fast.diff(loop).take(5)} vs ${loop.diff(fast).take(5)}")
    }
    // empty edge lists and empty source lists
    check("cc empty", cc(Nil))
    check("cc empty nullable", cc(Nil, nullable = true))
    check("bfs empty", bfs(Nil, Nil))
    check("bfs no edges", bfs(Nil, Seq(1L, 1L)))
    check("bfs no sources", bfs(Seq((1L, 2L)), Nil))
    check("lpa empty", lpa(Nil, 2))
    // sources mix graph nodes, chain heads, a repeat and an absent id
    val srcGen = Gen.listOf(Gen.oneOf(0L, 5L, 100L, 100L, 200L, 999L)).map(_.take(4))
    forAll(Gen.zip(graphGen, srcGen, Gen.choose(1, 4), Gen.oneOf(false, true)), trials = 12) {
      case (es, srcs, rounds, nullable) =>
        check(s"cc $es nullable=$nullable", cc(es, nullable))
        check(s"bfs $es from $srcs nullable=$nullable", bfs(es, srcs, nullable))
        check(s"lpa $es rounds=$rounds", lpa(es, rounds))
    }
  }
}
