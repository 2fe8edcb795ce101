package graft

import graft.queries.GraphQ
import graft.operators.LabelProp
import org.apache.spark.sql.functions._

/** Round-7 graph/retrieval wave (queries/GraphQ.scala). */
class GraphSpec extends GraftSuite {
  import spark.implicits._

  test("label propagation on two disjoint triangles finds both communities") {
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z")).toDF("src", "dst")
    val got = LabelProp.run(edges, rounds = 3).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // within a triangle everyone converges to the smallest id
    assert(got("a") === got("b") && got("b") === got("c"))
    assert(got("x") === got("y") && got("y") === got("z"))
    assert(got("a") !== got("x"))
  }

  test("label prop gate covers every node of the filtered trade graph") {
    val out = GraphQ.qLabelProp(spark, sf0001)
    val t = Tables(spark, sf0001)
    val edges = t.lineitem.filter($"l_quantity" >= 45)
      .join(t.orders, $"l_orderkey" === $"o_orderkey")
      .select(concat(lit("s"), $"l_suppkey").as("u"),
        concat(lit("c"), $"o_custkey").as("v"))
    val nodes = edges.select($"u").union(edges.select($"v")).distinct().count()
    assert(out.count() === nodes)
    // fewer communities than nodes: propagation actually merged labels
    assert(out.select($"label").distinct().count() < nodes)
  }

  test("hard negatives: margins reconcile and sides have the right labels") {
    val rows = GraphQ.embHardNegatives(spark, sf0001).collect()
    assert(rows.length === 20)
    val labels = Tables(spark, sf0001).embeddings
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val q = r.getAs[Long]("q_id")
      assert(labels(r.getAs[Long]("pos_id")) === labels(q))
      assert(labels(r.getAs[Long]("neg_id")) !== labels(q))
      assert(math.abs(r.getAs[Double]("margin") -
        (r.getAs[Double]("pos_cos") - r.getAs[Double]("neg_cos"))) < 1e-9)
    }
  }

  test("running distinct ends at the user universe and never decreases") {
    val rows = GraphQ.qRunningDistinct(spark, sf0001).orderBy($"day").collect()
    val users = Tables(spark, sf0001).events.select($"user_id").distinct().count()
    assert(rows.last.getAs[Long]("cum_distinct_users") === users)
    val cums = rows.map(_.getAs[Long]("cum_distinct_users"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
    rows.foreach(r => assert(r.getAs[Long]("new_users") <= r.getAs[Long]("dau")))
  }

  test("graph ecc: double sweep is consistent within the hop budget") {
    val r = graft.queries.Analytics.qGraphEcc(spark, sf0001).collect().head
    val ecc1 = r.getAs[Long]("ecc1"); val lb = r.getAs[Long]("diameter_lb")
    assert(ecc1 >= 1L && ecc1 <= 4L)
    // the second sweep starts at the farthest node: it reaches the
    // first start again at distance ecc1, so its eccentricity (within
    // the same hop budget) can only be larger
    assert(lb >= ecc1 && lb <= 4L)
    assert(r.getAs[Long]("peak1") !== r.getAs[Long]("start_node"))
  }

  test("bom explosion covers every part once with digit-depth and exact path quantities") {
    val rows = GraphQ.qBomExplosion(spark, sf0001).collect()
    val parts = Tables(spark, sf0001).part.select($"p_partkey".cast("long"))
      .as[Long].collect().toSet
    // each part has a unique parent chain -> exactly one row per part
    assert(rows.map(_.getAs[Long]("part")).toSet === parts)
    assert(rows.length === parts.size)
    rows.foreach { r =>
      val part = r.getAs[Long]("part")
      // depth = digits - 1; root = leading digit; qty = chain product
      var (p, mult, depth) = (part, 1L, 0L)
      while (p >= 10) { mult *= p % 9 + 1; p /= 10; depth += 1 }
      assert(r.getAs[Long]("depth") === depth, s"part $part")
      assert(r.getAs[Long]("root") === p, s"part $part")
      assert(r.getAs[Long]("path_qty") === mult, s"part $part")
    }
  }

  test("label-prop single-task fast path is bit-identical to the distributed loop") {
    // community structure with genuine tie-breaks: two triangles
    // bridged by one edge (border nodes see 1-vs-1 label ties every
    // round), a star, and a 4-cycle (bipartite oscillation). In round 1
    // "m" ties "Ａ" (U+FF21) against "😀" (U+1F600): UTF-16 orders the
    // surrogate pair first, unsigned UTF-8 (Spark's string order) orders
    // "Ａ" first, so the single-task tie-break must compare UTF-8 bytes
    val es = Seq(
      ("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x"),
      ("h", "h1"), ("h", "h2"), ("h", "h3"), ("h", "h4"),
      ("p", "q"), ("q", "r"), ("r", "s"), ("s", "p"),
      ("m", "Ａ"), ("m", "😀"))
    val edges = new scala.util.Random(17).shuffle(es).toDF("src", "dst")
    def run(rounds: Int) = LabelProp.run(edges, rounds)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    for (rounds <- Seq(1, 3)) {
      val fast = run(rounds)
      spark.conf.set("spark.graft.localMaxEdges", "0")
      val loop = try run(rounds)
        finally spark.conf.unset("spark.graft.localMaxEdges")
      assert(fast == loop,
        s"rounds=$rounds fast≠loop: ${fast.diff(loop).take(5)} vs ${loop.diff(fast).take(5)}")
    }
  }
}
