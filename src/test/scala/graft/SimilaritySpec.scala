package graft

import graft.operators.{AnnSpec, Similarity}
import graft.operators.AnnSpec.{Exact, Flat, InnerProduct, Ivf, IvfScaled, Lsh, MipsLsh, Pq, Sq8}
import org.apache.spark.sql.functions._

class SimilaritySpec extends GraftSuite {
  import spark.implicits._

  private lazy val emb = Tables(spark, sf0001).embeddings
  private lazy val qs = emb.filter($"vec_id" < 10)

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select($"q_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def bruteForce(k: Int) =
    Similarity.annTopK(emb, qs, "vec_id", "embedding", k, AnnSpec(Flat, Exact, 0))

  private lazy val truth = pairs(bruteForce(10))

  test("brute force returns exactly k ordered neighbors per query") {
    val rows = bruteForce(10).collect()
    assert(rows.length == 100)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      val cosines = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b }, "descending")
    }
  }

  test("LSH ANN recall@10 >= 0.6 vs brute force at the shipped default") {
    // floor backs the r10 default operating point (planes=2, measured
    // 0.83 at sf0.01 in RECALL_r10) with margin for corpus variance
    val got = pairs(Similarity.annTopK(emb, qs, "vec_id", "embedding", 10, AnnSpec(Lsh(2), Exact, 0)))
    val recall = (got & truth).size.toDouble / truth.size
    info(s"lsh recall@10 = $recall")
    assert(recall >= 0.6)
  }

  test("IVF ANN recall@10 >= 0.7 vs brute force at the shipped default") {
    // floor backs the r10 default (nprobe=8 of 10 lists, measured 0.98)
    val got = pairs(Similarity.annTopK(emb, qs, "vec_id", "embedding", 10, AnnSpec(Ivf(10, 8), Exact, 0)))
    val recall = (got & truth).size.toDouble / truth.size
    info(s"ivf recall@10 = $recall")
    assert(recall >= 0.7)
  }

  test("MIPS ANN recall@10 >= 0.6 vs brute-force max inner product at the default") {
    // MIPS ground truth ranks by raw inner product, NOT cosine — the
    // two orders genuinely differ (that difference is why the
    // augmented transform exists), so recompute truth here instead of
    // reusing the cosine `truth` set.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"ip".desc, $"id")
    val mipsTruth = pairs(emb.select($"vec_id".as("id"), $"embedding".as("v"))
      .crossJoin(broadcast(qs.select($"vec_id".as("q_id"), $"embedding".as("q_v"))))
      .filter($"id" =!= $"q_id")
      .withColumn("ip", graft.functions.VecFns.dot($"v", $"q_v"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 10)
      .withColumn("neighbor_id", $"id"))
    // the Flat inner-product spec is that truth, computed by annTopK
    assert(pairs(Similarity.annTopK(emb, qs, "vec_id", "embedding", 10,
      AnnSpec(Flat, InnerProduct, 0))) === mipsTruth)
    val mips = AnnSpec(MipsLsh(2), InnerProduct, 0)
    val got = pairs(Similarity.annTopK(emb, qs, "vec_id", "embedding", 10, mips))
    val recall = (got & mipsTruth).size.toDouble / mipsTruth.size
    info(s"mips recall@10 = $recall")
    assert(recall >= 0.6)
    // asymmetry sanity on a norm-SKEWED copy (the sf0.001 embeddings
    // are near-unit-norm, so raw MIPS and cosine orders can coincide
    // there): scaling one non-top vector by 3× must pull it into MIPS
    // top-k while leaving its cosine rank unchanged (scaling is
    // cosine-invariant) — the asymmetry the augmented transform exists
    // for, exercised end to end through the MipsLsh tier.
    val boostId = emb.agg(max($"vec_id")).head().getLong(0)
    val skewed = emb.withColumn("embedding",
      when($"vec_id" === boostId,
        expr("transform(embedding, x -> cast(3.0 * x as float))"))
        .otherwise($"embedding"))
    val skewedOut = Similarity.annTopK(skewed, skewed.filter($"vec_id" < 10),
      "vec_id", "embedding", 10, mips)
    assert(pairs(skewedOut).exists(_._2 == boostId),
      s"3x-scaled vector $boostId should dominate some MIPS top-10")
    // off the unit sphere the norm-completion coordinate is far from 0,
    // so this pin moves if the augmentation path drifts
    assert(pinOf(skewedOut) === ((100L, 9147895160274640847L)))
  }

  test("AnnSpec rejects a cosine re-rank of an inner-product ranking") {
    intercept[IllegalArgumentException](AnnSpec(MipsLsh(2), InnerProduct, 4))
    assert(AnnSpec(Flat, InnerProduct, 0).rerank == 0)
  }

  test("PQ ANN returns k ADC-ranked rows per query with recall floor") {
    val r = Similarity.annTopK(emb, qs, "vec_id", "embedding", 10, AnnSpec(Flat, Pq(16, 32, 0), 0))
    val rows = r.collect()
    assert(rows.length == qs.count() * 10)
    // ADC descends within each query
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { g =>
      val byRk = g.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("adc"))
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b })
    }
    val got = pairs(r)
    val recall = (got & truth).size.toDouble / truth.size
    info(s"pq recall@10 = $recall")
    assert(recall >= 0.2)
  }

  test("IVF-PQ composes coarse pruning with ADC scoring") {
    val r = Similarity.annTopK(emb, qs, "vec_id", "embedding", 10, AnnSpec(Ivf(10, 8), Pq(16, 32, 0), 0))
    val rows = r.collect()
    assert(rows.nonEmpty)
    // every neighbor must come from a probed cluster: cross-check that
    // IVF-PQ's candidate set is a subset of plain IVF's k=huge output
    val ivfAll = pairs(Similarity.annTopK(emb, qs, "vec_id", "embedding", 10000, AnnSpec(Ivf(10, 8), Exact, 0)))
    val got = pairs(r)
    assert(got.subsetOf(ivfAll), s"candidates escaped the probed clusters: ${(got -- ivfAll).take(3)}")
    val recall = (got & truth).size.toDouble / truth.size
    info(s"ivf-pq recall@10 = $recall")
    assert(recall >= 0.15)
  }

  test("PQ + exact re-rank recovers brute-force-grade recall (the production tier)") {
    val r = Similarity.annTopK(emb, qs, "vec_id", "embedding", 10, AnnSpec(Flat, Pq(16, 32, 0), 8))
    val rows = r.collect()
    assert(rows.length == qs.count() * 10)
    // cosine descends within each query (exact re-rank output contract)
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { g =>
      val byRk = g.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("cosine"))
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b })
    }
    val recall = (pairs(r) & truth).size.toDouble / truth.size
    info(s"pq+rerank recall@10 = $recall")
    assert(recall >= 0.8, s"rerank tier must clear 0.8 (raw ADC floor is 0.2): $recall")
    // the re-rank can only surface ids the ADC shortlist contained
    val shortlist = pairs(Similarity.annTopK(emb, qs, "vec_id", "embedding", 80, AnnSpec(Flat, Pq(16, 32, 0), 0)))
    assert(pairs(r).subsetOf(shortlist))
  }

  test("IVF-PQ + exact re-rank clears the same 0.8 recall floor") {
    val r = Similarity.annTopK(emb, qs, "vec_id", "embedding", 10, AnnSpec(Ivf(10, 8), Pq(16, 32, 0), 8))
    val recall = (pairs(r) & truth).size.toDouble / truth.size
    info(s"ivf-pq+rerank recall@10 = $recall")
    assert(recall >= 0.8, s"rerank tier must clear 0.8: $recall")
  }

  test("L2-trained codebooks + re-rank: the flagship PQ tier clears 0.8 at HALF the shortlist") {
    // min-L2 Lloyd training (the quantizer objective; max-IP assignment
    // measured FLAT vs the seed slices) lifts the 4x-fetch composition
    // past what the untrained 8x fetch reaches (0.93 vs 0.86 at sf0.01)
    val r = Similarity.annTopK(emb, qs, "vec_id", "embedding", 10, AnnSpec(Flat, Pq(16, 32, 2), 4))
    val recall = (pairs(r) & truth).size.toDouble / truth.size
    info(s"pq trained+rerank recall@10 = $recall")
    assert(recall >= 0.8, s"trained rerank tier must clear 0.8: $recall")
    // trained raw ADC should not be WORSE than the seed-codebook ADC
    val seed = (pairs(Similarity.annTopK(emb, qs, "vec_id", "embedding", 10, AnnSpec(Flat, Pq(16, 32, 0), 0))) & truth).size
    val trained = (pairs(Similarity.annTopK(emb, qs, "vec_id", "embedding", 10, AnnSpec(Flat, Pq(16, 32, 2), 0))) & truth).size
    info(s"raw ADC: seed=$seed trained=$trained (of ${truth.size})")
    assert(trained >= seed - 2, "training should not degrade the raw ADC tier")
  }

  test("IVF + trained PQ + re-rank (the shipped ivf_pq default) clears 0.8") {
    val r = Similarity.annTopK(emb, qs, "vec_id", "embedding", 10, AnnSpec(Ivf(10, 8), Pq(16, 32, 2), 4))
    val recall = (pairs(r) & truth).size.toDouble / truth.size
    info(s"ivf-pq trained+rerank recall@10 = $recall")
    assert(recall >= 0.8, s"the shipped ivf_pq default must clear 0.8: $recall")
  }

  test("kNN join agrees with lshTopK on any query subset (same buckets, same probes)") {
    // lshTopK is annTopK at the Lsh tier (AnnSpec(Lsh(p), Exact, 0)).
    // knnJoin's probe set for a vector is identical to the Lsh tier's
    // for the same vector (own bucket + 1-bit flips) AT THE SAME plane
    // count, so restricting the corpus-wide graph to the query ids
    // must reproduce Lsh(4)@5 — knnJoin's default plane count (the
    // ann_lsh_topk gate runs Lsh(2))
    val graph = Similarity.knnJoin(emb, "vec_id", "embedding", k = 5, planes = 4)
      .filter($"q_id" < 10)
    val direct = Similarity.annTopK(emb, qs, "vec_id", "embedding", 5, AnnSpec(Lsh(4), Exact, 0))
    assert(graph.collect().toSet === direct.collect().toSet)
  }

  test("kNN join covers every vector with k rows and descending cosine") {
    val rows = Similarity.knnJoin(emb, "vec_id", "embedding", k = 3).collect()
    val n = emb.count()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size.toLong === n) // every vector has neighbors (buckets+flips never empty)
    byQ.values.foreach { g =>
      assert(g.length <= 3)
      val cs = g.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ann_recall_eval: recall in [0,1], and IVF with all clusters probed is exact") {
    val rows = graft.queries.SimilarityQ.annRecallEval(spark, sf0001).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val rec = r.getDouble(r.fieldIndex("recall_at_10"))
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getLong(r.fieldIndex("n_hit")) <= 10)
    }
    // sanity: recall should be well above chance on a 10-of-500 task
    val mean = rows.map(r => r.getDouble(r.fieldIndex("recall_at_10"))).sum / 10
    assert(mean > 0.2, s"IVF recall implausibly low: $mean")
  }

  test("emb_knn_components: two tight clusters resolve to two pure components") {
    import graft.operators.{ClusterDedup, Similarity}
    def v(active: Int, eps: Float): Array[Float] =
      Array.tabulate(64)(d => (if (d == active) 1.0f else 0.0f) + (if (d == 63) eps else 0.0f))
    // cluster A (label 0) on axis 0, cluster B (label 1) on axis 7;
    // tiny per-id jitter keeps vectors distinct but cosine ≈ 1 in-cluster
    val rows = (0 until 3).map(i => (i.toLong, v(0, 0.01f * (i + 1)), 0)) ++
      (3 until 6).map(i => (i.toLong, v(7, 0.01f * (i + 1)), 1))
    val e = rows.toDF("vec_id", "embedding", "label")
    val knn = Similarity.knnJoin(e, "vec_id", "embedding", k = 5)
      .filter($"cosine" >= 0.45)
    val mutual = knn.as("a").join(knn.as("b"),
        $"a.q_id" === $"b.neighbor_id" && $"a.neighbor_id" === $"b.q_id")
      .filter($"a.q_id" < $"a.neighbor_id")
      .select($"a.q_id".as("id_a"), $"a.neighbor_id".as("id_b"))
    val comp = ClusterDedup.connectedComponents(mutual).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.keySet === Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(Set(comp(0L), comp(1L), comp(2L)).size === 1 && comp(0L) === 0L)
    assert(Set(comp(3L), comp(4L), comp(5L)).size === 1 && comp(3L) === 3L)
    assert(comp(0L) !== comp(3L), "the cosine floor must keep the clusters apart")
  }

  test("ann_graph_search finds genuinely similar nodes and respects beam determinism") {
    val got = graft.queries.SimilarityQ.annGraphSearch(spark, sf0001).collect()
    assert(got.length === 100) // 10 queries x top-10
    val byQ = got.groupBy(_.getAs[Long]("q_id"))
    byQ.values.foreach { rs =>
      val ranks = rs.map(_.getAs[Long]("rk")).sorted
      assert(ranks.toSeq === (1L to 10L))
      // ranking is consistent with the emitted cosines
      val byRank = rs.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("cosine"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // beam search from one entry point over a 5-NN graph is approximate;
    // it must still beat random by a wide margin on recall@10
    val truth = graft.queries.SimilarityQ.annBruteforce(spark, sf0001).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val recalls = byQ.map { case (q, rs) =>
      rs.map(_.getAs[Long]("neighbor_id")).count(truth(q).contains) / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean > 0.05, s"graph-search recall no better than chance: $mean")
    // determinism: a second run returns the identical rows
    val again = graft.queries.SimilarityQ.annGraphSearch(spark, sf0001).collect()
    assert(got.map(_.toSeq.toList).toList === again.map(_.toSeq.toList).toList)
  }

  test("scaledPlanes: integer-exact occupancy bound, floor 4, boundary-safe") {
    import graft.operators.Similarity.scaledPlanes
    // floor: anything that fits 16 buckets at occupancy 64 stays at 4
    assert(scaledPlanes(1) == 4 && scaledPlanes(64) == 4 && scaledPlanes(500) == 4)
    assert(scaledPlanes(1024) == 4)   // 1024/64 = 16 = 2^4 exactly
    assert(scaledPlanes(1025) == 5)   // one past the boundary
    assert(scaledPlanes(2000) == 5)
    assert(scaledPlanes(200000) == 12)
    // the power-of-two boundary a float log2 would get wrong by 1 ulp
    assert(scaledPlanes(64L << 12) == 12 && scaledPlanes((64L << 12) + 1) == 13)
  }

  test("scaledCentroids/scaledNprobe: ceil-isqrt with floor 10, exact at perfect squares") {
    import graft.operators.Similarity.{scaledCentroids, scaledNprobe}
    // floor: tiny corpora stay at the gate-tier default c=10
    assert(scaledCentroids(1) == 10 && scaledCentroids(100) == 10)
    // ceil-isqrt, exact at and around perfect squares (the 1-ulp trap)
    assert(scaledCentroids(101) == 11)
    assert(scaledCentroids(500) == 23)    // 22²=484 < 500 ≤ 23²=529
    assert(scaledCentroids(529) == 23 && scaledCentroids(530) == 24)
    assert(scaledCentroids(2000) == 45)
    assert(scaledCentroids(200000) == 448) // 447²=199809 < 200000 ≤ 448²
    assert(scaledCentroids(448L * 448L) == 448)
    assert(scaledCentroids(1000000) == 1000 && scaledCentroids(1000001) == 1001)
    // nprobe holds the ~1/16 scan fraction once c outgrows the floor
    assert(scaledNprobe(10) == 8 && scaledNprobe(128) == 8)
    assert(scaledNprobe(129) == 8 && scaledNprobe(448) == 28)
  }

  test("ann_ivf_pq_trained_rerank_scaled: k rows per query, deterministic") {
    val got = graft.queries.SimilarityQ.annIvfPqTrainedRerankScaled(spark, sf0001).collect()
    assert(got.length == 100) // 10 queries × k=10
    val again = graft.queries.SimilarityQ.annIvfPqTrainedRerankScaled(spark, sf0001).collect()
    assert(got.map(_.toSeq.toList).toList === again.map(_.toSeq.toList).toList)
  }

  test("ann_knn_join_scaled equals the static gate where the formula lands on 4 planes") {
    // at the small fixture the scaled plane count IS the static gate's
    // operating point, so the two recipes must coincide row for row
    val scaled = graft.queries.SimilarityQ.annKnnJoinScaled(spark, sf0001)
      .collect().map(_.toSeq.toList).toList
    val static0 = graft.queries.SimilarityQ.annKnnJoin(spark, sf0001)
      .collect().map(_.toSeq.toList).toList
    assert(scaled.nonEmpty && scaled === static0)
  }

  test("emb_knn_components_scaled equals the fixed gate where planes land on 4") {
    val scaled = graft.queries.SimilarityQ.embKnnComponentsScaled(spark, sf0001)
      .collect().map(_.toSeq.toList).toList
    val fixed = graft.queries.SimilarityQ.embKnnComponents(spark, sf0001)
      .collect().map(_.toSeq.toList).toList
    assert(scaled.nonEmpty && scaled === fixed)
  }

  test("emb_knn_components gate: members >= 2 per component, purity in (0,1]") {
    val rows = graft.queries.SimilarityQ.embKnnComponents(spark, sf0001).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_members") >= 2L)
      val p = r.getAs[Double]("purity")
      assert(p > 0.0 && p <= 1.0)
      assert(r.getAs[Long]("top_n") <= r.getAs[Long]("n_members"))
      assert(r.getAs[Long]("n_labels") >= 1L)
    }
  }

  test("SQ8 rerank equals brute force when the shortlist covers the corpus") {
    // 8×k = 80 shortlist ≥ the sf0.001 corpus ⇒ the exact re-rank pass
    // sees every candidate, so the output must be bit-identical to the
    // brute-force contract (same cosine rounding, same tie order)
    val bf = bruteForce(10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val sq = Similarity.annTopK(emb, qs, "vec_id", "embedding", 10, AnnSpec(Flat, Sq8, 8))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(sq == bf, "full-coverage shortlist must reproduce brute force exactly")
  }

  test("SQ8 code scan: 8-bit reconstruction keeps per-dim error within half a step") {
    // quantize-reconstruct error bound: |x − x̂| ≤ Δ/2 per dimension,
    // checked against the raw vectors for every corpus row
    import org.apache.spark.sql.functions._
    val v = emb.select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val bounds = v.select(posexplode($"e").as(Seq("dim", "x")))
      .groupBy($"dim").agg(min($"x").as("mn"), max($"x").as("mx"))
      .withColumn("dl", ($"mx" - $"mn") / 255.0).collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(3))).toMap
    val rows = v.select($"vec_id", posexplode($"e").as(Seq("dim", "x"))).collect()
    rows.foreach { r =>
      val (mn, dl) = bounds(r.getInt(1))
      val x = r.getDouble(2)
      val xr = if (dl == 0) mn else mn + math.floor((x - mn) / dl + 0.5) * dl
      assert(math.abs(x - xr) <= dl / 2 + 1e-12,
        s"dim ${r.getInt(1)}: |$x − $xr| exceeds half-step $dl")
    }
    // and the shortlist ordering the codes induce carries real signal:
    // raw SQ8 top-10 already overlaps brute force heavily at this SF
    val got = pairs(Similarity.annTopK(emb, qs, "vec_id", "embedding", 10, AnnSpec(Flat, Sq8, 0)))
    val recall = (got & truth).size.toDouble / truth.size
    info(s"sq8 raw recall@10 = $recall")
    assert(recall >= 0.9, "8-bit reconstruction must be near-exact at 64 dims")
  }

  test("IVF+SQ8 rerank: probed-list scoring recovers brute-force-grade top-10") {
    // the FAISS IVFSQ composition: at the spec tier (n≈200, c=14 or
    // so, np=8) the probed lists hold most near neighbors and the 8×k
    // exact re-rank recovers the rest — recall vs brute force must
    // stay high while candidates are strictly list-bounded
    import graft.operators.Similarity.{scaledCentroids, scaledNprobe}
    val n = emb.count()
    val c = scaledCentroids(n)
    val np = scaledNprobe(c)
    val got = pairs(Similarity.annTopK(
      emb, qs, "vec_id", "embedding", 10, AnnSpec(IvfScaled(c, np), Sq8, 8)))
    val recall = (got & truth).size.toDouble / truth.size
    info(s"ivf+sq8 rerank recall@10 = $recall (c=$c np=$np n=$n)")
    assert(recall >= 0.85, s"probed-list SQ8 recall too low: $recall")
  }

  test("SQ8: an out-of-bounds external query clamps to the 8-bit domain") {
    // ADVICE r13: a query value outside the corpus per-dim [mn, mx]
    // must land on the nearest representable code (FAISS clamp), not
    // extrapolate. Corpus: 1-dim values {0, 255·0.01}; queries far
    // outside on both sides must score as if they were the boundary —
    // so BOTH queries rank the near-boundary corpus row first and the
    // reconstructed dot (sq8 column) equals boundary·boundary.
    val corpus = Seq((0L, Array(0.0)), (1L, Array(2.55)), (2L, Array(1.00)))
      .toDF("vec_id", "embedding")
    val far = Seq((100L, Array(1e6)), (101L, Array(-1e6)))
      .toDF("vec_id", "embedding")
    val out = Similarity.annTopK(corpus, far, "vec_id", "embedding", 1, AnnSpec(Flat, Sq8, 0))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // +1e6 clamps to code 255 (recon 2.55): best dot = 2.55 * 2.55
    assert(out(100L)._1 == 1L)
    assert(math.abs(out(100L)._2 - math.floor(2.55 * 2.55 * 1048576.0) / 1048576.0) < 1e-9,
      s"clamped dot, got ${out(100L)._2}")
    // −1e6 clamps to code 0 (recon 0.0): every dot is 0, ties by id
    assert(out(101L)._1 == 0L && out(101L)._2 == 0.0, s"got ${out(101L)}")
  }

  test("persisted index append(base,delta) == build(base ∪ delta) when the quantizer agrees") {
    // the ivfSq8IndexAppend exactness contract: when (a) the delta
    // extends no per-dim [mn, mx] bound and (b) the first c ids of
    // base ∪ delta lie in base, a full rebuild derives the identical
    // quantizer, so the grown index must answer bit-identically.
    // Build the fixture to satisfy both: delta = high-id rows that
    // attain no per-dim extreme.
    import graft.operators.Similarity.{scaledCentroids, scaledNprobe}
    val b = emb.select($"vec_id", posexplode(expr("cast(embedding as array<double>)")).as(Seq("dim", "x")))
    val mm = b.groupBy($"dim").agg(min($"x").as("mn"), max($"x").as("mx"))
    val extremeIds = b.join(mm, "dim").filter($"x" === $"mn" || $"x" === $"mx")
      .select($"vec_id").distinct().collect().map(_.getLong(0)).toSet
    val isDelta = udf((id: Long) => id >= 64 && id % 7 == 3 && !extremeIds.contains(id))
    val delta = emb.filter(isDelta($"vec_id"))
    val base = emb.filter(!isDelta($"vec_id"))
    assert(delta.count() > 0, "fixture must have a non-empty delta")
    val c = scaledCentroids(emb.count())
    val np = scaledNprobe(c)
    val idxGrown = graft.operators.TempDirs.fresh("graft_annidx_spec")
    Similarity.ivfSq8IndexBuild(base, "vec_id", "embedding", c, np, idxGrown)
    Similarity.ivfSq8IndexAppend(idxGrown, delta, "vec_id", "embedding")
    val idxFull = graft.operators.TempDirs.fresh("graft_annidx_spec")
    Similarity.ivfSq8IndexBuild(emb, "vec_id", "embedding", c, np, idxFull)
    def ans(p: String) = Similarity.ivfSq8IndexQuery(p, emb, qs, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    assert(ans(idxGrown).sameElements(ans(idxFull)),
      "append must be indistinguishable from a rebuild under the contract")
    // and the marker self-description tracked the growth
    val txt = scala.io.Source.fromFile(s"$idxGrown/_graft_ann_index.json").mkString
    val n = """"n"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
    assert(n == emb.count(), s"marker n must cover base+delta, got $n")
  }

  test("persisted index trained centroids: deterministic build, k rows per query") {
    // trainRounds > 0 swaps first-N seeds for the shared deterministic
    // kmeansFit means; the build must stay replayable (two builds,
    // identical answers) and serve the full contract
    import graft.operators.Similarity.{scaledCentroids, scaledNprobe}
    val c = scaledCentroids(emb.count())
    val np = scaledNprobe(c)
    def build(): Array[(Long, Long, Double, Long)] = {
      val idx = graft.operators.TempDirs.fresh("graft_annidx_spec")
      Similarity.ivfSq8IndexBuild(emb, "vec_id", "embedding", c, np, idx, trainRounds = 2)
      Similarity.ivfSq8IndexQuery(idx, emb, qs, "vec_id", "embedding", 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .sortBy(t => (t._1, t._4))
    }
    val a1 = build(); val a2 = build()
    assert(a1.sameElements(a2), "trained build must be deterministic")
    val perQ = a1.groupBy(_._1)
    assert(perQ.size == 10 && perQ.values.forall(_.length == 10),
      "10 neighbors for each of the 10 queries")
  }

  test("index build side writes run under each caller's job group") {
    // the centroids/bounds writes overlap the codes write on threads of
    // their own; two builds under two job groups in one JVM must tag
    // every job with their own caller's group, the side writes included
    import graft.operators.Similarity.{scaledCentroids, scaledNprobe}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val c = scaledCentroids(emb.count())
    val np = scaledNprobe(c)
    val sc = spark.sparkContext
    def groupsOfBuild(group: String): Seq[String] = {
      val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      }
      val sentinel = s"$group-sentinel"
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup(group, "index build")
        try Similarity.ivfSq8IndexBuild(emb, "vec_id", "embedding", c, np,
          graft.operators.TempDirs.fresh("graft_annidx_spec"))
        finally sc.clearJobGroup()
        sc.setJobGroup(sentinel, "sentinel")
        try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (!groups.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(20)
      } finally sc.removeSparkListener(listener)
      val seen = groups.asScala.toSeq
      assert(seen.lastOption.contains(sentinel), seen)
      seen.dropRight(1)
    }
    Seq("graft-build-a", "graft-build-b").foreach { g =>
      val seen = groupsOfBuild(g)
      assert(seen.nonEmpty && seen.forall(_ == g), seen)
    }
  }
}
