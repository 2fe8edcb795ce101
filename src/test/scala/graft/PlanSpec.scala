package graft

import graft.queries.Relational

/** Scale-design assertions (SURVEY.md §5): the physical plans must
  * push filters/projections into the parquet scan and broadcast the
  * dimension sides — the properties that survive a 100 TB scale-up.
  */
class PlanSpec extends GraftSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter+projection reach the parquet scan") {
    val p = plan(Relational.qFilterPushdown(spark, sf001))
    assert(p.contains("PushedFilters: [") && p.contains("IsNotNull"),
      s"no pushed filters in:\n$p")
    assert(p.contains("ReadSchema") &&
      !p.contains("l_extendedprice"), "projection not pruned")
  }

  test("q5 star join broadcasts the dimension side") {
    val p = plan(Relational.q5RegionRevenue(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("q3 joins broadcast the filtered customer side") {
    val p = plan(Relational.q3TopOrders(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("q6 pushes every predicate to the parquet scan") {
    val p = plan(Relational.q6ForecastRevenue(spark, sf001))
    assert(p.contains("PushedFilters: ["), s"no pushed filters:\n$p")
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(p.contains(s"($c"), s"$c not pushed in:\n$p")
  }

  test("LSH embedding near-dup plans with no quadratic operator") {
    val p = plan(graft.operators.Dedup.embeddingPairsLsh(
      Tables(spark, sf001).embeddings, "vec_id", "embedding", tau = 0.45))
    assert(!p.contains("CartesianProduct"), s"cartesian product in LSH plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in LSH plan:\n$p")
  }

  test("capped shingle join plans with no quadratic operator") {
    val p = plan(graft.operators.Dedup.ngramJaccardPairs(
      Tables(spark, sf001).documents, "doc_id", "text", n = 3, tau = 0.6))
    assert(!p.contains("CartesianProduct"), s"cartesian product in shingle plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in shingle plan:\n$p")
  }

  test("top-k plans two-phase: partial heaps before the exchange, rank after") {
    val p = plan(graft.operators.TopK.native(
      Tables(spark, sf001).part,
      Seq(org.apache.spark.sql.functions.col("p_brand")),
      Seq(org.apache.spark.sql.functions.col("p_retailprice").desc), 3))
    // partial pass (no rank output) below the exchange, final above —
    // the map-side combine that bounds the shuffle to groups x k rows
    assert("GroupTopK".r.findAllIn(p).length >= 2, s"missing partial pass:\n$p")
    assert(p.contains("Exchange"), s"no exchange between phases:\n$p")
  }

  test("composed corpus pipeline keeps exchanges bounded (no quadratic operator)") {
    val p = plan(graft.queries.TrainingQ.pipelineCorpus(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic operator in pipeline plan:\n$p")
    // dedup shuffle + survivor join + pack window: the exchange count
    // must stay small and constant, independent of data size
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length +
      "Exchange rangepartitioning".r.findAllIn(p).length
    assert(exchanges <= 6, s"unexpected exchange growth ($exchanges):\n$p")
  }

  test("q7 pushes the nation pair restriction below the fact joins") {
    val p = plan(graft.queries.Extra.q7NationVolume(spark, sf001))
    // the two-nation restriction must reach the nation scans as a
    // pushable IN — not survive only as the post-join OR pair filter
    assert(p.contains("In(n_name"), s"nation IN filter not pushed in:\n$p")
    assert(!p.contains("Or(And("), s"post-join OR pair filter still present in:\n$p")
  }

  test("q18 plans its top-100 as ordered take, not a global sort") {
    val p = plan(graft.queries.Extra.q18LargeOrders(spark, sf001))
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject in:\n$p")
  }

  test("q22's scalar aggregate joins as a broadcast, not a collect") {
    val p = plan(graft.queries.Extra.q22IdleCustomers(spark, sf001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"global-average side not broadcast in:\n$p")
  }

  test("chunk dedup plans a single shuffle pair: digest window then doc fold") {
    val p = plan(graft.queries.DedupQ.dedupChunks(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic operator in chunk-dedup plan:\n$p")
  }

  test("bloom-pruned incremental dedup: bitmap broadcasts, bit test filters the index") {
    val docs = Tables(spark, sf001).documents
    val p = plan(graft.operators.Dedup.incrementalBloom(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0),
      "doc_id", "text"))
    // the 1-row bitmap arrives by broadcast (nested-loop against one
    // row is the cross join's degenerate, correct form)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"bloom bitmap did not broadcast:\n$p")
    // the codegen'd bit-test conjunction is present as a Filter over
    // the index scan — index rows die before the min-id aggregate
    assert(p.contains("element_at"), s"no bit-test filter in plan:\n$p")
  }

  test("quality model scores in one narrow pass: no explode, no pre-agg shuffle") {
    val p = plan(graft.queries.Text.textQualityModel(spark, sf001))
    // the whole fold happens in projections over the scan; the only
    // exchange allowed is the final orderBy's range partitioning
    assert(!p.contains("Generate"), s"explode in quality-model plan:\n$p")
    assert(!p.contains("hashpartitioning"), s"aggregation shuffle in plan:\n$p")
    assert(p.split("Exchange").length - 1 == 1, s"more than one exchange in:\n$p")
  }

  test("q8's five dimension joins all broadcast; one aggregate shuffle") {
    val p = plan(graft.queries.TpchMore.q8MarketShare(spark, sf001))
    assert(!p.contains("SortMergeJoin"), s"dimension join shuffled in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("q15's max-revenue scalar joins as a broadcast, not a collect") {
    val p = plan(graft.queries.TpchMore.q15TopSupplier(spark, sf001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"scalar max not broadcast in:\n$p")
  }

  test("q21 plans no quadratic operator for its existence tests") {
    val p = plan(graft.queries.TpchMore.q21WaitingOrders(spark, sf001))
    assert(!p.contains("CartesianProduct"), s"cartesian in q21 plan:\n$p")
  }

  test("q21 runs the lineitem⋈orders join once, not once per branch") {
    // r13 single-pass shape: the (orderkey, suppkey)-grain aggregate
    // carries everything, both per-order existence counts come from
    // windows over it — so the plan holds exactly ONE lineitem scan
    // and no materialization barrier (the r12 shape localCheckpointed
    // the joined stream and scanned it twice).
    val p = plan(graft.queries.TpchMore.q21WaitingOrders(spark, sf001))
    val lineitemScans = "lineitem".r.findAllIn(p).size
    assert(lineitemScans == 1,
      s"q21 must scan lineitem exactly once ($lineitemScans scans):\n$p")
    // and the two windows must share the aggregate's orderkey
    // clustering — no exchange between the per-order counts
    assert(!p.split("Window", -1).drop(1).head.contains("Exchange"),
      s"exchange between q21's two per-order windows:\n$p")
  }

  test("composed web pipeline: no quadratic operator, cap through GroupTopK") {
    val p = plan(graft.queries.CorpusQ.pipelineWeb(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"quadratic operator in web pipeline:\n$p")
    assert(p.contains("GroupTopK"), s"host cap not planned natively:\n$p")
    assert(!p.contains("Window"), s"cap fell back to WindowExec:\n$p")
  }

  test("tfidf/lm vocabulary joins carry no broadcast hint; AQE picks the join") {
    // The df/lm tables are vocabulary-cardinality — unbounded on web
    // text — so an explicit broadcast() hint is an OOM at 100 TB. Pin
    // its absence: with AQE off and auto-broadcast disabled, ONLY a
    // hint could produce a broadcast join, so the token join must plan
    // sort-merge. Then with the shipped AQE defaults, the runtime-
    // measured-small table must still broadcast (no perf loss at
    // bounded vocabularies).
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      for ((name, df) <- Seq(
          "text_tfidf" -> graft.queries.Text.textTfidf(spark, sf001),
          "text_lm_score" -> graft.queries.Analytics.textLmScore(spark, sf001))) {
        val p = plan(df)
        assert(p.contains("SortMergeJoin"),
          s"$name: vocabulary join is not sort-merge — a broadcast hint is forcing it:\n$p")
      }
    }
    // The AQE half depends on the sf0.01 vocabulary shuffle staying
    // under the broadcast threshold — pin the threshold so a future
    // GraftSession default change can't silently flip this assert.
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "10485760") {
      for ((name, df) <- Seq(
          "text_tfidf" -> graft.queries.Text.textTfidf(spark, sf001),
          "text_lm_score" -> graft.queries.Analytics.textLmScore(spark, sf001))) {
        df.collect()
        val p = plan(df)
        assert(p.contains("BroadcastHashJoin"),
          s"$name: AQE did not broadcast the measured-small vocabulary table:\n$p")
      }
    }
  }

  test("naive-bayes/distinctive-terms vocabulary joins carry no broadcast hint") {
    // the class-count and document-frequency tables are vocabulary-
    // cardinality (the tfidf rule): with AQE and auto-broadcast off,
    // only a hint could broadcast, so the token joins must be able to
    // plan sort-merge
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      for ((name, df) <- Seq(
          "q_naive_bayes" -> graft.queries.CurateQ.qNaiveBayes(spark, sf001),
          "corpus_distinctive_terms" ->
            graft.queries.CurateQ.corpusDistinctiveTerms(spark, sf001))) {
        val p = plan(df)
        assert(p.contains("SortMergeJoin"),
          s"$name: vocabulary join is not sort-merge — a broadcast hint is forcing it:\n$p")
      }
    }
  }

  test("CDC apply plans exactly one shuffle for the compaction window") {
    val p = plan(graft.queries.CurateQ.etlCdcApply(spark, sf001))
    // the four log branches union WITHOUT a shuffle; the key-window
    // compaction and the status rollup are the only exchanges
    assert(p.contains("Window"), s"no compaction window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"quadratic operator in CDC apply:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"CDC apply plans $exchanges exchanges (expected <= 3):\n$p")
  }

  test("skyline plans two window stages: salted local pass before the global pass") {
    val df = graft.operators.Skyline.pareto(
      Tables(spark, sf001).part
        .select(org.apache.spark.sql.functions.col("p_retailprice").as("price"),
          org.apache.spark.sql.functions.col("p_size").as("sz")),
      "price", "sz")
    val p = plan(df)
    // the parallel local stage partitions by the salt; the global
    // stage is the only single-partition window and sees survivors only
    assert(p.contains("_salt"), s"no salted local skyline stage:\n$p")
    assert("Window".r.findAllIn(p).size >= 2,
      s"expected local + global window stages:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"quadratic operator in skyline plan:\n$p")
  }

  test("kNN join carries no broadcast hint: the probe side is the corpus") {
    // with AQE and auto-broadcast off, only a hint could broadcast —
    // the bucket join must plan sort-merge (the tfidf rule applied to
    // the kNN graph: at 100 TB the probe side IS the corpus)
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(graft.operators.Similarity.knnJoin(
        Tables(spark, sf001).embeddings, "vec_id", "embedding", k = 5))
      assert(p.contains("SortMergeJoin"),
        s"bucket join is not sort-merge — a broadcast hint is forcing it:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"quadratic operator in kNN join plan:\n$p")
    }
  }

  test("semantic dedup: pair join is cluster-keyed, only the centroid table cross-joins") {
    val p = plan(graft.operators.Dedup.semantic(
      Tables(spark, sf001).embeddings, "vec_id", "embedding", tau = 0.45))
    assert(!p.contains("CartesianProduct"),
      s"unbounded cartesian in semantic dedup plan:\n$p")
    // BroadcastNestedLoopJoin appears only as the deliberate corpus ×
    // numCentroids assignment (bounded 10-row build side — the IVF
    // construction; the cached subtree prints once per scan of the
    // persisted relation). The corpus-sized pair join itself must be
    // an equi-join KEYED ON THE CLUSTER.
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cluster".r
      .findFirstIn(p).isDefined,
      s"cluster pair join is not a cluster-keyed equi-join:\n$p")
  }

  test("column profile plans one aggregate over one scan (Expand, not per-column scans)") {
    val p = plan(graft.queries.QualityQ.etlProfile(spark, sf001))
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"profile should read the table once:\n$p")
    assert(p.contains("Expand"), s"multi-distinct agg should plan one Expand:\n$p")
  }

  test("approx distinct stays within 5% of exact") {
    import org.apache.spark.sql.functions._
    // the gate emits the tolerance check in-plan; assert it holds, and
    // that the exact side matches an independent recomputation
    val rows = Relational.qApproxDistinct(spark, sf001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val exact = Tables(spark, sf001).lineitem
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      val (gateExact, withinTol) = rows(k)
      assert(gateExact == e, s"$k: gate exact $gateExact vs recomputed $e")
      assert(withinTol, s"$k: HLL estimate outside 5% of $e")
    }
  }

  test("c4 rules run at scan cost: no exchange anywhere in the plan") {
    // the first-pass corpus filter must stay map-side — one narrow
    // projection, no shuffle, no join (C4 drops most of the raw
    // corpus before anything expensive runs)
    // (the gate's presentation orderBy adds one range exchange; what
    // must not exist is any hash shuffle or join)
    val p = plan(graft.queries.TextFilters.textC4Rules(spark, sf001))
    assert(!p.contains("Exchange hashpartitioning"), s"c4 rules shuffle:\n$p")
    assert(!p.contains("Join"), s"c4 rules join:\n$p")
  }

  test("fk integrity scans are pruned to the key columns") {
    val p = plan(graft.queries.AuditQ.etlFkIntegrity(spark, sf001))
    // the audit touches lineitem three times but must never read its
    // payload columns — at 100 TB the scan cost IS the audit cost
    for (c <- Seq("l_extendedprice", "l_quantity", "l_shipdate", "o_totalprice"))
      assert(!p.contains(c), s"fk audit reads payload column $c:\n$p")
  }

  test("bm25 broadcasts the query-bounded df table (the tfidf inverse)") {
    // per-term document frequencies are bounded by |query terms| —
    // the LEGITIMATE broadcast regime, asserted present so a future
    // edit can't regress it into a shuffle of three rows
    val p = plan(graft.queries.TextFilters.textBm25(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), s"bm25 df table not broadcast:\n$p")
  }

  test("neighbor jaccard plans equi-joins only: cap bounds the wedge fan-out") {
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(graft.queries.Analytics.qJaccardNeighbors(spark, sf001))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"quadratic operator in neighbor-jaccard plan:\n$p")
      // the wedge self-join is keyed on the middle vertex
      assert(p.contains("SortMergeJoin"), s"wedge join not an equi-join:\n$p")
    }
  }

  test("native session windows plan as a merging session aggregate, not a sort join") {
    val p = plan(graft.queries.SequenceQ.qSessionWindow(spark, sf001))
    // Spark's session_window plans UpdatingSessionsExec + merging
    // aggregate keyed on (user, session) — one shuffle, no self-join
    assert(p.contains("session_window"), s"no session window in plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"quadratic operator in session plan:\n$p")
  }

  test("rfm fences and trigram top-k keep their bounded shapes") {
    val rfm = plan(graft.queries.SegmentQ.qRfmSegments(spark, sf001))
    // the six-number fence table joins as a broadcast, never a shuffle
    assert(rfm.contains("BroadcastNestedLoopJoin") || rfm.contains("BroadcastExchange"),
      s"fence table not broadcast:\n$rfm")
    val tri = plan(graft.queries.SegmentQ.qSequenceTrigrams(spark, sf001))
    // top-20 plans as ordered take, not a global sort of all trigrams
    assert(tri.contains("TakeOrderedAndProject"), s"trigram top-k global-sorts:\n$tri")
  }

  test("binpack windows over the aggregated stats table, not the data") {
    val p = plan(graft.queries.AuditQ.etlBinpack(spark, sf001))
    // exactly one (global) window, fed by the group-by stats — the
    // planner-over-metadata shape; the document text never reaches it
    assert("Window".r.findAllIn(p).size === 1, s"expected one window stage:\n$p")
    assert(!p.contains("text#"), s"binpack reads document text:\n$p")
  }

  test("feature hash plans joinless: no vocabulary table anywhere") {
    // the hashing trick's whole point — fixed dims with NO fit step,
    // so the plan must contain no join and no broadcast at all
    val p = plan(graft.queries.LexQ.textFeatureHash(spark, sf001))
    assert(!p.contains("Join"), s"feature hash grew a join:\n$p")
    assert(!p.contains("BroadcastExchange"), s"feature hash broadcasts:\n$p")
  }

  test("basket rules pair join keys on the order: no quadratic operator") {
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(graft.queries.BasketQ.qBasketRules(spark, sf001))
      assert(!p.contains("CartesianProduct"),
        s"basket pair join went cartesian:\n$p")
      // the one nested-loop allowed is the scalar n_orders broadcast
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
        s"unexpected nested-loop joins:\n$p")
    }
  }

  test("ngram novelty joins on the trigram with no broadcast hint") {
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // the first-seen table is vocabulary-sized (unbounded) — the
      // tfidf rule: hinting it broadcast would ship the vocabulary to
      // every executor at 100 TB
      val p = plan(graft.queries.BasketQ.textNgramNovelty(spark, sf001))
      assert(!p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
        s"novelty first-seen join must shuffle, not broadcast:\n$p")
    }
  }

  test("int8 quantization broadcasts the 64-row range table") {
    val p = plan(graft.queries.DriftQ.embQuantizeInt8(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), s"range table not broadcast:\n$p")
  }

  test("changepoint windows run over the daily aggregate, not events") {
    val p = plan(graft.queries.DriftQ.tsChangepoint(spark, sf001))
    // both window stages sit above the daily group-by; the raw value
    // column is consumed by the aggregate and never reaches a window
    val windowLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty, s"no window stage:\n$p")
    assert(windowLines.forall(!_.contains("value#")),
      s"changepoint windows over raw events:\n$p")
  }

  test("bigram LM vocabulary joins carry no broadcast hint (the tfidf rule)") {
    // bigram (vocab²) and unigram (vocab) tables are unbounded on web
    // text; only the 1-row vocabulary size may broadcast by hint
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(graft.queries.LexQ.textBigramLm(spark, sf001))
      assert(p.contains("SortMergeJoin"),
        s"bigram LM: vocabulary join is not sort-merge — a broadcast hint is forcing it:\n$p")
    }
  }

  test("kmeans step broadcasts only the centroid table; update is one aggregate") {
    val p = plan(graft.queries.SimilarityQ.embKmeansStep(spark, sf001))
    // assignment: the k-row centroid table rides a broadcast nested
    // loop against the corpus — the corpus itself must never broadcast
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"kmeans: centroid assignment lost its broadcast:\n$p")
    // no sort anywhere: assignment is heap-based top-1, the update a
    // hash aggregate — a Sort would mean a window plan crept in
    assert(!p.contains("WindowExec"), s"kmeans: window plan crept in:\n$p")
  }

  test("abc classification serial pass runs over bucket totals, not parts") {
    val p = plan(graft.queries.OpsQ.qAbcAnalysis(spark, sf001))
    val unpartitioned = p.split("\n").filter(l =>
      l.contains("windowspecdefinition(") && !l.contains("windowspecdefinition(__bucket"))
    assert(unpartitioned.forall(_.contains("__t0")),
      s"abc: unpartitioned window over row-level data:\n${unpartitioned.mkString("\n")}")
  }

  test("bitmap distinct is aggregate-only: no sort, no window, no join before the merge") {
    val p = plan(graft.queries.OptimQ.qBitmapDistinct(spark, sf001))
    // the word fold and popcount are hash aggregates; the only join is
    // the 5-row summary merge against the count(distinct) contract side
    assert(!p.contains("WindowExec"), s"bitmap: window crept in:\n$p")
    assert(p.contains("HashAggregate"), s"bitmap: no hash aggregate:\n$p")
  }

  test("RAKE word-score join carries no broadcast hint (the vocabulary rule)") {
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(graft.queries.MineQ.textKeywords(spark, sf001))
      // with hints impossible (thresholds off), a broadcast join could
      // only come from an explicit hint on the vocabulary-sized
      // word-score table — pin its absence
      assert(!p.contains("BroadcastHashJoin"),
        s"keywords: vocabulary table carries a broadcast hint:\n$p")
    }
  }

  test("temporal join keys on the customer: a hash join, never a cross product") {
    val p = plan(graft.queries.TemporalQ.qTemporalJoin(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"temporal join degenerated to a cross product:\n$p")
  }

  test("rendezvous sharding is map-side until the 5-row summary") {
    val p = plan(graft.queries.ShardQ.etlRendezvousShard(spark, sf001))
    // one explode + argmax aggregate; no join anywhere in the plan
    assert(!p.contains("Join"), s"rendezvous: unexpected join:\n$p")
  }

  test("roc auc / pr curve: unpartitioned windows touch only PrefixSum bucket totals") {
    for (df <- Seq(graft.queries.MetricsQ.qRocAuc(spark, sf001),
        graft.queries.MetricsQ.qPrCurve(spark, sf001))) {
      val p = plan(df)
      val unpartitioned = p.split("\n").filter(l =>
        l.contains("windowspecdefinition(") && !l.contains("windowspecdefinition(__bucket"))
      assert(unpartitioned.forall(_.contains("__t0")),
        s"rank metric: unpartitioned window over row-level data:\n${unpartitioned.mkString("\n")}")
    }
  }

  test("confusion matrix and log loss are single-aggregate plans: no join, no window") {
    for (df <- Seq(graft.queries.MetricsQ.qConfusionMetrics(spark, sf001),
        graft.queries.MetricsQ.qLogLoss(spark, sf001))) {
      val p = plan(df)
      assert(!p.contains("Join"), s"pointwise metric: unexpected join:\n$p")
      assert(!p.contains("WindowExec"), s"pointwise metric: unexpected window:\n$p")
    }
  }

  test("ndcg rankings run through bounded GroupTopK heaps, queries broadcast") {
    val p = plan(graft.queries.RankQ.qNdcg(spark, sf001))
    assert(p.contains("GroupTopK"), s"ndcg: TopK did not rewrite to the native heap:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"ndcg: query set lost its broadcast:\n$p")
  }

  test("mrr derives first-relevant rank with no window at all") {
    val p = plan(graft.queries.RankQ.qMrr(spark, sf001))
    assert(!p.contains("WindowExec") && !p.contains("GroupTopK"),
      s"mrr: ranking operator crept in — the count-based plan regressed:\n$p")
  }

  test("sax is aggregate-only; bollinger windows never see row-level lineitem") {
    val ps = plan(graft.queries.SeriesQ.tsSax(spark, sf001))
    assert(!ps.contains("WindowExec"), s"sax: window crept in:\n$ps")
    val pb = plan(graft.queries.SeriesQ.tsBollinger(spark, sf001))
    val windowLines = pb.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(!_.contains("l_")),
      s"bollinger: window over raw lineitem columns:\n${windowLines.mkString("\n")}")
  }

  test("pseudonymize proof joins stay hash joins on the token") {
    val p = plan(graft.queries.GovQ.etlPseudonymize(spark, sf001))
    assert(!p.contains("CartesianProduct"),
      s"pseudonymize: token join degenerated to a cross product:\n$p")
  }

  test("hits rounds join edges to node-cardinality score tables, never quadratic") {
    val p = plan(graft.queries.GraphQ.qHits(spark, sf001))
    assert(!p.contains("CartesianProduct"), s"hits: cross product crept in:\n$p")
    assert(p.contains("HashAggregate"), s"hits: no hash aggregate:\n$p")
  }

  // ---------------------------------------------------- round-7 session 5

  test("grid join generates candidates by cell equi-join, never a cross product") {
    val p = plan(graft.queries.SpatialQ.qGridJoin(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"grid join degenerated to a quadratic operator:\n$p")
  }

  test("fuzzy decontamination probes the benchmark index by band equi-join") {
    val p = plan(graft.queries.DedupQ.textDecontaminateFuzzy(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy decontamination: quadratic operator crept in:\n$p")
  }

  test("graph-ANN search expands frontiers by equi-join; only queries broadcast") {
    val p = plan(graft.queries.SimilarityQ.annGraphSearch(spark, sf001))
    assert(!p.contains("CartesianProduct"),
      s"graph search: cross product crept in:\n$p")
  }

  test("jarque-bera broadcasts only the group-cardinality pivot table") {
    val p = plan(graft.queries.RigorQ.qJarqueBera(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), s"pivot join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cross product crept in:\n$p")
  }

  test("golden record resolves through hash joins end to end") {
    val p = plan(graft.queries.EntityQ.qGoldenRecord(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"golden record: quadratic operator crept in:\n$p")
  }

  test("substring dedup: window-hash count + doc fold, never a pair join") {
    // the ExactSubstr plan is count-over-hash then doc-keyed interval
    // union — any cartesian/nested-loop here would mean the windows
    // joined all-pairs instead of grouping
    val p = plan(graft.queries.DedupQ.dedupSubstring(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic operator in substring-dedup plan:\n$p")
  }

  test("sq8 scan: bounds and queries broadcast, corpus never reshuffles for scoring") {
    val emb = Tables(spark, sf001).embeddings
    val p = plan(graft.operators.Similarity.annTopK(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10),
      "vec_id", "embedding", 10,
      graft.operators.AnnSpec(graft.operators.AnnSpec.Flat, graft.operators.AnnSpec.Sq8, 0)))
    // the d-length bounds row and the 10-query side both arrive by
    // broadcast (1-row and k-row nested loops are the degenerate,
    // correct broadcast forms); the corpus side must not sort-merge
    assert(p.contains("BroadcastExchange"), s"bounds/queries not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus reshuffled for the code scan:\n$p")
  }
}
