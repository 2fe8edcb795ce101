package graft.operators

import graft.functions.VecFns
import graft.sources.ParquetRead
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY.md §2.4).
  *
  * One candidate generator, [[annTopK]], composes every top-k query
  * from an [[AnnSpec]]. `AnnSpec(Flat, Exact, 0)` is the exact
  * baseline: queries broadcast, scoring is map-side over the (sharded)
  * vector set, and only bounded per-partition top-k rows shuffle on
  * query id. The LSH, MIPS and IVF coarse tiers bound the candidate set
  * per query (O(n/buckets)) — the 100 TB path — and trade recall, which
  * the specs and `graft.Recall` measure against the exact baseline.
  * [[knnJoin]] is the LSH tier with the corpus as its own query set.
  */
object Similarity {

  /** Hyperplane sign bucket: one signature of `planes` bits from the
    * compiled [[graft.functions.HyperplaneBands]] expression (a
    * single band) — the interpreted HOF this replaced cost
    * planes × dim lambda invocations per row; this is one static
    * call inside whole-stage codegen, and its md5-derived integer
    * arithmetic is exactly replayable by the DuckDB oracle.
    */
  private def planeSig(vec: Column, planes: Int): Column =
    element_at(graft.functions.HyperplaneBands(vec, 1, planes), 1)

  /** Probe-bucket set for a query whose own bucket is in `q_bucket`:
    * the bucket itself plus every 1-bit flip.
    */
  private def probeSetExpr(planes: Int): String =
    s"array_union(array(q_bucket), transform(sequence(0, ${planes - 1}), p -> " +
      "CAST(q_bucket AS BIGINT) ^ shiftleft(CAST(1 AS BIGINT), p)))"

  /** Approximate top-k for each query vector (self excluded), composed
    * from the three stages `spec` names (see [[AnnSpec]]):
    *
    *  - coarse tier: Flat scores every vector; the IVF tiers score only
    *    the vectors in each query's `nprobe` nearest seed lists
    *    ([[probedPairs]]) — O(n·nprobe/c) candidates instead of n; the
    *    LSH tiers only those in the query's sign bucket and its 1-bit
    *    flips ([[bucketPairs]]) — O(n·planes/2^planes);
    *  - code: Exact scores raw cosine, InnerProduct the raw dot; Pq
    *    scores the asymmetric-distance sum over `numSub` one-byte codes
    *    per vector ([[pqScores]]), Sq8 the dot of 8-bit per-dim
    *    reconstructions ([[sq8Scores]]) — at 100 TB the scan reads the
    *    code table, never the vectors;
    *  - rerank: `rerank > 0` keeps rerank·k code-ranked rows per query
    *    and ranks them by exact cosine ([[exactRerank]]) — the recall
    *    recovery of every production quantized index.
    *
    * Every stage is deterministic (first-N-by-id seeds, md5 planes, ties
    * by id, 2²⁰-integer partial sums), so the DuckDB oracle replays each
    * composition bit-for-bit. Every tier ends in the same per-partition
    * bounded top-k plus global merge: under the library's session
    * contract (GraftSession / `withExtensions(new GraftExtensions)`)
    * the TopK call rewrites to the native GroupTopK tier, so only
    * partitions × queries × k rows shuffle; a session without the
    * extensions falls back to the window plan, which shuffles every
    * scored pair. Output (q_id, neighbor_id, score, rk), the score named
    * by the last ranking stage: `cosine` (Exact or re-ranked), `ip`
    * (InnerProduct), `adc` (Pq) or `sq8`.
    */
  def annTopK(vectors: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, spec: AnnSpec): DataFrame = {
    val (v, q, lists) = coarseTier(vectors, queries, idCol, vecCol, spec)
    val (scored, out) = codeStage(v, q, lists, spec.code)
    if (spec.rerank <= 0) ranked(scored, k, out)
    else exactRerank(vectors, queries, idCol, vecCol, k, ranked(scored, k * spec.rerank, out))
  }

  /** The code stage: the scored candidate pairs (q_id, id, score, …)
    * and the output column the score publishes as.
    */
  private def codeStage(v: DataFrame, q: DataFrame, lists: Option[Pairs],
                        code: AnnSpec.Code): (DataFrame, Column) = code match {
    case AnnSpec.Exact =>
      // the candidate pairs carry both vectors: scoring needs no join back
      val vx = v.withColumn("nrm", VecFns.norm(col("v")))
      val qx = q.withColumn("q_nrm", VecFns.norm(col("q_v")))
      (candidates(vx, qx, lists).withColumn("score", VecFns.cosinePrenormed(
          VecFns.dot(col("v"), col("q_v")), col("nrm"), col("q_nrm"))),
        round(col("score"), 4).as("cosine"))
    case AnnSpec.InnerProduct =>
      (candidates(v, q, lists).withColumn("score", VecFns.dot(col("v"), col("q_v"))),
        round(col("score"), 4).as("ip"))
    case pq: AnnSpec.Pq => (pqScores(v, q, lists, pq), unquantized.as("adc"))
    case AnnSpec.Sq8 => (sq8Scores(v, q, lists), unquantized.as("sq8"))
  }

  /** Every (vector, query) pair but the self pair under Flat, else the
    * coarse tier's pairs.
    */
  private def candidates(v: DataFrame, q: DataFrame, lists: Option[Pairs]): DataFrame =
    lists.fold(v.crossJoin(broadcast(q)).filter(notSelf))(_(v, q))

  /** Scored-candidate count of [[annTopK]] at `spec` — the COST side of
    * the recall/cost trade `RECALL_r{N}.json` records: the pairs its
    * coarse tier hands the code stage, counted instead of scored.
    */
  private[graft] def candidateCount(vectors: DataFrame, queries: DataFrame,
                                    idCol: String, vecCol: String, spec: AnnSpec): Long = {
    val (v, q, lists) = coarseTier(vectors, queries, idCol, vecCol, spec)
    candidates(v, q, lists).count()
  }

  /** (`prefix`id, `prefix`v) projection of an input frame; SQ8 scores
    * double vectors, every other code the column as stored.
    */
  private def project(df: DataFrame, idCol: String, vecCol: String, prefix: String,
                      toDouble: Boolean): DataFrame =
    df.select(col(idCol).as(prefix + "id"),
      (if (toDouble) col(vecCol).cast("array<double>") else col(vecCol)).as(prefix + "v"))

  private val notSelf: Column = col("id") =!= col("q_id")

  /** Candidate (id, q_id) pairs of a coarse tier, carrying every column
    * of the corpus side (id, v, …) and the query side (q_id, q_v, …).
    */
  private type Pairs = (DataFrame, DataFrame) => DataFrame

  /** The corpus frame (id, v), the query frame (q_id, q_v) and the
    * coarse stage: `None` for Flat. The scaled tier is sized for a c
    * that grows with n, so its corpus frame is [[widen]]ed once and
    * persisted: seeds, assignment, training and encoding all read it.
    */
  private def coarseTier(vectors: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                         spec: AnnSpec): (DataFrame, DataFrame, Option[Pairs]) = {
    val sq8 = spec.code == AnnSpec.Sq8
    val v = project(vectors, idCol, vecCol, "", sq8)
    val q = project(queries, idCol, vecCol, "q_", sq8)
    spec.coarse match {
      case AnnSpec.Flat => (v, q, None)
      case AnnSpec.Ivf(c, np) => (v, q, Some(probedPairs(seeds(v, "id", "v", c), np, scaled = false)))
      case AnnSpec.IvfScaled(c, np) =>
        val vw = CacheLedger.persist(widen(v))
        (vw, q, Some(probedPairs(seeds(vw, "id", "v", c), np, scaled = true)))
      case AnnSpec.Lsh(planes) => (v, q, Some(bucketPairs(planes, mips = false, selfJoin = false)))
      case AnnSpec.MipsLsh(planes) => (v, q, Some(bucketPairs(planes, mips = true, selfJoin = false)))
    }
  }

  /** LSH candidates: each vector sits in one sign bucket of `planes`
    * hyperplanes and each query probes its own bucket and every 1-bit
    * flip of it ([[probeSetExpr]]); one bucket per vector and a
    * duplicate-free probe set, so every (q_id, id) pair appears once.
    * `mips` buckets the [[AnnSpec.MipsLsh]] augmentation instead of the
    * raw vectors ([[mipsBuckets]]). The probe side broadcasts unless
    * `selfJoin`: in [[knnJoin]] it is the corpus, so the bucket join is
    * a plain shuffled equi-join.
    */
  private def bucketPairs(planes: Int, mips: Boolean, selfJoin: Boolean): Pairs = (v, q) => {
    val (vb, qb) =
      if (mips) mipsBuckets(v, q, planes)
      else (v.withColumn("bucket", planeSig(col("v"), planes)),
        q.withColumn("q_bucket", planeSig(col("q_v"), planes)))
    val probes = qb.withColumn("bucket", explode(expr(probeSetExpr(planes))))
    vb.join(if (selfJoin) probes else broadcast(probes), "bucket").filter(notSelf)
  }

  /** Maximum-inner-product buckets via the Shrivastava–Li augmented
    * transform (NeurIPS 2014 "Asymmetric LSH for sublinear time
    * MIPS"): inner product is not a metric (a vector's own ip with
    * itself need not dominate), so cosine LSH cannot bucket it
    * directly. Data x → [x; √(M²−|x|²)] (M = max corpus norm, so every
    * augmented data vector has norm exactly M), query q → [q; 0]; then
    * cos(aug(x), aug(q)) = (x·q)/(M·|q|), a monotone transform of the
    * inner product, and hyperplane sign buckets over the augmented
    * vectors (d + 1 weights per plane) generate its candidates.
    * |x|² and M² are in-order double dot products and the augmented
    * coordinate is one IEEE sqrt — bit-replayable by the DuckDB oracle.
    */
  private def mipsBuckets(v: DataFrame, q: DataFrame, planes: Int): (DataFrame, DataFrame) = {
    val n2 = VecFns.dot(col("v"), col("v"))
    val m2 = v.agg(max(n2).as("m2"))
    val va = concat(expr("transform(v, x -> cast(x as double))"),
      array(sqrt(greatest(col("m2") - n2, lit(0.0)))))
    val qa = concat(expr("transform(q_v, x -> cast(x as double))"), array(lit(0.0)))
    (v.crossJoin(broadcast(m2)).select(v.columns.map(col) :+ planeSig(va, planes).as("bucket"): _*),
      q.withColumn("q_bucket", planeSig(qa, planes)))
  }

  /** Deterministic seed set (c_id, c_v): the first `n` rows by id —
    * non-empty for any id distribution (id % N == 0 selected nothing
    * when ids are sparse/offset). Seeds the IVF lists, the PQ
    * codebooks and the k-means fits alike.
    */
  private def seeds(df: DataFrame, idCol: String, vecCol: String, n: Int): DataFrame =
    df.orderBy(col(idCol)).limit(n).select(col(idCol).as("c_id"), col(vecCol).as("c_v"))

  /** The coarse assign/probe: each row of `df` (key `key`, vector
    * `vec`) keeps its columns and gains `cluster`, one row for each of
    * its `n` best lists among `cents` (c_id, c_v), ties by c_id. The
    * score is cosine, or — `scaled` — `dot(x, c) / |c|`: the same argmax,
    * since |x| is constant within each ranking group, for two of the
    * three dot products per (row, centroid) pair; with c = √n lists the
    * assign is the one n·√n stage, so its constant matters. Assignment
    * is `n = 1`; a query's probes are `n = nprobe`.
    */
  private def nearestLists(df: DataFrame, key: String, vec: String, cents: DataFrame,
                           n: Int, scaled: Boolean): DataFrame = {
    val (c, score) =
      if (scaled) (cents.withColumn("c_nrm", VecFns.norm(col("c_v"))),
        VecFns.dot(col(vec), col("c_v")) / col("c_nrm"))
      else (cents, VecFns.cosine(col(vec), col("c_v")))
    TopK(df.crossJoin(broadcast(c)).withColumn("c_sc", score),
      Seq(col(key)), Seq(col("c_sc").desc, col("c_id")), n)
      .select(df.columns.map(col) :+ col("c_id").as("cluster"): _*)
  }

  /** IVF candidates: vectors join the lists their query probes. Each
    * vector sits in exactly one list and each (query, list) probe is
    * unique, so every (q_id, id) pair appears once — no dedup pass.
    */
  private def probedPairs(cents: DataFrame, nprobe: Int, scaled: Boolean): Pairs =
    (v, q) => nearestLists(v, "id", "v", cents, 1, scaled)
      .join(broadcast(nearestLists(q, "q_id", "q_v", cents, nprobe, scaled)), "cluster")
      .filter(notSelf)

  /** A code stage's scan: the corpus-side `codes` (keyed by id) meet
    * the broadcast query-side `table` (keyed by q_id) on `on` — every
    * pair under Flat, only the probed pairs under a coarse tier.
    */
  private def scan(lists: Option[Pairs], v: DataFrame, q: DataFrame,
                   codes: DataFrame, table: DataFrame, on: Seq[String]): DataFrame =
    lists match {
      case None =>
        (if (on.isEmpty) codes.crossJoin(broadcast(table))
         else codes.join(broadcast(table), on)).filter(notSelf)
      case Some(pairs) =>
        pairs(v, q).select(col("q_id"), col("id"))
          .join(codes, "id").join(broadcast(table), "q_id" +: on)
    }

  /** Partial products quantize to 2²⁰ integers before any sum, so the
    * reduction is order-independent — a raw double sum would
    * hash-diverge across partitionings. Error stays < terms·2⁻²⁰.
    */
  private val Scale = 1048576.0
  private val unquantized: Column = col("score").cast("double") / lit(Scale)

  /** The shared tail: per-query top-k by (score desc, id) through the
    * bounded GroupTopK tier, as (q_id, neighbor_id, out, rk).
    */
  private def ranked(scored: DataFrame, k: Int, out: Column): DataFrame =
    TopK(scored, Seq(col("q_id")), Seq(col("score").desc, col("id")), k)
      .select(col("q_id"), col("id").as("neighbor_id"), out, col("rk").cast("long").as("rk"))

  /** One exact Lloyd iteration over the corpus: assign every vector
    * to its nearest seed centroid (max cosine, ties by centroid id —
    * the IVF tier's [[nearestLists]] assignment), then recompute each
    * centroid component as the mean of its members ([[clusterMeans]]). The 100 TB shape: the
    * k-vector centroid table broadcasts, assignment is map-side, and
    * the update is ONE aggregation of (cluster, dim) cells — k·d
    * cells however big the corpus. Component values quantize to
    * integer micros BEFORE the cross-member sum (float→double is
    * exact, so the longs are identical in any engine and the mean is
    * a deterministic division of exact integers) — a full k-means
    * fit is this step iterated, each iteration exactly replayable.
    */
  def kmeansStep(vectors: DataFrame, idCol: String, vecCol: String,
                 numCentroids: Int): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    clusterMeans(nearestLists(v, "id", "v",
      seeds(vectors, idCol, vecCol, numCentroids), 1, scaled = false))
  }

  /** The Lloyd update over (id, v, cluster) assignments: per (cluster,
    * dim) the member count and the mean of e6-quantized components,
    * as (cluster, dim, n_members, new_c).
    */
  private def clusterMeans(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
      .withColumn("x6", round(col("x").cast("double") * 1e6).cast("long"))
      .groupBy(col("cluster"), col("dim"))
      .agg(count(lit(1)).as("n_members"), sum(col("x6")).as("sum_e6"))
      .select(col("cluster"), col("dim").cast("long").as("dim"), col("n_members"),
        round(col("sum_e6") / (col("n_members") * 1e6), 6).as("new_c"))

  /** Full Lloyd k-means fit: [[kmeansStep]] iterated. Per iteration
    * the corpus is touched exactly twice (assign, update); the ONLY
    * driver-side state is the k×d centroid table — aggregated
    * metadata, bounded regardless of corpus size (the
    * plan-serially/execute-parallel rule), re-broadcast each round.
    * Centroid components stay micro-quantized longs between rounds,
    * so every iteration — and therefore the whole fit — is exactly
    * replayable cross-engine. Returns the final (cluster, dim,
    * n_members, new_c) table, same shape as one step.
    */
  def kmeansFit(vectors: DataFrame, idCol: String, vecCol: String,
                numCentroids: Int, iters: Int): DataFrame = {
    require(iters >= 1, "kmeansFit needs at least one iteration")
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    var cents = seeds(vectors, idCol, vecCol, numCentroids).select(col("c_id"),
      expr("transform(c_v, x -> cast(round(cast(x as double) * 1e6) as long))").as("c_q"))
    var out: DataFrame = null
    for (i <- 1 to iters) {
      val cd = cents.select(col("c_id"),
        expr("transform(c_q, q -> cast(q as double) / 1e6)").as("c_v"))
      out = clusterMeans(nearestLists(v, "id", "v", cd, 1, scaled = false))
      // the final round's means are re-read by every consumer of the
      // returned frame (the trained build evaluates them for the
      // centroid broadcast AND the centroid write) — cache them so the
      // collect below is the only evaluation of the assign+mean pass
      if (i == iters) out = CacheLedger.persist(out)
      // k×d quantized means back to the driver — the only serial state.
      // round THEN cast (r16): new_c·1e6 sits within 1 ulp of an
      // integer, and a bare truncating cast could land one under it —
      // and DuckDB's double→int cast rounds where Spark's truncates,
      // so the round() is also what makes the round-trip replayable
      // bit-for-bit by the ann_ivf_sq8_trained oracle
      val updated = out
        .select(col("cluster"), col("dim"),
          round(col("new_c") * 1e6).cast("long").as("q"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (c, rows) =>
          (c, rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq)
        }.toSeq.sortBy(_._1)
      cents = updated.toDF("c_id", "c_q")
    }
    out
  }

  /** Scale-adaptive hyperplane count for [[knnJoin]]: the smallest
    * `p ≥ 4` with `⌈n / targetBucket⌉ ≤ 2^p` — i.e. enough planes to
    * hold mean bucket occupancy at ~`targetBucket`, so the bucket
    * join's scored-pair count stays ~`n · targetBucket · (p + 1)`
    * (near-linear) instead of the fixed-planes `n² / 2^p` (quadratic —
    * the 62 GB ×100 spill the r12 scale run measured). Pure INTEGER
    * arithmetic on purpose: a `ceil(log2(…))` formulation diverges by
    * 1 ulp between engines exactly at power-of-two boundaries, where
    * ceil then flips — the DuckDB oracles replay this same comparison
    * scan over `range(4, 40)`, bit-for-bit.
    */
  def scaledPlanes(n: Long, targetBucket: Int = 64): Int =
    (4 to 39).find(p => (n + targetBucket - 1) / targetBucket <= (1L << p)).getOrElse(39)

  /** Scale-adaptive IVF coarse-centroid count: the smallest `c` with
    * `c² ≥ n` (ceil-isqrt — the classic `c ≈ √n` balance between
    * assignment cost `n·c` and probe-list length `n/c`), floored at
    * the gate-tier default 10. The r12 scale run measured WHY this
    * must scale: a fixed c=10 stops pruning once lists are n/10 —
    * every probe set is 80% of the corpus and the "index" degrades to
    * brute force with PQ overhead (ann_ivf_pq_trained_rerank ×100 =
    * 5.06×/10×). Pure INTEGER logic for the same reason as
    * [[scaledPlanes]]: a float `ceil(sqrt(n))` can flip by 1 ulp at
    * perfect squares between engines; here the float sqrt is only a
    * STARTING GUESS (backed off by 2) and the integer climb decides —
    * the DuckDB oracles replay the identical "smallest c with c²≥n"
    * comparison over a range scan, bit-for-bit.
    */
  def scaledCentroids(n: Long, floorC: Int = 10): Int = {
    var c = math.max(1L, math.sqrt(n.toDouble).toLong - 2L)
    while (c * c < n) c += 1
    math.max(floorC.toLong, c).toInt
  }

  /** Scale-adaptive probe width for [[scaledCentroids]]: `max(8,
    * c/16)` — holds the scanned corpus fraction near `np/c ≈ 1/16`
    * once c outgrows the gate-tier floor (at the floor, np=8 of c=10
    * is the static gate's operating point). RECALL_r12 measured the
    * ~6% scan fraction as the 0.99-recall IVF point at 200k vectors;
    * a fixed np=8 over √n centroids would shrink the fraction — and
    * the recall — with every scale-up. Integer division, replayed by
    * the oracle as `GREATEST(8, cc // 16)`.
    */
  def scaledNprobe(c: Int, floorNp: Int = 8): Int = math.max(floorNp, c / 16)

  /** Corpus-wide kNN JOIN — every vector's top-k neighbors (the kNN
    * graph behind retrieval-augmented dedup, graph clustering and
    * kNN-LM), not just a query set's: [[annTopK]]'s `Lsh(planes)` tier
    * and `Exact` code with the corpus as its own query set. The probe
    * side IS the corpus, so nothing broadcasts: both sides read one
    * persisted projection, and candidates come from a plain (shuffled)
    * equi-join on the bucket — per-bucket work is O(|bucket| × |probes
    * in bucket|), never n².
    */
  def knnJoin(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
              planes: Int = 4): DataFrame = {
    // both join sides read it; CacheLedger.release (Gates.release between gates) frees it
    val v = CacheLedger.persist(project(vectors, idCol, vecCol, "", toDouble = false))
    val q = v.select(col("id").as("q_id"), col("v").as("q_v"))
    val (scored, out) =
      codeStage(v, q, Some(bucketPairs(planes, mips = false, selfJoin = true)), AnnSpec.Exact)
    ranked(scored, k, out)
  }

  /** Greedy beam search over the kNN graph — the HNSW-layer-0 query
    * pattern, batch-composed: from a deterministic entry point, each
    * hop expands the current beam's graph neighbors (≤ k per node),
    * scores every visited node against the query, and keeps the
    * top-`beam` frontier; after `hops` rounds the best `k` visited
    * nodes are the answer. At 100 TB the graph IS the persisted
    * `knnJoin` artifact: per hop the work is |queries|·beam bounded
    * equi-joins against a 5-edges-per-node list plus a bounded
    * scoring join — never a corpus scan per query, which is the whole
    * point of graph ANN. Fully deterministic (fixed entry, (cos, id)
    * tie-breaks), so an oracle can unroll the hops exactly.
    *
    * @param edges directed kNN edges (`src`, `dst`)
    */
  def graphSearch(vectors: DataFrame, queries: DataFrame, edges: DataFrame,
                  idCol: String, vecCol: String,
                  k: Int, beam: Int = 32, hops: Int = 6): DataFrame = {
    val scored = graphVisitedScored(vectors, queries, edges, idCol, vecCol, beam, hops)
    TopK(scored.filter(col("node") =!= col("q_id")),
      Seq(col("q_id")), Seq(col("cos").desc, col("node")), k)
      .select(col("q_id"), col("node").as("neighbor_id"),
        round(col("cos"), 4).as("cosine"), col("rk").cast("long").as("rk"))
  }

  /** The visited (q_id, node) set [[graphSearch]] scores — exposed so
    * the recall artifact can record |visited| as the beam search's
    * cost (the scored-candidate count, comparable across index
    * shapes). Exactly `graphVisitedScored(...)` minus the scores.
    */
  private[graft] def graphVisited(vectors: DataFrame, queries: DataFrame,
                                  edges: DataFrame, idCol: String, vecCol: String,
                                  beam: Int, hops: Int): DataFrame =
    graphVisitedScored(vectors, queries, edges, idCol, vecCol, beam, hops)
      .select(col("q_id"), col("node"))

  /** The beam-search loop: every visited (q_id, node) with its exact
    * cosine, each node scored EXACTLY ONCE — each hop anti-joins the
    * expanded frontier against the already-scored set and scores only
    * the fresh nodes, then the beam is a bounded top-`beam` over the
    * accumulated scores (r12 shipped `scoreOf(visited)` on the
    * cumulative union inside the loop: hops× redundant scoring joins
    * plus a growing `distinct()` per hop — the battery's slowest gate
    * for no structural reason; scores are deterministic, so the
    * accumulator's top-beam is provably the same beam and the oracle
    * hash match pins it). Each hop lazily localCheckpoints the
    * accumulator — the [[KCore]]/[[LabelProp]] discipline — so the
    * plan stays hop-local instead of doubling per hop.
    */
  private def graphVisitedScored(vectors: DataFrame, queries: DataFrame,
                                 edges: DataFrame, idCol: String, vecCol: String,
                                 beam: Int, hops: Int): DataFrame = {
    val v = vectors.select(col(idCol).as("node"), col(vecCol).as("nv"),
      VecFns.norm(col(vecCol)).as("nnrm"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"),
      VecFns.norm(col(vecCol)).as("qnrm"))
    val entry = vectors.agg(min(col(idCol)).as("node"))
    // the edge table is probed once PER HOP — without a persist each
    // hop re-runs the caller's whole edge-build plan (for the gate:
    // the kNN bucket join) hops× over
    val ed = CacheLedger.persist(edges)
    def scoreOf(df: DataFrame): DataFrame =
      df.join(v, "node").join(broadcast(q), "q_id")
        .withColumn("cos", VecFns.cosinePrenormed(
          VecFns.dot(col("nv"), col("qv")), col("nnrm"), col("qnrm")))
        .select(col("q_id"), col("node"), col("cos"))
    var scored = scoreOf(q.select(col("q_id")).crossJoin(broadcast(entry)))
      .transform(Checkpoints.truncate(_, eager = false))
    var beamDf = scored.select(col("q_id"), col("node"))
    for (_ <- 1 to hops) {
      val expanded = beamDf.join(ed, beamDf("node") === ed("src"))
        .select(col("q_id"), col("dst").as("node")).distinct()
      val fresh = expanded.join(scored.select(col("q_id"), col("node")),
        Seq("q_id", "node"), "left_anti")
      scored = scored.unionByName(scoreOf(fresh))
        .transform(Checkpoints.truncate(_, eager = false))
      beamDf = TopK(scored,
        Seq(col("q_id")), Seq(col("cos").desc, col("node")), beam)
        .select(col("q_id"), col("node"))
    }
    scored
  }

  /** Product-quantization scores (inner-product PQ with asymmetric
    * distance): the vector space splits into `numSub` subspaces, each
    * with a `codebook`-entry codebook. Each vector is encoded ONCE as
    * `numSub` small codes — at 100 TB the scan reads the code table
    * (numSub bytes/vector, a 64× compression of a 64-float embedding),
    * never the vectors. A query scores candidates through its
    * asymmetric-distance table: partial inner products of the query's
    * subvectors against every codebook entry (queries × numSub ×
    * codebook rows — bounded, broadcast), joined to the codes on
    * (subspace, code) and summed per (query, vector) as 2²⁰ integers.
    *
    * `trainIters = 0` takes the seed set's slices as the codebook and
    * encodes by max partial inner product over the stored floats;
    * above 0 the codebook is [[trainedCsub]] and encoding is by min L2
    * reconstruction over doubles — IP-ADC over an L2-trained
    * codebook, the standard MIPS-PQ composition.
    */
  private def pqScores(v: DataFrame, q: DataFrame, lists: Option[Pairs],
                       pq: AnnSpec.Pq): DataFrame = {
    val trained = pq.trainIters > 0
    val csub =
      if (trained) CacheLedger.persist(trainedCsub(v, pq.numSub, pq.codebook, pq.trainIters))
      else subvectors(seeds(v, "id", "v", pq.codebook), "c_v", "c_sub", pq.numSub, toDouble = false)
        .select(col("c_id"), col("m"), col("c_sub"))
    val codes = nearestCode(subvectors(v, "v", "v_sub", pq.numSub, trained), csub, minL2 = trained)
      .select(col("id"), col("m"), col("c_id").as("code"))
    // asymmetric-distance table: the query side of every (m, code) cell
    val dt = subvectors(q, "q_v", "q_sub", pq.numSub, trained)
      .join(broadcast(csub), "m")
      .select(col("q_id"), col("m"), col("c_id").as("code"),
        floor(VecFns.dot(col("q_sub"), col("c_sub")) * lit(Scale)).cast("long").as("pd"))
    scan(lists, v, q, codes, dt, Seq("m", "code"))
      .groupBy(col("q_id"), col("id"))
      .agg(sum(col("pd")).as("score"))
  }

  /** Subvector slicing: one row per (row of `df`, subspace m) with
    * `out` = the m-th of `numSub` equal slices of `vec` — as stored, or
    * cast to double.
    */
  private def subvectors(df: DataFrame, vec: String, out: String, numSub: Int,
                         toDouble: Boolean): DataFrame = {
    val sd = col("sd")
    val s = slice(col(vec), col("m") * sd + 1, sd)
    df.select(df.columns.map(col) :+ explode(sequence(lit(0), lit(numSub - 1))).as("m"): _*)
      .withColumn("sd", expr(s"size($vec) div $numSub").cast("int"))
      .withColumn(out, if (toDouble) transform(s, _.cast("double")) else s)
  }

  /** PQ encode: each (id, m, v_sub) row of `vsub` keeps its columns and
    * gains `c_id`, its nearest entry of `csub` (c_id, m, c_sub), ties
    * by c_id — by min L2 reconstruction error (`minL2`; |x − c|² =
    * |x|² − 2x·c + |c|² and |x|² is constant per subvector, so the
    * argmin of |c|² − 2x·c), else by max partial inner product.
    */
  private def nearestCode(vsub: DataFrame, csub: DataFrame, minL2: Boolean): DataFrame = {
    val ip = VecFns.dot(col("v_sub"), col("c_sub"))
    val e = if (minL2) VecFns.dot(col("c_sub"), col("c_sub")) - lit(2.0) * ip else ip
    TopK(vsub.join(broadcast(csub), "m").withColumn("e", e),
      Seq(col("id"), col("m")), Seq(if (minL2) col("e").asc else col("e").desc, col("c_id")), 1)
  }

  /** Per-subspace k-means-TRAINED PQ codebooks over an (id, v) frame:
    * `iters` Lloyd rounds from the seed slices — the [[kmeansFit]]
    * discipline applied independently in each of the `numSub`
    * subspaces. Each round assigns every subvector by min L2
    * reconstruction (the quantizer objective; max-IP assignment — the
    * seed codes' order — measured flat, 0.41 vs 0.40 seed, when used
    * to train) and recomputes each entry as the e6-quantized per-dim
    * mean of its members; empty entries keep their previous value (no
    * re-seeding randomness). Everything stays in-plan: the state
    * between rounds is a numSub×codebook×(d/numSub) table, never a
    * collect. Exactly oracle-replayable: member sums are exact e6
    * longs and the mean's single division is IEEE-identical
    * cross-engine. At 100 TB the training input is a bounded SAMPLE by
    * contract (the etl_stratified_sample machinery supplies it); here
    * the corpus is the sample. Returns (c_id, m, c_sub double[]).
    */
  private def trainedCsub(v: DataFrame, numSub: Int, codebook: Int, iters: Int): DataFrame = {
    val vsub = subvectors(v, "v", "v_sub", numSub, toDouble = true)
      .select(col("id"), col("m"), col("v_sub"))
    var cs = subvectors(seeds(v, "id", "v", codebook), "c_v", "c_sub", numSub, toDouble = true)
      .select(col("c_id"), col("m"), col("c_sub"))
    for (_ <- 1 to iters) {
      val cells = nearestCode(vsub, cs, minL2 = true)
        .select(col("c_id"), col("m"), posexplode(col("v_sub")).as(Seq("j", "x")))
        .withColumn("x6", round(col("x") * 1e6).cast("long"))
        .groupBy(col("c_id"), col("m"), col("j"))
        .agg(count(lit(1)).as("n"), sum(col("x6")).as("s6"))
        .withColumn("c", round(col("s6") / (col("n") * 1e6), 6))
      val rebuilt = cells
        .groupBy(col("c_id"), col("m"))
        .agg(array_sort(collect_list(struct(col("j"), col("c")))).as("a"))
        .withColumn("nw", expr("transform(a, e -> e.c)"))
        .select(col("c_id"), col("m"), col("nw"))
      cs = cs.join(rebuilt, Seq("c_id", "m"), "left")
        .select(col("c_id"), col("m"), coalesce(col("nw"), col("c_sub")).as("c_sub"))
    }
    cs
  }

  /** Restore task parallelism for compute-heavy map stages: a small
    * parquet directory (the ×100 lake's 55 MB embedding table) opens
    * as a handful of input partitions, and everything derived from it
    * — the 89.6M-row centroid-assign crossJoin, the 205M-row PQ
    * training join — inherits that width, running ≤5 tasks on 32
    * cores (the r13 profile measured the coarse assign ALONE at
    * 193 s for this reason). One round-robin shuffle of the narrow
    * (id, vector) frame buys full-width execution; inputs already
    * wider than the session's parallelism pass through untouched, so
    * a real cluster reading thousands of splits never pays it.
    */
  private def widen(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** SQ8 scalar-quantized scores: each dimension affinely maps to an
    * 8-bit code against per-dim corpus [min, max] bounds (the FAISS
    * ScalarQuantizer layout — 1 byte/dim, 4× the memory-bandwidth
    * headroom of float32 at 100 TB, and unlike PQ no codebook
    * training). Scoring reconstructs x̂ = mn + code·Δ on both sides and
    * sums per-dim products as 2²⁰ integers. The quantizer trains on
    * the full corpus even when a coarse tier restricts the scan.
    */
  private def sq8Scores(v: DataFrame, q: DataFrame, lists: Option[Pairs]): DataFrame = {
    val bounds = sq8Bounds(v)
    scan(lists, v, q, sq8Encode(v, bounds, "v", "vr"), sq8Encode(q, bounds, "q_v", "qr"), Nil)
      .withColumn("score", sq8Dot)
  }

  /** Per-dim [min, max] SQ8 quantizer bounds over an (id, v:
    * array<double>) frame — one exploded min/max aggregate (map-side
    * combinable) re-assembled into two broadcast-able d-arrays (mns,
    * dls) — no driver collect.
    */
  private def sq8Bounds(v: DataFrame): DataFrame =
    v.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(
        expr("transform(array_sort(collect_list(struct(dim, mn))), s -> s.mn)").as("mns"),
        expr("transform(array_sort(collect_list(struct(dim, mx))), s -> s.mx)").as("mxs"))
      .select(col("mns"),
        expr("zip_with(mns, mxs, (a, b) -> (b - a) / 255.0D)").as("dls"))

  /** SQ8 reconstruction: `df` with column `from` replaced by `to`, its
    * reconstruction against the one-row `bounds`. Op order pinned to
    * the oracle's: floor((x - mn) / dl + 0.5) CLAMPED to [0, 255], then
    * mn + code·dl (dl = 0 collapses the dim to its constant). The clamp
    * is what FAISS's ScalarQuantizer does: a QUERY value outside the
    * corpus per-dim [mn, mx] lands on the nearest representable code
    * instead of extrapolating past the 8-bit domain (corpus rows are
    * always in-bounds; appended rows encode through the frozen bounds).
    */
  private def sq8Encode(df: DataFrame, bounds: DataFrame, from: String, to: String): DataFrame =
    df.crossJoin(broadcast(bounds))
      .select(df.columns.filter(_ != from).map(col) :+ expr(
        s"""transform($from, (x, i) -> IF(element_at(dls, i + 1) = 0D,
           |  element_at(mns, i + 1),
           |  element_at(mns, i + 1) +
           |    greatest(0D, least(255D,
           |      floor((x - element_at(mns, i + 1)) / element_at(dls, i + 1) + 0.5D))) *
           |    element_at(dls, i + 1)))""".stripMargin).as(to): _*)

  /** The SQ8 score of a (qr, vr) pair of reconstructions. */
  private val sq8Dot: Column = expr(
    s"aggregate(zip_with(qr, vr, (a, b) -> CAST(floor(a * b * ${Scale}D) AS BIGINT)), 0L, (s, p) -> s + p)")

  /** PERSISTED IVF+SQ8 index — build once, query many (the FAISS
    * index-file role, re-expressed as a self-describing parquet
    * artifact). Writes the three tables a query needs under `path`:
    *
    *  - `codes/`     (id, vr, cluster) — the SQ8-reconstructed corpus,
    *                 PARTITIONED BY coarse list, so the probe join's
    *                 dynamic partition pruning reads only probed
    *                 lists' files (the on-disk IVF layout);
    *  - `centroids/` (c_id, c_v) — the coarse quantizer;
    *  - `bounds/`    one row (mns, dls) — the per-dim SQ8 quantizer;
    *
    * plus a `_graft_ann_index.json` marker (the [[graft.sources
    * .BucketedLake]] discipline: underscore-prefixed so plain parquet
    * readers ignore it; any later session/JVM picks the index back up
    * from the marker alone). Every number the query path consumes is
    * a parquet DOUBLE round-trip — bit-exact — and assignment,
    * reconstruction and scoring are the [[annTopK]] stages of
    * `AnnSpec(IvfScaled(c, np), Sq8, fetch)`, so build-once/query-many
    * answers hash-match the build-inline pipeline at any scale. At
    * 100 TB this split is the whole point: the n-sized passes (assign +
    * reconstruct) run once at write time; a query pays only centroid
    * scoring + probed-list code scans + the shortlist re-rank.
    *
    * The coarse quantizer is the first-N-by-id seed set by default,
    * or `trainRounds` Lloyd iterations of the shared deterministic
    * [[kmeansFit]]; trained centroid ids are the SEED ids that kept
    * members — a subset of the first-N corpus ids, which is all the
    * probe join keys on.
    */
  def ivfSq8IndexBuild(vectors: DataFrame, idCol: String, vecCol: String,
                       numCentroids: Int, nprobe: Int, path: String,
                       trainRounds: Int = 0): Unit = {
    val vw = CacheLedger.persist(widen(project(vectors, idCol, vecCol, "", toDouble = true)))
    // n and dims ride one aggregate job — the build is fixed-cost-bound
    // at small corpora
    val meta = vw.agg(count(lit(1)).as("n"), first(size(col("v"))).as("dims")).head()
    val n = meta.getLong(0)
    val dims = meta.getInt(1)
    // cents and bounds each feed a broadcast AND their own parquet
    // write: persisted, so each is evaluated once
    val cents = CacheLedger.persist(
      if (trainRounds <= 0) seeds(vw, "id", "v", numCentroids)
      else
        kmeansFit(vw, "id", "v", numCentroids, trainRounds)
          .groupBy(col("cluster"))
          .agg(expr("transform(array_sort(collect_list(struct(dim, new_c))), s -> s.new_c)")
            .as("c_v"))
          .select(col("cluster").as("c_id"), col("c_v")))
    val bounds = CacheLedger.persist(sq8Bounds(vw))
    val codes = sq8Encode(nearestLists(vw, "id", "v", cents, 1, scaled = true), bounds, "v", "vr")
    // The three artifact writes are independent output paths: the tiny
    // centroids/bounds jobs back-fill while the codes write runs. They
    // run on threads made here, which inherit the caller's Spark local
    // properties (job group, description, scheduler pool) — a shared
    // pool's threads keep whatever they were created under.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val side = Seq(cents -> "centroids", bounds -> "bounds").map { case (df, dir) =>
        pool.submit(new Runnable {
          def run(): Unit = df.write.mode("overwrite").parquet(s"$path/$dir")
        })
      }
      // ONE file per coarse list: hash-repartitioning by the partition
      // column lands each list in exactly one task — the on-disk IVF
      // layout (FAISS: one code block per list) — where tasks × lists
      // tiny files would cost every probe a listing and file opens
      codes.repartition(writeWidth(vw.sparkSession, n), col("cluster"))
        .write.mode("overwrite").partitionBy("cluster").parquet(s"$path/codes")
      side.foreach { f =>
        try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
    }
    writeMarker(vw.sparkSession, path,
      s"""{"version":1,"kind":"ivf_sq8","numCentroids":$numCentroids,""" +
        s""""nprobe":$nprobe,"n":$n,"dims":$dims,""" +
        s""""idCol":"$idCol","vecCol":"$vecCol"}""")
  }

  /** Write tasks of an index write of `n` rows: one per ~500k rows
    * (≈256 MB of 64-dim doubles), at most the session's shuffle width
    * — one task at gate scale, the session width at 100 TB.
    */
  private def writeWidth(spark: SparkSession, n: Long): Int =
    math.max(1L, math.min(spark.conf.get("spark.sql.shuffle.partitions").toLong,
      (n + 499999) / 500000)).toInt

  val AnnIndexMarker = "_graft_ann_index.json"

  private def readMarker(spark: SparkSession, path: String): String = {
    val marker = new org.apache.hadoop.fs.Path(path, AnnIndexMarker)
    val in = marker.getFileSystem(spark.sparkContext.hadoopConfiguration).open(marker)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def writeMarker(spark: SparkSession, path: String, txt: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(path, AnnIndexMarker)
    val out = marker.getFileSystem(spark.sparkContext.hadoopConfiguration).create(marker, true)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
  }

  private def markerField(field: String) = s""""$field"\\s*:\\s*(\\d+)""".r

  /** An integer field of the marker text read from `path`. */
  private def markerLong(txt: String, field: String, path: String): Long =
    markerField(field).findFirstMatchIn(txt).map(_.group(1).toLong).getOrElse(
      throw new IllegalStateException(s"no $field in $path/$AnnIndexMarker"))

  /** Incremental index APPEND (a 100 TB corpus grows; a daily batch
    * must not cost a full rebuild): assigns the new vectors to the
    * EXISTING persisted centroids, encodes them with the EXISTING
    * persisted quantizer bounds (out-of-range values CLAMP to the
    * 8-bit domain — the FAISS ScalarQuantizer add() contract: the
    * quantizer is frozen at train time), appends the new rows into the
    * per-list `codes/` partitions, and bumps the marker's `n`. Cost is
    * delta-sized: one assign pass (|delta| × c centroid scores), one
    * encode pass, one partitioned append write — the corpus-sized
    * codes are never read or rewritten.
    *
    * Exactness contract: append(base, delta) is BIT-IDENTICAL to
    * build(base ∪ delta) queried at the same nprobe whenever (a) the
    * delta extends no per-dim [min, max] bound and (b) the first
    * `numCentroids` ids of base ∪ delta lie in base — i.e. whenever a
    * full rebuild would have derived the same quantizer
    * (SimilaritySpec pins this). When the delta DOES extend a bound,
    * the frozen-quantizer semantics apply (clamped codes — exactly
    * what FAISS does); the `ann_ivf_sq8_append` gate's oracle replays
    * the frozen quantizer, so that path is hash-gated too.
    */
  def ivfSq8IndexAppend(path: String, delta: DataFrame,
                        idCol: String, vecCol: String): Unit = {
    val spark = delta.sparkSession
    val dw = CacheLedger.persist(widen(project(delta, idCol, vecCol, "", toDouble = true)))
    val nNew = dw.count()
    val cents = ParquetRead.read(spark, s"$path/centroids")
    val bounds = ParquetRead.read(spark, s"$path/bounds")
    sq8Encode(nearestLists(dw, "id", "v", cents, 1, scaled = true), bounds, "v", "vr")
      // one appended file per touched list (the build's layout rule)
      .repartition(writeWidth(spark, nNew), col("cluster"))
      .write.mode("append").partitionBy("cluster").parquet(s"$path/codes")
    val txt = readMarker(spark, path)
    val nOld = markerLong(txt, "n", path)
    writeMarker(spark, path, markerField("n").replaceFirstIn(txt,
      java.util.regex.Matcher.quoteReplacement(s""""n":${nOld + nNew}""")))
  }

  /** Query-only half of the persisted index: probes from the persisted
    * centroids, SQ8 scoring over ONLY the probed lists (a broadcast
    * join on the partition column — dynamic partition pruning skips
    * unprobed lists' files), exact re-rank of the fetch·k shortlist
    * against the raw lake vectors (an id equi-join, never a corpus
    * scan). `nprobe <= 0` resolves from the marker — the artifact is
    * self-describing.
    */
  def ivfSq8IndexQuery(path: String, vectors: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       nprobe: Int = -1, fetch: Int = 8): DataFrame = {
    val spark = vectors.sparkSession
    val np = if (nprobe > 0) nprobe
      else markerLong(readMarker(spark, path), "nprobe", path).toInt
    val cents = ParquetRead.read(spark, s"$path/centroids")
    val bounds = ParquetRead.read(spark, s"$path/bounds")
    val q = project(queries, idCol, vecCol, "q_", toDouble = true)
    val probes = nearestLists(q, "q_id", "q_v", cents, np, scaled = true)
      .select(col("q_id"), col("cluster"))
    val codes = ParquetRead.read(spark, s"$path/codes")
      .select(col("id"), col("vr"), col("cluster").cast("long").as("cluster"))
    val scored = codes.join(broadcast(probes), "cluster").filter(notSelf)
      .join(broadcast(sq8Encode(q, bounds, "q_v", "qr")), "q_id")
      .withColumn("score", sq8Dot)
    exactRerank(vectors, queries, idCol, vecCol, k,
      ranked(scored, k * fetch, unquantized.as("sq8")))
  }

  /** Exact cosine re-rank of an ANN shortlist: shortlist ids join the
    * raw vectors once (an equi-join on id — never a corpus scan),
    * queries broadcast, and the final k ranks through the bounded
    * GroupTopK tier with the `AnnSpec(Flat, Exact, 0)` output contract
    * (cosine rounded to 4 decimals, ties by id).
    */
  private def exactRerank(vectors: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          shortlist: DataFrame): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("v"),
      VecFns.norm(col(vecCol)).as("nrm"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"),
      VecFns.norm(col(vecCol)).as("q_nrm"))
    val scored = shortlist.select(col("q_id"), col("neighbor_id").as("id"))
      .join(v, "id")
      .join(broadcast(q), "q_id")
      .withColumn("score", VecFns.cosinePrenormed(
        VecFns.dot(col("v"), col("q_v")), col("nrm"), col("q_nrm")))
      .select(col("q_id"), col("id"), col("score"))
    ranked(scored, k, round(col("score"), 4).as("cosine"))
  }
}
