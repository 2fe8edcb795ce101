package graft.queries

import graft.Tables
import graft.functions.VecFns
import graft.operators.{Dbscan, TopK}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 continuation wave — distributed unsupervised ML over the
  * embedding corpus: density clustering (DBSCAN), local outlier
  * factor, exact covariance/correlation structure, and PCA by power
  * iteration with bounded driver state. All four follow the
  * established determinism discipline: candidate generation through
  * md5-derived hyperplane buckets the oracle replays, libm outputs
  * quantized to integers before any cross-row sum, and final-mile
  * double arithmetic as the IDENTICAL expression in both engines.
  */
object MlQ {

  // ------------------------------------------------------------ emb_dbscan

  /** DBSCAN over the embedding table ([[Dbscan.fit]]): ε-graph =
    * cosine ≥ 0.3 among hyperplane-bucket-colliding pairs, core =
    * ≥3 neighbors, components via distributed min-label pointer
    * jumping. At sf0.01 the 500 vectors split 154 core / 194 border
    * / 152 noise across 14 clusters. The oracle replays bucketing,
    * scoring, role assignment and the component walk (recursive CTE)
    * bit-for-bit.
    */
  def embDbscan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dbscan.fit(Tables(spark, dir).embeddings, "vec_id", "embedding",
        minCos = 0.3, minPts = 3)
      .orderBy($"id")
  }

  private val embDbscanSql =
    """WITH RECURSIVE v AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> floor(x * 1048576.0)) AS qx,
      |         CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings),
      |w AS (
      |  SELECT p, list(CAST(CAST(CAST(('0x'||substr(md5('hp:'||p||':'||j),1,16)) AS UBIGINT) % 2001 AS BIGINT) - 1000 AS DOUBLE) ORDER BY j) AS wv
      |  FROM range(0, 4) t(p), range(0, 64) d(j) GROUP BY p),
      |bk AS (
      |  SELECT vec_id, SUM(CASE WHEN list_dot_product(qx, wv) > 0 THEN CAST(1 AS BIGINT) << CAST(p AS INTEGER) ELSE 0 END) AS bucket
      |  FROM v, w GROUP BY vec_id),
      |probes AS (
      |  SELECT DISTINCT q_id, pb FROM (
      |    SELECT vec_id AS q_id, bucket AS pb FROM bk
      |    UNION ALL
      |    SELECT vec_id, CAST(xor(bucket, CAST(1 AS BIGINT) << CAST(p AS INTEGER)) AS BIGINT)
      |    FROM bk, range(0, 4) r(p))),
      |pairs AS (
      |  SELECT p.q_id AS id_a, b.vec_id AS id_b
      |  FROM probes p JOIN bk b ON b.bucket = p.pb
      |  JOIN v e ON e.vec_id = b.vec_id JOIN v q ON q.vec_id = p.q_id
      |  WHERE p.q_id < b.vec_id
      |    AND list_dot_product(e.e, q.e) / (sqrt(list_dot_product(e.e,e.e))*sqrt(list_dot_product(q.e,q.e))) >= 0.3),
      |deg AS (SELECT id, count(*) AS deg FROM (
      |  SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs) GROUP BY id),
      |cores AS (SELECT id FROM deg WHERE deg >= 3),
      |ce AS (SELECT id_a, id_b FROM pairs
      |  WHERE id_a IN (SELECT id FROM cores) AND id_b IN (SELECT id FROM cores)),
      |edges AS (SELECT id_a AS u, id_b AS vv FROM ce UNION SELECT id_b, id_a FROM ce),
      |walk(id, lbl) AS (
      |  SELECT id, id FROM cores
      |  UNION
      |  SELECT e.u, wk.lbl FROM walk wk JOIN edges e ON e.vv = wk.id WHERE wk.lbl < e.u),
      |comp AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id),
      |core_out AS (SELECT id, cluster, 'core' AS role FROM comp),
      |nbrs AS (SELECT id_a AS id, id_b AS nb FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
      |border AS (
      |  SELECT n.id, min(c.cluster) AS cluster, 'border' AS role
      |  FROM nbrs n JOIN core_out c ON c.id = n.nb
      |  WHERE n.id NOT IN (SELECT id FROM cores)
      |  GROUP BY n.id),
      |asg AS (SELECT * FROM core_out UNION ALL SELECT * FROM border)
      |SELECT ee.vec_id AS id, coalesce(a.cluster, -1) AS cluster,
      |  coalesce(a.role, 'noise') AS role
      |FROM v ee LEFT JOIN asg a ON a.id = ee.vec_id
      |ORDER BY id""".stripMargin

  // ------------------------------------------------------- emb_cov_matrix

  private val Dims = 8
  private val pairsUpper: Seq[(Int, Int)] =
    for { i <- 0 until Dims; j <- i until Dims } yield (i, j)

  /** Quantized dim value: floor(x·2^20) — the repo-wide embedding
    * quantization, exact in both engines.
    */
  private def qcol(d: Int) =
    floor(element_at(col("embedding"), d + 1).cast("double") * 1048576.0).cast("long")

  /** One-pass wide aggregate of exact co-moments over the first 8
    * dims: n, Σq_i, Σq_i·q_j for i ≤ j — 45 map-side-combinable longs
    * regardless of corpus size.
    */
  private def covAgg(spark: SparkSession, dir: String): DataFrame = {
    val aggs = Seq(count(lit(1)).as("n")) ++
      (0 until Dims).map(i => sum(qcol(i)).as(s"s_$i")) ++
      pairsUpper.map { case (i, j) => sum(qcol(i) * qcol(j)).as(s"p_${i}_$j") }
    Tables(spark, dir).embeddings.agg(aggs.head, aggs.tail: _*)
  }

  /** Exact covariance/correlation structure of the first 8 embedding
    * dims in long form: cov_q = n·Σq_iq_j − Σq_i·Σq_j is an EXACT
    * long in quantized units (no double reduction anywhere), and
    * corr divides it by the exact diagonal cross-moments as the
    * identical double expression in both engines. At 100 TB this is
    * one scan producing d(d+1)/2 + d + 1 longs — the sufficient-
    * statistics shape every downstream ML step (PCA, whitening,
    * Mahalanobis) reuses.
    */
  def embCovMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val withC = pairsUpper.foldLeft(covAgg(spark, dir)) { case (df, (i, j)) =>
      df.withColumn(s"c_${i}_$j", $"n" * col(s"p_${i}_$j") - col(s"s_$i") * col(s"s_$j"))
    }
    val stackArgs = pairsUpper
      .map { case (i, j) => s"${i}L, ${j}L, c_${i}_$j, c_${i}_$i, c_${j}_$j" }
      .mkString(", ")
    withC
      .selectExpr("n", s"stack(${pairsUpper.size}, $stackArgs) AS (i, j, cov_q, cii, cjj)")
      .select($"i", $"j", $"n".as("n_vecs"), $"cov_q",
        round($"cov_q".cast("double") / sqrt($"cii".cast("double") * $"cjj".cast("double")), 6)
          .as("corr"))
      .orderBy($"i", $"j")
  }

  private val embCovMatrixSql =
    """WITH x AS (
      |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
      |    y -> CAST(floor(y * 1048576.0) AS BIGINT)) AS q
      |  FROM embeddings),
      |d AS (SELECT i.range AS i, j.range AS j
      |  FROM range(0, 8) i, range(0, 8) j WHERE i <= j),
      |s AS (SELECT d.i, d.j, count(*) AS n,
      |    CAST(sum(x.q[d.i + 1]) AS BIGINT) AS si,
      |    CAST(sum(x.q[d.j + 1]) AS BIGINT) AS sj,
      |    CAST(sum(x.q[d.i + 1] * x.q[d.j + 1]) AS BIGINT) AS sij
      |  FROM x, d GROUP BY d.i, d.j),
      |c AS (SELECT i, j, n, n * sij - si * sj AS c FROM s)
      |SELECT c.i, c.j, c.n AS n_vecs, c.c AS cov_q,
      |  round(CAST(c.c AS DOUBLE) / sqrt(CAST(ci.c AS DOUBLE) * CAST(cj.c AS DOUBLE)), 6) AS corr
      |FROM c
      |JOIN c ci ON ci.i = c.i AND ci.j = c.i
      |JOIN c cj ON cj.i = c.j AND cj.j = c.j
      |ORDER BY c.i, c.j""".stripMargin

  // -------------------------------------------------------- emb_pca_power

  /** Round-half-away-from-zero — DuckDB's round() semantics, applied
    * on the driver so both engines quantize identically (Math.round
    * rounds −2.5 to −2, DuckDB to −3).
    */
  private def rnd(d: Double): Long =
    (if (d >= 0) Math.floor(d + 0.5) else Math.ceil(d - 0.5)).toLong

  /** Top principal component of the 8-dim correlation matrix by
    * power iteration — the PCA shape that actually scales: ONE
    * distributed pass reduces 100 TB to the d×d exact co-moment
    * table ([[covAgg]]), and the iteration runs on the driver over
    * d² = 64 longs (the bounded-driver-state contract of
    * [[graft.operators.Similarity.kmeansFit]]). Every iterate is
    * max-abs-normalized and quantized to 1e-6 (integers throughout:
    * r6·v6 sums stay < 2^53, so the oracle's double list arithmetic
    * is exact), and the Rayleigh quotient divides order-free integer
    * dot products. The oracle replays all 40 iterations in a
    * recursive CTE over the same quantized matrix.
    */
  def embPcaPower(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (v, lambda) = pcaLoadings(spark, dir)
    (0 until Dims).map(j => (j.toLong, v(j), lambda))
      .toDF("j", "loading6", "lambda")
  }

  /** Driver-side power iteration shared by [[embPcaPower]] and
    * [[embPcaProject]]: one distributed co-moment pass, then 40
    * quantized iterations over the 8×8 correlation matrix. Returns
    * (loading6 per dim, Rayleigh-quotient eigenvalue).
    */
  private def pcaLoadings(spark: SparkSession, dir: String): (Array[Long], Double) = {
    import spark.implicits._
    val row = pairsUpper.foldLeft(covAgg(spark, dir)) { case (df, (i, j)) =>
      df.withColumn(s"c_${i}_$j", $"n" * col(s"p_${i}_$j") - col(s"s_$i") * col(s"s_$j"))
    }.collect()(0)
    val c = Array.ofDim[Long](Dims, Dims)
    pairsUpper.foreach { case (i, j) =>
      val v = row.getAs[Long](s"c_${i}_$j"); c(i)(j) = v; c(j)(i) = v
    }
    val r6 = Array.tabulate(Dims, Dims) { (i, j) =>
      rnd(c(i)(j).toDouble / math.sqrt(c(i)(i).toDouble * c(j)(j).toDouble) * 1000000)
    }
    def mul(v: Array[Long]): Array[Long] =
      Array.tabulate(Dims)(j => (0 until Dims).map(k => r6(j)(k) * v(k)).sum)
    var v = Array.fill(Dims)(353553L) // round(1e6/√8): the deterministic start
    for (_ <- 0 until 40) {
      val u = mul(v)
      val mx = math.max(u.map(x => math.abs(x).toDouble).max, 1.0)
      v = u.map(x => rnd(x.toDouble * 1000000.0 / mx))
    }
    val u = mul(v)
    val w = v.map(Math.floorDiv(_, 1000L))
    val p = u.map(Math.floorDiv(_, 1000L))
    val num = (0 until Dims).map(j => w(j) * p(j)).sum.toDouble
    val den = w.map(x => x * x).sum.toDouble
    (v, rnd(num / (den * 1000000.0) * 1000000).toDouble / 1000000.0)
  }

  /** Shared oracle CTE chain: quantized embeddings → exact co-moments
    * → 1e-6-quantized correlation matrix → 40 power-iteration rounds;
    * `uf(u, v)` is the (unnormalized next iterate, final loading)
    * pair both PCA oracles consume.
    */
  private val pcaCtePrefix =
    """WITH RECURSIVE x AS (
      |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
      |    y -> CAST(floor(y * 1048576.0) AS BIGINT)) AS q
      |  FROM embeddings),
      |d AS (SELECT i.range AS i, j.range AS j FROM range(0, 8) i, range(0, 8) j),
      |s AS (SELECT d.i, d.j, count(*) AS n,
      |    CAST(sum(x.q[d.i + 1]) AS BIGINT) AS si,
      |    CAST(sum(x.q[d.j + 1]) AS BIGINT) AS sj,
      |    CAST(sum(x.q[d.i + 1] * x.q[d.j + 1]) AS BIGINT) AS sij
      |  FROM x, d GROUP BY d.i, d.j),
      |c AS (SELECT i, j, n * sij - si * sj AS c FROM s),
      |r AS (SELECT c.i, c.j,
      |    CAST(round(CAST(c.c AS DOUBLE) / sqrt(CAST(ci.c AS DOUBLE) * CAST(cj.c AS DOUBLE)) * 1000000) AS BIGINT) AS r6
      |  FROM c JOIN c ci ON ci.i = c.i AND ci.j = c.i
      |  JOIN c cj ON cj.i = c.j AND cj.j = c.j),
      |mat AS (SELECT list(rowv ORDER BY i) AS m FROM (
      |  SELECT i, list(CAST(r6 AS DOUBLE) ORDER BY j) AS rowv FROM r GROUP BY i)),
      |it(iter, v) AS (
      |  SELECT 0, CAST([353553, 353553, 353553, 353553, 353553, 353553, 353553, 353553] AS DOUBLE[])
      |  UNION ALL
      |  SELECT iter + 1,
      |    list_transform(
      |      list_transform(m, rw -> list_dot_product(rw, v)),
      |      u0 -> round(u0 * 1000000.0 / greatest(
      |        list_max(list_transform(list_transform(m, rw -> list_dot_product(rw, v)),
      |          z -> abs(z))), 1.0)))
      |  FROM it, mat WHERE iter < 40),
      |uf AS (SELECT list_transform(m, rw -> list_dot_product(rw, v)) AS u, v
      |  FROM it, mat WHERE iter = 40)""".stripMargin

  private val embPcaPowerSql = pcaCtePrefix +
    """,
      |lam AS (SELECT v,
      |    list_dot_product(list_transform(v, a -> CAST(floor(a / 1000.0) AS DOUBLE)),
      |      list_transform(u, b -> CAST(floor(b / 1000.0) AS DOUBLE))) AS num,
      |    list_dot_product(list_transform(v, a -> CAST(floor(a / 1000.0) AS DOUBLE)),
      |      list_transform(v, a -> CAST(floor(a / 1000.0) AS DOUBLE))) AS den
      |  FROM uf)
      |SELECT k.range AS j, CAST(v[k.range + 1] AS BIGINT) AS loading6,
      |  round(num / (den * 1000000.0), 6) AS lambda
      |FROM lam, range(0, 8) k ORDER BY j""".stripMargin

  // ------------------------------------------------------ emb_pca_project

  /** Corpus projected onto the top principal component, published as
    * a bounded histogram: per-vector score = Σ q_j·loading6_j is an
    * exact long (8 products ≤ 2^40), bucketed at 0.25 width. The
    * 100 TB shape: the d loadings come from the bounded driver
    * iteration ([[pcaLoadings]]) and fold into the scan as literals —
    * scoring is pure map-side codegen, the only shuffle is the ~30-row
    * bucket aggregate. Divisions by 2^20 are exact in IEEE double, so
    * floor() agrees bit-for-bit cross-engine.
    */
  def embPcaProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (l, _) = pcaLoadings(spark, dir)
    val score = (0 until Dims).map(i => qcol(i) * lit(l(i))).reduce(_ + _)
    Tables(spark, dir).embeddings
      .select(floor(score / 1048576.0).cast("long").as("score6"))
      .groupBy(floor($"score6" / 250000.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum($"score6") / (count(lit(1)) * 1e6), 6).as("mean_score"))
      .orderBy($"bucket")
  }

  private val embPcaProjectSql = pcaCtePrefix +
    """,
      |sc AS (SELECT CAST(floor(list_dot_product(
      |    list_transform(x.q[1:8], z -> CAST(z AS DOUBLE)), uf.v) / 1048576.0) AS BIGINT) AS score6
      |  FROM x, uf)
      |SELECT CAST(floor(score6 / 250000.0) AS BIGINT) AS bucket,
      |  count(*) AS n_vecs,
      |  round(CAST(sum(score6) AS BIGINT) / (count(*) * 1e6), 6) AS mean_score
      |FROM sc GROUP BY bucket ORDER BY bucket""".stripMargin

  // ------------------------------------------------------- emb_silhouette

  /** Centroid-based silhouette of the seed clustering (the
    * [[graft.operators.Similarity.kmeansStep]] assignment): per
    * vector a = quantized cosine distance to its own centroid, b =
    * distance to the best OTHER centroid (ranks 1 and 2 of the same
    * broadcast-centroid scoring every IVF/k-means gate uses), s =
    * (b−a)/max(a,b) in exact 1e-6 integer units. Publishes per-cluster
    * mean silhouette — the standard "are these clusters real" gauge.
    * At 100 TB: k centroids broadcast, one map-side pass, k-row
    * output; the cross-row mean sums exact longs.
    */
  def embSilhouette(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir).embeddings
    val v = e.select($"vec_id".as("id"), $"embedding".as("v"))
    val cents = e.orderBy($"vec_id").limit(10)
      .select($"vec_id".as("c_id"), $"embedding".as("c_v"))
    val ranked = TopK(
      v.crossJoin(broadcast(cents))
        .withColumn("c_cos", VecFns.cosine(col("v"), col("c_v"))),
      Seq(col("id")), Seq(col("c_cos").desc, col("c_id")), 2)
      .withColumn("d4", lit(10000L) - round($"c_cos" * 10000).cast("long"))
    ranked.groupBy($"id").agg(
        max(when($"rk" === 1, $"c_id")).as("cluster"),
        max(when($"rk" === 1, $"d4")).as("a4"),
        max(when($"rk" === 2, $"d4")).as("b4"))
      .select($"cluster",
        round(($"b4" - $"a4") * 1e6 / greatest(greatest($"a4", $"b4"), lit(1L)))
          .cast("long").as("s6"))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_members"),
        round(sum($"s6") / (count(lit(1)) * 1e6), 6).as("mean_sil"))
      .orderBy($"cluster")
  }

  private val embSilhouetteSql =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |cents AS (SELECT vec_id AS c_id, e AS ce FROM v ORDER BY vec_id LIMIT 10),
      |ac AS (
      |  SELECT vec_id, c_id,
      |    list_dot_product(e, ce) / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce))) AS cc,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY
      |      list_dot_product(e, ce) / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce))) DESC, c_id) AS rn
      |  FROM v, cents),
      |per AS (
      |  SELECT vec_id,
      |    max(CASE WHEN rn = 1 THEN c_id END) AS cluster,
      |    max(CASE WHEN rn = 1 THEN 10000 - CAST(round(cc * 10000) AS BIGINT) END) AS a4,
      |    max(CASE WHEN rn = 2 THEN 10000 - CAST(round(cc * 10000) AS BIGINT) END) AS b4
      |  FROM ac WHERE rn <= 2 GROUP BY vec_id),
      |s AS (SELECT cluster,
      |    CAST(round((b4 - a4) * 1e6 / greatest(greatest(a4, b4), 1)) AS BIGINT) AS s6
      |  FROM per)
      |SELECT cluster, count(*) AS n_members,
      |  round(CAST(sum(s6) AS BIGINT) / (count(*) * 1e6), 6) AS mean_sil
      |FROM s GROUP BY cluster ORDER BY cluster""".stripMargin

  // ---------------------------------------------------------- q_logreg_irls
  /** Logistic regression TRAINED in-plan — 3 unrolled IRLS (Newton)
    * iterations fitting P(converted) = σ(β₀ + β₁·clicks) over the
    * per-user table (conversion = the q_prop_ztest ≥14-purchases
    * label). Each iteration is ONE aggregate over users × the
    * broadcast 1-row previous-β state: per-row weights
    * w = p(1−p) and residuals quantize to e9 longs BEFORE the sums
    * (cross-row double sums are addition-order-dependent — the
    * repo-wide discipline), so the five sufficient statistics are
    * exact integers and the 2×2 Newton solve is one deterministic
    * double expression (products exceed long range, so the solve
    * casts the exact longs to double — identically in both engines).
    * σ's argument clamps to ±30 (exp parity has precedent: q_msprt,
    * text_quality_model). A final pass scores accuracy and the
    * e6-quantized log-likelihood at the trained β. 100 TB shape: 4
    * aggregates over a user-cardinality table, state = 2 doubles.
    * The oracle unrolls the identical 3 iterations from the same
    * sub-expression strings.
    */
  private object Irls {
    val z = "greatest(-30.0, least(30.0, a + b * x))"
    val p = s"(1.0 / (1.0 + exp(-($z))))"
    val w = s"($p * (1.0 - $p))"
    val t0 = s"CAST(round($w * 1e9) AS BIGINT)"
    val t1 = s"CAST(round($w * x * 1e9) AS BIGINT)"
    val t2 = s"CAST(round($w * x * x * 1e9) AS BIGINT)"
    val r0 = s"CAST(round((y - $p) * 1e9) AS BIGINT)"
    val r1 = s"CAST(round((y - $p) * x * 1e9) AS BIGINT)"
    val det = "(CAST(s0 AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
    val aNew = s"a + (CAST(g0 AS DOUBLE) * s2 - CAST(g1 AS DOUBLE) * s1) / $det"
    val bNew = s"b + (CAST(g1 AS DOUBLE) * s0 - CAST(g0 AS DOUBLE) * s1) / $det"
    val ll = s"CAST(round((y * ln($p) + (1.0 - y) * ln(1.0 - $p)) * 1e6) AS BIGINT)"
    val hit = s"CASE WHEN ($p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END"
  }

  def qLogregIrls(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val u = Tables(spark, dir).events
      .groupBy($"user_id")
      .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("x"),
        when(sum(when($"event_type" === "purchase", 1L).otherwise(0L)) >= 14, 1.0)
          .otherwise(0.0).as("y"))
    var beta = u.sparkSession.range(1)
      .select(lit(0.0).as("a"), lit(0.0).as("b"))
    for (_ <- 1 to 3) {
      beta = u.crossJoin(broadcast(beta))
        .agg(sum(expr(Irls.t0)).as("s0"), sum(expr(Irls.t1)).as("s1"),
          sum(expr(Irls.t2)).as("s2"), sum(expr(Irls.r0)).as("g0"),
          sum(expr(Irls.r1)).as("g1"), min($"a").as("a"), min($"b").as("b"))
        .select(expr(Irls.aNew).as("a"), expr(Irls.bNew).as("b"))
    }
    u.crossJoin(broadcast(beta))
      .agg(count(lit(1)).as("n_users"),
        min($"a").as("a"), min($"b").as("b"),
        sum(expr(Irls.ll)).as("ll_e6"),
        sum(expr(Irls.hit)).as("n_correct"))
      .select($"n_users",
        expr("round(a, 6)").as("beta0"),
        expr("round(b, 6)").as("beta1"),
        expr("round(ll_e6 / 1e6, 4)").as("log_likelihood"),
        $"n_correct",
        expr("round(CAST(n_correct AS DOUBLE) / n_users, 4)").as("accuracy"))
  }

  private val qLogregIrlsSql = {
    val step = (i: Int) =>
      s"""s$i AS (
         |  SELECT CAST(sum(${Irls.t0}) AS BIGINT) AS s0, CAST(sum(${Irls.t1}) AS BIGINT) AS s1,
         |    CAST(sum(${Irls.t2}) AS BIGINT) AS s2, CAST(sum(${Irls.r0}) AS BIGINT) AS g0,
         |    CAST(sum(${Irls.r1}) AS BIGINT) AS g1, min(a) AS a, min(b) AS b
         |  FROM u, it${i - 1}),
         |it$i AS (SELECT ${Irls.aNew} AS a, ${Irls.bNew} AS b FROM s$i)""".stripMargin
    s"""WITH u AS (
       |  SELECT user_id,
       |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
       |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
       |      THEN 1.0 ELSE 0.0 END AS y
       |  FROM events GROUP BY user_id),
       |it0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b),
       |${step(1)},
       |${step(2)},
       |${step(3)}
       |SELECT count(*) AS n_users,
       |  round(min(a), 6) AS beta0, round(min(b), 6) AS beta1,
       |  round(CAST(sum(${Irls.ll}) AS BIGINT) / 1e6, 4) AS log_likelihood,
       |  CAST(sum(${Irls.hit}) AS BIGINT) AS n_correct,
       |  round(CAST(sum(${Irls.hit}) AS DOUBLE) / count(*), 4) AS accuracy
       |FROM u, it3""".stripMargin
  }

  // -------------------------------------------------------- ts_poisson_trend
  /** Poisson trend GLM — log λ = β₀ + β₁·t fit to daily order counts
    * by 3 unrolled Newton iterations (completing the in-plan GLM trio:
    * linear `q_ols_multi`, logistic `q_logreg_irls`, Poisson here —
    * the right likelihood for COUNT series where OLS assumes Gaussian
    * noise). The day index rebases to the series start (the
    * q_forecast_linreg recipe), β₀ seeds at ln(mean count) so Newton
    * starts near the optimum; per-day μ = exp(clamp(β₀+β₁t)) terms
    * quantize to e4 longs before the sums, and the 2×2 solve is the
    * IRLS expression. Data = the day-cardinality aggregate (bounded
    * metadata), so each iteration is an aggregate over ~2.4k rows
    * however large the fact table. Oracle unrolls identical
    * iterations from the same sub-expression strings.
    */
  private object Pois {
    val mu = "exp(greatest(-30.0, least(30.0, a + b * t)))"
    val t0 = s"CAST(round($mu * 1e4) AS BIGINT)"
    val t1 = s"CAST(round($mu * t * 1e4) AS BIGINT)"
    val t2 = s"CAST(round($mu * t * t * 1e4) AS BIGINT)"
    val r0 = s"CAST(round((y - $mu) * 1e4) AS BIGINT)"
    val r1 = s"CAST(round((y - $mu) * t * 1e4) AS BIGINT)"
    val det = "(CAST(s0 AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
    val aNew = s"a + (CAST(g0 AS DOUBLE) * s2 - CAST(g1 AS DOUBLE) * s1) / $det"
    val bNew = s"b + (CAST(g1 AS DOUBLE) * s0 - CAST(g0 AS DOUBLE) * s1) / $det"
  }

  def tsPoissonTrend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raw = Tables(spark, dir).orders
      .groupBy(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val base = raw.agg(min($"day").as("d0"), sum($"y").as("sy"), count(lit(1)).as("n"))
    val d = raw.crossJoin(broadcast(base))
      .select(($"day" - $"d0").cast("double").as("t"), $"y".cast("double").as("y"))
    var beta = base
      .select(expr("ln(CAST(sy AS DOUBLE) / n)").as("a"), lit(0.0).as("b"))
    for (_ <- 1 to 3) {
      beta = d.crossJoin(broadcast(beta))
        .agg(sum(expr(Pois.t0)).as("s0"), sum(expr(Pois.t1)).as("s1"),
          sum(expr(Pois.t2)).as("s2"), sum(expr(Pois.r0)).as("g0"),
          sum(expr(Pois.r1)).as("g1"), min($"a").as("a"), min($"b").as("b"))
        .select(expr(Pois.aNew).as("a"), expr(Pois.bNew).as("b"))
    }
    d.crossJoin(broadcast(beta))
      .agg(count(lit(1)).as("n_days"), max($"t").as("t_max"),
        min($"a").as("a"), min($"b").as("b"))
      .select($"n_days",
        expr("round(a, 6)").as("beta0"),
        expr("round(b, 8)").as("beta1_daily"),
        expr("round(exp(a), 4)").as("rate_at_start"),
        expr("round(exp(a + b * t_max), 4)").as("rate_at_end"))
  }

  private val tsPoissonTrendSql = {
    val step = (i: Int) =>
      s"""ps$i AS (
         |  SELECT CAST(sum(${Pois.t0}) AS BIGINT) AS s0, CAST(sum(${Pois.t1}) AS BIGINT) AS s1,
         |    CAST(sum(${Pois.t2}) AS BIGINT) AS s2, CAST(sum(${Pois.r0}) AS BIGINT) AS g0,
         |    CAST(sum(${Pois.r1}) AS BIGINT) AS g1, min(a) AS a, min(b) AS b
         |  FROM d, pit${i - 1}),
         |pit$i AS (SELECT ${Pois.aNew} AS a, ${Pois.bNew} AS b FROM ps$i)""".stripMargin
    s"""WITH raw AS (
       |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS day,
       |    count(*) AS y
       |  FROM orders GROUP BY 1),
       |base AS (SELECT min(day) AS d0, CAST(sum(y) AS BIGINT) AS sy, count(*) AS n FROM raw),
       |d AS (SELECT CAST(day - d0 AS DOUBLE) AS t, CAST(y AS DOUBLE) AS y FROM raw, base),
       |pit0 AS (SELECT ln(CAST(sy AS DOUBLE) / n) AS a, CAST(0.0 AS DOUBLE) AS b FROM base),
       |${step(1)},
       |${step(2)},
       |${step(3)}
       |SELECT count(*) AS n_days,
       |  round(min(a), 6) AS beta0, round(min(b), 8) AS beta1_daily,
       |  round(exp(min(a)), 4) AS rate_at_start,
       |  round(exp(min(a) + min(b) * max(t)), 4) AS rate_at_end
       |FROM d, pit3""".stripMargin
  }

  // --------------------------------------------------------------- q_gmm_em
  /** Two-component 1-D Gaussian mixture fit by 3 unrolled EM
    * iterations over order values (thousands of dollars) — the
    * soft-clustering member of the in-plan training family (IRLS/
    * Newton above are second-order; EM is the latent-variable
    * workhorse). Deterministic seeding from exact percentiles
    * (μ = p25/p75, shared σ² from the overall moments, π = ½); each
    * E+M step is ONE aggregate over values × the broadcast 1-row
    * parameter state: per-row responsibilities
    * r = π₁N₁/(π₁N₁+π₂N₂) and their x/x² products quantize to e6
    * longs BEFORE the sums (the IRLS discipline), so the M-step runs
    * on exact integers; variances floor at 1e-4 so a collapsing
    * component cannot NaN the chain. 100 TB: 4 aggregates, state =
    * five doubles. Oracle unrolls identical iterations from the same
    * sub-expression strings.
    */
  private object Gmm {
    private def dens(m: String, v: String) =
      s"(exp(greatest(-60.0, -((x - $m) * (x - $m)) / (2.0 * $v))) / sqrt($v))"
    val n1 = dens("m1", "v1")
    val n2 = dens("m2", "v2")
    val r1 = s"(w1 * $n1 / (w1 * $n1 + (1.0 - w1) * $n2 + 1e-300))"
    val q1 = s"CAST(round($r1 * 1e6) AS BIGINT)"
    val qx1 = s"CAST(round($r1 * x * 1e6) AS BIGINT)"
    val qxx1 = s"CAST(round($r1 * x * x * 1e6) AS BIGINT)"
    val qx2 = s"CAST(round((1.0 - $r1) * x * 1e6) AS BIGINT)"
    val qxx2 = s"CAST(round((1.0 - $r1) * x * x * 1e6) AS BIGINT)"
    // M step from the exact sums (n = total rows, s1 = Σr1 in e6)
    val m1New = "CAST(sx1 AS DOUBLE) / s1"
    val m2New = "CAST(sx2 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6 - s1)"
    val v1New = s"greatest(1e-4, CAST(sxx1 AS DOUBLE) / s1 - ($m1New) * ($m1New))"
    val v2New = s"greatest(1e-4, CAST(sxx2 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6 - s1) - ($m2New) * ($m2New))"
    val w1New = "CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)"
  }

  def qGmmEm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // spread + cache the E-step operand (r17, §2.6/§5): orders scans as
    // ONE partition at gate scale, so the exp()-dense responsibility
    // expressions ran serially, three times (once per EM round). The
    // rounds consume quantized-long sums, so partitioning cannot change
    // any value; the cache is released by the runner's clearCache.
    val d = graft.operators.CacheLedger.persist(
      graft.operators.ScanSpread.byKey(
        Tables(spark, dir).orders.select($"o_totalprice"), $"o_totalprice")
        .select((expr("CAST(round(o_totalprice * 100) AS BIGINT)") / 100000.0).as("x")))
    // seed variance from EXACT integer cents moments (a cross-row
    // double sum would be addition-order-dependent); percentiles are
    // sort-based and order-free
    val seed = Tables(spark, dir).orders
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .agg(expr("percentile(c / 100000.0, 0.25)").as("m1"),
        expr("percentile(c / 100000.0, 0.75)").as("m2"),
        count(lit(1)).as("n"), sum($"c").as("s"),
        sum($"c".cast(org.apache.spark.sql.types.DecimalType(38, 0)) * $"c").as("ss"))
      .select($"m1", $"m2",
        expr("""round((CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) / 1e10, 6)""")
          .as("v1"),
        expr("""round((CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) / 1e10, 6)""")
          .as("v2"),
        lit(0.5).as("w1"))
    var p = seed
    for (_ <- 1 to 3) {
      p = d.crossJoin(broadcast(p))
        .agg(count(lit(1)).as("n"),
          sum(expr(Gmm.q1)).as("s1"),
          sum(expr(Gmm.qx1)).as("sx1"), sum(expr(Gmm.qxx1)).as("sxx1"),
          sum(expr(Gmm.qx2)).as("sx2"), sum(expr(Gmm.qxx2)).as("sxx2"))
        .select(expr(Gmm.m1New).as("m1"), expr(Gmm.m2New).as("m2"),
          expr(Gmm.v1New).as("v1"), expr(Gmm.v2New).as("v2"),
          expr(Gmm.w1New).as("w1"))
    }
    p.select(
      expr("round(m1, 4)").as("mu1_kd"), expr("round(m2, 4)").as("mu2_kd"),
      expr("round(sqrt(v1), 4)").as("sd1_kd"), expr("round(sqrt(v2), 4)").as("sd2_kd"),
      expr("round(w1, 4)").as("weight1"))
  }

  private val qGmmEmSql = {
    val step = (i: Int) =>
      s"""gs$i AS (
         |  SELECT count(*) AS n, CAST(sum(${Gmm.q1}) AS BIGINT) AS s1,
         |    CAST(sum(${Gmm.qx1}) AS BIGINT) AS sx1, CAST(sum(${Gmm.qxx1}) AS BIGINT) AS sxx1,
         |    CAST(sum(${Gmm.qx2}) AS BIGINT) AS sx2, CAST(sum(${Gmm.qxx2}) AS BIGINT) AS sxx2
         |  FROM d, git${i - 1}),
         |git$i AS (SELECT ${Gmm.m1New} AS m1, ${Gmm.m2New} AS m2,
         |  ${Gmm.v1New} AS v1, ${Gmm.v2New} AS v2, ${Gmm.w1New} AS w1 FROM gs$i)""".stripMargin
    s"""WITH d AS (
       |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) / 100000.0 AS x FROM orders),
       |c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
       |git0 AS (
       |  SELECT quantile_cont(c / 100000.0, 0.25) AS m1,
       |    quantile_cont(c / 100000.0, 0.75) AS m2,
       |    round((CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) / count(*) -
       |      (CAST(sum(c) AS DOUBLE) / count(*)) * (CAST(sum(c) AS DOUBLE) / count(*))) / 1e10, 6) AS v1,
       |    round((CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) / count(*) -
       |      (CAST(sum(c) AS DOUBLE) / count(*)) * (CAST(sum(c) AS DOUBLE) / count(*))) / 1e10, 6) AS v2,
       |    CAST(0.5 AS DOUBLE) AS w1
       |  FROM c),
       |${step(1)},
       |${step(2)},
       |${step(3)}
       |SELECT round(m1, 4) AS mu1_kd, round(m2, 4) AS mu2_kd,
       |  round(sqrt(v1), 4) AS sd1_kd, round(sqrt(v2), 4) AS sd2_kd,
       |  round(w1, 4) AS weight1
       |FROM git3""".stripMargin
  }

  // --------------------------------------------------------- q_huber_irls
  /** Huber robust regression of daily order counts on the day index —
    * the M-estimation member of the in-plan training family (OLS
    * assumes Gaussian noise everywhere; one bursty day drags its fit,
    * while the Huber ψ caps any day's influence at c). One OLS seed +
    * 2 IRLS reweights, unrolled: per-day weights
    * w = min(1, c/|r|) (c = 10 orders, the declared robustness
    * threshold) and their x/y products quantize to e6 longs BEFORE
    * the sums, so each iteration's five sufficient statistics are
    * exact integers and the 2×2 weighted-least-squares solve is one
    * deterministic double expression. Output adds the final
    * downweighted-day count and the e4-quantized Huber loss. 100 TB
    * shape: 3 aggregates over the day-cardinality table (bounded
    * metadata), state = 2 doubles. Oracle unrolls the identical
    * iterations from the same sub-expression strings.
    */
  private object Huber {
    val c = "10.0"
    val absr = "abs(y - a - b * t)"
    val wH = s"(CASE WHEN $absr <= $c THEN 1.0 ELSE $c / $absr END)"
    def t0(w: String) = s"CAST(round($w * 1e6) AS BIGINT)"
    def t1(w: String) = s"CAST(round($w * t * 1e6) AS BIGINT)"
    def t2(w: String) = s"CAST(round($w * t * t * 1e6) AS BIGINT)"
    def z0(w: String) = s"CAST(round($w * y * 1e6) AS BIGINT)"
    def z1(w: String) = s"CAST(round($w * y * t * 1e6) AS BIGINT)"
    val det = "(CAST(s0 AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
    val aNew = s"(CAST(z0 AS DOUBLE) * s2 - CAST(z1 AS DOUBLE) * s1) / $det"
    val bNew = s"(CAST(z1 AS DOUBLE) * s0 - CAST(z0 AS DOUBLE) * s1) / $det"
    val loss = s"CAST(round((CASE WHEN $absr <= $c THEN 0.5 * (y - a - b * t) * (y - a - b * t) " +
      s"ELSE $c * ($absr - $c / 2.0) END) * 1e4) AS BIGINT)"
    val out = s"CASE WHEN $absr > $c THEN 1 ELSE 0 END"
  }

  def qHuberIrls(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raw = Tables(spark, dir).orders
      .groupBy(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val base = raw.agg(min($"day").as("d0"))
    val d = raw.crossJoin(broadcast(base))
      .select(($"day" - $"d0").cast("double").as("t"), $"y".cast("double").as("y"))
    var beta = d.sparkSession.range(1)
      .select(lit(0.0).as("a"), lit(0.0).as("b"))
    for (i <- 1 to 3) {
      val w = if (i == 1) "1.0" else Huber.wH
      beta = d.crossJoin(broadcast(beta))
        .agg(sum(expr(Huber.t0(w))).as("s0"), sum(expr(Huber.t1(w))).as("s1"),
          sum(expr(Huber.t2(w))).as("s2"), sum(expr(Huber.z0(w))).as("z0"),
          sum(expr(Huber.z1(w))).as("z1"))
        .select(expr(Huber.aNew).as("a"), expr(Huber.bNew).as("b"))
    }
    d.crossJoin(broadcast(beta))
      .agg(count(lit(1)).as("n_days"),
        min($"a").as("a"), min($"b").as("b"),
        sum(expr(Huber.out)).as("n_downweighted"),
        sum(expr(Huber.loss)).as("loss_e4"))
      .select($"n_days",
        expr("round(a, 6)").as("beta0"),
        expr("round(b, 8)").as("beta1_daily"),
        $"n_downweighted",
        expr("round(loss_e4 / 1e4, 4)").as("huber_loss"))
  }

  private val qHuberIrlsSql = {
    val step = (i: Int) => {
      val w = if (i == 1) "1.0" else Huber.wH
      s"""hs$i AS (
         |  SELECT CAST(sum(${Huber.t0(w)}) AS BIGINT) AS s0,
         |    CAST(sum(${Huber.t1(w)}) AS BIGINT) AS s1,
         |    CAST(sum(${Huber.t2(w)}) AS BIGINT) AS s2,
         |    CAST(sum(${Huber.z0(w)}) AS BIGINT) AS z0,
         |    CAST(sum(${Huber.z1(w)}) AS BIGINT) AS z1
         |  FROM d, hit${i - 1}),
         |hit$i AS (SELECT ${Huber.aNew} AS a, ${Huber.bNew} AS b FROM hs$i)""".stripMargin
    }
    s"""WITH raw AS (
       |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS day,
       |    count(*) AS y
       |  FROM orders GROUP BY 1),
       |base AS (SELECT min(day) AS d0 FROM raw),
       |d AS (SELECT CAST(day - d0 AS DOUBLE) AS t, CAST(y AS DOUBLE) AS y FROM raw, base),
       |hit0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b),
       |${step(1)},
       |${step(2)},
       |${step(3)}
       |SELECT count(*) AS n_days,
       |  round(min(a), 6) AS beta0, round(min(b), 8) AS beta1_daily,
       |  CAST(sum(${Huber.out}) AS BIGINT) AS n_downweighted,
       |  round(CAST(sum(${Huber.loss}) AS BIGINT) / 1e4, 4) AS huber_loss
       |FROM d, hit3""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("q_gmm_em", qGmmEm _, qGmmEmSql),
    QueryDef.sql("q_huber_irls", qHuberIrls _, qHuberIrlsSql),
    QueryDef.sql("ts_poisson_trend", tsPoissonTrend _, tsPoissonTrendSql),
    QueryDef.sql("q_logreg_irls", qLogregIrls _, qLogregIrlsSql),
    QueryDef.sql("emb_dbscan", embDbscan _, embDbscanSql),
    QueryDef.sql("emb_cov_matrix", embCovMatrix _, embCovMatrixSql),
    QueryDef.sql("emb_pca_power", embPcaPower _, embPcaPowerSql),
    QueryDef.sql("emb_pca_project", embPcaProject _, embPcaProjectSql),
    QueryDef.sql("emb_silhouette", embSilhouette _, embSilhouetteSql))
}
