package graft.queries

import graft.Tables
import graft.operators.AnnSpec
import graft.operators.AnnSpec.{Exact, Flat}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 supervised-learning-primitives wave: an exact decision-tree
  * stump (integer Gini over value-grouped counts), the Welch unequal-
  * variance t-test (sufficient statistics), a deterministic label-
  * permutation test (md5-replayed pseudo-labels), and a Johnson-
  * Lindenstrauss ±1 random projection over the quantized embeddings.
  *
  * Determinism discipline as everywhere in the repo: every cross-row
  * reduction happens on exact longs (counts, 1e-4-unit moments,
  * quantized embedding cells); doubles appear only as the final-mile
  * IDENTICAL expression in both engines; all randomness derives from
  * md5 so the oracle replays it bit-for-bit.
  */
object LearnQ {

  // ------------------------------------------------------------ q_tree_stump

  /** Best decision-stump split of `l_returnflag = 'R'` on
    * `l_quantity`: the CART building block. Per-quantity (n, pos)
    * counts reduce map-side (the fact table folds to ≤50 rows however
    * large); cumulative counts over that value table give every
    * candidate split's confusion quadrant; the weighted-Gini score
    * `(pos²+neg²)/n` per side is maximized — all from exact longs,
    * the score itself the one double expression. At 100 TB this is
    * one scan + a 50-row window: the shape a distributed tree
    * trainer (one level, one feature) reduces to.
    */
  def qTreeStump(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wAll = Window.partitionBy()
    val per = Tables(spark, dir).lineitem
      .select($"l_quantity".cast("long").as("v"),
        when($"l_returnflag" === "R", 1L).otherwise(0L).as("pos"))
      .groupBy($"v")
      .agg(count(lit(1)).as("n"), sum($"pos").as("p"))
    val cum = per
      .withColumn("cn", sum($"n").over(Window.orderBy($"v")))
      .withColumn("cp", sum($"p").over(Window.orderBy($"v")))
      .withColumn("nt", sum($"n").over(wAll))
      .withColumn("pt", sum($"p").over(wAll))
      .filter($"cn" < $"nt") // the max value has an empty right child
      .select($"v".as("threshold"),
        $"cn".as("n_left"), $"cp".as("pos_left"),
        ($"nt" - $"cn").as("n_right"), ($"pt" - $"cp").as("pos_right"),
        $"nt", $"pt")
    val scored = cum
      .withColumn("child_score",
        ($"pos_left" * $"pos_left" + ($"n_left" - $"pos_left") * ($"n_left" - $"pos_left"))
          .cast("double") / $"n_left" +
          ($"pos_right" * $"pos_right" + ($"n_right" - $"pos_right") * ($"n_right" - $"pos_right"))
            .cast("double") / $"n_right")
      .withColumn("parent_score",
        ($"pt" * $"pt" + ($"nt" - $"pt") * ($"nt" - $"pt")).cast("double") / $"nt")
      .withColumn("rk",
        row_number().over(Window.orderBy($"child_score".desc, $"threshold")))
    scored.filter($"rk" === 1)
      .select($"threshold", $"n_left", $"pos_left", $"n_right", $"pos_right",
        round(($"child_score" - $"parent_score") / $"nt", 6).as("gini_gain"))
  }

  private val qTreeStumpSql =
    """WITH per AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS v, count(*) AS n,
      |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS p
      |  FROM lineitem GROUP BY 1),
      |cum AS (
      |  SELECT v, CAST(sum(n) OVER (ORDER BY v) AS BIGINT) AS cn,
      |    CAST(sum(p) OVER (ORDER BY v) AS BIGINT) AS cp,
      |    CAST(sum(n) OVER () AS BIGINT) AS nt,
      |    CAST(sum(p) OVER () AS BIGINT) AS pt
      |  FROM per),
      |cand AS (
      |  SELECT v AS threshold, cn AS n_left, cp AS pos_left,
      |    nt - cn AS n_right, pt - cp AS pos_right, nt, pt
      |  FROM cum WHERE cn < nt),
      |scored AS (
      |  SELECT *,
      |    CAST(pos_left*pos_left + (n_left-pos_left)*(n_left-pos_left) AS DOUBLE) / n_left
      |      + CAST(pos_right*pos_right + (n_right-pos_right)*(n_right-pos_right) AS DOUBLE) / n_right
      |      AS child_score,
      |    CAST(pt*pt + (nt-pt)*(nt-pt) AS DOUBLE) / nt AS parent_score,
      |    row_number() OVER (ORDER BY
      |      CAST(pos_left*pos_left + (n_left-pos_left)*(n_left-pos_left) AS DOUBLE) / n_left
      |      + CAST(pos_right*pos_right + (n_right-pos_right)*(n_right-pos_right) AS DOUBLE) / n_right
      |      DESC, threshold) AS rk
      |  FROM cand)
      |SELECT threshold, n_left, pos_left, n_right, pos_right,
      |  round((child_score - parent_score) / nt, 6) AS gini_gain
      |FROM scored WHERE rk = 1""".stripMargin

  // ---------------------------------------------------------- q_welch_ttest

  /** Welch unequal-variance t-test of mean order value, urgent vs low
    * priority — the robust two-sample comparison `q_ab_test`'s pooled
    * t is not. Per-group moments pre-round to 1e-4 units (the
    * q_anova_f recipe) so both engines start from identical longs;
    * t and the Welch–Satterthwaite df are the final double
    * expressions. One map-side-combinable aggregate at any scale.
    */
  def qWelchTtest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = Tables(spark, dir).orders
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .groupBy(($"o_orderpriority" === "1-URGENT").as("a"))
      .agg(count(lit(1)).as("n"),
        round(avg($"o_totalprice"), 4).as("mean4"),
        round(var_samp($"o_totalprice"), 4).as("var4"))
      .select($"a", $"n",
        round($"mean4" * 1e4).cast("long").as("m4"),
        round($"var4" * 1e4).cast("long").as("v4"))
    val s = g.agg(
      max(when($"a", $"n")).as("n_a"), max(when(!$"a", $"n")).as("n_b"),
      max(when($"a", $"m4")).as("m4_a"), max(when(!$"a", $"m4")).as("m4_b"),
      max(when($"a", $"v4")).as("v4_a"), max(when(!$"a", $"v4")).as("v4_b"))
    s.withColumn("se2",
        $"v4_a".cast("double") / 1e4 / $"n_a" + $"v4_b".cast("double") / 1e4 / $"n_b")
      .select($"n_a", $"n_b", $"m4_a", $"m4_b", $"v4_a", $"v4_b",
        round((($"m4_a" - $"m4_b").cast("double") / 1e4) / sqrt($"se2"), 4).as("t_stat"),
        round($"se2" * $"se2" /
          (($"v4_a".cast("double") / 1e4 / $"n_a") * ($"v4_a".cast("double") / 1e4 / $"n_a") / ($"n_a" - 1) +
            ($"v4_b".cast("double") / 1e4 / $"n_b") * ($"v4_b".cast("double") / 1e4 / $"n_b") / ($"n_b" - 1)), 2)
          .as("df_welch"))
  }

  private val qWelchTtestSql =
    """WITH g AS (
      |  SELECT o_orderpriority = '1-URGENT' AS a, count(*) AS n,
      |    CAST(round(round(avg(o_totalprice), 4) * 1e4) AS BIGINT) AS m4,
      |    CAST(round(round(var_samp(o_totalprice), 4) * 1e4) AS BIGINT) AS v4
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW') GROUP BY 1),
      |s AS (
      |  SELECT max(CASE WHEN a THEN n END) AS n_a, max(CASE WHEN NOT a THEN n END) AS n_b,
      |    max(CASE WHEN a THEN m4 END) AS m4_a, max(CASE WHEN NOT a THEN m4 END) AS m4_b,
      |    max(CASE WHEN a THEN v4 END) AS v4_a, max(CASE WHEN NOT a THEN v4 END) AS v4_b
      |  FROM g),
      |e AS (
      |  SELECT *, CAST(v4_a AS DOUBLE) / 1e4 / n_a + CAST(v4_b AS DOUBLE) / 1e4 / n_b AS se2
      |  FROM s)
      |SELECT n_a, n_b, m4_a, m4_b, v4_a, v4_b,
      |  round((CAST(m4_a - m4_b AS DOUBLE) / 1e4) / sqrt(se2), 4) AS t_stat,
      |  round(se2 * se2 /
      |    ((CAST(v4_a AS DOUBLE) / 1e4 / n_a) * (CAST(v4_a AS DOUBLE) / 1e4 / n_a) / (n_a - 1) +
      |     (CAST(v4_b AS DOUBLE) / 1e4 / n_b) * (CAST(v4_b AS DOUBLE) / 1e4 / n_b) / (n_b - 1)), 2)
      |    AS df_welch
      |FROM e""".stripMargin

  // ------------------------------------------------------ q_permutation_test

  /** Permutation test of the even-vs-odd-user mean purchase gap: the
    * distribution-free significance check that needs no normality
    * assumption (unlike `q_prop_ztest`/`q_ab_test`). Permutation 0 is
    * the OBSERVED split; permutations 1..100 pseudo-label each event
    * by md5(p, event_id) parity — deterministic, partition-blind, and
    * replayed verbatim by the oracle. Each permutation folds to four
    * longs map-side (the scan does 101× work, the shuffle moves 202
    * rows); the p-value counts permuted |gaps| ≥ the observed one.
    */
  def qPermutationTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables(spark, dir).events
      .filter($"event_type" === "purchase")
      .select($"event_id", round($"value" * 100).cast("long").as("c"),
        ($"user_id" % 2 === 0).as("real_a"),
        explode(sequence(lit(0), lit(100))).as("p"))
      .withColumn("grp",
        when($"p" === 0, $"real_a")
          .otherwise(conv(substring(md5(concat($"p".cast("string"), lit(":"),
            $"event_id".cast("string"))), 1, 4), 16, 10).cast("long") % 2 === 0))
      .groupBy($"p")
      .agg(sum(when($"grp", $"c")).as("s_a"), sum(when($"grp", 1L).otherwise(0L)).as("n_a"),
        sum(when(!$"grp", $"c")).as("s_b"), sum(when(!$"grp", 1L).otherwise(0L)).as("n_b"))
      .withColumn("d",
        $"s_a".cast("double") / $"n_a" - $"s_b".cast("double") / $"n_b")
    val obs = per.filter($"p" === 0).select($"d".as("d_obs"))
    per.filter($"p" > 0).crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_perms"),
        round(max($"d_obs"), 4).as("obs_gap_cents"),
        sum(when(abs($"d") >= abs($"d_obs"), 1L).otherwise(0L)).as("n_ge"))
      .withColumn("p_value",
        round(($"n_ge" + 1).cast("double") / ($"n_perms" + 1), 4))
  }

  private val qPermutationTestSql =
    """WITH base AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS c,
      |    user_id % 2 = 0 AS real_a, unnest(range(0, 101)) AS p
      |  FROM events WHERE event_type = 'purchase'),
      |lab AS (
      |  SELECT p, c,
      |    CASE WHEN p = 0 THEN real_a
      |      ELSE CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)), 1, 4))
      |        AS BIGINT) % 2 = 0 END AS grp
      |  FROM base),
      |per AS (
      |  SELECT p,
      |    CAST(sum(CASE WHEN grp THEN c END) AS BIGINT) AS s_a,
      |    CAST(sum(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN NOT grp THEN c END) AS BIGINT) AS s_b,
      |    CAST(sum(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM lab GROUP BY p),
      |d AS (
      |  SELECT p, CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b AS d
      |  FROM per),
      |obs AS (SELECT d AS d_obs FROM d WHERE p = 0)
      |SELECT count(*) AS n_perms, round(max(d_obs), 4) AS obs_gap_cents,
      |  CAST(sum(CASE WHEN abs(d) >= abs(d_obs) THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
      |  round(CAST(sum(CASE WHEN abs(d) >= abs(d_obs) THEN 1 ELSE 0 END) + 1 AS DOUBLE)
      |    / (count(*) + 1), 4) AS p_value
      |FROM d CROSS JOIN obs WHERE p > 0""".stripMargin

  // ------------------------------------------------------------ emb_rand_proj

  /** Johnson-Lindenstrauss ±1 random projection of the 64-dim
    * embeddings to 8 dims: out_j = Σ_i sign(i,j)·q_i over the
    * repo-wide floor(x·2^20) quantization — EXACT longs end to end,
    * signs derived from md5 so the oracle replays the matrix. The
    * sign table is 64×8 metadata broadcast to every executor; the
    * projection is one narrow map-side aggregate per vector (no
    * shuffle wider than vec_id). The scale story: downstream ANN /
    * clustering passes run 8× cheaper on the sketch, with distances
    * preserved to the JL bound.
    */
  def embRandProj(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val signs = spark.range(64).select($"id".as("i"))
      .crossJoin(spark.range(8).select($"id".as("j")))
      .select($"i", $"j",
        when(conv(substring(md5(concat(lit("rp:"), $"i", lit(":"), $"j")), 1, 4), 16, 10)
          .cast("long") % 2 === 0, 1L).otherwise(-1L).as("s"))
    val cells = Tables(spark, dir).embeddings
      .select($"vec_id", posexplode($"embedding"))
      .select($"vec_id", $"pos".cast("long").as("i"),
        floor($"col".cast("double") * 1048576.0).cast("long").as("q"))
    cells.join(broadcast(signs), "i")
      .groupBy($"vec_id", $"j")
      .agg(sum($"s" * $"q").as("y"))
      .orderBy($"vec_id", $"j")
  }

  private val embRandProjSql =
    """WITH signs AS (
      |  SELECT i, j,
      |    CASE WHEN CAST(('0x' || substr(md5('rp:' || CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 4))
      |      AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS s
      |  FROM range(0, 64) a(i), range(0, 8) b(j)),
      |cells AS (
      |  SELECT vec_id, i, CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1048576.0) AS BIGINT) AS q
      |  FROM embeddings, range(0, 64) t(i))
      |SELECT vec_id, j, CAST(sum(s * q) AS BIGINT) AS y
      |FROM cells JOIN signs USING (i)
      |GROUP BY vec_id, j ORDER BY vec_id, j""".stripMargin

  // ---------------------------------------------------------- emb_proj_recall

  /** Recall@10 of the JL sketch: top-10 neighbors in the PROJECTED
    * 8-dim space (exact integer dots over `emb_rand_proj`'s cells,
    * cosine as the one double expression) scored against the
    * full-space brute-force truth — the eval that licenses running
    * ANN/clustering on the 8× cheaper sketch (the `ann_recall_eval`
    * pattern, applied to dimensionality reduction instead of an
    * index). Everything deterministic: md5 signs, exact long dots,
    * identical-expression cosines, id tie-breaks.
    */
  def embProjRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir).embeddings
    val truth = graft.operators.Similarity.annTopK(e, e.filter($"vec_id" < 10),
        "vec_id", "embedding", 10, AnnSpec(Flat, Exact, 0))
      .select($"q_id", $"neighbor_id")
    val proj = embRandProj(spark, dir)
      .groupBy($"vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(j, y))), x -> x.y)").as("py"))
      .withColumn("nn", expr("aggregate(zip_with(py, py, (p, q) -> p * q), 0L, (s, x) -> s + x)"))
    val q = proj.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"py".as("qy"), $"nn".as("qnn"))
    val scored = proj.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("dotp",
        expr("aggregate(zip_with(py, qy, (p, q) -> p * q), 0L, (s, x) -> s + x)"))
      .withColumn("cos",
        $"dotp".cast("double") / (sqrt($"nn".cast("double")) * sqrt($"qnn".cast("double"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")))
      .filter($"rk" <= 10)
      .select($"q_id", $"vec_id".as("neighbor_id"))
    truth.join(scored, Seq("q_id", "neighbor_id"), "left_semi")
      .groupBy($"q_id").agg(count(lit(1)).as("n_overlap"))
      .select($"q_id", $"n_overlap",
        round($"n_overlap".cast("double") / 10, 4).as("recall_at_10"))
      .orderBy($"q_id")
  }

  private val embProjRecallSql =
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |truth AS (
      |  SELECT q_id, neighbor_id FROM (
      |    SELECT q.vec_id AS q_id, b.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_dot_product(b.e, q.e) /
      |          (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(q.e, q.e))) DESC,
      |        b.vec_id) AS rk
      |    FROM v q JOIN v b ON b.vec_id <> q.vec_id
      |    WHERE q.vec_id < 10)
      |  WHERE rk <= 10),
      |signs AS (
      |  SELECT i, j,
      |    CASE WHEN CAST(('0x' || substr(md5('rp:' || CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 4))
      |      AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS s
      |  FROM range(0, 64) a(i), range(0, 8) b(j)),
      |cells AS (
      |  SELECT vec_id, i, CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1048576.0) AS BIGINT) AS q
      |  FROM embeddings, range(0, 64) t(i)),
      |proj AS (
      |  SELECT vec_id, list(y ORDER BY j) AS py FROM (
      |    SELECT vec_id, j, CAST(sum(s * q) AS BIGINT) AS y
      |    FROM cells JOIN signs USING (i) GROUP BY vec_id, j)
      |  GROUP BY vec_id),
      |pn AS (
      |  SELECT vec_id, py,
      |    CAST(list_reduce([py[k] * py[k] for k in range(1, 9)], (x, y) -> x + y) AS BIGINT) AS nn
      |  FROM proj),
      |ps AS (
      |  SELECT q.vec_id AS q_id, b.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      CAST(list_reduce([b.py[k] * q.py[k] for k in range(1, 9)], (x, y) -> x + y) AS DOUBLE)
      |        / (sqrt(CAST(b.nn AS DOUBLE)) * sqrt(CAST(q.nn AS DOUBLE))) DESC,
      |      b.vec_id) AS rk
      |  FROM pn q JOIN pn b ON b.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10),
      |hits AS (
      |  SELECT t.q_id, count(*) AS n_overlap
      |  FROM truth t JOIN ps ON ps.q_id = t.q_id AND ps.neighbor_id = t.neighbor_id
      |    AND ps.rk <= 10
      |  GROUP BY t.q_id)
      |SELECT q_id, n_overlap, round(CAST(n_overlap AS DOUBLE) / 10, 4) AS recall_at_10
      |FROM hits ORDER BY q_id""".stripMargin

  // ---------------------------------------------------------------- q_gbdt_stumps

  /** Gain / leaf-value / rmse expressions over the exact cumulative
    * sums (`cn`/`crs` cumulative count & residual-sum by month,
    * `nt`/`rst` totals) — shared verbatim between the Spark plan and
    * the DuckDB oracle so the argmax and the fitted leaves cannot
    * drift across engines.
    */
  private object Gbdt {
    val gain = "((CAST(crs AS DOUBLE) * CAST(crs AS DOUBLE)) / CAST(cn AS DOUBLE) + " +
      "(CAST(rst AS DOUBLE) - CAST(crs AS DOUBLE)) * (CAST(rst AS DOUBLE) - CAST(crs AS DOUBLE)) " +
      "/ (CAST(nt AS DOUBLE) - CAST(cn AS DOUBLE)))"
    val leafL = "CAST(round(CAST(crs AS DOUBLE) / CAST(cn AS DOUBLE)) AS BIGINT)"
    val leafR = "CAST(round((CAST(rst AS DOUBLE) - CAST(crs AS DOUBLE)) / " +
      "(CAST(nt AS DOUBLE) - CAST(cn AS DOUBLE))) AS BIGINT)"
  }

  /** Three rounds of gradient boosting with depth-1 regression stumps
    * (least-squares boosting, learning rate 1): predict order total
    * (exact cents) from order month. Each round picks the month
    * threshold with the largest SSE reduction over the CURRENT
    * residuals, fits integer-cent leaf means, and the next round
    * boosts what is left — q_tree_stump is one round of this.
    *
    * Scale: the fact scan reduces ONCE to 12 month rows of exact
    * sufficient statistics (n, Σy, Σy² as decimal(38,0)); because a
    * stump on month is a function of month alone, every round's
    * residual sums are DERIVED algebraically (Σ(y−f)² = Σy² − 2fΣy +
    * nf² per month) — no second pass over the data, however many
    * rounds. Leaf values are integer cents (quantized once per
    * round), so residual statistics stay exact end to end; gains are
    * final-mile doubles on exact ints, identical in both engines.
    */
  def qGbdtStumps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables(spark, dir).orders
      .select(month($"o_orderdate").cast("long").as("m"),
        QueryDef.cents($"o_totalprice").cast("long").as("y"))
      .groupBy($"m")
      .agg(count(lit(1)).as("n"),
        sum($"y".cast("decimal(38,0)")).as("sy"),
        sum(($"y" * $"y").cast("decimal(38,0)")).as("ssq"))
    val wCum = Window.orderBy($"m").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    var st = base.withColumn("f", lit(0L))
    val rounds = (1 to 3).map { r =>
      val cum = st
        .withColumn("rs", $"sy" - ($"n".cast("decimal(38,0)") * $"f".cast("decimal(38,0)")).cast("decimal(38,0)"))
        .withColumn("cn", sum($"n").over(wCum))
        .withColumn("crs", sum($"rs").over(wCum))
        .withColumn("nt", sum($"n").over(wAll))
        .withColumn("rst", sum($"rs").over(wAll))
      val best = cum.filter($"cn" < $"nt")
        .withColumn("gain", expr(Gbdt.gain))
        .withColumn("rk", row_number().over(Window.orderBy($"gain".desc, $"m")))
        .filter($"rk" === 1)
        .select($"m".as("c"), $"cn".as("n_left"), ($"nt" - $"cn").as("n_right"),
          expr(Gbdt.leafL).as("ll"), expr(Gbdt.leafR).as("lr"))
      st = st.crossJoin(broadcast(best))
        .withColumn("f", $"f" + when($"m" <= $"c", $"ll").otherwise($"lr"))
        .select($"m", $"n", $"sy", $"ssq", $"f")
      st.withColumn("rss",
          $"ssq" - (lit(2L).cast("decimal(38,0)") * $"f".cast("decimal(38,0)") * $"sy").cast("decimal(38,0)")
            + ($"n".cast("decimal(38,0)") * $"f".cast("decimal(38,0)") * $"f".cast("decimal(38,0)")).cast("decimal(38,0)"))
        .agg(sum($"rss").as("rsst"), sum($"n").as("ntot"))
        .crossJoin(broadcast(best))
        .select(lit(r.toLong).as("round"), $"c".as("split_month"),
          $"n_left", $"n_right", $"ll".as("leaf_left_cents"), $"lr".as("leaf_right_cents"),
          expr("round(sqrt(CAST(rsst AS DOUBLE) / CAST(ntot AS DOUBLE)), 4)").as("rmse_after"))
    }
    rounds.reduce(_ union _).orderBy($"round")
  }

  private val qGbdtStumpsSql = {
    def round(i: Int) =
      s"""cum$i AS (
         |  SELECT m, n,
         |    sum(n) OVER w AS cn,
         |    sum(sy - n * f) OVER w AS crs,
         |    sum(n) OVER () AS nt,
         |    sum(sy - n * f) OVER () AS rst
         |  FROM st$i
         |  WINDOW w AS (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |best$i AS (
         |  SELECT m AS c, cn AS n_left, nt - cn AS n_right,
         |    ${Gbdt.leafL} AS ll, ${Gbdt.leafR} AS lr
         |  FROM cum$i WHERE cn < nt
         |  ORDER BY ${Gbdt.gain} DESC, m LIMIT 1),
         |st${i + 1} AS (
         |  SELECT s.m, s.n, s.sy, s.ssq,
         |    s.f + CASE WHEN s.m <= b.c THEN b.ll ELSE b.lr END AS f
         |  FROM st$i s, best$i b),
         |out$i AS (
         |  SELECT CAST($i AS BIGINT) AS round, CAST(b.c AS BIGINT) AS split_month,
         |    CAST(b.n_left AS BIGINT) AS n_left, CAST(b.n_right AS BIGINT) AS n_right,
         |    CAST(b.ll AS BIGINT) AS leaf_left_cents, CAST(b.lr AS BIGINT) AS leaf_right_cents,
         |    round(sqrt(CAST(sum(s.ssq - 2 * s.f * s.sy + s.n * s.f * s.f) AS DOUBLE)
         |      / CAST(sum(s.n) AS DOUBLE)), 4) AS rmse_after
         |  FROM st${i + 1} s, best$i b
         |  GROUP BY b.c, b.n_left, b.n_right, b.ll, b.lr)""".stripMargin
    s"""WITH base AS (
       |  SELECT month(o_orderdate) AS m, count(*) AS n,
       |    CAST(sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT)) AS HUGEINT) AS sy,
       |    CAST(sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT)
       |      * CAST(round(o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS ssq
       |  FROM orders GROUP BY m),
       |st1 AS (SELECT m, n, sy, ssq, CAST(0 AS HUGEINT) AS f FROM base),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT * FROM out1 UNION ALL SELECT * FROM out2 UNION ALL SELECT * FROM out3
       |ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------- registry

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("q_tree_stump", qTreeStump _, qTreeStumpSql),
    QueryDef.sql("q_gbdt_stumps", qGbdtStumps _, qGbdtStumpsSql),
    QueryDef.sql("q_welch_ttest", qWelchTtest _, qWelchTtestSql),
    QueryDef.sql("q_permutation_test", qPermutationTest _, qPermutationTestSql),
    QueryDef.sql("emb_rand_proj", embRandProj _, embRandProjSql),
    QueryDef.sql("emb_proj_recall", embProjRecall _, embProjRecallSql))
}
