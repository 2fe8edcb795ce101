package graft.queries

import graft.Tables
import graft.operators.{PrefixSum, Sessionize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 wave N — monitoring and capacity analytics: population-
  * stability drift (PSI), a point-biserial quality-bias probe over
  * the corpus, peak session concurrency by distributed sweep-line
  * (through the PrefixSum bucket-offset scheme — never a
  * single-partition window over session-cardinality data), a
  * per-column entropy profile, and an open-orders backlog timeline.
  * Entropy/PSI terms quantize to 1e-9 before summing (the
  * mutual-info rule); everything else reduces on exact longs.
  */
object TrendQ {

  // ----------------------------------------------------------- q_psi_drift
  /** Population-stability index of the event-type mix between the
    * first and second half of the observation window — the
    * industry-standard model-monitoring drift score
    * (PSI = Σ (p₁−p₀)·ln(p₁/p₀); < 0.1 stable, > 0.25 shifted).
    * The split day derives in-plan from the day bounds; per-type
    * terms quantize to integer nanos before the sum. Everything
    * after the one groupBy is a type-cardinality metadata table.
    */
  def qPsiDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
      .select($"event_type", expr("unix_micros(ts) div 86400000000").as("day"))
    val mid = ev.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(expr("(lo + hi + 1) div 2").as("mid"))
    val per = ev.crossJoin(broadcast(mid))
      .groupBy($"event_type")
      .agg(sum(when($"day" < $"mid", 1L).otherwise(0L)).as("n0"),
        sum(when($"day" >= $"mid", 1L).otherwise(0L)).as("n1"))
    val tot = per.agg(sum($"n0").as("t0"), sum($"n1").as("t1"))
    val terms = per.crossJoin(broadcast(tot))
      .withColumn("term_e9", expr(
        "CAST(round((CAST(n1 AS DOUBLE) / t1 - CAST(n0 AS DOUBLE) / t0) * ln((CAST(n1 AS DOUBLE) / t1) / (CAST(n0 AS DOUBLE) / t0)) * 1e9) AS BIGINT)"))
    val psi = terms.agg(sum($"term_e9").as("psi_e9"))
    terms.crossJoin(broadcast(psi))
      .select($"event_type", $"n0", $"n1",
        round(expr("CAST(n0 AS DOUBLE) / t0"), 6).as("p0"),
        round(expr("CAST(n1 AS DOUBLE) / t1"), 6).as("p1"),
        $"term_e9", round($"psi_e9" / 1e9, 6).as("psi_total"))
      .orderBy($"event_type")
  }

  private val qPsiDriftSql =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day FROM events),
      |mid AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev),
      |per AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN day < mid THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(sum(CASE WHEN day >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n1
      |  FROM ev, mid GROUP BY event_type),
      |tot AS (SELECT CAST(sum(n0) AS BIGINT) AS t0, CAST(sum(n1) AS BIGINT) AS t1 FROM per),
      |terms AS (
      |  SELECT event_type, n0, n1, t0, t1,
      |    CAST(round((CAST(n1 AS DOUBLE) / t1 - CAST(n0 AS DOUBLE) / t0)
      |      * ln((CAST(n1 AS DOUBLE) / t1) / (CAST(n0 AS DOUBLE) / t0)) * 1e9) AS BIGINT)
      |      AS term_e9
      |  FROM per, tot),
      |psi AS (SELECT CAST(sum(term_e9) AS BIGINT) AS psi_e9 FROM terms)
      |SELECT event_type, n0, n1,
      |  round(CAST(n0 AS DOUBLE) / t0, 6) AS p0,
      |  round(CAST(n1 AS DOUBLE) / t1, 6) AS p1,
      |  term_e9, round(psi_e9 / 1e9, 6) AS psi_total
      |FROM terms, psi ORDER BY event_type""".stripMargin

  // ----------------------------------------------------- corpus_quality_bias
  /** Point-biserial correlation between the shared quality score and
    * English membership — "does the quality model systematically
    * favor one language?", the fairness probe every filtered corpus
    * needs before the filter ships. Scores quantize to e4 integers
    * (they are already 4-decimal-rounded), so all sufficient
    * statistics (n, n₁, Σq, Σq²) reduce as exact longs and the final
    * r is one deterministic IEEE expression. One scan, one aggregate
    * row.
    */
  def corpusQualityBias(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select(($"lang" === "en").as("is_en"),
        round(Text.qualityScore($"text") * 10000).cast("long").as("q4"))
      .agg(count(lit(1)).as("n"),
        sum(when($"is_en", 1L).otherwise(0L)).as("n1"),
        sum($"q4").as("s"),
        sum(when($"is_en", $"q4").otherwise(0L)).as("s1"),
        sum($"q4" * $"q4").as("ss"))
      .select($"n", $"n1",
        round(expr("CAST(s1 AS DOUBLE) / n1 / 10000"), 4).as("mean_q_en"),
        round(expr("CAST(s - s1 AS DOUBLE) / (n - n1) / 10000"), 4).as("mean_q_other"),
        round(expr(
          "(CAST(s1 AS DOUBLE) / n1 - CAST(s - s1 AS DOUBLE) / (n - n1)) * sqrt(CAST(n1 AS DOUBLE) * (n - n1)) / sqrt(CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)"),
          4).as("r_pb"))
  }

  private val corpusQualityBiasSql =
    s"""WITH d AS (
       |  SELECT lang = 'en' AS is_en,
       |    CAST(round(round(
       |      least(1.0, length(text) / 500.0) * 0.25 +
       |      (len(regexp_extract_all(text, '[A-Za-z]')) / length(text)) * 0.25 +
       |      (1.0 - len(list_filter(${QueryDef.toksSql()},
       |         t -> t IN ('the','a','and','of','to','in','is','it')))
       |         / len(${QueryDef.toksSql()})) * 0.25 +
       |      least(1.0, ((length(text) - (len(${QueryDef.toksSql()}) - 1))
       |         / len(${QueryDef.toksSql()})) / 8.0) * 0.25,
       |    4) * 10000) AS BIGINT) AS q4
       |  FROM documents),
       |m AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(q4) AS BIGINT) AS s,
       |    CAST(sum(CASE WHEN is_en THEN q4 ELSE 0 END) AS BIGINT) AS s1,
       |    CAST(sum(q4 * q4) AS BIGINT) AS ss
       |  FROM d)
       |SELECT n, n1,
       |  round(CAST(s1 AS DOUBLE) / n1 / 10000, 4) AS mean_q_en,
       |  round(CAST(s - s1 AS DOUBLE) / (n - n1) / 10000, 4) AS mean_q_other,
       |  round((CAST(s1 AS DOUBLE) / n1 - CAST(s - s1 AS DOUBLE) / (n - n1))
       |    * sqrt(CAST(n1 AS DOUBLE) * (n - n1))
       |    / sqrt(CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s), 4) AS r_pb
       |FROM m""".stripMargin

  // --------------------------------------------------- q_peak_concurrency
  /** Peak concurrent sessions by distributed sweep-line: sessionize
    * (the shared 30-minute-gap operator), emit +1/−1 deltas at each
    * session's start/end, pre-aggregate per timestamp (departures and
    * arrivals at one instant net exactly — the prefix maximum is
    * unchanged), then run the global running sum through
    * [[PrefixSum]]'s bucket-offset scheme: the serial pass touches
    * only hour-bucket totals, never the session-cardinality points —
    * the capacity-planning number (max simultaneous users) computed
    * scale-right. Oracle replays the identical sweep with one window.
    */
  def qPeakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sess = Sessionize(Tables(spark, dir).events,
        "user_id", "ts", "event_id", 30L * 60 * 1000000)
      .groupBy($"user_id", $"session_num")
      .agg(min(expr("unix_micros(ts)")).as("st"), (max(expr("unix_micros(ts)")) + 1).as("en"))
    val points = sess.select($"st".as("t"), lit(1L).as("d"))
      .unionByName(sess.select($"en".as("t"), lit(-1L).as("d")))
      .groupBy($"t").agg(sum($"d").as("net"))
    val cum = PrefixSum.running(points, $"t", expr("t div 3600000000"),
      Seq("net" -> $"net"))
    val nSess = sess.agg(count(lit(1)).as("n_sessions"))
    val peak = cum.agg(max($"cum_net").as("peak_concurrent"))
    val at = cum.join(broadcast(peak), $"cum_net" === $"peak_concurrent")
      .agg(min($"t").as("peak_at_us"))
    nSess.crossJoin(peak).crossJoin(at)
  }

  private val qPeakConcurrencySql =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |numbered AS (
      |  SELECT user_id, ts,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_num
      |  FROM flagged),
      |sess AS (
      |  SELECT user_id, session_num, min(epoch_us(ts)) AS st, max(epoch_us(ts)) + 1 AS en
      |  FROM numbered GROUP BY 1, 2),
      |points AS (
      |  SELECT t, CAST(sum(d) AS BIGINT) AS net FROM (
      |    SELECT st AS t, 1 AS d FROM sess
      |    UNION ALL SELECT en, -1 FROM sess)
      |  GROUP BY t),
      |cum AS (
      |  SELECT t, CAST(sum(net) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_net
      |  FROM points),
      |pk AS (SELECT max(cum_net) AS peak_concurrent FROM cum),
      |at AS (
      |  SELECT min(t) AS peak_at_us FROM cum, pk WHERE cum_net = peak_concurrent),
      |ns AS (SELECT count(*) AS n_sessions FROM sess)
      |SELECT n_sessions, peak_concurrent, peak_at_us FROM ns, pk, at""".stripMargin

  // ---------------------------------------------------- etl_entropy_profile
  /** Per-column Shannon entropy profile of the customer dimension —
    * the profiling depth check behind join-key and partition-key
    * choice (a near-zero-entropy column is a useless partition key;
    * a full-entropy one is a join-explosion risk). Per-value terms
    * −p·ln p quantize to nanos before summing; `normalized` divides
    * by ln(distinct). Each column is one value-cardinality aggregate.
    */
  def etlEntropyProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables(spark, dir).customer
    def one(colName: String, v: org.apache.spark.sql.Column): DataFrame = {
      val per = c.select(v.as("v")).groupBy($"v").agg(count(lit(1)).as("cnt"))
      val tot = per.agg(sum($"cnt").as("n"), count(lit(1)).as("k"))
      per.crossJoin(broadcast(tot))
        .withColumn("term_e9", expr(
          "CAST(round(-(CAST(cnt AS DOUBLE) / n) * ln(CAST(cnt AS DOUBLE) / n) * 1e9) AS BIGINT)"))
        .agg(max($"k").as("n_distinct"), sum($"term_e9").as("e9"))
        .select(lit(colName).as("column_name"), $"n_distinct",
          round($"e9" / 1e9, 6).as("entropy_nats"),
          round(expr("ln(CAST(n_distinct AS DOUBLE))"), 6).as("max_entropy_nats"),
          round(expr("CASE WHEN n_distinct > 1 THEN (e9 / 1e9) / ln(CAST(n_distinct AS DOUBLE)) ELSE 0.0 END"), 4).as("normalized"))
    }
    one("c_mktsegment", $"c_mktsegment")
      .unionByName(one("c_nationkey", $"c_nationkey".cast("string")))
      .unionByName(one("acctbal_band", expr("CAST(floor(c_acctbal / 2000) AS STRING)")))
      .orderBy($"column_name")
  }

  private val etlEntropyProfileSql = {
    def one(name: String, v: String) =
      s"""(WITH per AS (SELECT $v AS v, count(*) AS cnt FROM customer GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, count(*) AS k FROM per),
         |ag AS (
         |  SELECT max(k) AS n_distinct,
         |    CAST(sum(CAST(round(-(CAST(cnt AS DOUBLE) / n) * ln(CAST(cnt AS DOUBLE) / n) * 1e9) AS BIGINT)) AS BIGINT) AS e9
         |  FROM per, tot)
         |SELECT '$name' AS column_name, n_distinct,
         |  round(e9 / 1e9, 6) AS entropy_nats,
         |  round(ln(CAST(n_distinct AS DOUBLE)), 6) AS max_entropy_nats,
         |  round(CASE WHEN n_distinct > 1 THEN (e9 / 1e9) / ln(CAST(n_distinct AS DOUBLE)) ELSE 0.0 END, 4) AS normalized
         |FROM ag)""".stripMargin
    s"""SELECT * FROM (
       |${one("c_mktsegment", "c_mktsegment")}
       |UNION ALL ${one("c_nationkey", "CAST(c_nationkey AS VARCHAR)")}
       |UNION ALL ${one("acctbal_band", "CAST(CAST(floor(c_acctbal / 2000) AS BIGINT) AS VARCHAR)")})
       |ORDER BY column_name""".stripMargin
  }

  // ------------------------------------------------- q_open_orders_timeline
  /** Open-orders backlog timeline: each order is "open" from its
    * order date through the day its LAST line ships; the per-day
    * open count is a sweep-line over ±1 deltas aggregated to the
    * DAY-cardinality table, then one running sum over that metadata
    * (the q_running_distinct rule — the raw fact table never meets a
    * global window). The operations dashboard behind backlog SLAs.
    */
  def qOpenOrdersTimeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val span = t.lineitem
      .groupBy($"l_orderkey")
      .agg(max(expr("unix_micros(l_shipdate) div 86400000000")).as("eday"))
      .join(t.orders.select($"o_orderkey",
        expr("unix_micros(o_orderdate) div 86400000000").as("oday")),
        $"l_orderkey" === $"o_orderkey")
    val deltas = span.groupBy($"oday".as("day")).agg(count(lit(1)).as("opened"))
      .withColumn("closed", lit(0L))
      .unionByName(span.groupBy(($"eday" + 1).as("day"))
        .agg(count(lit(1)).as("closed")).withColumn("opened", lit(0L)))
      .groupBy($"day")
      .agg(sum($"opened").as("opened"), sum($"closed").as("closed"))
    deltas
      .withColumn("open_orders", sum($"opened" - $"closed").over(
        Window.orderBy($"day").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy($"day")
  }

  private val qOpenOrdersTimelineSql =
    """WITH span AS (
      |  SELECT o.o_orderkey,
      |    epoch_us(o.o_orderdate) // 86400000000 AS oday,
      |    s.eday
      |  FROM orders o JOIN (
      |    SELECT l_orderkey, max(epoch_us(l_shipdate) // 86400000000) AS eday
      |    FROM lineitem GROUP BY 1) s ON s.l_orderkey = o.o_orderkey),
      |deltas AS (
      |  SELECT day, CAST(sum(opened) AS BIGINT) AS opened,
      |    CAST(sum(closed) AS BIGINT) AS closed
      |  FROM (
      |    SELECT oday AS day, 1 AS opened, 0 AS closed FROM span
      |    UNION ALL SELECT eday + 1, 0, 1 FROM span)
      |  GROUP BY day)
      |SELECT day, opened, closed,
      |  CAST(sum(opened - closed) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_orders
      |FROM deltas ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- registry

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("q_psi_drift", qPsiDrift _, qPsiDriftSql),
    QueryDef.sql("corpus_quality_bias", corpusQualityBias _, corpusQualityBiasSql),
    QueryDef.sql("q_peak_concurrency", qPeakConcurrency _, qPeakConcurrencySql),
    QueryDef.sql("etl_entropy_profile", etlEntropyProfile _, etlEntropyProfileSql),
    QueryDef.sql("q_open_orders_timeline", qOpenOrdersTimeline _, qOpenOrdersTimelineSql))
}
