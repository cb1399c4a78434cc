package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.promql.PromQL
import graft.sources.Testdata

/** Round-5 PromQL function-surface sweep: trig family + atan2 binop,
  * dynamic scalar(), the group aggregator, `!=` filtering, and the two
  * fold-over-window functions (mad_over_time, holt_winters) — the
  * remaining upstream-function gaps vs the reference's
  * Prometheus-compatible engine (promhandler.go evaluates through the
  * vendored upstream engine, so every upstream function is reference
  * surface).
  */
object QueriesPromFns2 extends QueryPack {

  private val DayUs = 86400000000L

  private val oracleCounts =
    s"""SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
       |  CAST(user_id % 4 AS VARCHAR) AS svc, CAST(COUNT(*) AS DOUBLE) AS n
       |FROM events GROUP BY 1, 2""".stripMargin

  /** deg(atan2(sin v, cos v)) — the trig family + the atan2 binop in
    * one shape (upstream funcSin/funcCos/atan2 op, funcDeg). Both
    * engines call libm-quality sin/cos/atan2 on identical doubles;
    * round 6 absorbs the ≤2-ulp cross-libm spread.
    */
  val trig: Q = Q(
    "promql_e2e_trig",
    (s: SparkSession, dir: String) =>
      PromQL.range(
          """deg(sin(sum by (svc) (count_over_time(ev[1d]))) atan2 cos(sum by (svc) (count_over_time(ev[1d]))))""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          round(col("value"), 6).as("value"))
        .orderBy("bucket_us", "svc"),
    Some(
      s"""SELECT bucket_us, svc,
         |  round(degrees(atan2(sin(n), cos(n))), 6) AS value
         |FROM ($oracleCounts)
         |ORDER BY bucket_us, svc""".stripMargin))

  /** Dynamic scalar(): each series' share of the per-step total —
    * scalar() evaluates per step and broadcasts onto the vector side
    * (upstream scalar-vector binop evaluation).
    */
  val scalarDyn: Q = Q(
    "promql_e2e_scalar_dyn",
    (s: SparkSession, dir: String) =>
      PromQL.range(
          """sum by (svc) (count_over_time(ev[1d])) / scalar(sum(count_over_time(ev[1d])))""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          round(col("value"), 9).as("value"))
        .orderBy("bucket_us", "svc"),
    Some(
      s"""SELECT bucket_us, svc,
         |  round(n / SUM(n) OVER (PARTITION BY bucket_us), 9) AS value
         |FROM ($oracleCounts)
         |ORDER BY bucket_us, svc""".stripMargin))

  /** `group by (...)`: membership — 1.0 per surviving group (upstream
    * group aggregator).
    */
  val groupAgg: Q = Q(
    "promql_e2e_group_agg",
    (s: SparkSession, dir: String) =>
      PromQL.range("""group by (et) (count_over_time(ev{svc="1"}[1d]))""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "et").as("et"), col("value"))
        .orderBy("bucket_us", "et"),
    Some(
      s"""SELECT DISTINCT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |  event_type AS et, 1.0 AS value
         |FROM events WHERE user_id % 4 = 1
         |ORDER BY bucket_us, et""".stripMargin))

  /** `% 2 != bool 0` — the != comparison binop (filter semantics under
    * bool: 1/0 per group parity).
    */
  val neBool: Q = Q(
    "promql_e2e_ne_bool",
    (s: SparkSession, dir: String) =>
      PromQL.range("""sum by (svc) (count_over_time(ev[1d])) % 2 != bool 0""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"), col("value"))
        .orderBy("bucket_us", "svc"),
    Some(
      s"""SELECT bucket_us, svc,
         |  CASE WHEN fmod(n, 2) <> 0 THEN 1.0 ELSE 0.0 END AS value
         |FROM ($oracleCounts)
         |ORDER BY bucket_us, svc""".stripMargin))

  /** mad_over_time: median absolute deviation per series window
    * (upstream funcMadOverTime; DuckDB's mad() interpolates the same
    * φ·(n−1) way as the exact percentile both engines use).
    */
  val madOverTime: Q = Q(
    "promql_e2e_mad",
    (s: SparkSession, dir: String) =>
      PromQL.range("""mad_over_time(ev{svc="2"}[1d])""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "et").as("et"),
          round(col("value"), 6).as("value"))
        .orderBy("bucket_us", "et"),
    Some(
      s"""SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |  event_type AS et, round(mad(value), 6) AS value
         |FROM events WHERE user_id % 4 = 2
         |GROUP BY 1, 2 ORDER BY bucket_us, et""".stripMargin))

  /** holt_winters (double exponential smoothing): the sequential
    * recurrence folded over each window's ts-sorted samples; the
    * oracle replays the identical float-op order through a recursive
    * CTE, so values match exactly (round 6 for belt-and-braces).
    */
  val holtWinters: Q = Q(
    "promql_e2e_holt_winters",
    (s: SparkSession, dir: String) =>
      PromQL.range("""holt_winters(ev{svc="3"}[1d], 0.5, 0.3)""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "et").as("et"),
          round(col("value"), 6).as("value"))
        .orderBy("bucket_us", "et"),
    Some(
      s"""WITH RECURSIVE samp AS (
         |  SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |    event_type AS et, value AS v,
         |    row_number() OVER (
         |      PARTITION BY epoch_us(ts) - epoch_us(ts) % $DayUs, event_type
         |      ORDER BY ts, value) AS rn
         |  FROM events WHERE user_id % 4 = 3),
         |sz AS (SELECT bucket_us, et, MAX(rn) AS n FROM samp GROUP BY 1, 2),
         |hw AS (
         |  SELECT s1.bucket_us, s1.et, 1 AS i,
         |    CAST(NULL AS DOUBLE) AS s0, s1.v AS s1v, s2.v - s1.v AS b
         |  FROM samp s1 JOIN samp s2
         |    ON s2.bucket_us = s1.bucket_us AND s2.et = s1.et AND s2.rn = 2
         |  WHERE s1.rn = 1
         |  UNION ALL
         |  SELECT h.bucket_us, h.et, h.i + 1, h.s1v,
         |    0.5::DOUBLE * s.v + (1 - 0.5::DOUBLE) * (h.s1v +
         |      (CASE WHEN h.i = 1 THEN h.b
         |            ELSE 0.3::DOUBLE * (h.s1v - h.s0) + (1 - 0.3::DOUBLE) * h.b END)),
         |    CASE WHEN h.i = 1 THEN h.b
         |         ELSE 0.3::DOUBLE * (h.s1v - h.s0) + (1 - 0.3::DOUBLE) * h.b END
         |  FROM hw h JOIN samp s
         |    ON s.bucket_us = h.bucket_us AND s.et = h.et AND s.rn = h.i + 1)
         |SELECT h.bucket_us, h.et, round(h.s1v, 6) AS value
         |FROM hw h JOIN sz ON sz.bucket_us = h.bucket_us AND sz.et = h.et
         |WHERE h.i = sz.n
         |ORDER BY h.bucket_us, h.et""".stripMargin))

  /** INSTANT query over a subquery: the inner evaluates on its
    * absolute-aligned 1d step grid inside (t−3d, t], the outer
    * max_over_time folds those step samples into one output at t
    * (upstream subquery evaluation; range-path subqueries were already
    * covered by promql_e2e_subquery).
    */
  val instantSubquery: Q = {
    val tUs = 1705305600000000L // 2024-01-15T08:00Z — off the 1d grid
    val topStep = tUs - tUs % DayUs
    val steps = Seq(topStep - 2 * DayUs, topStep - DayUs, topStep)
    Q(
      "promql_e2e_instant_subquery",
      (s: SparkSession, dir: String) =>
        PromQL.instant(
            """max_over_time(sum by (svc) (count_over_time(ev[1d]))[3d:1d])""",
            Views.evPoints(Testdata(s, dir)), evalTsUs = tUs)
          .select(col("ts_us"),
            element_at(col("labels"), "svc").as("svc"), col("value"))
          .orderBy("svc"),
      Some(
        s"""WITH steps AS (SELECT unnest([${steps.mkString(", ")}]) AS b),
           |per AS (
           |  SELECT s.b, CAST(user_id % 4 AS VARCHAR) AS svc,
           |    CAST(COUNT(*) AS DOUBLE) AS n
           |  FROM events e JOIN steps s
           |    ON epoch_us(ts) > s.b - $DayUs AND epoch_us(ts) <= s.b
           |  GROUP BY s.b, svc)
           |SELECT $tUs AS ts_us, svc, MAX(n) AS value
           |FROM per GROUP BY svc ORDER BY svc""".stripMargin))
  }

  /** sort_by_label: series ordered by label values (experimental
    * upstream, funcSortByLabel) — the query's own ordering IS the
    * result contract, so no outer orderBy.
    */
  val sortByLabel: Q = Q(
    "promql_e2e_sort_by_label",
    (s: SparkSession, dir: String) =>
      PromQL.range(
          """sort_by_label(sum by (svc, et) (count_over_time(ev[1d])), "et", "svc")""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          element_at(col("labels"), "et").as("et"), col("value")),
    Some(
      s"""SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |  CAST(user_id % 4 AS VARCHAR) AS svc, event_type AS et,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM events GROUP BY 1, 2, 3
         |ORDER BY bucket_us, et, svc""".stripMargin))

  /** The sorted-entry stream-key JSON the engine hashes for
    * limitk/limit_ratio, reconstructed for the (et, svc) fixture
    * series so the oracle can replay the md5 sampling decision.
    */
  private val oracleSkey =
    """'[{"key":"et","value":"' || et || '"},{"key":"svc","value":"' || svc || '"}]'"""

  private val oracleSeriesHash =
    s"""SELECT bucket_us, svc, et, value,
       |  CAST('0x' || substr(md5($oracleSkey), 1, 8) AS BIGINT) % 1000000 AS hash_ppm
       |FROM (
       |  SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
       |    CAST(user_id % 4 AS VARCHAR) AS svc, event_type AS et,
       |    CAST(COUNT(*) AS DOUBLE) AS value
       |  FROM events GROUP BY 1, 2, 3)""".stripMargin

  /** limitk — the experimental upstream series-limiting aggregator,
    * pinned to a deterministic md5-of-stream-key order (upstream's
    * pick is unspecified); survivors keep full label sets.
    */
  val limitK: Q = Q(
    "promql_e2e_limitk",
    (s: SparkSession, dir: String) =>
      PromQL.range("""limitk(3, sum by (svc, et) (count_over_time(ev[1d])))""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          element_at(col("labels"), "et").as("et"), col("value"))
        .orderBy("bucket_us", "svc", "et"),
    Some(
      s"""WITH h AS ($oracleSeriesHash),
         |r AS (SELECT *, row_number() OVER (PARTITION BY bucket_us
         |    ORDER BY hash_ppm, $oracleSkey) AS rk FROM h)
         |SELECT bucket_us, svc, et, value FROM r WHERE rk <= 3
         |ORDER BY bucket_us, svc, et""".stripMargin))

  /** limit_ratio — deterministic hash sampling of series; r ≥ 0 keeps
    * sample < r so limit_ratio(r) ∪ limit_ratio(r−1) partitions the
    * vector (upstream's two-sided convention).
    */
  val limitRatio: Q = Q(
    "promql_e2e_limit_ratio",
    (s: SparkSession, dir: String) =>
      PromQL.range("""limit_ratio(0.4, sum by (svc, et) (count_over_time(ev[1d])))""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          element_at(col("labels"), "et").as("et"), col("value"))
        .orderBy("bucket_us", "svc", "et"),
    Some(
      s"""WITH h AS ($oracleSeriesHash)
         |SELECT bucket_us, svc, et, value FROM h
         |WHERE CAST(hash_ppm AS DOUBLE) / 1000000.0 < 0.4
         |ORDER BY bucket_us, svc, et""".stripMargin))

  override def queries: Seq[Q] =
    Seq(trig, scalarDyn, groupAgg, neBool, madOverTime, holtWinters,
      instantSubquery, sortByLabel, limitK, limitRatio)
}
