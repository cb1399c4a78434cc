package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.logql.Planner
import graft.promql.PromQL
import graft.sources.Testdata

/** Sliding step windows (step != range) through both front-ends — the
  * reference's step fan-out (internal/chstorage/chsql_stepfanout.go:
  * 32-140): each sample belongs to every step S on the step grid whose
  * window (S-range, S] covers it, so with step = range/4 every row
  * lands in up to 4 output steps. The oracle re-derives the fan-out in
  * SQL with generate_series (inclusive stop, same as Spark `sequence`).
  */
object QueriesSliding extends QueryPack {

  private val StepNs  = 21600000000000L // 6h
  private val RangeNs = 86400000000000L // 1d (range = 4 * step)
  private val StepUs  = 21600000000L
  private val RangeUs = 86400000000L

  /** DuckDB step fan-out over epoch-ns: rows exploded to covering steps. */
  private def oracleFanoutNs(from: String, where: String): String =
    s"""SELECT step_ns, t, event_type, user_id FROM (
       |  SELECT unnest(generate_series(fs, fs + ${(RangeNs / StepNs) * StepNs}, $StepNs)) AS step_ns,
       |    t, event_type, user_id
       |  FROM (
       |    SELECT ((epoch_ns(ts) + ${StepNs - 1}) // $StepNs) * $StepNs AS fs,
       |      epoch_ns(ts) AS t, event_type, user_id
       |    FROM $from $where))
       |WHERE step_ns < t + $RangeNs""".stripMargin

  /** LogQL count_over_time on a 6h step / 1d range sliding grid, through
    * the parser; the trailing /86400 keeps the float math to one exact
    * division (counts are integer-valued doubles).
    */
  val logqlRateSliding: Q = Q(
    "logql_rate_sliding",
    (s: SparkSession, dir: String) =>
      Planner.query(
          """sum by (event_type) (count_over_time({}[1d])) / 86400""",
          Views.logs(Testdata(s, dir)), stepNs = Some(StepNs))
        .select(col("bucket_ns"),
          element_at(col("labels"), "event_type").as("event_type"), col("value"))
        .orderBy("bucket_ns", "event_type"),
    Some(
      s"""SELECT step_ns AS bucket_ns, event_type,
         |  CAST(COUNT(*) AS DOUBLE) / 86400 AS value
         |FROM (${oracleFanoutNs("events", "")})
         |GROUP BY bucket_ns, event_type
         |ORDER BY bucket_ns, event_type""".stripMargin))

  /** PromQL rate() with counter-reset correction + extrapolation on the
    * sliding grid — window START is step END minus range, which anchors
    * the extrapolation boundaries (querier_metrics_rate.go:27-141).
    */
  val promqlRateSliding: Q = {
    val resultSql = "(last_v - first_v + corr)"
    Q(
      "promql_rate_sliding",
      (s: SparkSession, dir: String) =>
        PromQL.range("""rate(error[1d])""", Views.points(Testdata(s, dir)),
            stepUs = Some(StepUs))
          .select(col("bucket_us"), element_at(col("labels"), "svc").as("svc"),
            col("value"))
          .orderBy("bucket_us", "svc"),
      Some(
        s"""SELECT step_us AS bucket_us, svc,
           |  $resultSql * ${PromMath.oracleExtrapolation(counterZeroClamp = true, resultSql)} / 86400.0 AS value
           |FROM (
           |  SELECT svc, step_us, step_us - $RangeUs AS bucket_us, COUNT(*) AS n,
           |    MIN(ts_us) AS first_ts_us, MAX(ts_us) AS last_ts_us,
           |    ARG_MIN(value, ts_us) AS first_v, ARG_MAX(value, ts_us) AS last_v,
           |    CAST(COALESCE(SUM(CAST(CASE WHEN value < prev THEN prev END AS DECIMAL(18,4))), 0) AS DOUBLE) AS corr
           |  FROM (
           |    SELECT svc, value, ts_us, step_us,
           |      lag(value) OVER (PARTITION BY svc, step_us ORDER BY ts_us) AS prev
           |    FROM (
           |      SELECT svc, value, ts_us,
           |        unnest(generate_series(fs, fs + ${(RangeUs / StepUs) * StepUs}, $StepUs)) AS step_us
           |      FROM (
           |        SELECT CAST(user_id % 4 AS VARCHAR) AS svc, value, epoch_us(ts) AS ts_us,
           |          ((epoch_us(ts) + ${StepUs - 1}) // $StepUs) * $StepUs AS fs
           |        FROM events WHERE event_type = 'error'))
           |    WHERE step_us < ts_us + $RangeUs)
           |  GROUP BY svc, step_us)
           |WHERE n >= 2 ORDER BY bucket_us, svc""".stripMargin))
  }

  /** Exact quantile_over_time through the parser (prom_math.go:120-147
    * linear interpolation — `percentile`, not a sketch); round(6) on
    * both sides per the interpolated-float determinism playbook.
    */
  val logqlQuantileE2e: Q = Q(
    "logql_e2e_quantile",
    (s: SparkSession, dir: String) =>
      Planner.query(
          """quantile_over_time(0.95, {event_type="click"} | json | keep event_type, user_id | unwrap k [1d])""",
          Views.logs(Testdata(s, dir)))
        .select(col("bucket_ns"),
          element_at(col("labels"), "event_type").as("event_type"),
          element_at(col("labels"), "user_id").as("user_id"),
          round(col("value"), 6).as("value"))
        .orderBy("bucket_ns", "event_type", "user_id"),
    Some(
      s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $RangeNs AS bucket_ns,
         |  event_type, CAST(user_id AS VARCHAR) AS user_id,
         |  round(quantile_cont(CAST(json_extract_string(props, '$$.k') AS DOUBLE), 0.95), 6) AS value
         |FROM events WHERE event_type = 'click'
         |GROUP BY bucket_ns, event_type, user_id
         |ORDER BY bucket_ns, event_type, user_id""".stripMargin))

  /** Stale-marker handling: every 7th event's value becomes NaN (the
    * closest Spark can hold to Prometheus's stale-NaN bit pattern —
    * UnsafeRow normalizes NaN payloads); the instant as-of rule must
    * skip them and surface the newest LIVE sample per series.
    */
  val promqlStaleSkip: Q = {
    val tUs = 1705276800000000L // 2024-01-15T00:00:00Z
    val lookbackUs = 86400000000L
    Q(
      "promql_stale_skip",
      (s: SparkSession, dir: String) => {
        val td = Testdata(s, dir)
        val staled = td.events.select(
          expr("ts div 1000").as("ts_us"),
          col("event_type").as("name"),
          when(col("event_id") % 7 === 0, lit(Double.NaN))
            .otherwise(col("value")).as("value"),
          map(lit("svc"), (col("user_id") % 4).cast("string")).as("labels"))
        PromQL.instant("""error{}""", staled, evalTsUs = tUs, lookbackUs = lookbackUs)
          .select(element_at(col("labels"), "svc").as("svc"), col("value"),
            col("ts_us"))
          .orderBy("svc")
      },
      Some(
        s"""SELECT svc, value, ts_us FROM (
           |  SELECT svc, value, ts_us,
           |    row_number() OVER (PARTITION BY svc ORDER BY ts_us DESC) AS rn
           |  FROM (
           |    SELECT CAST(user_id % 4 AS VARCHAR) AS svc,
           |      CASE WHEN event_id % 7 = 0 THEN 'NaN'::DOUBLE ELSE value END AS value,
           |      epoch_us(ts) AS ts_us
           |    FROM events WHERE event_type = 'error')
           |  WHERE NOT isnan(value)
           |    AND ts_us <= $tUs AND ts_us > ${tUs - lookbackUs})
           |WHERE rn = 1 ORDER BY svc""".stripMargin))
  }

  /** rate_counter through the parser — extrapolated rate with
    * counter-reset correction over unwrapped json values. The view
    * truncates ts to µs so the ns math agrees with DuckDB's
    * TIMESTAMP(NANOS) truncation.
    */
  val logqlRateCounterE2e: Q = {
    val resultSql = "(last_v - first_v + corr)"
    Q(
      "logql_e2e_rate_counter",
      (s: SparkSession, dir: String) => {
        val td = Testdata(s, dir)
        val mview = td.events.select(
          expr("(ts div 1000) * 1000").as("ts_ns"),
          col("props").as("body"),
          map(lit("event_type"), col("event_type")).as("labels"))
        Planner.query(
            """rate_counter({} | json | keep event_type | unwrap k [1d])""",
            mview)
          .select(col("bucket_ns"),
            element_at(col("labels"), "event_type").as("event_type"),
            col("value"))
          .orderBy("bucket_ns", "event_type")
      },
      Some(
        s"""SELECT bucket_ns, event_type,
           |  $resultSql * ${PromMath.oracleExtrapolation(counterZeroClamp = true,
                resultSql, rangeUs = RangeNs, tickPerSec = "1e9")} / 86400.0 AS value
           |FROM (
           |  SELECT event_type, bucket_ns, COUNT(*) AS n,
           |    MIN(t) AS first_ts_us, MAX(t) AS last_ts_us, bucket_ns AS bucket_us,
           |    ARG_MIN(k, t) AS first_v, ARG_MAX(k, t) AS last_v,
           |    CAST(COALESCE(SUM(CAST(CASE WHEN k < prev THEN prev END AS DECIMAL(18,4))), 0) AS DOUBLE) AS corr
           |  FROM (
           |    SELECT event_type, k, t, bucket_ns,
           |      lag(k) OVER (PARTITION BY event_type, bucket_ns ORDER BY t, props) AS prev
           |    FROM (
           |      SELECT event_type, props,
           |        CAST(json_extract_string(props, '$$.k') AS DOUBLE) AS k,
           |        epoch_ns(ts) AS t,
           |        epoch_ns(ts) - epoch_ns(ts) % $RangeNs AS bucket_ns
           |      FROM events))
           |  GROUP BY event_type, bucket_ns)
           |WHERE n >= 2 ORDER BY bucket_ns, event_type""".stripMargin))
  }

  /** Loki instant query (/query endpoint): metric expr at one eval
    * time, every range selector over (t-range, t]; t deliberately NOT
    * range-aligned. The view truncates ts to µs so boundary membership
    * agrees with DuckDB's TIMESTAMP(NANOS) truncation.
    */
  val logqlInstantE2e: Q = {
    val tNs = 1704866400000000000L // 2024-01-10T06:00:00Z — mid-data, off-grid
    Q(
      "logql_e2e_instant",
      (s: SparkSession, dir: String) => {
        val td = Testdata(s, dir)
        val mview = td.events.select(
          expr("(ts div 1000) * 1000").as("ts_ns"),
          col("props").as("body"),
          map(lit("event_type"), col("event_type")).as("labels"))
        Planner.instant("""sum by (event_type) (count_over_time({}[1d]))""",
            mview, evalTsNs = tNs)
          .select(col("ts_ns"),
            element_at(col("labels"), "event_type").as("event_type"), col("value"))
          .orderBy("event_type")
      },
      Some(
        s"""SELECT $tNs AS ts_ns, event_type, CAST(COUNT(*) AS DOUBLE) AS value
           |FROM events
           |WHERE epoch_ns(ts) > ${tNs - RangeNs} AND epoch_ns(ts) <= $tNs
           |GROUP BY event_type ORDER BY event_type""".stripMargin))
  }

  override def queries: Seq[Q] = Seq(
    logqlRateSliding, promqlRateSliding, logqlQuantileE2e, promqlStaleSkip,
    logqlRateCounterE2e, logqlInstantE2e)
}
