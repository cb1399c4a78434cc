package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.promql.PromQL
import graft.sources.Testdata

/** PromQL storage-contract operators (SURVEY.md §2.3): instant vector
  * selection with lookback, the extrapolated rate family
  * (rate/delta/irate incl. counter-reset branch and the zero-crossing
  * clamp), scalar⚬vector binops. Every entry but the labelled gaps at
  * the end runs its query string through graft.promql.PromQL over a
  * [[Views]] points frame and projects the planner's
  * (bucket_us, labels, value) rows onto its registry columns.
  *
  * The series are events: one metric `ev` labelled {et = event_type}
  * (or the [[Views.points]] default, metric = event_type, labels
  * {svc}), sample = value, timestamp = ts. Counters are derived as
  * running decimal-exact cumulative sums so the Prometheus numeric
  * fidelity is testable bit-for-bit (reference formulae:
  * internal/logql/logqlmetric/prom_math.go:31-104; storage-side rate
  * offload internal/chstorage/querier_metrics_rate.go:27-141).
  *
  * All second-resolution arithmetic runs on epoch-µs Longs (exact in
  * double below 2^53) with the SAME expression shape on both engines.
  */
object QueriesPromQL extends QueryPack {

  private def q(name: String, oracle: String,
      view: Testdata => DataFrame = Views.points(_))(f: DataFrame => DataFrame): Q =
    Q(name, (s: SparkSession, dir: String) => f(view(Testdata(s, dir))), Some(oracle))

  private def label(k: String) = element_at(col("labels"), k)

  private val DayNs = 86400000000000L
  private val DayUs = 86400000000L

  /** One series per event type: metric `ev`, labels {et}. */
  private def byEventType(td: Testdata): DataFrame =
    Views.points(td, lit("ev"), Seq("et" -> col("event_type")))

  /** [[byEventType]] with the sample value replaced by the series'
    * running decimal-exact cumulative sum — a monotonic counter.
    */
  private def counters(td: Testdata): DataFrame = {
    val wCum = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Views.points(td, lit("ev"), Seq("et" -> col("event_type")),
      value = sum(col("value").cast("decimal(18,4)")).over(wCum).cast("double"))
  }

  /** Instant vector selector at T with 1h lookback: the newest sample in
    * (T−1h, T] per series, Prometheus staleness model (reference
    * querier_metrics_scanners.go:204-390 selectPoint).
    */
  val instantVector: Q = {
    val tNs = 1705276800000000000L // 2024-01-15T00:00:00Z
    val lookbackNs = 3600000000000L
    q(
      "promql_instant_vector",
      s"""SELECT event_type, value, ts_us FROM (
         |  SELECT event_type, value, epoch_us(ts) AS ts_us,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events
         |  WHERE epoch_ns(ts) <= $tNs AND epoch_ns(ts) > ${tNs - lookbackNs})
         |WHERE rn = 1 ORDER BY event_type""".stripMargin,
      byEventType
    ) { points =>
      PromQL.instant("ev", points, evalTsUs = tNs / 1000, lookbackUs = lookbackNs / 1000)
        .select(label("et").as("event_type"), col("value"), col("ts_us"))
        .orderBy("event_type")
    }
  }

  private val oracleCounterStats =
    s"""SELECT event_type, bucket_us, COUNT(*) AS n,
       |  MIN(ts_us) AS first_ts_us, MAX(ts_us) AS last_ts_us,
       |  ARG_MIN(c, ts_us) AS first_v, ARG_MAX(c, ts_us) AS last_v
       |FROM (
       |  SELECT event_type, epoch_us(ts) AS ts_us,
       |    epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
       |    CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
       |      PARTITION BY event_type ORDER BY ts, event_id
       |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS c
       |  FROM events)
       |GROUP BY event_type, bucket_us""".stripMargin

  private def oracleExtrapolation(counterZeroClamp: Boolean): String =
    PromMath.oracleExtrapolation(counterZeroClamp, "(last_v - first_v)")

  /** `fn(ev[1d])` per event type as (event_type, bucket_us, `out`). */
  private def perSeries(points: DataFrame, query: String, out: String): DataFrame =
    PromQL.range(query, points)
      .select(label("et").as("event_type"), col("bucket_us"), col("value").as(out))
      .orderBy("event_type", "bucket_us")

  /** `rate(counter[1d])` with full Prometheus extrapolation + the
    * zero-crossing clamp on durationToStart (reference
    * prom_math.go:31-104; SQL offload querier_metrics_rate.go:27-141).
    */
  val rateExtrapolated: Q = q(
    "promql_rate_extrapolated",
    s"""SELECT event_type, bucket_us,
       |  (last_v - first_v) * ${oracleExtrapolation(counterZeroClamp = true)} / 86400.0 AS rate
       |FROM ($oracleCounterStats)
       |WHERE n >= 2 ORDER BY event_type, bucket_us""".stripMargin,
    counters
  ) { points => perSeries(points, "rate(ev[1d])", "rate") }

  /** `increase(counter[1d])` — rate × range (same extrapolation). */
  val increase: Q = q(
    "promql_increase",
    s"""SELECT event_type, bucket_us,
       |  (last_v - first_v) * ${oracleExtrapolation(counterZeroClamp = true)} AS increase
       |FROM ($oracleCounterStats)
       |WHERE n >= 2 ORDER BY event_type, bucket_us""".stripMargin,
    counters
  ) { points => perSeries(points, "increase(ev[1d])", "increase") }

  /** `delta(gauge[1d])` — gauge semantics: extrapolated last−first over
    * the RAW values, no counter correction, no zero clamp
    * (prom_math.go delta path).
    */
  val deltaGauge: Q = {
    val oracleGaugeStats =
      s"""SELECT event_type, bucket_us, COUNT(*) AS n,
         |  MIN(ts_us) AS first_ts_us, MAX(ts_us) AS last_ts_us,
         |  ARG_MIN(value, ts_us) AS first_v, ARG_MAX(value, ts_us) AS last_v
         |FROM (SELECT event_type, value, epoch_us(ts) AS ts_us,
         |        epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us FROM events)
         |GROUP BY event_type, bucket_us""".stripMargin
    q(
      "promql_delta_gauge",
      s"""SELECT event_type, bucket_us,
         |  (last_v - first_v) * ${oracleExtrapolation(counterZeroClamp = false)} AS delta
         |FROM ($oracleGaugeStats)
         |WHERE n >= 2 ORDER BY event_type, bucket_us""".stripMargin,
      byEventType
    ) { points => perSeries(points, "delta(ev[1d])", "delta") }
  }

  /** `irate(v[..])` — instantaneous rate from the last two samples per
    * series, with the counter-reset branch (curr < prev → curr/dt)
    * (reference querier_metrics_rate.go irate/idelta SQL offload); the
    * range covers every sample, so the last two are the series' last.
    */
  val irate: Q = q(
    "promql_irate",
    """SELECT event_type,
      |  CASE WHEN last_v < prev_v THEN last_v / dt ELSE (last_v - prev_v) / dt END AS irate
      |FROM (
      |  SELECT event_type,
      |    MAX(CASE WHEN rn = 1 THEN value END) AS last_v,
      |    MAX(CASE WHEN rn = 2 THEN value END) AS prev_v,
      |    CAST(MAX(CASE WHEN rn = 1 THEN ts_us END)
      |       - MAX(CASE WHEN rn = 2 THEN ts_us END) AS DOUBLE) / 1e6 AS dt
      |  FROM (
      |    SELECT event_type, value, epoch_us(ts) AS ts_us,
      |      row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events)
      |  WHERE rn <= 2 GROUP BY event_type)
      |ORDER BY event_type""".stripMargin,
    byEventType
  ) { points =>
    PromQL.range("irate(ev[100000d])", points)
      .select(label("et").as("event_type"), col("value").as("irate"))
      .orderBy("event_type")
  }

  /** scalar⚬vector binop with comparison filter: `v * 2 > 150` keeps
    * matching samples; the `bool` modifier yields 0/1 (reference
    * logqlmetric/bin_op.go:194-254 scalar path — same for PromQL).
    */
  val scalarBinop: Q = q(
    "promql_scalar_binop",
    s"""SELECT bucket_ns, event_type, n * 2 AS doubled,
       |  CASE WHEN n > 100 THEN 1 ELSE 0 END AS gt100_bool
       |FROM (
       |  SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns, event_type, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2)
       |WHERE n * 2 > 150
       |ORDER BY bucket_ns, event_type""".stripMargin,
    byEventType
  ) { points =>
    def perType(query: String, out: String, tpe: String): DataFrame =
      PromQL.range(query, points)
        .select(col("bucket_us"), label("et").as("event_type"),
          col("value").cast(tpe).as(out))
    perType("sum by (et) (count_over_time(ev[1d])) * 2 > 150", "doubled", "long")
      .join(perType("sum by (et) (count_over_time(ev[1d])) > bool 100",
        "gt100_bool", "int"), Seq("bucket_us", "event_type"))
      .select((col("bucket_us") * 1000).as("bucket_ns"), col("event_type"),
        col("doubled"), col("gt100_bool"))
      .orderBy("bucket_ns", "event_type")
  }

  /** Vector agg over count_over_time. */
  val promqlSumCount: Q = q(
    "promql_e2e_sum_count",
    s"""SELECT epoch_us(ts) - epoch_us(ts) % ${21600L * 1000000} AS bucket_us,
       |  CAST(user_id % 4 AS VARCHAR) AS svc, CAST(COUNT(*) AS DOUBLE) AS value
       |FROM events WHERE event_type = 'click'
       |GROUP BY bucket_us, svc ORDER BY bucket_us, svc""".stripMargin
  ) { points =>
    PromQL.range("""sum by (svc) (count_over_time(click[6h]))""", points)
      .select(col("bucket_us"), label("svc").as("svc"), col("value"))
      .orderBy("bucket_us", "svc")
  }

  /** increase with counter-reset correction + extrapolation — the full
    * prom_math path end-to-end.
    */
  val promqlIncrease: Q = {
    val resultSql = "(last_v - first_v + corr)"
    q(
      "promql_e2e_increase",
      s"""SELECT bucket_us, svc,
         |  $resultSql * ${PromMath.oracleExtrapolation(counterZeroClamp = true, resultSql)} AS value
         |FROM (
         |  SELECT svc, bucket_us, COUNT(*) AS n,
         |    MIN(ts_us) AS first_ts_us, MAX(ts_us) AS last_ts_us,
         |    ARG_MIN(value, ts_us) AS first_v, ARG_MAX(value, ts_us) AS last_v,
         |    CAST(COALESCE(SUM(CAST(CASE WHEN value < prev THEN prev END AS DECIMAL(18,4))), 0) AS DOUBLE) AS corr
         |  FROM (
         |    SELECT svc, value, ts_us, bucket_us,
         |      lag(value) OVER (PARTITION BY svc, bucket_us ORDER BY ts_us) AS prev
         |    FROM (
         |      SELECT CAST(user_id % 4 AS VARCHAR) AS svc, value, epoch_us(ts) AS ts_us,
         |        epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us
         |      FROM events WHERE event_type = 'error'))
         |  GROUP BY svc, bucket_us)
         |WHERE n >= 2 ORDER BY bucket_us, svc""".stripMargin
    ) { points =>
      PromQL.range("""increase(error[1d])""", points)
        .select(col("bucket_us"), label("svc").as("svc"), col("value"))
        .orderBy("bucket_us", "svc")
    }
  }

  /** Instant as-of query. */
  val promqlInstant: Q = {
    val tUs = 1705276800000000L // 2024-01-15T00:00:00Z in µs
    val lookbackUs = 86400000000L
    q(
      "promql_e2e_instant",
      s"""SELECT svc, value, ts_us FROM (
         |  SELECT CAST(user_id % 4 AS VARCHAR) AS svc, value, epoch_us(ts) AS ts_us,
         |    row_number() OVER (PARTITION BY user_id % 4 ORDER BY ts DESC) AS rn
         |  FROM events
         |  WHERE event_type = 'error' AND user_id % 4 = 2
         |    AND epoch_us(ts) <= $tUs AND epoch_us(ts) > ${tUs - lookbackUs})
         |WHERE rn = 1 ORDER BY svc""".stripMargin
    ) { points =>
      PromQL.instant("""error{svc="2"}""", points, evalTsUs = tUs, lookbackUs = lookbackUs)
        .select(label("svc").as("svc"), col("value"), col("ts_us"))
        .orderBy("svc")
    }
  }

  val planned: Seq[Q] = Seq(
    instantVector, rateExtrapolated, increase, deltaGauge, irate, scalarBinop,
    promqlSumCount, promqlIncrease, promqlInstant)

  // ---------- gaps ----------
  // Hand-built frames the planner cannot yet match against their
  // (unchanged) oracles; each names the reason. COVERAGE.md lists them.

  private def gap(name: String, oracle: String)(f: Testdata => DataFrame): Q =
    Q(name, (s: SparkSession, dir: String) => f(Testdata(s, dir)), Some(oracle))

  /** GAP: histogram_quantile needs cumulative `le`-bucket series; the
    * events table holds raw samples, and bucketing them is the
    * aggregation this entry checks. `histogram_quantile(0.9, ...)` over
    * fixed le buckets
    * {50,100,200,300,+Inf}: Prometheus in-bucket linear interpolation,
    * +Inf falls back to the highest finite upper bound (reference
    * querier_metrics_hist.go:17-270 + upstream bucketQuantile).
    */
  val histogramQuantile: Q = gap(
    "promql_histogram_quantile",
    """SELECT event_type,
      |  ROUND(CASE
      |    WHEN rank <= n1 THEN 0 + 50.0 * (rank / n1)
      |    WHEN rank <= n2 THEN 50 + 50.0 * ((rank - n1) / (n2 - n1))
      |    WHEN rank <= n3 THEN 100 + 100.0 * ((rank - n2) / (n3 - n2))
      |    WHEN rank <= n4 THEN 200 + 100.0 * ((rank - n3) / (n4 - n3))
      |    ELSE 300.0 END, 6) AS q90
      |FROM (
      |  SELECT event_type,
      |    0.9 * COUNT(*) AS rank,
      |    CAST(COUNT(*) FILTER (WHERE value <= 50) AS DOUBLE) AS n1,
      |    CAST(COUNT(*) FILTER (WHERE value <= 100) AS DOUBLE) AS n2,
      |    CAST(COUNT(*) FILTER (WHERE value <= 200) AS DOUBLE) AS n3,
      |    CAST(COUNT(*) FILTER (WHERE value <= 300) AS DOUBLE) AS n4
      |  FROM events GROUP BY event_type)
      |ORDER BY event_type""".stripMargin
  ) { td =>
    val st = td.events
      .groupBy(col("event_type"))
      .agg(
        (count(lit(1)) * 0.9).as("rank"),
        count(when(col("value") <= 50, 1)).cast("double").as("n1"),
        count(when(col("value") <= 100, 1)).cast("double").as("n2"),
        count(when(col("value") <= 200, 1)).cast("double").as("n3"),
        count(when(col("value") <= 300, 1)).cast("double").as("n4"))
    st.select(col("event_type"),
        when(col("rank") <= col("n1"), col("rank") / col("n1") * 50.0 + 0)
          .when(col("rank") <= col("n2"),
            lit(50) + (col("rank") - col("n1")) / (col("n2") - col("n1")) * 50.0)
          .when(col("rank") <= col("n3"),
            lit(100) + (col("rank") - col("n2")) / (col("n3") - col("n2")) * 100.0)
          .when(col("rank") <= col("n4"),
            lit(200) + (col("rank") - col("n3")) / (col("n4") - col("n3")) * 100.0)
          .otherwise(300.0).as("q90_raw"))
      .select(col("event_type"), round(col("q90_raw"), 6).as("q90"))
      .orderBy("event_type")
  }

  /** GAP: the series endpoint lists label sets, not first/last-seen
    * times or point counts; no query string yields this row.
    * Series metadata: per-series identity rollup — the
    * metrics_timeseries AggregatingMergeTree analogue (reference
    * querier_metrics_labels.go:24-296, columns_metrics.go:66-70).
    */
  val seriesMetadata: Q = gap(
    "promql_series_metadata",
    """SELECT event_type AS series, user_id % 4 AS svc,
      |  MIN(epoch_us(ts)) AS first_seen_us, MAX(epoch_us(ts)) AS last_seen_us,
      |  COUNT(*) AS n_points
      |FROM events GROUP BY series, svc ORDER BY series, svc""".stripMargin
  ) { td =>
    td.events
      .groupBy(col("event_type").as("series"), (col("user_id") % 4).as("svc"))
      .agg(
        min(expr("ts div 1000")).as("first_seen_us"),
        max(expr("ts div 1000")).as("last_seen_us"),
        count(lit(1)).as("n_points"))
      .orderBy("series", "svc")
  }

  val gaps: Seq[Q] = Seq(histogramQuantile, seriesMetadata)

  override def queries: Seq[Q] = planned ++ gaps
}
