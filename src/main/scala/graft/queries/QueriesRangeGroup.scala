package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.logql.Planner
import graft.sources.Testdata

/** Range-aggregation grouping `op(...) by (l)` / `without (l)` through
  * the LogQL front-end (reference metric_expr.go:48-60 validation,
  * logqlengine/logqlmetric/range_agg.go:73-93 semantics).
  *
  * The semantic pitfall these pin: the grouper keys the WINDOW map, so
  * samples regroup on the label subset BEFORE the windowed aggregation.
  * `avg_over_time(...) by (et)` pools every sample of an `et` across
  * streams into one average — NOT a per-stream average re-averaged,
  * which is what the (different) `avg by (et) (avg_over_time(...))`
  * nesting computes.
  *
  * Determinism: unwrapped values are integer user_ids, so double sums
  * are exact (< 2^53) in any order; the avg division is one IEEE op on
  * both sides.
  *
  * Scale: grouping-before-agg REDUCES shuffle cardinality (fewer, fatter
  * groups than per-stream keys) and the partial agg is map-side.
  */
object QueriesRangeGroup extends QueryPack {

  private val DayNs = 86400000000000L

  /** `avg_over_time({} | unwrap user_id [1d]) by (event_type)` — one
    * pooled average per (bucket, event_type), across all user streams.
    */
  val rangeAggBy: Q = Q(
    "logql_e2e_rangeagg_by",
    (s: SparkSession, dir: String) =>
      Planner.query(
          """avg_over_time({} | unwrap user_id [1d]) by (event_type)""",
          Views.logs(Testdata(s, dir)))
        .select(col("bucket_ns"),
          element_at(col("labels"), "event_type").as("event_type"), col("value"))
        .orderBy("bucket_ns", "event_type"),
    Some(
      s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
         |  event_type, CAST(SUM(user_id) AS DOUBLE) / COUNT(*) AS value
         |FROM events GROUP BY 1, 2 ORDER BY bucket_ns, event_type""".stripMargin))

  /** `max_over_time({} | unwrap user_id [1d]) without (user_id)` —
    * dropping the unwrapped label regroups to the remaining labels.
    */
  val rangeAggWithout: Q = Q(
    "logql_e2e_rangeagg_without",
    (s: SparkSession, dir: String) =>
      Planner.query(
          """max_over_time({} | unwrap user_id [1d]) without (user_id)""",
          Views.logs(Testdata(s, dir)))
        .select(col("bucket_ns"),
          element_at(col("labels"), "event_type").as("event_type"), col("value"))
        .orderBy("bucket_ns", "event_type"),
    Some(
      s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
         |  event_type, CAST(MAX(user_id) AS DOUBLE) AS value
         |FROM events GROUP BY 1, 2 ORDER BY bucket_ns, event_type""".stripMargin))

  /** `quantile_over_time(0.5, {} | unwrap user_id [1d]) by (event_type)`
    * — grouped exact rank-interpolated quantile; interpolation between
    * two integers is a single IEEE op on both sides.
    */
  val rangeAggQuantileBy: Q = Q(
    "logql_e2e_rangeagg_quantile_by",
    (s: SparkSession, dir: String) =>
      Planner.query(
          """quantile_over_time(0.5, {} | unwrap user_id [1d]) by (event_type)""",
          Views.logs(Testdata(s, dir)))
        .select(col("bucket_ns"),
          element_at(col("labels"), "event_type").as("event_type"), col("value"))
        .orderBy("bucket_ns", "event_type"),
    Some(
      s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
         |  event_type, quantile_cont(CAST(user_id AS DOUBLE), 0.5) AS value
         |FROM events GROUP BY 1, 2 ORDER BY bucket_ns, event_type""".stripMargin))

  /** `approx_quantile_over_time(0.5, …) by (event_type)` — the
    * parity-plus mergeable-sketch quantile (constant space per series;
    * the 100 TB path for unbounded windows). Below the GK head-buffer
    * threshold the sketch retains every sample, so the answer is the
    * exact discrete quantile and DuckDB's quantile_disc pins it.
    */
  val rangeAggApproxQuantile: Q = Q(
    "logql_approx_quantile",
    (s: SparkSession, dir: String) =>
      Planner.query(
          """approx_quantile_over_time(0.5, {} | unwrap user_id [1d]) by (event_type)""",
          Views.logs(Testdata(s, dir)))
        .select(col("bucket_ns"),
          element_at(col("labels"), "event_type").as("event_type"), col("value"))
        .orderBy("bucket_ns", "event_type"),
    Some(
      s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
         |  event_type, quantile_disc(CAST(user_id AS DOUBLE), 0.5) AS value
         |FROM events GROUP BY 1, 2 ORDER BY bucket_ns, event_type""".stripMargin))

  /** Log volume grouped by target label (Grafana drilldown; reference
    * lokihandler.go:495-551 — sum by (agg) count_over_time collapses
    * to one grouped count).
    */
  val volumeByTarget: Q = Q(
    "logql_volume",
    (s: SparkSession, dir: String) =>
      graft.logql.Discovery.volume(
          Views.logs(Testdata(s, dir)),
          """{event_type=~".+"}""", Seq("event_type"))
        .select(element_at(col("labels"), "event_type").as("event_type"),
          col("value")),
    Some("""SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS value
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

  /** DetectedLabels: stream-label cardinality rollup (reference
    * querier_logs.go:246-330).
    */
  val detectedLabelsQ: Q = Q(
    "logql_detected_labels",
    (s: SparkSession, dir: String) =>
      graft.logql.Discovery.detectedLabels(Views.logs(Testdata(s, dir))),
    Some("""SELECT 'event_type' AS label,
           |  COUNT(DISTINCT event_type) AS cardinality FROM events
           |UNION ALL
           |SELECT 'user_id', COUNT(DISTINCT CAST(user_id AS VARCHAR)) FROM events
           |ORDER BY label""".stripMargin))

  /** DetectedFields: JSON-body field discovery with type deduction +
    * cardinality (reference querier_logs.go:361-470; the `k` field of
    * the events props JSON is integral → type int).
    */
  val detectedFieldsQ: Q = Q(
    "logql_detected_fields",
    (s: SparkSession, dir: String) =>
      graft.logql.Discovery.detectedFields(Views.logs(Testdata(s, dir))),
    Some("""SELECT 'k' AS label, 'int' AS type,
           |  COUNT(DISTINCT json_extract_string(props, '$.k')) AS cardinality
           |FROM events""".stripMargin))

  override def queries: Seq[Q] = Seq(rangeAggBy, rangeAggWithout,
    rangeAggQuantileBy, rangeAggApproxQuantile, volumeByTarget,
    detectedLabelsQ, detectedFieldsQ)
}
