package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.logql.Planner
import graft.promql.PromQL
import graft.sources.Testdata
import graft.traceql.TraceQL

/** Grammar-completeness sweep, every query through a REAL front-end:
  * LogQL pattern line filters / unpack / json path args, TraceQL
  * symbolic status + by()/select() pipeline, PromQL offset / bool /
  * without() / stddev / quantile / histogram_quantile.
  */
object QueriesGrammar extends QueryPack {

  private val DayNs = 86400000000000L
  private val DayUs = 86400000000L

  /** Ingest-materialized attr-count rollup for compare(): pre-exploded
    * (day bucket × status/kind/name dims × attr × value) counts, built
    * once per sf dir — the per-query compare() plan scans THIS table
    * and never the spans. Partitioned on bucket_ns so the ~32-file
    * layout spreads the scan across cores.
    */
  private def compareCube(td: Testdata): TraceQL.AttrCube =
    TraceQL.AttrCube(
      Fixtures.materialized(td.spark, td.dir, "grcube", "bucket_ns") {
        TraceQL.compareAttrCounts(Views.spans(td),
          Seq("name", "kind", "status_code"))
      }, DayNs)

  private val oracleSpans =
    """SELECT l_orderkey AS trace_id, l_linenumber AS span_id,
      |  l_returnflag AS returnflag, l_linestatus AS linestatus,
      |  l_quantity AS quantity
      |FROM lineitem""".stripMargin

  /** `|>` / `!>` pattern line filters through the parser — `<_>`
    * wildcards compile to one anchored regex; on single-line bodies
    * they are containment semantics.
    */
  val patternFilter: Q = Q(
    "logql_e2e_pattern_filter",
    (s: SparkSession, dir: String) =>
      Planner.query(
          """sum by (event_type) (count_over_time({event_type="error"} |> `<_>"k": 7<_>` !> `<_>"k": 71<_>` [1d]))""",
          Views.logs(Testdata(s, dir)))
        .select(col("bucket_ns"),
          element_at(col("labels"), "event_type").as("event_type"), col("value"))
        .orderBy("bucket_ns"),
    Some(
      s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
         |  event_type, CAST(COUNT(*) AS DOUBLE) AS value
         |FROM events
         |WHERE event_type = 'error'
         |  AND contains(props, '"k": 7') AND NOT contains(props, '"k": 71')
         |GROUP BY bucket_ns, event_type ORDER BY bucket_ns""".stripMargin))

  /** `| unpack` through the parser: packed JSON fields become stream
    * labels (promtail pack format, logqlengine/unpack.go).
    */
  val unpackE2e: Q = Q(
    "logql_e2e_unpack",
    (s: SparkSession, dir: String) => {
      val td = Testdata(s, dir)
      val packed = td.events.select(
        col("ts").as("ts_ns"),
        concat(lit("{\"_entry\":\"line-"), col("event_id"),
          lit("\",\"lvl\":\""), col("event_type"), lit("\"}")).as("body"),
        map(lit("job"), lit("pack")).as("labels"))
      Planner.query("""sum by (lvl) (count_over_time({} | unpack [1d]))""", packed)
        .select(col("bucket_ns"),
          element_at(col("labels"), "lvl").as("lvl"), col("value"))
        .orderBy("bucket_ns", "lvl")
    },
    Some(
      s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
         |  event_type AS lvl, CAST(COUNT(*) AS DOUBLE) AS value
         |FROM events GROUP BY bucket_ns, lvl
         |ORDER BY bucket_ns, lvl""".stripMargin))

  /** `| json a="path"` JSONPath args through the parser, with a path
    * into an array and a numeric label filter on the second path.
    */
  val jsonPathsE2e: Q = Q(
    "logql_e2e_json_paths",
    (s: SparkSession, dir: String) => {
      val td = Testdata(s, dir)
      val nested = td.events.select(
        col("ts").as("ts_ns"),
        concat(lit("{\"a\":{\"b\":"), col("user_id"),
          lit("},\"arr\":[1,"), col("event_id") % 100, lit("]}")).as("body"),
        map(lit("event_type"), col("event_type")).as("labels"))
      Planner.query(
          """sum by (event_type) (sum_over_time({} | json ab="a.b", a1="arr[1]" | a1 > 50 | unwrap ab [1d]))""",
          nested)
        .select(col("bucket_ns"),
          element_at(col("labels"), "event_type").as("event_type"), col("value"))
        .orderBy("bucket_ns", "event_type")
    },
    Some(
      s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns, event_type,
         |  CAST(SUM(user_id) AS DOUBLE) AS value
         |FROM events WHERE event_id % 100 > 50
         |GROUP BY bucket_ns, event_type
         |ORDER BY bucket_ns, event_type""".stripMargin))

  /** TraceQL by()/select() pipeline through the parser. */
  val bySelectE2e: Q = Q(
    "traceql_e2e_by_select",
    (s: SparkSession, dir: String) =>
      TraceQL.plan(
          """{ quantity > 20 } | by(linestatus) | count() > 3 | select(quantity)""",
          Views.spans(Testdata(s, dir)))
        .select(col("trace_id"), col("by_value"), col("n_spans"),
          col("agg_value"), col("quantity_sum")),
    Some(
      s"""WITH spans AS ($oracleSpans)
         |SELECT trace_id, linestatus AS by_value, COUNT(*) AS n_spans,
         |  CAST(COUNT(*) AS DOUBLE) AS agg_value,
         |  CAST(SUM(CAST(quantity AS DECIMAL(18,4))) AS DOUBLE) AS quantity_sum
         |FROM spans WHERE quantity > 20
         |GROUP BY trace_id, by_value HAVING COUNT(*) > 3
         |ORDER BY trace_id, by_value""".stripMargin))

  /** `status = error` symbolic literal through the parser. */
  val statusLiteralE2e: Q = Q(
    "traceql_e2e_status_literal",
    (s: SparkSession, dir: String) =>
      TraceQL.plan("""{ status = error } | count() >= 2""",
          Views.spans(Testdata(s, dir)))
        .select(col("trace_id"), col("n_spans"), col("agg_value")),
    Some(
      s"""WITH spans AS ($oracleSpans)
         |SELECT trace_id, COUNT(*) AS n_spans, CAST(COUNT(*) AS DOUBLE) AS agg_value
         |FROM spans WHERE returnflag = 'R'
         |GROUP BY trace_id HAVING COUNT(*) >= 2
         |ORDER BY trace_id""".stripMargin))

  /** `offset` modifier through the PromQL parser: the window shifts
    * back, the reported bucket shifts forward.
    */
  val offsetE2e: Q = Q(
    "promql_e2e_offset",
    (s: SparkSession, dir: String) =>
      PromQL.range("""sum by (svc) (count_over_time(ev[1d] offset 1d))""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"), col("value"))
        .orderBy("bucket_us", "svc"),
    Some(
      s"""SELECT (epoch_us(ts) + $DayUs) - (epoch_us(ts) + $DayUs) % $DayUs AS bucket_us,
         |  CAST(user_id % 4 AS VARCHAR) AS svc, CAST(COUNT(*) AS DOUBLE) AS value
         |FROM events GROUP BY bucket_us, svc
         |ORDER BY bucket_us, svc""".stripMargin))

  /** `bool` modifier: comparison keeps every series with a 0/1 value. */
  val boolE2e: Q = Q(
    "promql_e2e_bool",
    (s: SparkSession, dir: String) =>
      PromQL.range("""count_over_time(ev[1d]) > bool 100""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          element_at(col("labels"), "et").as("et"), col("value"))
        .orderBy("bucket_us", "svc", "et"),
    Some(
      s"""SELECT bucket_us, svc, et,
         |  CASE WHEN n > 100 THEN 1.0 ELSE 0.0 END AS value
         |FROM (
         |  SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |    CAST(user_id % 4 AS VARCHAR) AS svc, event_type AS et, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2, 3)
         |ORDER BY bucket_us, svc, et""".stripMargin))

  /** `quantile without (…) (φ, …)` — exact interpolation, grouped by
    * dropping labels.
    */
  val quantileWithoutE2e: Q = Q(
    "promql_e2e_quantile_without",
    (s: SparkSession, dir: String) =>
      PromQL.range("""quantile without (et) (0.9, count_over_time(ev[1d]))""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          round(col("value"), 6).as("value"))
        .orderBy("bucket_us", "svc"),
    Some(
      s"""SELECT bucket_us, svc, round(quantile_cont(n, 0.9), 6) AS value
         |FROM (
         |  SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |    CAST(user_id % 4 AS VARCHAR) AS svc, event_type,
         |    CAST(COUNT(*) AS DOUBLE) AS n
         |  FROM events GROUP BY 1, 2, 3)
         |GROUP BY bucket_us, svc ORDER BY bucket_us, svc""".stripMargin))

  /** `stddev by (…)` population deviation across series. */
  val stddevE2e: Q = Q(
    "promql_e2e_stddev",
    (s: SparkSession, dir: String) =>
      PromQL.range("""stddev by (svc) (count_over_time(ev[1d]))""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          round(col("value"), 6).as("value"))
        .orderBy("bucket_us", "svc"),
    Some(
      s"""SELECT bucket_us, svc, round(stddev_pop(n), 6) AS value
         |FROM (
         |  SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |    CAST(user_id % 4 AS VARCHAR) AS svc, event_type,
         |    CAST(COUNT(*) AS DOUBLE) AS n
         |  FROM events GROUP BY 1, 2, 3)
         |GROUP BY bucket_us, svc ORDER BY bucket_us, svc""".stripMargin))

  /** histogram_quantile() over cumulative le buckets built by exploding
    * each sample into every bucket it falls under (classic-histogram
    * cumulative data model), then Prometheus bucket interpolation.
    */
  val histQuantileE2e: Q = Q(
    "promql_e2e_hist_quantile",
    (s: SparkSession, dir: String) => {
      val td = Testdata(s, dir)
      val thresholds = Seq(10, 100, 400)
      val les = array((thresholds.map(t =>
        when(col("value") <= t, lit(t.toString))) :+ lit("+Inf")): _*)
      val bucketed = td.events.select(
        expr("ts div 1000").as("ts_us"),
        lit("bkt").as("name"),
        lit(1.0).as("value"),
        explode(array_compact(les)).as("le"))
        .select(col("ts_us"), col("name"), col("value"),
          map(lit("le"), col("le")).as("labels"))
      PromQL.range("""histogram_quantile(0.9, sum by (le) (count_over_time(bkt[1d])))""",
          bucketed)
        .select(col("bucket_us"), round(col("value"), 6).as("value"))
        .orderBy("bucket_us")
    },
    Some(
      s"""SELECT bucket_us, round(CASE
         |    WHEN r <= c10 THEN 0.0 + (10.0 - 0.0) * (r - 0.0) / (c10 - 0.0)
         |    WHEN r <= c100 THEN 10.0 + (100.0 - 10.0) * (r - c10) / (c100 - c10)
         |    WHEN r <= c400 THEN 100.0 + (400.0 - 100.0) * (r - c100) / (c400 - c100)
         |    ELSE 400.0 END, 6) AS value
         |FROM (
         |  SELECT bucket_us,
         |    CAST(COUNT(*) FILTER (WHERE value <= 10) AS DOUBLE) AS c10,
         |    CAST(COUNT(*) FILTER (WHERE value <= 100) AS DOUBLE) AS c100,
         |    CAST(COUNT(*) FILTER (WHERE value <= 400) AS DOUBLE) AS c400,
         |    0.9 * CAST(COUNT(*) AS DOUBLE) AS r
         |  FROM (SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us, value
         |        FROM events)
         |  GROUP BY bucket_us)
         |ORDER BY bucket_us""".stripMargin))

  /** Views.spans + the full intrinsic surface: statusMessage,
    * instrumentation scope, event/link arrays, resource service.name.
    */
  private def richSpansView(td: Testdata): DataFrame =
    Views.spans(td)
      .withColumn("status_message",
        when(col("status_code") === 2, lit("forced error")).otherwise(lit("")))
      .withColumn("scope_name",
        concat(lit("lib-"), element_at(col("attrs"), "linestatus")))
      .withColumn("scope_version", lit("1.0"))
      .withColumn("events", array(struct(
        concat(lit("ev-"), element_at(col("attrs"), "linestatus")).as("name"),
        (col("start_ns") + 1000L).as("ts_ns"))))
      .withColumn("links", when(col("parent_span_id").isNotNull,
        array(struct(col("trace_id").as("trace_id"),
          col("parent_span_id").as("span_id"))))
        .otherwise(array().cast("array<struct<trace_id:bigint,span_id:int>>")))
      .withColumn("attrs", map_concat(col("attrs"),
        map(lit("service.name"),
          concat(lit("svc-"), element_at(col("attrs"), "returnflag")))))

  /** `select()` over the event:/link: ARRAY scopes: the distinct field
    * values across each spanset surface as one sorted comma-joined
    * column (event names, link span ids) next to the span count —
    * array-scope projection, not a numeric sum (reference select()
    * projects fields onto returned spans; the array scopes quantify
    * like the event/link predicates).
    */
  val selectArraysE2e: Q = Q(
    "traceql_e2e_select_arrays",
    (s: SparkSession, dir: String) =>
      TraceQL.plan("""{ } | select(event:name, link:spanID)""",
          richSpansView(Testdata(s, dir)))
        .select(col("trace_id"), col("n_spans"),
          col("event_name_vals"), col("link_spanID_vals")),
    Some(
      s"""WITH spans AS (
         |  SELECT l_orderkey AS trace_id, l_linenumber AS span_id,
         |    CASE WHEN l_linenumber > 1 THEN CAST(l_linenumber // 2 AS INT) END AS parent_span_id,
         |    l_linestatus AS linestatus
         |  FROM lineitem),
         |ev AS (SELECT DISTINCT trace_id, 'ev-' || linestatus AS v FROM spans),
         |evs AS (SELECT trace_id, string_agg(v, ',' ORDER BY v) AS vals
         |        FROM ev GROUP BY trace_id),
         |lk AS (SELECT DISTINCT trace_id, CAST(parent_span_id AS VARCHAR) AS v
         |       FROM spans WHERE parent_span_id IS NOT NULL),
         |lks AS (SELECT trace_id, string_agg(v, ',' ORDER BY v) AS vals
         |        FROM lk GROUP BY trace_id),
         |n AS (SELECT trace_id, COUNT(*) AS n_spans FROM spans GROUP BY trace_id)
         |SELECT n.trace_id, n.n_spans,
         |  COALESCE(evs.vals, '') AS event_name_vals,
         |  COALESCE(lks.vals, '') AS link_spanID_vals
         |FROM n LEFT JOIN evs USING (trace_id) LEFT JOIN lks USING (trace_id)
         |ORDER BY n.trace_id""".stripMargin))

  /** statusMessage + span:parentID scoped intrinsics through the parser. */
  val scopedIntrinsicsE2e: Q = Q(
    "traceql_e2e_scoped_intrinsics",
    (s: SparkSession, dir: String) =>
      TraceQL.plan("""{ statusMessage = "forced error" && span:parentID = 1 } | count() >= 1""",
          richSpansView(Testdata(s, dir)))
        .select(col("trace_id"), col("n_spans"), col("agg_value")),
    Some(
      s"""WITH spans AS ($oracleSpans)
         |SELECT trace_id, COUNT(*) AS n_spans, CAST(COUNT(*) AS DOUBLE) AS agg_value
         |FROM spans
         |WHERE returnflag = 'R' AND span_id // 2 = 1 AND span_id > 1
         |GROUP BY trace_id HAVING COUNT(*) >= 1
         |ORDER BY trace_id""".stripMargin))

  /** event:name and link:spanID array quantifiers through the parser. */
  val eventLinkE2e: Q = Q(
    "traceql_e2e_event_link",
    (s: SparkSession, dir: String) =>
      TraceQL.plan("""{ event:name = "ev-F" && link:spanID = 2 }""",
          richSpansView(Testdata(s, dir)))
        .select(col("trace_id"), col("n_spans")),
    Some(
      s"""WITH spans AS ($oracleSpans)
         |SELECT trace_id, COUNT(*) AS n_spans FROM spans
         |WHERE linestatus = 'F' AND span_id // 2 = 2 AND span_id > 1
         |GROUP BY trace_id ORDER BY trace_id""".stripMargin))

  /** rootServiceName (trace-level window) + instrumentation:name. */
  val rootServiceE2e: Q = Q(
    "traceql_e2e_root_service",
    (s: SparkSession, dir: String) =>
      TraceQL.plan("""{ rootServiceName = "svc-A" && instrumentation:name = "lib-F" }""",
          richSpansView(Testdata(s, dir)))
        .select(col("trace_id"), col("n_spans")),
    Some(
      s"""WITH spans AS ($oracleSpans)
         |SELECT trace_id, COUNT(*) AS n_spans FROM spans s
         |WHERE linestatus = 'F'
         |  AND (SELECT min('svc-' || r.returnflag) FROM spans r
         |       WHERE r.trace_id = s.trace_id AND r.span_id = 1) = 'svc-A'
         |GROUP BY trace_id ORDER BY trace_id""".stripMargin))

  /** RE2 syntax through the shim: POSIX classes and a literal `{` that
    * Java would reject — DuckDB matches with RE2 natively, so the
    * oracle uses the raw RE2 patterns.
    */
  val re2E2e: Q = Q(
    "logql_e2e_re2",
    (s: SparkSession, dir: String) =>
      Planner.query(
          """sum by (event_type) (count_over_time({event_type=~"[[:lower:]]+"} |~ `"k": [[:digit:]][[:digit:]]` |~ "^{" [1d]))""",
          Views.logs(Testdata(s, dir)))
        .select(col("bucket_ns"),
          element_at(col("labels"), "event_type").as("event_type"), col("value"))
        .orderBy("bucket_ns", "event_type"),
    Some(
      s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
         |  event_type, CAST(COUNT(*) AS DOUBLE) AS value
         |FROM events
         |WHERE regexp_matches(event_type, '^(?:[[:lower:]]+)$$')
         |  AND regexp_matches(props, '"k": [[:digit:]][[:digit:]]')
         |  AND regexp_matches(props, '^{')
         |GROUP BY bucket_ns, event_type
         |ORDER BY bucket_ns, event_type""".stripMargin))

  /** parent-scope refs through the parser: condition on the parent
    * span's attributes via a co-partitioned self-join.
    */
  val parentScopeE2e: Q = Q(
    "traceql_e2e_parent_scope",
    (s: SparkSession, dir: String) =>
      TraceQL.plan("""{ parent.returnflag = "R" && quantity > 40 }""",
          Views.spans(Testdata(s, dir)))
        .select(col("trace_id"), col("n_spans")),
    Some(
      s"""WITH spans AS (SELECT l_orderkey AS trace_id, l_linenumber AS span_id,
         |  CASE WHEN l_linenumber > 1 THEN l_linenumber // 2 END AS parent_span_id,
         |  l_returnflag AS returnflag, l_quantity AS quantity FROM lineitem)
         |SELECT c.trace_id, COUNT(*) AS n_spans
         |FROM spans c JOIN spans p
         |  ON p.trace_id = c.trace_id AND p.span_id = c.parent_span_id
         |WHERE p.returnflag = 'R' AND c.quantity > 40
         |GROUP BY c.trace_id ORDER BY c.trace_id""".stripMargin))

  /** TraceQL metrics through the parser: `{status=error} | rate() by(…)`
    * on a daily step grid.
    */
  val metricsE2e: Q = Q(
    "traceql_e2e_metrics_rate",
    (s: SparkSession, dir: String) =>
      TraceQL.planMetrics("""{ status = error } | rate() | by(linestatus)""",
          Views.spans(Testdata(s, dir)), stepNs = 86400000000000L)
        .select(col("bucket_ns"), col("by_value"), col("value")),
    Some(
      s"""SELECT CAST(epoch(l_shipdate) AS BIGINT) * 1000000000
         |    - (CAST(epoch(l_shipdate) AS BIGINT) * 1000000000) % 86400000000000 AS bucket_ns,
         |  l_linestatus AS by_value, CAST(COUNT(*) AS DOUBLE) / 86400.0 AS value
         |FROM lineitem WHERE l_returnflag = 'R'
         |GROUP BY bucket_ns, by_value ORDER BY bucket_ns, by_value""".stripMargin))

  // --- TraceQL metrics family (reference parses the full set,
  // traceql/metrics_expr.go:23-145 + second-stage op.go:350-416; its
  // engine is NotImplemented — we execute them on the windowed-agg core).
  // Det notes: min over 2-decimal values is order-free; avg/sum/quantile
  // use integral duration_ns so double accumulation is exact.

  private val bucketNs =
    """CAST(epoch(l_shipdate) AS BIGINT) * 1000000000
      |    - (CAST(epoch(l_shipdate) AS BIGINT) * 1000000000) % 86400000000000""".stripMargin

  val metricsMin: Q = Q(
    "traceql_metrics_min",
    (s: SparkSession, dir: String) =>
      TraceQL.planMetrics("""{ quantity > 10 } | min_over_time(quantity) | by(linestatus)""",
          Views.spans(Testdata(s, dir)), stepNs = 86400000000000L)
        .select(col("bucket_ns"), col("by_value"), col("value")),
    Some(
      s"""SELECT $bucketNs AS bucket_ns,
         |  l_linestatus AS by_value, CAST(min(l_quantity) AS DOUBLE) AS value
         |FROM lineitem WHERE l_quantity > 10
         |GROUP BY bucket_ns, by_value ORDER BY bucket_ns, by_value""".stripMargin))

  val metricsAvg: Q = Q(
    "traceql_metrics_avg",
    (s: SparkSession, dir: String) =>
      TraceQL.planMetrics("""{ status = error } | avg_over_time(duration) | by(linestatus)""",
          Views.spans(Testdata(s, dir)), stepNs = 86400000000000L)
        .select(col("bucket_ns"), col("by_value"), col("value")),
    Some(
      s"""SELECT $bucketNs AS bucket_ns, l_linestatus AS by_value,
         |  CAST(SUM(CAST(round(l_quantity * 1000000, 0) AS BIGINT)) AS DOUBLE)
         |    / COUNT(*) AS value
         |FROM lineitem WHERE l_returnflag = 'R'
         |GROUP BY bucket_ns, by_value ORDER BY bucket_ns, by_value""".stripMargin))

  val metricsSum: Q = Q(
    "traceql_metrics_sum",
    (s: SparkSession, dir: String) =>
      TraceQL.planMetrics("""{ linestatus = "F" } | sum_over_time(duration) | by(returnflag)""",
          Views.spans(Testdata(s, dir)), stepNs = 86400000000000L)
        .select(col("bucket_ns"), col("by_value"), col("value")),
    Some(
      s"""SELECT $bucketNs AS bucket_ns, l_returnflag AS by_value,
         |  CAST(SUM(CAST(round(l_quantity * 1000000, 0) AS BIGINT)) AS DOUBLE) AS value
         |FROM lineitem WHERE l_linestatus = 'F'
         |GROUP BY bucket_ns, by_value ORDER BY bucket_ns, by_value""".stripMargin))

  val metricsQuantile: Q = Q(
    "traceql_metrics_quantile",
    (s: SparkSession, dir: String) =>
      TraceQL.planMetrics("""{ quantity > 30 } | quantile_over_time(duration, 0.5) | by(linestatus)""",
          Views.spans(Testdata(s, dir)), stepNs = 86400000000000L)
        .select(col("bucket_ns"), col("by_value"), col("value")),
    Some(
      s"""SELECT $bucketNs AS bucket_ns, l_linestatus AS by_value,
         |  quantile_cont(CAST(round(l_quantity * 1000000, 0) AS BIGINT), 0.5) AS value
         |FROM lineitem WHERE l_quantity > 30
         |GROUP BY bucket_ns, by_value ORDER BY bucket_ns, by_value""".stripMargin))

  val metricsTopk: Q = Q(
    "traceql_metrics_topk",
    (s: SparkSession, dir: String) =>
      TraceQL.planMetrics("""{ quantity > 5 } | rate() | by(returnflag) | topk(2)""",
          Views.spans(Testdata(s, dir)), stepNs = 86400000000000L)
        .select(col("bucket_ns"), col("by_value"), col("value")),
    Some(
      s"""SELECT bucket_ns, by_value, value FROM (
         |  SELECT $bucketNs AS bucket_ns, l_returnflag AS by_value,
         |    CAST(COUNT(*) AS DOUBLE) / 86400.0 AS value
         |  FROM lineitem WHERE l_quantity > 5
         |  GROUP BY bucket_ns, by_value)
         |QUALIFY row_number() OVER (
         |  PARTITION BY bucket_ns ORDER BY value DESC, by_value) <= 2
         |ORDER BY bucket_ns, by_value""".stripMargin))

  /** `{} | compare({ status = error }, 2)` — selection/baseline split
    * with per-(group, attribute) top-2 value ranking (reference parses
    * + validates only, traceql/metrics_expr.go:59-96; semantics follow
    * Tempo's compare()). Det: counts are integers, ranking breaks ties
    * on the value string in both engines; quantity strings render
    * identically (integral doubles → "N.0") in Spark and DuckDB.
    */
  val metricsCompare: Q = Q(
    "traceql_metrics_compare",
    (s: SparkSession, dir: String) =>
      TraceQL.planMetrics("""{ } | compare({ status = error }, 2)""",
          Views.spans(Testdata(s, dir)), stepNs = 86400000000000L,
          cube = Some(compareCube(Testdata(s, dir))))
        .select(col("bucket_ns"), col("meta_type"), col("attr"),
          col("attr_value"), col("n")),
    Some(
      s"""WITH sp AS (
         |  SELECT CASE WHEN l_returnflag = 'R' THEN 'selection' ELSE 'baseline' END AS meta_type,
         |    $bucketNs AS bucket_ns,
         |    l_returnflag AS returnflag, l_linestatus AS linestatus,
         |    CAST(l_quantity AS VARCHAR) AS quantity
         |  FROM lineitem),
         |exploded AS (
         |  SELECT meta_type, bucket_ns, 'returnflag' AS attr, returnflag AS attr_value FROM sp
         |  UNION ALL
         |  SELECT meta_type, bucket_ns, 'linestatus', linestatus FROM sp
         |  UNION ALL
         |  SELECT meta_type, bucket_ns, 'quantity', quantity FROM sp),
         |counts AS (
         |  SELECT meta_type, attr, attr_value, bucket_ns,
         |    CAST(COUNT(*) AS DOUBLE) AS n
         |  FROM exploded GROUP BY 1, 2, 3, 4),
         |keep AS (
         |  SELECT meta_type, attr, attr_value FROM (
         |    SELECT meta_type, attr, attr_value,
         |      row_number() OVER (PARTITION BY meta_type, attr
         |        ORDER BY SUM(n) DESC, attr_value) AS rk
         |    FROM counts GROUP BY meta_type, attr, attr_value)
         |  WHERE rk <= 2)
         |SELECT c.bucket_ns, c.meta_type, c.attr, c.attr_value, c.n
         |FROM counts c JOIN keep k
         |  ON c.meta_type = k.meta_type AND c.attr = k.attr
         |    AND c.attr_value = k.attr_value
         |ORDER BY c.attr, c.attr_value, c.meta_type, c.bucket_ns""".stripMargin))

  /** compare() 4-arg form: the selection additionally requires
    * start_ns ∈ [start, end) — the time-split investigation shape
    * (spans matching the filter AND inside the incident window vs
    * everything else). Window = calendar 1994.
    */
  val metricsCompareWindow: Q = {
    val s = 757382400000000000L // 1994-01-01T00:00Z in ns
    val e = 788918400000000000L // 1995-01-01T00:00Z
    Q(
      "traceql_metrics_compare_window",
      (spark: SparkSession, dir: String) =>
        TraceQL.planMetrics(s"""{ } | compare({ status = error }, 2, $s, $e)""",
            Views.spans(Testdata(spark, dir)), stepNs = 86400000000000L,
            cube = Some(compareCube(Testdata(spark, dir))))
          .select(col("bucket_ns"), col("meta_type"), col("attr"),
            col("attr_value"), col("n")),
      Some(
        s"""WITH sp AS (
           |  SELECT CASE WHEN l_returnflag = 'R'
           |      AND epoch_ns(l_shipdate) >= $s AND epoch_ns(l_shipdate) < $e
           |    THEN 'selection' ELSE 'baseline' END AS meta_type,
           |    $bucketNs AS bucket_ns,
           |    l_returnflag AS returnflag, l_linestatus AS linestatus,
           |    CAST(l_quantity AS VARCHAR) AS quantity
           |  FROM lineitem),
           |exploded AS (
           |  SELECT meta_type, bucket_ns, 'returnflag' AS attr, returnflag AS attr_value FROM sp
           |  UNION ALL
           |  SELECT meta_type, bucket_ns, 'linestatus', linestatus FROM sp
           |  UNION ALL
           |  SELECT meta_type, bucket_ns, 'quantity', quantity FROM sp),
           |counts AS (
           |  SELECT meta_type, attr, attr_value, bucket_ns,
           |    CAST(COUNT(*) AS DOUBLE) AS n
           |  FROM exploded GROUP BY 1, 2, 3, 4),
           |keep AS (
           |  SELECT meta_type, attr, attr_value FROM (
           |    SELECT meta_type, attr, attr_value,
           |      row_number() OVER (PARTITION BY meta_type, attr
           |        ORDER BY SUM(n) DESC, attr_value) AS rk
           |    FROM counts GROUP BY meta_type, attr, attr_value)
           |  WHERE rk <= 2)
           |SELECT c.bucket_ns, c.meta_type, c.attr, c.attr_value, c.n
           |FROM counts c JOIN keep k
           |  ON c.meta_type = k.meta_type AND c.attr = k.attr
           |    AND c.attr_value = k.attr_value
           |ORDER BY c.attr, c.attr_value, c.meta_type, c.bucket_ns""".stripMargin))
  }

  /** Distinct span/resource attribute maps sharing the key `team` with
    * DIFFERENT values — the discriminator for strict resource.x vs
    * unscoped coalesce (chstorage/attributes.go:251-266).
    */
  private def dualAttrsView(td: Testdata): DataFrame =
    Views.spans(td)
      .withColumn("attrs", map_concat(col("attrs"),
        map(lit("team"), element_at(col("attrs"), "linestatus"))))
      .withColumn("resource_attrs",
        map(lit("team"), element_at(col("attrs"), "returnflag")))

  /** resource.team reads the resource map, bare team coalesces to the
    * span map — a shared key with different values proves the scopes
    * stay distinct.
    */
  val resourceScopeE2e: Q = Q(
    "traceql_e2e_resource_scope",
    (s: SparkSession, dir: String) =>
      TraceQL.plan("""{ resource.team = "R" && team = "F" }""",
          dualAttrsView(Testdata(s, dir)))
        .select(col("trace_id"), col("n_spans")),
    Some(
      """SELECT l_orderkey AS trace_id, COUNT(*) AS n_spans FROM lineitem
        |WHERE l_returnflag = 'R' AND l_linestatus = 'F'
        |GROUP BY trace_id ORDER BY trace_id""".stripMargin))

  /** Selector-filtered tag autocomplete (SearchTagValuesV2): values of
    * `linestatus` restricted to spans matching `{ returnflag = "R" }`.
    */
  val tagFilteredE2e: Q = Q(
    "traceql_tag_autocomplete_filtered",
    (s: SparkSession, dir: String) =>
      TraceQL.tagValues("""{ returnflag = "R" }""", "linestatus",
        Views.spans(Testdata(s, dir))),
    Some(
      """SELECT DISTINCT l_linestatus AS value FROM lineitem
        |WHERE l_returnflag = 'R' ORDER BY value""".stripMargin))

  /** Scoped tag discovery (SearchTagsV2): span attrs under `span`,
    * resource attrs under `resource` — one distinct shuffle carrying
    * the scope through the explode (reference tempohandler.go:497-528).
    */
  val tagsScopedE2e: Q = Q(
    "traceql_tags_scoped",
    (s: SparkSession, dir: String) =>
      TraceQL.tagNamesScoped(dualAttrsView(Testdata(s, dir))),
    Some(
      """SELECT 'span' AS scope,
        |  unnest(['returnflag', 'linestatus', 'quantity', 'team']) AS tag
        |FROM (SELECT 1)
        |UNION ALL SELECT 'resource', 'team' FROM (SELECT 1)
        |ORDER BY scope, tag""".stripMargin))

  override def queries: Seq[Q] = Seq(
    patternFilter, unpackE2e, jsonPathsE2e, bySelectE2e, statusLiteralE2e,
    offsetE2e, boolE2e, quantileWithoutE2e, stddevE2e, histQuantileE2e,
    scopedIntrinsicsE2e, selectArraysE2e, eventLinkE2e, rootServiceE2e,
    re2E2e, parentScopeE2e,
    metricsE2e, metricsMin, metricsAvg, metricsSum, metricsQuantile,
    metricsTopk, metricsCompare, metricsCompareWindow, resourceScopeE2e,
    tagFilteredE2e, tagsScopedE2e)
}
