package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.logql.Planner
import graft.sources.Testdata

/** `__error__` propagation and template functions through the LogQL
  * front-end (reference logqlengine/logqlerrors/ and template.go).
  */
object QueriesErrorsTemplates extends QueryPack {

  private val DayNs = 86400000000000L

  /** Every 5th user's bodies are truncated to 10 chars — invalid JSON
    * unless the original was that short.
    */
  private def corruptedView(td: Testdata): DataFrame =
    Views.logs(td).withColumn("body",
      when(element_at(col("labels"), "user_id").cast("long") % 5 === 0,
        substring(col("body"), 1, 10)).otherwise(col("body")))

  /** `| json` on broken bodies keeps the rows and labels them
    * __error__=JSONParserErr; counting by that label through the parser
    * is the reference's error-propagation contract end-to-end.
    */
  val errorPropagation: Q = Q(
    "logql_e2e_error",
    (s: SparkSession, dir: String) =>
      Planner.query("""sum by (__error__) (count_over_time({} | json [1d]))""",
          corruptedView(Testdata(s, dir)))
        .select(col("bucket_ns"),
          coalesce(try_element_at(col("labels"), lit("__error__")), lit("ok")).as("err"),
          col("value"))
        .orderBy("bucket_ns", "err"),
    Some(
      s"""SELECT bucket_ns, err, CAST(COUNT(*) AS DOUBLE) AS value FROM (
         |  SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
         |    CASE WHEN json_valid(CASE WHEN user_id % 5 = 0
         |        THEN substr(props, 1, 10) ELSE props END)
         |      THEN 'ok' ELSE 'JSONParserErr' END AS err
         |  FROM events)
         |GROUP BY bucket_ns, err ORDER BY bucket_ns, err""".stripMargin))

  /** line_format with template FUNCTIONS (trunc, ToUpper,
    * regexReplaceAll, pipelines) compiled to Column exprs.
    */
  val lineFormatFuncs: Q = Q(
    "logql_line_format_funcs",
    (s: SparkSession, dir: String) =>
      Planner.query(
          """{event_type="signup"} | line_format `u={{ .user_id | trunc 2 }} T={{ ToUpper .event_type }} s={{ regexReplaceAll "n.*" .event_type "N" }}`""",
          Views.logs(Testdata(s, dir)), logLimit = None) // aggregated below
        .agg(count(lit(1)).as("n"), min(col("body")).as("min_body"),
          max(col("body")).as("max_body")),
    Some(
      """SELECT COUNT(*) AS n, MIN(body) AS min_body, MAX(body) AS max_body FROM (
        |  SELECT 'u=' || substr(CAST(user_id AS VARCHAR), 1, 2)
        |    || ' T=' || upper(event_type)
        |    || ' s=' || regexp_replace(event_type, 'n.*', 'N', 'g') AS body
        |  FROM events WHERE event_type = 'signup')""".stripMargin))

  /** View for the extended template-function sweep: labels carrying a
    * query-string-ish value, epoch seconds, and a date string.
    */
  private def tmplView(td: Testdata): DataFrame =
    td.events.select(
      col("ts").as("ts_ns"),
      col("event_type").as("body"),
      map(
        lit("etype"), col("event_type"),
        lit("et"), concat(col("event_type"), lit("&x")),
        lit("ts_s"), expr("ts div 1000000000").cast("string"),
        lit("ds"), date_format(timestamp_micros(expr("ts div 1000")),
          "yyyy-MM-dd")).as("labels"))

  /** The reference FuncMap's remaining entries through line_format:
    * urlencode/urldecode, alignLeft/alignRight, count, unixToTime,
    * toDateInZone (logqlengine/template.go:33-110).
    */
  val lineFormatFuncs2: Q = Q(
    "logql_line_format_funcs2",
    (s: SparkSession, dir: String) =>
      Planner.query(
          """{} | line_format `u={{ .et | urlencode }} a={{ alignRight 8 .etype }} l={{ alignLeft 8 .etype }} c={{ count "n" .etype }} t={{ .ts_s | unixToTime }} d={{ toDateInZone "2006-01-02" "UTC" .ds }} x={{ .et | urlencode | urldecode }}`""",
          tmplView(Testdata(s, dir)), logLimit = None)
        .agg(count(lit(1)).as("n"), min(col("body")).as("min_body"),
          max(col("body")).as("max_body")),
    Some(
      """SELECT COUNT(*) AS n, MIN(body) AS min_body, MAX(body) AS max_body FROM (
        |  SELECT 'u=' || replace(event_type || '&x', '&', '%26')
        |    || ' a=' || CASE WHEN length(event_type) >= 8 THEN event_type
        |                     ELSE lpad(event_type, 8, ' ') END
        |    || ' l=' || CASE WHEN length(event_type) >= 8 THEN event_type
        |                     ELSE rpad(event_type, 8, ' ') END
        |    || ' c=' || CAST(length(event_type)
        |                   - length(replace(event_type, 'n', '')) AS VARCHAR)
        |    || ' t=' || CAST(make_timestamp(
        |                   (epoch_ns(ts) // 1000000000) * 1000000) AS VARCHAR)
        |    || ' d=' || CAST(strptime(strftime(make_timestamp(epoch_ns(ts) // 1000),
        |                   '%Y-%m-%d'), '%Y-%m-%d') AS VARCHAR)
        |    || ' x=' || event_type || '&x' AS body
        |  FROM events)""".stripMargin))

  /** label_format template form: a derived label built with template
    * functions becomes part of the stream identity.
    */
  val labelFormatTemplate: Q = Q(
    "logql_e2e_label_template",
    (s: SparkSession, dir: String) =>
      Planner.query(
          """sum by (tier) (count_over_time({} | label_format tier="{{ .event_type | trunc 3 | ToUpper }}" [1d]))""",
          Views.logs(Testdata(s, dir)))
        .select(col("bucket_ns"),
          element_at(col("labels"), "tier").as("tier"), col("value"))
        .orderBy("bucket_ns", "tier"),
    Some(
      s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
         |  upper(substr(event_type, 1, 3)) AS tier,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM events GROUP BY bucket_ns, tier
         |ORDER BY bucket_ns, tier""".stripMargin))

  private def logfmtView(td: Testdata): DataFrame =
    td.events.select(
      col("ts").as("ts_ns"),
      concat(lit("uid="), col("user_id"), lit(" t="), col("event_type")).as("body"),
      map(lit("job"), lit("fmt")).as("labels"))

  /** `| logfmt dst="src"` param form through the parser: renamed
    * extraction becomes the stream label.
    */
  val logfmtParams: Q = Q(
    "logql_e2e_logfmt_params",
    (s: SparkSession, dir: String) =>
      Planner.query("""sum by (u2) (count_over_time({} | logfmt u2="uid" [1d]))""",
          logfmtView(Testdata(s, dir)))
        .select(col("bucket_ns"),
          element_at(col("labels"), "u2").as("u2"), col("value"))
        .orderBy("bucket_ns", "u2"),
    Some(
      s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
         |  CAST(user_id AS VARCHAR) AS u2, CAST(COUNT(*) AS DOUBLE) AS value
         |FROM events GROUP BY bucket_ns, u2
         |ORDER BY bucket_ns, u2""".stripMargin))

  /** `| logfmt --strict` labels malformed rows LogfmtParserErr, rows
    * kept (error-propagation contract).
    */
  val logfmtStrict: Q = Q(
    "logql_e2e_logfmt_strict",
    (s: SparkSession, dir: String) => {
      // corruption keyed on user_id: raw-ns keys diverge from the
      // oracle (DuckDB truncates TIMESTAMP(NANOS) to µs)
      val td = Testdata(s, dir)
      val broken = td.events.select(
        col("ts").as("ts_ns"),
        concat(lit("uid="), col("user_id"), lit(" t="), col("event_type"),
          when(col("user_id") % 3 === 0, " <<<").otherwise("")).as("body"),
        map(lit("job"), lit("fmt")).as("labels"))
      Planner.query("""sum by (__error__) (count_over_time({} | logfmt --strict [1d]))""",
          broken)
        .select(col("bucket_ns"),
          coalesce(try_element_at(col("labels"), lit("__error__")), lit("ok")).as("err"),
          col("value"))
        .orderBy("bucket_ns", "err")
    },
    Some(
      s"""SELECT bucket_ns, err, CAST(COUNT(*) AS DOUBLE) AS value FROM (
         |  SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
         |    CASE WHEN user_id % 3 = 0 THEN 'LogfmtParserErr' ELSE 'ok' END AS err
         |  FROM events)
         |GROUP BY bucket_ns, err ORDER BY bucket_ns, err""".stripMargin))

  /** `| drop lbl="value"` value-conditional drop through the parser:
    * only the matching streams lose the label.
    */
  val dropValues: Q = Q(
    "logql_e2e_drop_values",
    (s: SparkSession, dir: String) =>
      Planner.query("""sum by (user_id) (count_over_time({} | drop user_id="7" [1d]))""",
          Views.logs(Testdata(s, dir)))
        .select(col("bucket_ns"),
          coalesce(try_element_at(col("labels"), lit("user_id")), lit("none")).as("user_id"),
          col("value"))
        .orderBy("bucket_ns", "user_id"),
    Some(
      s"""SELECT bucket_ns, user_id, CAST(COUNT(*) AS DOUBLE) AS value FROM (
         |  SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
         |    CASE WHEN user_id = 7 THEN 'none' ELSE CAST(user_id AS VARCHAR) END AS user_id
         |  FROM events)
         |GROUP BY bucket_ns, user_id ORDER BY bucket_ns, user_id""".stripMargin))

  /** label_replace through the LOGQL parser (Loki exposes the
    * Prometheus label fns; planner shares graft.logql.LabelFns).
    */
  val labelReplaceE2e: Q = Q(
    "logql_e2e_label_replace",
    (s: SparkSession, dir: String) =>
      Planner.query(
          """label_replace(sum by (event_type) (count_over_time({}[1d])), "etype", "E-$1", "event_type", "(.*)")""",
          Views.logs(Testdata(s, dir)))
        .select(col("bucket_ns"),
          element_at(col("labels"), "event_type").as("event_type"),
          element_at(col("labels"), "etype").as("etype"), col("value"))
        .orderBy("bucket_ns", "event_type"),
    Some(
      s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
         |  event_type, 'E-' || event_type AS etype,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM events GROUP BY bucket_ns, event_type
         |ORDER BY bucket_ns, event_type""".stripMargin))

  /** `| keep lbl="value"` value-conditional keep through the parser. */
  val keepValues: Q = Q(
    "logql_e2e_keep_values",
    (s: SparkSession, dir: String) =>
      Planner.query(
          """sum by (event_type, user_id) (count_over_time({} | keep event_type, user_id="7" [1d]))""",
          Views.logs(Testdata(s, dir)))
        .select(col("bucket_ns"),
          element_at(col("labels"), "event_type").as("event_type"),
          coalesce(try_element_at(col("labels"), lit("user_id")), lit("none")).as("user_id"),
          col("value"))
        .orderBy("bucket_ns", "event_type", "user_id"),
    Some(
      s"""SELECT bucket_ns, event_type, user_id, CAST(COUNT(*) AS DOUBLE) AS value FROM (
         |  SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns, event_type,
         |    CASE WHEN user_id = 7 THEN '7' ELSE 'none' END AS user_id
         |  FROM events)
         |GROUP BY bucket_ns, event_type, user_id
         |ORDER BY bucket_ns, event_type, user_id""".stripMargin))

  /** unwrap conversion failures label rows SampleExtractionErr and
    * split the stream — rows are never dropped.
    */
  val unwrapError: Q = Q(
    "logql_e2e_unwrap_error",
    (s: SparkSession, dir: String) => {
      val td = Testdata(s, dir)
      val durLogs = td.events.select(
        col("ts").as("ts_ns"),
        concat(lit("{\"dur\":\""),
          when(col("user_id") % 4 === 0, "garbage").otherwise("1h30m"),
          lit("\"}")).as("body"),
        map(lit("event_type"), col("event_type")).as("labels"))
      Planner.query(
          """sum by (__error__) (count_over_time({} | json | keep event_type | unwrap dur duration [1d]))""",
          durLogs)
        .select(col("bucket_ns"),
          coalesce(try_element_at(col("labels"), lit("__error__")), lit("ok")).as("err"),
          col("value"))
        .orderBy("bucket_ns", "err")
    },
    Some(
      s"""SELECT bucket_ns, err, CAST(COUNT(*) AS DOUBLE) AS value FROM (
         |  SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
         |    CASE WHEN user_id % 4 = 0 THEN 'SampleExtractionErr' ELSE 'ok' END AS err
         |  FROM events)
         |GROUP BY bucket_ns, err ORDER BY bucket_ns, err""".stripMargin))

  /** `| drop lbl=~"regex"` through the parser (reference
    * pipeline.go:296-306 drop with regex matchers): user_ids matching
    * the regex lose the label and fold into the 'none' stream.
    */
  val dropRegex: Q = Q(
    "logql_e2e_drop_regex",
    (s: SparkSession, dir: String) =>
      Planner.query("""sum by (user_id) (count_over_time({} | drop user_id=~"[0-9]*[02468]" [1d]))""",
          Views.logs(Testdata(s, dir)))
        .select(col("bucket_ns"),
          coalesce(try_element_at(col("labels"), lit("user_id")), lit("none")).as("user_id"),
          col("value"))
        .orderBy("bucket_ns", "user_id"),
    Some(
      s"""SELECT bucket_ns, user_id, CAST(COUNT(*) AS DOUBLE) AS value FROM (
         |  SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
         |    CASE WHEN user_id % 2 = 0 THEN 'none' ELSE CAST(user_id AS VARCHAR) END AS user_id
         |  FROM events)
         |GROUP BY bucket_ns, user_id ORDER BY bucket_ns, user_id""".stripMargin))

  /** `vector(5) * 2 + 1` through the PARSER (the hand-built
    * logql_vector_literal query promoted into the grammar — reference
    * metric_expr.go:126-144): a constant series on the query grid.
    */
  val vectorE2e: Q = Q(
    "logql_e2e_vector",
    (s: SparkSession, dir: String) =>
      Planner.query("""vector(5) * 2 + 1""", Views.logs(Testdata(s, dir)))
        .select(col("bucket_ns"), col("value"))
        .orderBy("bucket_ns"),
    Some(
      s"""WITH ext AS (
         |  SELECT min(epoch_ns(ts) - epoch_ns(ts) % $DayNs) AS lo,
         |         max(epoch_ns(ts) - epoch_ns(ts) % $DayNs) AS hi FROM events)
         |SELECT unnest(generate_series(lo, hi, $DayNs)) AS bucket_ns, 11.0 AS value
         |FROM ext ORDER BY bucket_ns""".stripMargin))

  override def queries: Seq[Q] = Seq(
    errorPropagation, lineFormatFuncs, lineFormatFuncs2, labelFormatTemplate,
    logfmtParams, logfmtStrict, dropValues, labelReplaceE2e, keepValues,
    unwrapError, dropRegex, vectorE2e)
}
