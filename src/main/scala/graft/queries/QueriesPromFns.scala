package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.promql.PromQL
import graft.sources.Testdata

/** PromQL function surface through the parser: math/clamp functions,
  * label_replace/label_join, and the extended *_over_time family.
  */
object QueriesPromFns extends QueryPack {

  private val DayUs = 86400000000L

  /** clamp(sqrt(·)) composition — identical IEEE shapes both sides. */
  val mathFns: Q = Q(
    "promql_e2e_math_fns",
    (s: SparkSession, dir: String) =>
      PromQL.range("""clamp(sqrt(sum by (svc) (count_over_time(ev[1d]))), 10, 50)""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          round(col("value"), 6).as("value"))
        .orderBy("bucket_us", "svc"),
    Some(
      s"""SELECT bucket_us, svc,
         |  round(least(greatest(sqrt(n), 10.0), 50.0), 6) AS value
         |FROM (
         |  SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |    CAST(user_id % 4 AS VARCHAR) AS svc, CAST(COUNT(*) AS DOUBLE) AS n
         |  FROM events GROUP BY 1, 2)
         |ORDER BY bucket_us, svc""".stripMargin))

  /** label_replace + label_join rewrite the label map (full-match rule). */
  val labelFns: Q = Q(
    "promql_e2e_label_fns",
    (s: SparkSession, dir: String) =>
      PromQL.range(
          """label_join(label_replace(sum by (svc) (count_over_time(ev[1d])), "env", "zone-$1", "svc", "(.*)"), "combo", "|", "svc", "env")""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          element_at(col("labels"), "env").as("env"),
          element_at(col("labels"), "combo").as("combo"), col("value"))
        .orderBy("bucket_us", "svc"),
    Some(
      s"""SELECT bucket_us, svc, 'zone-' || svc AS env,
         |  svc || '|' || 'zone-' || svc AS combo, CAST(n AS DOUBLE) AS value
         |FROM (
         |  SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |    CAST(user_id % 4 AS VARCHAR) AS svc, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2)
         |ORDER BY bucket_us, svc""".stripMargin))

  /** quantile_over_time × present_over_time — the extended over-time
    * family through the parser; present contributes exactly 1.0 per
    * live series, so the product must equal the median alone.
    */
  val overtimeExt: Q = Q(
    "promql_e2e_overtime_ext",
    (s: SparkSession, dir: String) =>
      PromQL.range("""quantile_over_time(0.5, ev[1d]) * present_over_time(ev[1d])""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          element_at(col("labels"), "et").as("et"),
          round(col("value"), 6).as("value"))
        .orderBy("bucket_us", "svc", "et"),
    Some(
      s"""SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |  CAST(user_id % 4 AS VARCHAR) AS svc, event_type AS et,
         |  round(quantile_cont(value, 0.5) * 1.0, 6) AS value
         |FROM events GROUP BY 1, 2, 3
         |ORDER BY bucket_us, svc, et""".stripMargin))

  /** stddev_over_time per series. */
  val stddevOverTime: Q = Q(
    "promql_e2e_stddev_over_time",
    (s: SparkSession, dir: String) =>
      PromQL.range("""stddev_over_time(ev[1d])""", Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          element_at(col("labels"), "et").as("et"),
          round(col("value"), 6).as("value"))
        .orderBy("bucket_us", "svc", "et"),
    Some(
      s"""SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |  CAST(user_id % 4 AS VARCHAR) AS svc, event_type AS et,
         |  round(stddev_pop(value), 6) AS value
         |FROM events GROUP BY 1, 2, 3
         |ORDER BY bucket_us, svc, et""".stripMargin))

  /** Subquery: daily max of 6h counts per svc — the inner evaluates on
    * its own (end-labeled) 6h step grid, the outer over-time tumbles
    * those points by day.
    */
  val subquery: Q = {
    val H6 = 21600000000L
    Q(
      "promql_e2e_subquery",
      (s: SparkSession, dir: String) =>
        PromQL.range("""max_over_time(sum by (svc) (count_over_time(ev[6h]))[1d:6h])""",
            Views.evPoints(Testdata(s, dir)))
          .select(col("bucket_us"),
            element_at(col("labels"), "svc").as("svc"), col("value"))
          .orderBy("bucket_us", "svc"),
      Some(
        s"""SELECT s6 - s6 % $DayUs AS bucket_us, svc, CAST(MAX(n) AS DOUBLE) AS value
           |FROM (
           |  SELECT ((epoch_us(ts) + ${H6 - 1}) // $H6) * $H6 AS s6,
           |    CAST(user_id % 4 AS VARCHAR) AS svc, COUNT(*) AS n
           |  FROM events GROUP BY s6, svc)
           |GROUP BY bucket_us, svc ORDER BY bucket_us, svc""".stripMargin))
  }

  /** Instant evaluation of a full expression (sum of rates at one
    * off-grid time) — the /api/v1/query endpoint shape. The oracle
    * mirrors the shifted-window math literally.
    */
  val instantExprE2e: Q = {
    val tUs = 1705305600000000L // 2024-01-15T08:00Z — off the 1d grid
    val range = 86400000000L
    val delta = ((range - (tUs % range)) % range + range) % range
    val target = tUs + delta - range
    Q(
      "promql_e2e_instant_expr",
      (s: SparkSession, dir: String) =>
        PromQL.instantExpr("""sum by (svc) (count_over_time(ev[1d])) * 2""",
            Views.evPoints(Testdata(s, dir)), evalTsUs = tUs)
          .select(col("ts_us"),
            element_at(col("labels"), "svc").as("svc"), col("value"))
          .orderBy("svc"),
      Some(
        s"""SELECT $tUs AS ts_us, svc, CAST(COUNT(*) AS DOUBLE) * 2 AS value
           |FROM (
           |  SELECT CAST(user_id % 4 AS VARCHAR) AS svc,
           |    epoch_us(ts) + ${delta - 1} AS ts_shift
           |  FROM events)
           |WHERE ts_shift >= $target AND ts_shift < ${target + range}
           |GROUP BY svc ORDER BY svc""".stripMargin))
  }

  /** Raw matrix selector at an instant: the samples of (t-5d, t]. */
  val matrixE2e: Q = {
    val tUs = 1705305600000000L
    val rangeUs = 5L * 86400000000L
    Q(
      "promql_e2e_matrix_raw",
      (s: SparkSession, dir: String) =>
        PromQL.matrix("""ev{svc="2"}[5d]""", Views.evPoints(Testdata(s, dir)),
            evalTsUs = tUs)
          .select(col("ts_us"),
            element_at(col("labels"), "svc").as("svc"),
            element_at(col("labels"), "et").as("et"), col("value")),
      Some(
        s"""SELECT epoch_us(ts) AS ts_us, CAST(user_id % 4 AS VARCHAR) AS svc,
           |  event_type AS et, value
           |FROM events
           |WHERE user_id % 4 = 2
           |  AND epoch_us(ts) > ${tUs - rangeUs} AND epoch_us(ts) <= $tUs
           |ORDER BY ts_us, et""".stripMargin))
  }

  /** absent_over_time through the parser: a never-matching selector
    * yields value 1 on every grid bucket of the table extent.
    */
  val absentE2e: Q = Q(
    "promql_e2e_absent",
    (s: SparkSession, dir: String) =>
      PromQL.range("""absent_over_time(ev{svc="9"}[1d])""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"), col("value"))
        .orderBy("bucket_us"),
    Some(
      s"""SELECT DISTINCT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |  1.0 AS value
         |FROM events ORDER BY bucket_us""".stripMargin))

  /** `@` modifier: the pinned count_over_time(ev[1d] @ t) evaluates once
    * over (t-1d, t] and repeats at every grid step (upstream promql
    * @-modifier semantics; evaluable in the reference via the vendored
    * engine, SURVEY §2.3).
    */
  val atModifier: Q = {
    val tSec = 1705276800L // 2024-01-15T00:00:00Z
    val tUs = tSec * 1000000L
    Q(
      "promql_e2e_at_modifier",
      (s: SparkSession, dir: String) =>
        PromQL.range(s"""sum by (svc) (count_over_time(ev[1d] @ $tSec))""",
            Views.evPoints(Testdata(s, dir)))
          .select(col("bucket_us"),
            element_at(col("labels"), "svc").as("svc"), col("value"))
          .orderBy("bucket_us", "svc"),
      Some(
        s"""WITH grid AS (
           |  SELECT DISTINCT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us
           |  FROM events),
           |pinned AS (
           |  SELECT CAST(user_id % 4 AS VARCHAR) AS svc,
           |    CAST(COUNT(*) AS DOUBLE) AS value
           |  FROM events
           |  WHERE epoch_us(ts) > $tUs - $DayUs AND epoch_us(ts) <= $tUs
           |  GROUP BY 1)
           |SELECT bucket_us, svc, value FROM grid, pinned
           |ORDER BY bucket_us, svc""".stripMargin))
  }

  /** `@ start()` / `@ end()` preprocessor forms (upstream promql AT
    * modifier): both resolve to the request's range bounds before
    * planning, so the growth over the range — pinned-at-end minus
    * pinned-at-start — is a constant vector repeated on the grid.
    */
  val atStartEnd: Q = {
    val startUs = 1704844800000000L // 2024-01-10T00:00:00Z
    val endUs = 1705708800000000L   // 2024-01-20T00:00:00Z
    Q(
      "promql_e2e_at_start_end",
      (s: SparkSession, dir: String) =>
        PromQL.range(
            """sum by (svc) (count_over_time(ev[1d] @ end()))
              | - sum by (svc) (count_over_time(ev[1d] @ start()))""".stripMargin
              .replace("\n", " "),
            Views.evPoints(Testdata(s, dir)),
            atRange = Some((startUs, endUs)))
          .select(col("bucket_us"),
            element_at(col("labels"), "svc").as("svc"), col("value"))
          .orderBy("bucket_us", "svc"),
      Some(
        s"""WITH grid AS (
           |  SELECT DISTINCT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us
           |  FROM events),
           |pe AS (
           |  SELECT CAST(user_id % 4 AS VARCHAR) AS svc,
           |    CAST(COUNT(*) AS DOUBLE) AS value
           |  FROM events
           |  WHERE epoch_us(ts) > $endUs - $DayUs AND epoch_us(ts) <= $endUs
           |  GROUP BY 1),
           |ps AS (
           |  SELECT CAST(user_id % 4 AS VARCHAR) AS svc,
           |    CAST(COUNT(*) AS DOUBLE) AS value
           |  FROM events
           |  WHERE epoch_us(ts) > $startUs - $DayUs AND epoch_us(ts) <= $startUs
           |  GROUP BY 1)
           |SELECT bucket_us, pe.svc AS svc, pe.value - ps.value AS value
           |FROM grid, pe JOIN ps ON pe.svc = ps.svc
           |ORDER BY bucket_us, svc""".stripMargin))
  }

  // ---- compliance-corpus sweep (dev/local/ch-compliance/
  // promql-test-queries.yml): resets/changes/idelta, deriv/
  // predict_linear, count_values, date functions over time(), absent(),
  // timestamp(), sgn/round, unary minus + hex + exponent literals. ----

  private val lagBase =
    s"""SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
       |    CAST(user_id % 4 AS VARCHAR) AS svc, event_type AS et,
       |    value, epoch_us(ts) AS ts_us,
       |    lag(value) OVER (
       |      PARTITION BY epoch_us(ts) - epoch_us(ts) % $DayUs,
       |        user_id % 4, event_type ORDER BY epoch_us(ts)) AS prev
       |  FROM events""".stripMargin

  /** resets: pairwise decreases per window (counter resets). */
  val resetsE2e: Q = Q(
    "promql_e2e_resets",
    (s: SparkSession, dir: String) =>
      PromQL.range("""resets(ev[1d])""", Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          element_at(col("labels"), "et").as("et"), col("value"))
        .orderBy("bucket_us", "svc", "et"),
    Some(
      s"""SELECT bucket_us, svc, et,
         |  CAST(COALESCE(SUM(CASE WHEN value < prev THEN 1 END), 0) AS DOUBLE) AS value
         |FROM ($lagBase)
         |GROUP BY bucket_us, svc, et ORDER BY bucket_us, svc, et""".stripMargin))

  /** changes: pairwise value changes per window. */
  val changesE2e: Q = Q(
    "promql_e2e_changes",
    (s: SparkSession, dir: String) =>
      PromQL.range("""changes(ev[1d])""", Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          element_at(col("labels"), "et").as("et"), col("value"))
        .orderBy("bucket_us", "svc", "et"),
    Some(
      s"""SELECT bucket_us, svc, et,
         |  CAST(COALESCE(SUM(CASE WHEN value <> prev THEN 1 END), 0) AS DOUBLE) AS value
         |FROM ($lagBase)
         |GROUP BY bucket_us, svc, et ORDER BY bucket_us, svc, et""".stripMargin))

  /** idelta: difference of the last two samples per window. */
  val ideltaE2e: Q = Q(
    "promql_e2e_idelta",
    (s: SparkSession, dir: String) =>
      PromQL.range("""idelta(ev[1d])""", Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          element_at(col("labels"), "et").as("et"), col("value"))
        .orderBy("bucket_us", "svc", "et"),
    Some(
      s"""SELECT bucket_us, svc, et,
         |  arg_max(value, ts_us) - arg_max(prev, ts_us) AS value
         |FROM ($lagBase)
         |GROUP BY bucket_us, svc, et HAVING COUNT(*) >= 2
         |ORDER BY bucket_us, svc, et""".stripMargin))

  private val regBase =
    s"""SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
       |    CAST(user_id % 4 AS VARCHAR) AS svc, event_type AS et,
       |    (epoch_us(ts) - (epoch_us(ts) - epoch_us(ts) % $DayUs) + 1) // 1000000 AS t,
       |    CAST(value AS DECIMAL(18,4)) AS v
       |  FROM events""".stripMargin

  private val regSums =
    """SELECT bucket_us, svc, et, COUNT(*) AS n,
      |    CAST(SUM(t) AS DOUBLE) AS s_t, CAST(SUM(v) AS DOUBLE) AS s_v,
      |    CAST(SUM(t * v) AS DOUBLE) AS s_tv,
      |    CAST(SUM(t * t) AS DOUBLE) AS s_tt
      |  FROM base GROUP BY bucket_us, svc, et HAVING COUNT(*) >= 2""".stripMargin

  /** deriv: least-squares slope — Σ components exact, combination
    * mirrored double-op-for-double-op against the engine.
    */
  val derivE2e: Q = Q(
    "promql_e2e_deriv",
    (s: SparkSession, dir: String) =>
      PromQL.range("""deriv(ev[1d])""", Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          element_at(col("labels"), "et").as("et"),
          round(col("value"), 9).as("value"))
        .orderBy("bucket_us", "svc", "et"),
    Some(
      s"""WITH base AS ($regBase), sums AS ($regSums)
         |SELECT bucket_us, svc, et,
         |  round((CAST(n AS DOUBLE) * s_tv - s_t * s_v)
         |      / (CAST(n AS DOUBLE) * s_tt - s_t * s_t), 9) AS value
         |FROM sums WHERE CAST(n AS DOUBLE) * s_tt - s_t * s_t <> 0
         |ORDER BY bucket_us, svc, et""".stripMargin))

  /** predict_linear: regression value at window end + 1h horizon. */
  val predictE2e: Q = Q(
    "promql_e2e_predict_linear",
    (s: SparkSession, dir: String) =>
      PromQL.range("""predict_linear(ev[1d], 3600)""", Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          element_at(col("labels"), "et").as("et"),
          round(col("value"), 6).as("value"))
        .orderBy("bucket_us", "svc", "et"),
    Some(
      s"""WITH base AS ($regBase), sums AS ($regSums)
         |SELECT bucket_us, svc, et,
         |  round((s_v + ((CAST(n AS DOUBLE) * s_tv - s_t * s_v)
         |      / (CAST(n AS DOUBLE) * s_tt - s_t * s_t))
         |    * (CAST(n AS DOUBLE) * 90000.0 - s_t)) / CAST(n AS DOUBLE), 6) AS value
         |FROM sums WHERE CAST(n AS DOUBLE) * s_tt - s_t * s_t <> 0
         |ORDER BY bucket_us, svc, et""".stripMargin))

  /** count_values: occurrence count per distinct value, the value
    * itself becoming the output label.
    */
  val countValuesE2e: Q = Q(
    "promql_e2e_count_values",
    (s: SparkSession, dir: String) =>
      PromQL.range("""count_values("cnt", sum by (svc) (count_over_time(ev[1d])))""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "cnt").as("cnt"), col("value"))
        .orderBy("bucket_us", "cnt"),
    Some(
      // the value label uses Go's shortest decimal formatting
      // (integral doubles print without ".0")
      s"""SELECT bucket_us,
         |  CASE WHEN n = floor(n) THEN CAST(CAST(n AS BIGINT) AS VARCHAR)
         |       ELSE CAST(n AS VARCHAR) END AS cnt,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM (
         |  SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |    user_id % 4 AS svc, CAST(COUNT(*) AS DOUBLE) AS n
         |  FROM events GROUP BY 1, 2)
         |GROUP BY bucket_us, cnt ORDER BY bucket_us, cnt""".stripMargin))

  /** hour(time()): date function over the bare evaluation grid. */
  val dateFnE2e: Q = Q(
    "promql_e2e_date_fns",
    (s: SparkSession, dir: String) =>
      PromQL.range("""hour(time()) + day_of_week(time()) * 100""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"), col("value"))
        .orderBy("bucket_us"),
    Some(
      """WITH ext AS (
        |  SELECT min(epoch_us(ts) - epoch_us(ts) % 300000000) AS lo,
        |         max(epoch_us(ts) - epoch_us(ts) % 300000000) AS hi
        |  FROM events)
        |SELECT g AS bucket_us,
        |  CAST(hour(make_timestamp(g)) AS DOUBLE)
        |    + CAST(dayofweek(make_timestamp(g)) AS DOUBLE) * 100 AS value
        |FROM (SELECT unnest(generate_series(lo, hi, 300000000)) AS g FROM ext)
        |ORDER BY bucket_us""".stripMargin))

  /** absent(v) over a matching-nothing selector: 1.0 on every bucket of
    * the full 5m grid spanning the table extent.
    */
  val absentFnE2e: Q = Q(
    "promql_e2e_absent_fn",
    (s: SparkSession, dir: String) =>
      PromQL.range("""absent(ev{et="__none__"})""", Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"), col("value"))
        .orderBy("bucket_us"),
    Some(
      """WITH ext AS (
        |  SELECT min(epoch_us(ts) - epoch_us(ts) % 300000000) AS lo,
        |         max(epoch_us(ts) - epoch_us(ts) % 300000000) AS hi
        |  FROM events)
        |SELECT unnest(generate_series(lo, hi, 300000000)) AS bucket_us,
        |  1.0 AS value
        |FROM ext ORDER BY bucket_us""".stripMargin))

  /** timestamp() over a derived vector: the step time in seconds. */
  val timestampE2e: Q = Q(
    "promql_e2e_timestamp",
    (s: SparkSession, dir: String) =>
      PromQL.range("""timestamp(sum by (svc) (count_over_time(ev[1d])))""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"), col("value"))
        .orderBy("bucket_us", "svc"),
    Some(
      s"""SELECT DISTINCT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |  CAST(user_id % 4 AS VARCHAR) AS svc,
         |  (epoch_us(ts) - epoch_us(ts) % $DayUs) / 1000000.0 AS value
         |FROM events ORDER BY bucket_us, svc""".stripMargin))

  /** sgn + round(·, to_nearest) + unary minus + hex (0x10) + exponent
    * (1.5e1) literals in one expression.
    */
  val scalarExtrasE2e: Q = Q(
    "promql_e2e_scalar_extras",
    (s: SparkSession, dir: String) =>
      PromQL.range(
          """sgn(sum by (svc) (count_over_time(ev[1d])) - 5000.5) + round(sum by (svc) (count_over_time(ev[1d])) * 7, 100) - -0x10 + 1.5e1 * -1""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"), col("value"))
        .orderBy("bucket_us", "svc"),
    Some(
      s"""SELECT bucket_us, svc,
         |  CAST(sign(n - 5000.5) AS DOUBLE)
         |    + floor(n * 7 / 100.0 + 0.5) * 100.0 + 16 - 15 AS value
         |FROM (
         |  SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |    CAST(user_id % 4 AS VARCHAR) AS svc, CAST(COUNT(*) AS DOUBLE) AS n
         |  FROM events GROUP BY 1, 2)
         |ORDER BY bucket_us, svc""".stripMargin))

  /** vector(s) literal + name-less `{__name__="…"}` selector. */
  val vectorFnE2e: Q = Q(
    "promql_e2e_vector_fn",
    (s: SparkSession, dir: String) =>
      PromQL.range("""vector(7) + sum(count_over_time({__name__="ev"}[5m]))""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"), col("value"))
        .orderBy("bucket_us"),
    Some(
      """SELECT epoch_us(ts) - epoch_us(ts) % 300000000 AS bucket_us,
        |  7.0 + CAST(COUNT(*) AS DOUBLE) AS value
        |FROM events GROUP BY 1 ORDER BY bucket_us""".stripMargin))

  /** `ts_of_{min,max,last}_over_time` (upstream experimental): the
    * second-precision timestamp of the extreme/last sample per range
    * window. All three run through the parser; the oracle replays the
    * tie rule (among tied extremes the MOST RECENT sample wins —
    * upstream updates on `>=`/`<=`).
    */
  val tsOfE2e: Q = Q(
    "promql_e2e_ts_of",
    (s: SparkSession, dir: String) => {
      val pv = Views.evPoints(Testdata(s, dir))
      def one(fn: String, as: String): DataFrame =
        PromQL.range(s"$fn(ev[1d])", pv)
          .select(col("bucket_us"),
            element_at(col("labels"), "svc").as("svc"),
            element_at(col("labels"), "et").as("et"),
            round(col("value"), 6).as(as))
      one("ts_of_max_over_time", "ts_max")
        .join(one("ts_of_min_over_time", "ts_min"),
          Seq("bucket_us", "svc", "et"))
        .join(one("ts_of_last_over_time", "ts_last"),
          Seq("bucket_us", "svc", "et"))
        .orderBy("bucket_us", "svc", "et")
    },
    Some(
      s"""WITH e AS (
         |  SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |    CAST(user_id % 4 AS VARCHAR) AS svc, event_type AS et,
         |    epoch_us(ts) AS ts_us, value
         |  FROM events),
         |r AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY bucket_us, svc, et
         |      ORDER BY value DESC, ts_us DESC) AS rx,
         |    row_number() OVER (PARTITION BY bucket_us, svc, et
         |      ORDER BY value ASC, ts_us DESC) AS rn
         |  FROM e)
         |SELECT bucket_us, svc, et,
         |  round(MAX(CASE WHEN rx = 1 THEN ts_us END) / 1000000.0, 6) AS ts_max,
         |  round(MAX(CASE WHEN rn = 1 THEN ts_us END) / 1000000.0, 6) AS ts_min,
         |  round(MAX(ts_us) / 1000000.0, 6) AS ts_last
         |FROM r GROUP BY 1, 2, 3 ORDER BY bucket_us, svc, et""".stripMargin))

  override def queries: Seq[Q] =
    Seq(mathFns, labelFns, overtimeExt, stddevOverTime, subquery,
      instantExprE2e, matrixE2e, absentE2e, atModifier, atStartEnd,
      resetsE2e, changesE2e, ideltaE2e, derivE2e, predictE2e,
      countValuesE2e, dateFnE2e, absentFnE2e, timestampE2e, scalarExtrasE2e,
      vectorFnE2e, tsOfE2e)
}
