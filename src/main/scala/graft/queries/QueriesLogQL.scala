package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.logql.Planner
import graft.sources.Testdata

/** LogQL over the testdata (SURVEY.md §2.1/§2.2). Every entry
  * but the labelled gaps at the end runs its query string through the
  * real front-end — lexer → parser → AST → graft.logql.Planner — over a
  * [[Views]] logs frame, then projects the planner's
  * (bucket_ns, labels, value) or (ts_ns, body, labels) rows onto its
  * registry columns. The DuckDB oracle re-derives the semantics from
  * the raw tables.
  *
  * `events` plays the logs table: `props` is the body (JSON),
  * `event_type` and `user_id` are stream labels, `ts` is an epoch-ns
  * Long. Steps are exact integer-ns buckets (bucket = ts - ts % step),
  * the reference's ns step grid (internal/logql/logqlengine/
  * engine_metric_query.go:69-75). A registry row without a bucket
  * column aggregates over [[All]], a range wider than every epoch-ns
  * timestamp, so all samples share bucket 0.
  *
  * Where a registry column has no LogQL metric form (a string max, a
  * first row per label), the entry runs the log query uncapped and
  * aggregates its rows in the projection.
  */
object QueriesLogQL extends QueryPack {
  import Det._

  /** An entry whose frame is built from planner results over `view`;
    * `run` plans one LogQL string (log queries uncapped unless
    * `logLimit` says otherwise).
    */
  private def q(name: String, oracle: String,
      view: Testdata => DataFrame = Views.logs(_),
      logLimit: Option[Int] = None)(f: (String => DataFrame) => DataFrame): Q =
    Q(name, (s: SparkSession, dir: String) => {
      val logs = view(Testdata(s, dir))
      f(Planner.query(_, logs, logLimit = logLimit))
    }, Some(oracle))

  private def label(k: String): Column = element_at(col("labels"), k)

  /** value as a registry count (BIGINT). */
  private def n: Column = col("value").cast("long").as("n")

  private val Step6hNs = 21600000000000L // 6h in ns
  private val Step1dNs = 86400000000000L // 1d in ns
  private val DayUs = 86400000000L

  /** A range wider than any epoch-ns timestamp: one bucket (0) per series. */
  private val All = "100000d"

  private def withLabels(extra: (String, Column)*): Testdata => DataFrame =
    Views.logs(_, labels = Views.eventLabels ++ extra)

  private val withSvc = withLabels("svc" -> Views.svc)
  /** `value` as a label, for unwrap and numeric label filters. */
  private val withV = withLabels("v" -> col("value").cast("string"))

  /** Stream selector: conjunctive label matchers. */
  val selector: Q = q(
    "logql_selector",
    """SELECT event_type, COUNT(*) AS n FROM events
      |WHERE event_type IN ('error', 'signup') AND user_id % 4 = 1
      |GROUP BY event_type ORDER BY event_type""".stripMargin,
    withSvc
  ) { run =>
    run(s"""sum by (event_type) (count_over_time({event_type=~"error|signup", svc="1"}[$All]))""")
      .select(label("event_type").as("event_type"), n).orderBy("event_type")
  }

  /** Line filter `|= "substr"` → substring containment on the body
    * (reference internal/logql/logqlengine/line_filter.go).
    */
  val lineFilterContains: Q = q(
    "logql_line_filter_contains",
    """SELECT event_type, COUNT(*) AS n FROM events
      |WHERE contains(props, '"k": 7')
      |GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { run =>
    run(s"""sum by (event_type) (count_over_time({} |= `"k": 7` [$All]))""")
      .select(label("event_type").as("event_type"), n).orderBy("event_type")
  }

  /** Line filter `|~ "regex"` on the body (documents.text as body). */
  val lineFilterRegex: Q = q(
    "logql_line_filter_regex",
    """SELECT lang, COUNT(*) AS n FROM documents
      |WHERE regexp_matches(text, 'merge (fast|slow)')
      |GROUP BY lang ORDER BY lang""".stripMargin,
    Views.docLogs
  ) { run =>
    run(s"""sum by (lang) (count_over_time({} |~ "merge (fast|slow)" [$All]))""")
      .select(label("lang").as("lang"), n).orderBy("lang")
  }

  /** `| json` extraction stage: lift a JSON body field to a label and
    * aggregate over it (reference logqlengine/json.go).
    */
  val jsonExtract: Q = q(
    "logql_json_extract",
    """SELECT event_type, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { run =>
    run(s"sum by (event_type) (sum_over_time({} | json | unwrap k [$All]))")
      .select(label("event_type").as("event_type"),
        col("value").cast("long").as("sum_k"))
      .join(run(s"sum by (event_type) (count_over_time({}[$All]))")
        .select(label("event_type").as("event_type"), n), "event_type")
      .orderBy("event_type")
  }

  /** `count_over_time({...}[6h])` on a fixed step grid, summed per
    * event type (reference logqlmetric/aggregator.go:62-91).
    */
  val countOverTime: Q = q(
    "logql_count_over_time",
    s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $Step6hNs AS bucket_ns, event_type, COUNT(*) AS n
       |FROM events GROUP BY bucket_ns, event_type
       |ORDER BY bucket_ns, event_type""".stripMargin
  ) { run =>
    run("sum by (event_type) (count_over_time({}[6h]))")
      .select(col("bucket_ns"), label("event_type").as("event_type"), n)
      .orderBy("bucket_ns", "event_type")
  }

  /** Rate per event type: count_over_time / range-seconds (reference
    * logqlmetric/aggregator.go:72-76), divided once after the per-type
    * sum so the value is the oracle's single IEEE division — a
    * `sum(rate(...))` would add per-stream quotients.
    */
  val rate: Q = q(
    "logql_rate",
    s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $Step6hNs AS bucket_ns, event_type,
       |  CAST(COUNT(*) AS DOUBLE) / 21600.0 AS rate
       |FROM events GROUP BY 1, event_type
       |ORDER BY bucket_ns, event_type""".stripMargin
  ) { run =>
    run("sum by (event_type) (count_over_time({}[6h])) / 21600")
      .select(col("bucket_ns"), label("event_type").as("event_type"),
        col("value").as("rate"))
      .orderBy("bucket_ns", "event_type")
  }

  /** `sum(bytes_over_time({...}[1d]))`: windowed byte sums of the body. */
  val bytesOverTime: Q = q(
    "logql_bytes_over_time",
    s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $Step1dNs AS bucket_ns,
       |  ${oISum("length(props)")} AS bytes
       |FROM events GROUP BY 1 ORDER BY bucket_ns""".stripMargin
  ) { run =>
    run("sum(bytes_over_time({}[1d]))")
      .select(col("bucket_ns"), col("value").cast("long").as("bytes"))
      .orderBy("bucket_ns")
  }

  /** `| logfmt` field lifting (reference internal/logql/logqlengine/
    * logfmt.go). The logfmt line is derived from events columns; the
    * oracle re-extracts with regexes, so extraction must agree exactly.
    */
  val logfmtExtract: Q = q(
    "logql_logfmt_extract",
    """SELECT event_type,
      |  CAST(SUM(CAST(regexp_extract(line, 'user=([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_user,
      |  MAX(regexp_extract(line, 'note="([^"]*)"', 1)) AS max_note,
      |  COUNT(*) AS n
      |FROM (
      |  SELECT event_type,
      |    concat('type=', event_type, ' user=', user_id, ' note="id ', event_id, '"') AS line
      |  FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin,
    Views.logs(_, body = concat(lit("type="), col("event_type"), lit(" user="),
      col("user_id"), lit(" note=\"id "), col("event_id"), lit("\"")))
  ) { run =>
    run("{} | logfmt user, note")
      .groupBy(label("event_type").as("event_type"))
      .agg(
        sum(label("user").cast("long")).as("sum_user"),
        max(label("note")).as("max_note"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** `| pattern "<_>merge <nxt> <_>"` positional capture: compiled to an
    * anchored lazy regex at plan time (reference internal/logqlpattern).
    * Oracle uses the equivalent token-after-literal regex.
    */
  val patternExtract: Q = q(
    "logql_pattern_extract",
    """SELECT nxt, COUNT(*) AS n FROM (
      |  SELECT regexp_extract(text, 'merge ([^ ]+) ', 1) AS nxt FROM documents
      |  WHERE contains(text, 'merge '))
      |WHERE nxt <> '' GROUP BY nxt ORDER BY n DESC, nxt""".stripMargin,
    Views.docLogs
  ) { run =>
    run(s"""sum by (nxt) (count_over_time({} |= "merge " | pattern "<_>merge <nxt> <_>" | nxt != "" [$All]))""")
      .select(label("nxt").as("nxt"), n)
      .orderBy(col("n").desc, col("nxt"))
  }

  /** `| line_format "{{.event_type}}/u{{.u}}"` — template stage
    * (reference logqlengine/line_format.go); `u` is the user id's last
    * digit, a view label.
    */
  val lineFormat: Q = q(
    "logql_line_format",
    """SELECT formatted, COUNT(*) AS n FROM (
      |  SELECT printf('%s/u%d', event_type, user_id % 10) AS formatted FROM events)
      |GROUP BY formatted ORDER BY formatted""".stripMargin,
    withLabels("u" -> (col("user_id") % 10).cast("string"))
  ) { run =>
    run("""{} | line_format "{{.event_type}}/u{{.u}}"""")
      .groupBy(col("body").as("formatted")).agg(count(lit(1)).as("n"))
      .orderBy("formatted")
  }

  /** `| distinct event_type` — keep the FIRST line per label value in
    * time order (reference logqlengine/distinct.go keeps first
    * occurrence); the line is the event id.
    */
  val distinctStage: Q = q(
    "logql_distinct_stage",
    """SELECT event_type, event_id, epoch_us(ts) AS ts_us FROM (
      |  SELECT event_type, event_id, ts,
      |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
      |  FROM events) WHERE rn = 1
      |ORDER BY event_type""".stripMargin,
    Views.logs(_, body = col("event_id").cast("string"))
  ) { run =>
    run("{} | distinct event_type")
      .select(label("event_type").as("event_type"),
        col("body").cast("long").as("event_id"), expr("ts_ns div 1000").as("ts_us"))
      .orderBy("event_type")
  }

  /** `|= ip(...)` line filter over CIDR and range patterns via the
    * native ip_match expression; the oracle states the same predicate
    * as pure arithmetic on the octet sources (reference
    * logqlengine/ip_matcher.go).
    */
  val ipFilter: Q = q(
    "logql_ip_filter",
    """SELECT event_type, COUNT(*) AS n FROM events
      |WHERE (user_id % 200 = 5) OR (user_id % 200 IN (3, 4))
      |GROUP BY event_type ORDER BY event_type""".stripMargin,
    Views.logs(_, body =
      format_string("10.%d.%d.7", col("user_id") % 200, col("event_id") % 250))
  ) { run =>
    run(s"""sum by (event_type) (count_over_time({} |= ip("10.5.0.0/16") or ip("10.3.0.0-10.4.255.255") [$All]))""")
      .select(label("event_type").as("event_type"), n).orderBy("event_type")
  }

  /** `| unwrap sz bytes` — humanized byte sizes via parse_bytes;
    * KiB are exact powers of two so the sum is integer-exact.
    */
  val unwrapBytes: Q = q(
    "logql_unwrap_bytes",
    """SELECT event_type, CAST(SUM((user_id + 1) * 1024) AS BIGINT) AS sum_bytes
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    withLabels("sz" -> concat((col("user_id") + 1).cast("string"), lit("KiB")))
  ) { run =>
    run(s"sum by (event_type) (sum_over_time({} | unwrap sz bytes [$All]))")
      .select(label("event_type").as("event_type"),
        col("value").cast("long").as("sum_bytes"))
      .orderBy("event_type")
  }

  /** `| decolorize` — ANSI-SGR-wrapped bodies come back clean; oracle
    * aggregates the plain column directly (reference logqlengine/
    * decolorize.go).
    */
  val decolorizeStage: Q = q(
    "logql_decolorize",
    """SELECT event_type AS clean, COUNT(*) AS n FROM events
      |GROUP BY clean ORDER BY clean""".stripMargin,
    Views.logs(_, body = concat(lit("\u001b[31m"), col("event_type"), lit("\u001b[0m")))
  ) { run =>
    run("{} | decolorize")
      .groupBy(col("body").as("clean")).agg(count(lit(1)).as("n"))
      .orderBy("clean")
  }

  /** `topk(2, sum by (event_type) (count_over_time({..}[1d])))` — per-step
    * k-extremes (reference logqlmetric/vector_agg.go:126-231).
    */
  val topk: Q = q(
    "logql_topk",
    s"""SELECT bucket_ns, event_type, n FROM (
       |  SELECT bucket_ns, event_type, n,
       |    row_number() OVER (PARTITION BY bucket_ns ORDER BY n DESC, event_type) AS rk
       |  FROM (
       |    SELECT epoch_ns(ts) - epoch_ns(ts) % $Step1dNs AS bucket_ns, event_type, COUNT(*) AS n
       |    FROM events GROUP BY 1, 2))
       |WHERE rk <= 2 ORDER BY bucket_ns, n DESC, event_type""".stripMargin
  ) { run =>
    run("topk(2, sum by (event_type) (count_over_time({}[1d])))")
      .select(col("bucket_ns"), label("event_type").as("event_type"), n)
      .orderBy(col("bucket_ns"), col("n").desc, col("event_type"))
  }

  /** Vector arithmetic binop: per-step error ratio — label-matched
    * inner join (reference logqlmetric/bin_op.go:13-254).
    */
  val binopRatio: Q = q(
    "logql_binop_ratio",
    s"""SELECT a.bucket_ns, CAST(a.n_err AS DOUBLE) / b.n_all AS ratio
       |FROM (SELECT epoch_ns(ts) - epoch_ns(ts) % $Step6hNs AS bucket_ns, COUNT(*) AS n_err
       |      FROM events WHERE event_type = 'error' GROUP BY 1) a
       |JOIN (SELECT epoch_ns(ts) - epoch_ns(ts) % $Step6hNs AS bucket_ns, COUNT(*) AS n_all
       |      FROM events GROUP BY 1) b USING (bucket_ns)
       |ORDER BY bucket_ns""".stripMargin
  ) { run =>
    run("""sum(count_over_time({event_type="error"}[6h])) / sum(count_over_time({}[6h]))""")
      .select(col("bucket_ns"), col("value").as("ratio"))
      .orderBy("bucket_ns")
  }

  /** Set binops `and` / `unless` between two per-(step, svc) vectors
    * (reference logqlmetric/bin_op.go set ops + sample_op.go:12-113).
    */
  val binopSet: Q = q(
    "logql_binop_set",
    s"""WITH a AS (
       |  SELECT epoch_ns(ts) - epoch_ns(ts) % $Step1dNs AS bucket_ns, user_id % 4 AS svc, COUNT(*) AS n
       |  FROM events WHERE event_type = 'error' GROUP BY 1, 2),
       |b AS (
       |  SELECT epoch_ns(ts) - epoch_ns(ts) % $Step1dNs AS bucket_ns, user_id % 4 AS svc
       |  FROM events WHERE event_type = 'signup' AND value > 400 GROUP BY 1, 2)
       |SELECT 'and' AS op, bucket_ns, svc, n FROM a
       |WHERE EXISTS (SELECT 1 FROM b WHERE b.bucket_ns = a.bucket_ns AND b.svc = a.svc)
       |UNION ALL
       |SELECT 'unless' AS op, bucket_ns, svc, n FROM a
       |WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.bucket_ns = a.bucket_ns AND b.svc = a.svc)
       |ORDER BY op, bucket_ns, svc""".stripMargin,
    withLabels("svc" -> Views.svc, "v" -> col("value").cast("string"))
  ) { run =>
    def setOp(op: String): DataFrame =
      run(s"""sum by (svc) (count_over_time({event_type="error"}[1d])) $op """ +
          """sum by (svc) (count_over_time({event_type="signup"} | v > 400 [1d]))""")
        .select(lit(op).as("op"), col("bucket_ns"),
          label("svc").cast("long").as("svc"), n)
    setOp("and").unionAll(setOp("unless")).orderBy("op", "bucket_ns", "svc")
  }

  /** `absent_over_time({error, v>450}[6h])` — 1 for grid steps with no
    * samples over the table extent (reference logqlmetric/
    * aggregator.go:144-148).
    */
  val absentOverTime: Q = q(
    "logql_absent_over_time",
    s"""WITH ext AS (
       |  SELECT min(epoch_ns(ts) - epoch_ns(ts) % $Step6hNs) AS lo,
       |         max(epoch_ns(ts) - epoch_ns(ts) % $Step6hNs) AS hi
       |  FROM events),
       |grid AS (SELECT unnest(generate_series(lo, hi, $Step6hNs)) AS bucket_ns FROM ext),
       |present AS (
       |  SELECT DISTINCT epoch_ns(ts) - epoch_ns(ts) % $Step6hNs AS bucket_ns
       |  FROM events WHERE event_type = 'error' AND value > 450)
       |SELECT bucket_ns, 1 AS absent FROM grid
       |WHERE bucket_ns NOT IN (SELECT bucket_ns FROM present)
       |ORDER BY bucket_ns""".stripMargin,
    withV
  ) { run =>
    run("""absent_over_time({event_type="error"} | v > 450 [6h])""")
      .select(col("bucket_ns"), col("value").cast("int").as("absent"))
      .orderBy("bucket_ns")
  }

  /** `quantile_over_time(0.9, {..} | unwrap v [..]) by (event_type)` —
    * exact Prometheus linear-interpolation quantile (reference
    * logqlmetric/prom_math.go:120-147; Spark's exact `percentile` uses
    * the same order-statistic interpolation as DuckDB quantile_cont).
    */
  val quantileOverTime: Q = q(
    "logql_quantile_over_time",
    """SELECT event_type, ROUND(quantile_cont(value, 0.9), 6) AS q90, COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    withV
  ) { run =>
    run(s"quantile_over_time(0.9, {} | unwrap v [$All]) by (event_type)")
      .select(label("event_type").as("event_type"), round(col("value"), 6).as("q90"))
      .join(run(s"sum by (event_type) (count_over_time({}[$All]))")
        .select(label("event_type").as("event_type"), n), "event_type")
      .orderBy("event_type")
  }

  /** `label_replace(v, "svc", "service-$1", "svc", "(.*)")` — regex
    * label rewrite (reference logqlmetric/label_replace.go).
    */
  val labelReplace: Q = q(
    "logql_label_replace",
    """SELECT regexp_replace(concat('svc-', CAST(user_id % 4 AS VARCHAR)), '^svc-', 'service-') AS svc,
      |  COUNT(*) AS n
      |FROM events GROUP BY svc ORDER BY svc""".stripMargin,
    withSvc
  ) { run =>
    run(s"""label_replace(sum by (svc) (count_over_time({}[$All])), "svc", "service-""" +
        """$1", "svc", "(.*)")""")
      .select(label("svc").as("svc"), n).orderBy("svc")
  }

  /** `| unpack` — promtail pack format: lift JSON fields to labels and
    * `_entry` to the line (reference logqlengine/unpack.go). The packed
    * body is synthesized with plain string concat so the oracle can
    * unpack with standard JSON functions.
    */
  val unpack: Q = q(
    "logql_unpack",
    """SELECT lvl, MAX(line) AS max_line, COUNT(*) AS n FROM (
      |  SELECT json_extract_string(packed, '$._entry') AS line,
      |         json_extract_string(packed, '$.lvl') AS lvl
      |  FROM (
      |    SELECT concat('{"_entry":"line-', event_id, '","lvl":"', event_type, '"}') AS packed
      |    FROM events))
      |GROUP BY lvl ORDER BY lvl""".stripMargin,
    Views.logs(_, body = concat(lit("{\"_entry\":\"line-"), col("event_id"),
      lit("\",\"lvl\":\""), col("event_type"), lit("\"}")))
  ) { run =>
    run("{} | unpack")
      .groupBy(label("lvl").as("lvl"))
      .agg(max(col("body")).as("max_line"), count(lit(1)).as("n"))
      .orderBy("lvl")
  }

  /** `| json ab="a.b", arr1="arr[1]"` — JSONPath field selection into
    * labels (reference logqlengine/json.go + jsonexpr parser).
    */
  val jsonPaths: Q = q(
    "logql_json_paths",
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(j, '$.a.b') AS BIGINT)) AS BIGINT) AS sum_ab,
      |  CAST(SUM(CAST(json_extract_string(j, '$.arr[1]') AS BIGINT)) AS BIGINT) AS sum_arr1
      |FROM (
      |  SELECT event_type,
      |    concat('{"a":{"b":', user_id, '},"arr":[1,', event_id % 100, ']}') AS j
      |  FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin,
    Views.logs(_, body = concat(lit("{\"a\":{\"b\":"), col("user_id"),
      lit("},\"arr\":[1,"), col("event_id") % 100, lit("]}")))
  ) { run =>
    def sumOf(lbl: String, path: String): DataFrame =
      run(s"""sum by (event_type) (sum_over_time({} | json $lbl="$path" | unwrap $lbl [$All]))""")
        .select(label("event_type").as("event_type"),
          col("value").cast("long").as(s"sum_$lbl"))
    sumOf("ab", "a.b").join(sumOf("arr1", "arr[1]"), "event_type")
      .orderBy("event_type")
  }

  /** Line filter or-lists: `|= "..." or "..."` and `!~ ".." or ".."`
    * (reference pipeline.go:35-91 multi-value filters; SQL lowering
    * querier_logs_query.go:654-697).
    */
  val lineFilterOr: Q = q(
    "logql_line_filter_or",
    """SELECT event_type, COUNT(*) AS n FROM events
      |WHERE (contains(props, '"k": 1') OR contains(props, '"k": 2'))
      |  AND NOT (regexp_matches(props, '"k": 1[0-9]') OR regexp_matches(props, '"k": 2[0-9]'))
      |GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { run =>
    run(s"""sum by (event_type) (count_over_time({} |= `"k": 1` or `"k": 2` !~ `"k": 1[0-9]` or `"k": 2[0-9]` [$All]))""")
      .select(label("event_type").as("event_type"), n).orderBy("event_type")
  }

  /** `first_over_time` / `last_over_time` per step (reference
    * logqlmetric/aggregator.go first/last).
    */
  val firstLastOverTime: Q = q(
    "logql_first_last_over_time",
    s"""SELECT event_type, bucket_ns,
       |  ARG_MIN(value, ts_ns) AS first_v, ARG_MAX(value, ts_ns) AS last_v
       |FROM (SELECT event_type, value, epoch_ns(ts) AS ts_ns,
       |        epoch_ns(ts) - epoch_ns(ts) % $Step1dNs AS bucket_ns FROM events)
       |GROUP BY event_type, bucket_ns ORDER BY event_type, bucket_ns""".stripMargin,
    withV
  ) { run =>
    def over(fn: String, out: String): DataFrame =
      run(s"$fn({} | unwrap v [1d]) by (event_type)")
        .select(label("event_type").as("event_type"), col("bucket_ns"),
          col("value").as(out))
    over("first_over_time", "first_v")
      .join(over("last_over_time", "last_v"), Seq("event_type", "bucket_ns"))
      .orderBy("event_type", "bucket_ns")
  }

  /** `rate_counter({..} | logfmt | unwrap v [1d])` — Prometheus
    * extrapolatedRate over unwrapped values INCLUDING counter-reset
    * correction (raw values reset constantly, so the correction term
    * dominates; reference logqlmetric/aggregator.go:81-89 +
    * prom_math.go:31-104). The line is `v=<value>` and the only stream
    * label is event_type: the bare logfmt stage extracts without adding
    * stream labels, so each event type stays one series.
    */
  val rateCounter: Q = {
    val resultSql = "(last_v - first_v + corr)"
    q(
      "logql_rate_counter",
      s"""SELECT event_type, bucket_us,
         |  $resultSql * ${PromMath.oracleExtrapolation(counterZeroClamp = true, resultSql)} / 86400.0 AS rate
         |FROM (
         |  SELECT event_type, bucket_us, COUNT(*) AS n,
         |    MIN(ts_us) AS first_ts_us, MAX(ts_us) AS last_ts_us,
         |    ARG_MIN(value, ts_us) AS first_v, ARG_MAX(value, ts_us) AS last_v,
         |    CAST(COALESCE(SUM(CAST(CASE WHEN value < prev THEN prev END AS DECIMAL(18,4))), 0) AS DOUBLE) AS corr
         |  FROM (
         |    SELECT event_type, value, ts_us, bucket_us,
         |      lag(value) OVER (PARTITION BY event_type, bucket_us ORDER BY ts_us, event_id) AS prev
         |    FROM (SELECT event_type, value, event_id, epoch_us(ts) AS ts_us,
         |            epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us FROM events))
         |  GROUP BY event_type, bucket_us)
         |WHERE n >= 2 ORDER BY event_type, bucket_us""".stripMargin,
      Views.logs(_, body = concat(lit("v="), col("value").cast("string")),
        labels = Seq("event_type" -> col("event_type")))
    ) { run =>
      run("rate_counter({} | logfmt | unwrap v [1d])")
        .select(label("event_type").as("event_type"),
          expr("bucket_ns div 1000").as("bucket_us"), col("value").as("rate"))
        .orderBy("event_type", "bucket_us")
    }
  }

  /** `count_over_time({..}[1d] offset 1d)` — the selected range shifts
    * back by the offset; bucket labels stay on the query grid
    * (reference logql/range_expr.go:8-30 offset folding).
    */
  val offsetRange: Q = q(
    "logql_offset",
    s"""SELECT bucket_ns, event_type, COUNT(*) AS n FROM (
       |  SELECT (epoch_ns(ts) + $Step1dNs) - (epoch_ns(ts) + $Step1dNs) % $Step1dNs AS bucket_ns,
       |    event_type
       |  FROM events)
       |GROUP BY bucket_ns, event_type ORDER BY bucket_ns, event_type""".stripMargin
  ) { run =>
    run("sum by (event_type) (count_over_time({}[1d] offset 1d))")
      .select(col("bucket_ns"), label("event_type").as("event_type"), n)
      .orderBy("bucket_ns", "event_type")
  }

  /** `vector(5) * 2 + 1` over the step grid — literal expressions and
    * constant folding (reference logql/metric_expr.go:126-236
    * ReduceBinOp).
    */
  val vectorLiteral: Q = q(
    "logql_vector_literal",
    s"""WITH ext AS (
       |  SELECT min(epoch_ns(ts) - epoch_ns(ts) % $Step1dNs) AS lo,
       |         max(epoch_ns(ts) - epoch_ns(ts) % $Step1dNs) AS hi FROM events)
       |SELECT unnest(generate_series(lo, hi, $Step1dNs)) AS bucket_ns, 11 AS value
       |FROM ext ORDER BY bucket_ns""".stripMargin
  ) { run =>
    run("vector(5) * 2 + 1")
      .select(col("bucket_ns"), col("value").cast("int").as("value"))
      .orderBy("bucket_ns")
  }

  /** Log pipeline: selector + json + numeric label filter; output rows
    * under the API's default 1000-line cap.
    */
  val parsedPipeline: Q = q(
    "logql_e2e_pipeline",
    """SELECT epoch_us(ts) AS ts_us, props AS body FROM events
      |WHERE event_type = 'error'
      |  AND CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50
      |ORDER BY ts_us, body LIMIT 1000""".stripMargin,
    logLimit = Some(Planner.DefaultLogLimit)
  ) { run =>
    // the line cap is part of the contract here — the total
    // (ts, body) order makes the top-1000 deterministic
    run("""{event_type="error"} | json | k > 50""")
      .select(expr("ts_ns div 1000").as("ts_us"), col("body"))
      .orderBy("ts_us", "body")
  }

  /** Metric query: anchored regex matcher, range agg, vector agg with by(). */
  val parsedMetric: Q = q(
    "logql_e2e_metric",
    s"""SELECT epoch_ns(ts) - epoch_ns(ts) % ${21600L * 1000000000} AS bucket_ns,
       |  event_type, CAST(COUNT(*) AS DOUBLE) AS value
       |FROM events
       |WHERE regexp_matches(CAST(user_id AS VARCHAR), '^(?:1.*)$$')
       |GROUP BY bucket_ns, event_type
       |ORDER BY bucket_ns, event_type""".stripMargin
  ) { run =>
    run("""sum by (event_type) (count_over_time({user_id=~"1.*"}[6h]))""")
      .select(col("bucket_ns"), label("event_type").as("event_type"), col("value"))
      .orderBy("bucket_ns", "event_type")
  }

  /** topk, deterministic tie-break via the stream key. */
  val parsedTopk: Q = q(
    "logql_e2e_topk",
    s"""SELECT bucket_ns, event_type, n AS value FROM (
       |  SELECT bucket_ns, event_type, CAST(n AS DOUBLE) AS n,
       |    row_number() OVER (PARTITION BY bucket_ns ORDER BY n DESC, event_type) AS rk
       |  FROM (
       |    SELECT epoch_ns(ts) - epoch_ns(ts) % ${86400L * 1000000000} AS bucket_ns,
       |      event_type, COUNT(*) AS n
       |    FROM events GROUP BY 1, 2))
       |WHERE rk <= 2 ORDER BY bucket_ns, value DESC, event_type""".stripMargin
  ) { run =>
    run("""topk(2, sum by (event_type) (count_over_time({}[1d])))""")
      .select(col("bucket_ns"), label("event_type").as("event_type"), col("value"))
      .orderBy(col("bucket_ns"), col("value").desc, col("event_type"))
  }

  /** Scalar binop: total count per step divided once (sum of
    * integer-valued doubles is order-exact; the single division keeps
    * the oracle bit-identical).
    */
  val parsedRate: Q = q(
    "logql_e2e_rate",
    s"""SELECT epoch_ns(ts) - epoch_ns(ts) % ${86400L * 1000000000} AS bucket_ns,
       |  CAST(COUNT(*) AS DOUBLE) / 86400.0 AS value
       |FROM events WHERE event_type = 'click'
       |GROUP BY bucket_ns ORDER BY bucket_ns""".stripMargin
  ) { run =>
    run("""sum(count_over_time({event_type="click"}[1d])) / 86400""")
      .select(col("bucket_ns"), col("value")).orderBy("bucket_ns")
  }

  /** bottomk — rank-ascending per step. */
  val parsedBottomk: Q = q(
    "logql_e2e_bottomk",
    s"""SELECT bucket_ns, event_type, n AS value FROM (
       |  SELECT bucket_ns, event_type, CAST(n AS DOUBLE) AS n,
       |    row_number() OVER (PARTITION BY bucket_ns ORDER BY n ASC, event_type) AS rk
       |  FROM (
       |    SELECT epoch_ns(ts) - epoch_ns(ts) % ${86400L * 1000000000} AS bucket_ns,
       |      event_type, COUNT(*) AS n
       |    FROM events GROUP BY 1, 2))
       |WHERE rk <= 2 ORDER BY bucket_ns, value, event_type""".stripMargin
  ) { run =>
    run("""bottomk(2, sum by (event_type) (count_over_time({}[1d])))""")
      .select(col("bucket_ns"), label("event_type").as("event_type"), col("value"))
      .orderBy(col("bucket_ns"), col("value"), col("event_type"))
  }

  /** without() grouping: drop event_type, keep user_id. */
  val parsedWithout: Q = q(
    "logql_e2e_without",
    s"""SELECT epoch_ns(ts) - epoch_ns(ts) % ${86400L * 1000000000} AS bucket_ns,
       |  CAST(user_id AS VARCHAR) AS user_id, CAST(COUNT(*) AS DOUBLE) AS value
       |FROM events WHERE user_id = 7
       |GROUP BY bucket_ns, user_id ORDER BY bucket_ns""".stripMargin
  ) { run =>
    run("""sum without (event_type) (count_over_time({user_id="7"}[1d]))""")
      .select(col("bucket_ns"), label("user_id").as("user_id"), col("value"))
      .orderBy("bucket_ns")
  }

  /** line_format + logfmt + label filter chained: the body is rewritten
    * to logfmt, re-parsed by the logfmt stage, and filtered on the
    * extracted field.
    */
  val parsedLogfmt: Q = q(
    "logql_e2e_logfmt",
    """SELECT COUNT(*) AS n, MAX(body) AS max_body FROM (
      |  SELECT 'uid=' || user_id || ' t=' || event_type AS body
      |  FROM events WHERE event_type = 'signup')""".stripMargin
  ) { run =>
    run("""{event_type="signup"} | line_format "uid={{.user_id}} t={{.event_type}}" | logfmt | t = "signup"""")
      .agg(count(lit(1)).as("n"), max(col("body")).as("max_body"))
  }

  val planned: Seq[Q] = Seq(
    selector, lineFilterContains, lineFilterRegex, jsonExtract,
    countOverTime, rate, bytesOverTime, logfmtExtract, patternExtract,
    lineFormat, distinctStage, ipFilter, unwrapBytes, decolorizeStage,
    topk, binopRatio, binopSet, absentOverTime, quantileOverTime,
    labelReplace, unpack, jsonPaths, lineFilterOr, firstLastOverTime,
    rateCounter, offsetRange, vectorLiteral,
    parsedPipeline, parsedMetric, parsedTopk, parsedRate, parsedBottomk,
    parsedWithout, parsedLogfmt)

  // ---------- gaps ----------
  // Hand-built frames the planner cannot yet match against their
  // (unchanged) oracles; each names the reason. COVERAGE.md lists them.

  private def gap(name: String, oracle: String)(f: Testdata => DataFrame): Q =
    Q(name, (s: SparkSession, dir: String) => f(Testdata(s, dir)), Some(oracle))

  /** GAP: sum/avg are decimal-exact here; the planner's sum_over_time
    * and avg_over_time accumulate doubles in partition order.
    */
  val unwrapStats: Q = gap(
    "logql_unwrap_stats",
    s"""SELECT event_type,
       |  ${oSum("value")} AS sum_v, MIN(value) AS min_v, MAX(value) AS max_v,
       |  ${oAvg("value")} AS avg_v, COUNT(*) AS n
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { td =>
    td.events
      .groupBy(col("event_type"))
      .agg(
        dsum(col("value")).as("sum_v"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        davg(col("value")).as("avg_v"),
        count(lit(1)).as("n")
      )
      .orderBy("event_type")
  }

  /** GAP: `| unwrap dur duration` summed decimal-exact; the planner's
    * sum_over_time accumulates doubles (parse_duration stays pinned in
    * codegen by PlanSpec on this frame).
    */
  val unwrapDuration: Q = gap(
    "logql_unwrap_duration",
    s"""SELECT event_type,
       |  ${oSum("CAST(FLOOR(value*10) AS BIGINT) * 0.001")} AS sum_dur_s,
       |  COUNT(*) AS n
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { td =>
    val durStr = concat(floor(col("value") * 10).cast("long").cast("string"), lit("ms"))
    td.events
      .withColumn("dur_s", parse_duration(durStr))
      .groupBy(col("event_type"))
      .agg(dsum(col("dur_s")).as("sum_dur_s"), count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** GAP: stdvar/stddev from decimal-exact Σx and Σx²; the planner's
    * stdvar_over_time is Spark's double var_pop.
    */
  val stddevStdvar: Q = gap(
    "logql_stddev_stdvar",
    """SELECT event_type,
      |  ROUND((CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE)
      |     - CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
      |       * CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)) / COUNT(*), 6) AS stdvar,
      |  ROUND(SQRT((CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE)
      |     - CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
      |       * CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)) / COUNT(*)), 6) AS stddev,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { td =>
    val s1 = sum(col("value").cast("decimal(18,4)")).cast("double")
    val s2 = sum((col("value") * col("value")).cast("decimal(28,8)")).cast("double")
    val cnt = count(lit(1))
    td.events
      .groupBy(col("event_type"))
      .agg(
        round((s2 - s1 * s1 / cnt) / cnt, 6).as("stdvar"),
        round(sqrt((s2 - s1 * s1 / cnt) / cnt), 6).as("stddev"),
        cnt.as("n"))
      .orderBy("event_type")
  }

  /** GAP: the registry row carries each series' rank within its step;
    * `sort_desc` orders rows but has no rank output.
    */
  val sortDesc: Q = gap(
    "logql_sort_desc",
    s"""SELECT bucket_ns, event_type, n,
       |  row_number() OVER (PARTITION BY bucket_ns ORDER BY n DESC, event_type) AS rk
       |FROM (
       |  SELECT epoch_ns(ts) - epoch_ns(ts) % $Step1dNs AS bucket_ns, event_type, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2)
       |ORDER BY bucket_ns, rk""".stripMargin
  ) { td =>
    val counts = td.events
      .withColumn("bucket_ns", col("ts") - col("ts") % Step1dNs)
      .groupBy(col("bucket_ns"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("bucket_ns")).orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rk", row_number().over(w))
      .select(col("bucket_ns"), col("event_type"), col("n"), col("rk"))
      .orderBy("bucket_ns", "rk")
  }

  /** GAP: log PATTERN MINING is the `/loki/api/v1/patterns` surface
    * (the reference stubs it empty, lokihandler.go:605-610), which has
    * no query string: the entry calls the endpoint's
    * [[graft.logql.PatternMine]] directly. Variable tokens (numbers,
    * hex ids, durations) collapse to `<_>` and each (pattern, level,
    * day) bucket counts occurrences.
    */
  val patternMining: Q = {
    val tmpl = graft.logql.PatternMine.oracleTemplate("body")
    gap(
      "logql_pattern_mining",
      s"""WITH lines AS (
         |  SELECT epoch_ns(ts) - epoch_ns(ts) % $Step1dNs AS bucket_ns,
         |    concat('level=', CASE WHEN event_type = 'error' THEN 'error' ELSE 'info' END,
         |      ' user=', user_id, ' action=', event_type,
         |      ' took=', CAST(floor(value * 100) AS BIGINT), 'ms',
         |      ' trace=', md5(CAST(event_id AS VARCHAR))) AS body
         |  FROM events)
         |SELECT $tmpl AS pattern,
         |  CASE WHEN regexp_matches(lower(body), '\\b(error|err|fatal|panic)\\b') THEN 'error'
         |       WHEN regexp_matches(lower(body), '\\b(warn|warning)\\b') THEN 'warn'
         |       WHEN regexp_matches(lower(body), '\\bdebug\\b') THEN 'debug'
         |       WHEN regexp_matches(lower(body), '\\b(info|information)\\b') THEN 'info'
         |       ELSE 'unknown' END AS level,
         |  bucket_ns, CAST(COUNT(*) AS BIGINT) AS n
         |FROM lines GROUP BY pattern, level, bucket_ns
         |ORDER BY bucket_ns, pattern""".stripMargin
    ) { td =>
      val body = concat(
        lit("level="),
        when(col("event_type") === "error", "error").otherwise("info"),
        lit(" user="), col("user_id"),
        lit(" action="), col("event_type"),
        lit(" took="), floor(col("value") * 100).cast("long"), lit("ms"),
        lit(" trace="), md5(col("event_id").cast("string")))
      val logs = td.events.select(col("ts").as("ts_ns"), body.as("body"))
      graft.logql.PatternMine.mine(logs, Step1dNs)
        .orderBy("bucket_ns", "pattern")
    }
  }

  val gaps: Seq[Q] = Seq(
    unwrapStats, unwrapDuration, stddevStdvar, sortDesc, patternMining)

  override def queries: Seq[Q] = planned ++ gaps
}
