package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.logql.Planner
import graft.promql.PromQL
import graft.sources.Testdata

/** Vector-matching binops through BOTH parsers — on()/ignoring() and
  * group_left/group_right (reference metric_expr.go:238-253,
  * logqlmetric/bin_op.go:13-254). Counts stay integer until one final
  * division, so the float math is a single IEEE op on both sides.
  */
object QueriesMatching extends QueryPack {

  private val DayNs = 86400000000000L
  private val DayUs = 86400000000L

  /** One-to-one `/ on(event_type)` through the LogQL parser: user 7's
    * share of each event type per step; result labels = the on() set.
    */
  val logqlBinopOn: Q = Q(
    "logql_e2e_binop_on",
    (s: SparkSession, dir: String) =>
      Planner.query(
          """sum by (event_type) (count_over_time({user_id="7"}[1d])) / on(event_type) sum by (event_type) (count_over_time({}[1d]))""",
          Views.logs(Testdata(s, dir)))
        .select(col("bucket_ns"),
          element_at(col("labels"), "event_type").as("event_type"), col("value"))
        .orderBy("bucket_ns", "event_type"),
    Some(
      s"""SELECT a.bucket_ns, a.event_type, CAST(a.n AS DOUBLE) / b.n AS value
         |FROM (
         |  SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns, event_type, COUNT(*) AS n
         |  FROM events WHERE user_id = 7 GROUP BY 1, 2) a
         |JOIN (
         |  SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns, event_type, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2) b
         |  ON a.bucket_ns = b.bucket_ns AND a.event_type = b.event_type
         |ORDER BY a.bucket_ns, a.event_type""".stripMargin))

  /** Many-to-one `/ on(user_id) group_left` through the LogQL parser:
    * each (event_type, user_id) series divided by its user's total; the
    * many side keeps its full label set.
    */
  val logqlGroupLeft: Q = Q(
    "logql_e2e_group_left",
    (s: SparkSession, dir: String) =>
      Planner.query(
          """sum by (event_type, user_id) (count_over_time({}[1d])) / on(user_id) group_left sum by (user_id) (count_over_time({}[1d]))""",
          Views.logs(Testdata(s, dir)))
        .select(col("bucket_ns"),
          element_at(col("labels"), "event_type").as("event_type"),
          element_at(col("labels"), "user_id").as("user_id"), col("value"))
        .orderBy("bucket_ns", "event_type", "user_id"),
    Some(
      s"""SELECT a.bucket_ns, a.event_type, CAST(a.user_id AS VARCHAR) AS user_id,
         |  CAST(a.n AS DOUBLE) / b.n AS value
         |FROM (
         |  SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
         |    event_type, user_id, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2, 3) a
         |JOIN (
         |  SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns, user_id, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2) b
         |  ON a.bucket_ns = b.bucket_ns AND a.user_id = b.user_id
         |ORDER BY a.bucket_ns, a.event_type, user_id""".stripMargin))

  /** group_left through the PromQL parser: share of each event type
    * within its svc per step.
    */
  val promqlGroupLeft: Q = Q(
    "promql_e2e_group_left",
    (s: SparkSession, dir: String) =>
      PromQL.range(
          """count_over_time(ev[1d]) / on(svc) group_left sum by (svc) (count_over_time(ev[1d]))""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          element_at(col("labels"), "et").as("et"), col("value"))
        .orderBy("bucket_us", "svc", "et"),
    Some(
      s"""SELECT a.bucket_us, a.svc, a.et, CAST(a.n AS DOUBLE) / b.n AS value
         |FROM (
         |  SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |    CAST(user_id % 4 AS VARCHAR) AS svc, event_type AS et, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2, 3) a
         |JOIN (
         |  SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |    CAST(user_id % 4 AS VARCHAR) AS svc, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2) b
         |  ON a.bucket_us = b.bucket_us AND a.svc = b.svc
         |ORDER BY a.bucket_us, a.svc, a.et""".stripMargin))

  /** Operator precedence + left associativity through the LogQL
    * parser: * binds over +/-, equal precedence folds left.
    */
  val logqlPrecedence: Q = Q(
    "logql_e2e_precedence",
    (s: SparkSession, dir: String) =>
      Planner.query(
          """sum by (event_type) (count_over_time({}[1d])) * 2 + 10 - 4""",
          Views.logs(Testdata(s, dir)))
        .select(col("bucket_ns"),
          element_at(col("labels"), "event_type").as("event_type"), col("value"))
        .orderBy("bucket_ns", "event_type"),
    Some(
      s"""SELECT epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns, event_type,
         |  CAST(COUNT(*) AS DOUBLE) * 2 + 10 - 4 AS value
         |FROM events GROUP BY bucket_ns, event_type
         |ORDER BY bucket_ns, event_type""".stripMargin))

  /** Parenthesized grouping through the PromQL parser. */
  val promqlPrecedence: Q = Q(
    "promql_e2e_precedence",
    (s: SparkSession, dir: String) =>
      PromQL.range("""(count_over_time(ev[1d]) + 10) * 2 - 100""",
          Views.evPoints(Testdata(s, dir)))
        .select(col("bucket_us"),
          element_at(col("labels"), "svc").as("svc"),
          element_at(col("labels"), "et").as("et"), col("value"))
        .orderBy("bucket_us", "svc", "et"),
    Some(
      s"""SELECT epoch_us(ts) - epoch_us(ts) % $DayUs AS bucket_us,
         |  CAST(user_id % 4 AS VARCHAR) AS svc, event_type AS et,
         |  (CAST(COUNT(*) AS DOUBLE) + 10) * 2 - 100 AS value
         |FROM events GROUP BY 1, 2, 3
         |ORDER BY bucket_us, svc, et""".stripMargin))

  override def queries: Seq[Q] = Seq(
    logqlBinopOn, logqlGroupLeft, promqlGroupLeft,
    logqlPrecedence, promqlPrecedence)
}
