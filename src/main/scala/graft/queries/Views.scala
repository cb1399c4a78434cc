package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Testdata

/** The fixture views the query packs read the testdata through — one
  * definition per signal, in each planner's input contract:
  *
  *   - logs (graft.logql.Planner): `ts_ns`, `body`, `labels`;
  *   - points (graft.promql.PromQL): `ts_us`, `name`, `value`, `labels`;
  *   - spans (graft.traceql.TraceQL): the span columns plus `attrs`,
  *     ingest-materialized once per sfDir with its stored `parent_path`.
  *
  * Entries that need another body, label set or sample value pass it
  * in; the defaults are the shapes most entries read.
  */
object Views {

  private def labelMap(labels: Seq[(String, Column)]): Column =
    map(labels.flatMap { case (k, v) => Seq(lit(k), v) }: _*)

  /** The default stream labels of the events-as-logs view. */
  val eventLabels: Seq[(String, Column)] = Seq(
    "event_type" -> col("event_type"),
    "user_id" -> col("user_id").cast("string"))

  /** `user_id % 4` as a label value — the four services of the points view. */
  val svc: Column = (col("user_id") % 4).cast("string")

  /** events as the logs table: body = props, labels = {event_type, user_id}. */
  def logs(td: Testdata, body: Column = col("props"),
      labels: Seq[(String, Column)] = eventLabels): DataFrame =
    td.events.select(col("ts").as("ts_ns"), body.as("body"),
      labelMap(labels).as("labels"))

  /** documents as the logs table: body = text, labels = {lang}; the
    * corpus has no timestamps, so every line sits at ts 0.
    */
  def docLogs(td: Testdata): DataFrame =
    td.documents.select(lit(0L).as("ts_ns"), col("text").as("body"),
      map(lit("lang"), col("lang")).as("labels"))

  /** events as the points table: metric name = event_type, labels =
    * {svc}. `name`, `labels` and `value` swap in other series shapes.
    */
  def points(td: Testdata, name: Column = col("event_type"),
      labels: Seq[(String, Column)] = Seq("svc" -> svc),
      value: Column = col("value")): DataFrame =
    td.events.select(expr("ts div 1000").as("ts_us"), name.as("name"),
      value.as("value"), labelMap(labels).as("labels"))

  /** One metric `ev` with labels {svc, et}: many-to-one matching and
    * grouping over two label dimensions.
    */
  def evPoints(td: Testdata): DataFrame =
    points(td, lit("ev"), Seq("svc" -> svc, "et" -> col("event_type")))

  /** lineitem as the spans table — trace = order, span = line, parent =
    * linenumber / 2 — ingest-materialized once per sfDir.
    */
  def spans(td: Testdata): DataFrame =
    Fixtures.materializedSpans(td.spark, td.dir, "spans") {
      td.lineitem.select(
        col("l_orderkey").as("trace_id"),
        col("l_linenumber").as("span_id"),
        when(col("l_linenumber") > 1, floor(col("l_linenumber") / 2).cast("int"))
          .as("parent_span_id"),
        concat(lit("op-"), col("l_returnflag")).as("name"),
        lit(2).as("kind"),
        when(col("l_returnflag") === "R", 2).otherwise(0).as("status_code"),
        round(col("l_quantity") * 1e6, 0).cast("long").as("duration_ns"),
        (unix_timestamp(col("l_shipdate")) * 1000000000L).as("start_ns"),
        map(
          lit("returnflag"), col("l_returnflag"),
          lit("linestatus"), col("l_linestatus"),
          lit("quantity"), col("l_quantity").cast("string")).as("attrs"))
    }
}
