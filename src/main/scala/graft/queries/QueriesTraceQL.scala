package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Testdata
import graft.traceql.TraceQL

/** TraceQL over the span view derived from lineitem (SURVEY.md §2.4;
  * trace = order, span = lineitem row, parent = linenumber/2 binary
  * tree). Every entry but the labelled gaps at the end runs its query
  * string through graft.traceql.TraceQL — `plan` for spanset rollups,
  * `matchSpans` for the matched spans, `planMetrics` for metrics
  * queries, `tagValues` for autocomplete — over [[Views.spans]], and
  * projects the result onto its registry columns.
  *
  * Span identity note: (l_orderkey, l_linenumber) is NOT unique in the
  * testdata, so every query here returns aggregates (per-trace rollups,
  * pair counts), never raw span rows.
  */
object QueriesTraceQL extends QueryPack {

  /** An entry whose frame is built from the TraceQL front-end over the
    * materialized spans view.
    */
  private def q(name: String, oracle: String)(f: DataFrame => DataFrame): Q =
    Q(name, (s: SparkSession, dir: String) => f(Views.spans(Testdata(s, dir))),
      Some(oracle))

  private val oracleSpans =
    """SELECT l_orderkey AS trace_id, l_linenumber AS span_id,
      |  CASE WHEN l_linenumber > 1 THEN l_linenumber // 2 END AS parent_span_id,
      |  'op-' || l_returnflag AS name,
      |  CAST(round(l_quantity * 1000000, 0) AS BIGINT) AS duration_ns,
      |  CASE WHEN l_returnflag = 'R' THEN 2 ELSE 0 END AS status_code,
      |  l_returnflag AS returnflag, l_linestatus AS linestatus, l_quantity AS quantity,
      |  CAST(epoch(l_shipdate) AS BIGINT) * 1000000000 AS start_ns
      |FROM lineitem""".stripMargin

  /** The span columns the TraceQLMore entries' oracles derive. */
  private val oracleSpansMore =
    """SELECT l_orderkey AS trace_id, l_linenumber AS span_id,
      |  CASE WHEN l_linenumber > 1 THEN l_linenumber // 2 END AS parent_span_id,
      |  l_returnflag AS returnflag, l_linestatus AS linestatus, l_quantity AS quantity
      |FROM lineitem""".stripMargin

  /** The span columns the front-end entries' oracles derive. */
  private val oracleSpansE2e =
    """SELECT l_orderkey AS trace_id, l_linenumber AS span_id,
      |  CASE WHEN l_linenumber > 1 THEN l_linenumber // 2 END AS parent_span_id,
      |  'op-' || l_returnflag AS name,
      |  CAST(round(l_quantity * 1000000, 0) AS BIGINT) AS duration_ns,
      |  l_returnflag AS returnflag, l_linestatus AS linestatus, l_quantity AS quantity
      |FROM lineitem""".stripMargin

  /** `{ duration > 30ms && returnflag = "A" }` — span filter + per-operation
    * rollup of the matched spans (reference
    * traceqlengine/spanset_filter.go, evaluater.go:50-669).
    */
  val spanFilter: Q = q(
    "traceql_span_filter",
    s"""WITH spans AS ($oracleSpans)
       |SELECT name, COUNT(*) AS n_spans,
       |  CAST(SUM(duration_ns) AS BIGINT) AS sum_dur_ns
       |FROM spans WHERE duration_ns > 30000000 AND returnflag = 'A'
       |GROUP BY name ORDER BY name""".stripMargin
  ) { spans =>
    TraceQL.matchSpans("""{ duration > 30ms && returnflag = "A" }""", spans)
      .groupBy(col("name"))
      .agg(count(lit(1)).as("n_spans"), sum(col("duration_ns")).as("sum_dur_ns"))
      .orderBy("name")
  }

  /** Spanset aggregate + scalar filter `{ } | count() > 8`, joined with
    * the per-trace `max(duration)` (reference
    * traceqlengine/aggregator.go:10-142, scalar_filter.go).
    */
  val spansetAgg: Q = q(
    "traceql_spanset_agg",
    s"""WITH spans AS ($oracleSpans)
       |SELECT trace_id, COUNT(*) AS n_spans,
       |  MAX(duration_ns) AS max_dur_ns
       |FROM spans GROUP BY trace_id HAVING COUNT(*) > 8
       |ORDER BY n_spans DESC, trace_id LIMIT 50""".stripMargin
  ) { spans =>
    TraceQL.plan("{ } | count() > 8", spans)
      .select(col("trace_id"), col("n_spans"))
      .join(TraceQL.plan("{ } | max(duration) >= 0", spans)
        .select(col("trace_id"), col("agg_value").cast("long").as("max_dur_ns")),
        "trace_id")
      .orderBy(col("n_spans").desc, col("trace_id"))
      .limit(50)
  }

  /** Tag autocomplete: distinct (tag, value) pairs (reference
    * querier_traces.go:113-391 SearchTagValues).
    */
  val tagAutocomplete: Q = q(
    "traceql_tag_autocomplete",
    """SELECT tag, value FROM (
      |  SELECT DISTINCT 'returnflag' AS tag, l_returnflag AS value FROM lineitem
      |  UNION ALL
      |  SELECT DISTINCT 'linestatus' AS tag, l_linestatus AS value FROM lineitem)
      |ORDER BY tag, value""".stripMargin
  ) { spans =>
    def values(tag: String): DataFrame =
      TraceQL.tagValues("{ }", tag, spans).select(lit(tag).as("tag"), col("value"))
    values("returnflag").unionAll(values("linestatus")).orderBy("tag", "value")
  }

  /** TraceQL metrics `{ status = error } | rate() | by(linestatus)` —
    * parity-plus: the reference parses these but returns
    * NotImplemented (tempohandler.go:89-120).
    */
  val traceqlMetricsRate: Q = q(
    "traceql_metrics_rate",
    s"""WITH spans AS ($oracleSpans)
       |SELECT start_ns - start_ns % ${86400L * 1000000000} AS bucket_ns, linestatus,
       |  CAST(COUNT(*) AS DOUBLE) / 86400.0 AS rate
       |FROM spans WHERE status_code = 2
       |GROUP BY 1, 2 ORDER BY bucket_ns, linestatus""".stripMargin
  ) { spans =>
    TraceQL.planMetrics("{ status = error } | rate() | by(linestatus)", spans,
        86400L * 1000000000)
      .select(col("bucket_ns"), col("by_value").as("linestatus"), col("value").as("rate"))
      .orderBy("bucket_ns", "linestatus")
  }

  /** `{ quantity > 20 } | by(linestatus) | count() > 3 | select(quantity)` —
    * spanset partitioning by a field, aggregate + scalar filter, extra
    * projection (reference traceql/pipeline.go:44-55, traceqlengine
    * by/coalesce/select).
    */
  val byCoalesceSelect: Q = q(
    "traceql_by_select",
    s"""WITH spans AS ($oracleSpansMore)
       |SELECT trace_id, linestatus, COUNT(*) AS n,
       |  CAST(SUM(CAST(quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
       |FROM spans WHERE quantity > 20
       |GROUP BY trace_id, linestatus HAVING COUNT(*) > 3
       |ORDER BY trace_id, linestatus""".stripMargin
  ) { spans =>
    TraceQL.plan("{ quantity > 20 } | by(linestatus) | count() > 3 | select(quantity)",
        spans)
      .select(col("trace_id"), col("by_value").as("linestatus"),
        col("n_spans").as("n"), col("quantity_sum").as("sum_qty"))
      .orderBy("trace_id", "linestatus")
  }

  /** Negated parent `{ quantity > 30 } !< { linestatus = "F" }` — the
    * right side's spans that are NOT the parent of a left match, i.e.
    * linestatus-F spans with no quantity > 30 child (parity-plus: the
    * reference's builder rejects negated structural ops).
    */
  val negatedChild: Q = q(
    "traceql_negated_child",
    s"""WITH spans AS ($oracleSpansMore)
       |SELECT trace_id, COUNT(*) AS n_spans
       |FROM spans p
       |WHERE linestatus = 'F' AND NOT EXISTS (
       |  SELECT 1 FROM spans c
       |  WHERE c.trace_id = p.trace_id AND c.parent_span_id = p.span_id
       |    AND c.quantity > 30)
       |GROUP BY trace_id ORDER BY trace_id""".stripMargin
  ) { spans =>
    TraceQL.plan("""{ quantity > 30 } !< { linestatus = "F" }""", spans)
      .select(col("trace_id"), col("n_spans"))
  }

  /** Span filter + scalar HAVING. */
  val traceqlFilter: Q = q(
    "traceql_e2e_filter",
    s"""WITH spans AS ($oracleSpansE2e)
       |SELECT trace_id, COUNT(*) AS n_spans, CAST(COUNT(*) AS DOUBLE) AS agg_value
       |FROM spans WHERE duration_ns > 30000000 AND linestatus = 'F'
       |GROUP BY trace_id HAVING COUNT(*) >= 3
       |ORDER BY trace_id""".stripMargin
  ) { spans =>
    TraceQL.plan("""{ duration > 30ms && linestatus = "F" } | count() >= 3""", spans)
      .select(col("trace_id"), col("n_spans"), col("agg_value"))
  }

  /** Structural child op — returns the RIGHT side's matches
    * (reference spanset_op.go:196-215 childSpans: b-spans whose parent
    * matches a).
    */
  val traceqlStructural: Q = q(
    "traceql_e2e_structural",
    s"""WITH spans AS ($oracleSpansE2e)
       |SELECT trace_id, COUNT(*) AS n_spans FROM spans c
       |WHERE quantity > 30 AND EXISTS (
       |  SELECT 1 FROM spans p
       |  WHERE p.trace_id = c.trace_id AND p.span_id = c.parent_span_id
       |    AND p.returnflag = 'R')
       |GROUP BY trace_id ORDER BY trace_id""".stripMargin
  ) { spans =>
    TraceQL.plan("""{ returnflag = "R" } > { quantity > 30 }""", spans)
      .select(col("trace_id"), col("n_spans"))
  }

  /** Descendant op — returns the RIGHT side's matches that descend from
    * a left match (reference spanset_op.go:158-193 descendantSpans);
    * ancestry from parent_span_id (recursive CTE in the oracle), no
    * dependence on the testdata's span-id numbering.
    */
  val traceqlDescendant: Q = q(
    "traceql_e2e_descendant",
    s"""WITH RECURSIVE spans AS ($oracleSpansE2e),
       |uspans AS (SELECT DISTINCT trace_id, span_id, parent_span_id FROM spans),
       |anc AS (
       |  SELECT trace_id, span_id, parent_span_id AS anc FROM uspans
       |  WHERE parent_span_id IS NOT NULL
       |  UNION ALL
       |  SELECT a.trace_id, a.span_id, u.parent_span_id
       |  FROM anc a JOIN uspans u
       |    ON u.trace_id = a.trace_id AND u.span_id = a.anc
       |  WHERE u.parent_span_id IS NOT NULL)
       |SELECT trace_id, COUNT(*) AS n_spans FROM spans c
       |WHERE quantity > 45 AND EXISTS (
       |  SELECT 1 FROM anc x
       |  JOIN spans p ON p.trace_id = x.trace_id AND p.span_id = x.anc
       |  WHERE x.trace_id = c.trace_id AND x.span_id = c.span_id
       |    AND p.returnflag = 'R')
       |GROUP BY trace_id ORDER BY trace_id""".stripMargin
  ) { spans =>
    TraceQL.plan("""{ returnflag = "R" } >> { quantity > 45 }""", spans)
      .select(col("trace_id"), col("n_spans"))
  }

  /** Spanset `&&` — traces where both sides match keep the MERGED spans
    * of both sides, deduped by span id (reference spanset_op.go:41-47
    * mergeSpans).
    */
  val traceqlSpansetAnd: Q = q(
    "traceql_spanset_and",
    s"""WITH spans AS ($oracleSpansE2e),
       |l AS (SELECT trace_id, span_id FROM spans WHERE returnflag = 'R'),
       |r AS (SELECT trace_id, span_id FROM spans WHERE quantity > 45),
       |matched AS (
       |  SELECT DISTINCT trace_id FROM l
       |  INTERSECT SELECT DISTINCT trace_id FROM r)
       |SELECT trace_id, COUNT(*) AS n_spans FROM (
       |  SELECT trace_id, span_id FROM l
       |  UNION SELECT trace_id, span_id FROM r)
       |WHERE trace_id IN (SELECT trace_id FROM matched)
       |GROUP BY trace_id ORDER BY trace_id""".stripMargin
  ) { spans =>
    TraceQL.plan("""{ returnflag = "R" } && { quantity > 45 }""", spans)
      .select(col("trace_id"), col("n_spans"))
  }

  /** Ancestor op `<<` — returns the RIGHT side's matches that are
    * ancestors of a left match (mirror of descendantSpans, right-side
    * convention).
    */
  val traceqlDescOf: Q = q(
    "traceql_e2e_desc_of",
    s"""WITH RECURSIVE spans AS ($oracleSpansE2e),
       |uspans AS (SELECT DISTINCT trace_id, span_id, parent_span_id FROM spans),
       |anc AS (
       |  SELECT trace_id, span_id, parent_span_id AS anc FROM uspans
       |  WHERE parent_span_id IS NOT NULL
       |  UNION ALL
       |  SELECT a.trace_id, a.span_id, u.parent_span_id
       |  FROM anc a JOIN uspans u
       |    ON u.trace_id = a.trace_id AND u.span_id = a.anc
       |  WHERE u.parent_span_id IS NOT NULL)
       |SELECT trace_id, COUNT(*) AS n_spans FROM spans r
       |WHERE r.returnflag = 'R' AND EXISTS (
       |  SELECT 1 FROM anc x JOIN spans s
       |    ON s.trace_id = x.trace_id AND s.span_id = x.span_id
       |  WHERE x.trace_id = r.trace_id AND x.anc = r.span_id
       |    AND s.quantity > 45)
       |GROUP BY trace_id ORDER BY trace_id""".stripMargin
  ) { spans =>
    TraceQL.plan("""{ quantity > 45 } << { returnflag = "R" }""", spans)
      .select(col("trace_id"), col("n_spans"))
  }

  /** Negated sibling `!~` — right-side matches with NO left-matching
    * sibling.
    */
  val traceqlNoSibling: Q = q(
    "traceql_e2e_no_sibling",
    s"""WITH spans AS ($oracleSpansE2e)
       |SELECT trace_id, COUNT(*) AS n_spans FROM spans r
       |WHERE r.returnflag = 'R' AND NOT EXISTS (
       |  SELECT 1 FROM spans s
       |  WHERE s.trace_id = r.trace_id
       |    AND s.parent_span_id = r.parent_span_id
       |    AND s.span_id <> r.span_id AND s.linestatus = 'F')
       |GROUP BY trace_id ORDER BY trace_id""".stripMargin
  ) { spans =>
    TraceQL.plan("""{ linestatus = "F" } !~ { returnflag = "R" }""", spans)
      .select(col("trace_id"), col("n_spans"))
  }

  /** UNION child `&>` (Tempo's union structural family; the reference
    * parses and rejects these, spanset_op.go:89-102) — BOTH
    * participants survive: the children with a matching parent AND the
    * parents with a matching child.
    */
  val traceqlUnionChild: Q = q(
    "traceql_e2e_union_child",
    s"""WITH spans AS ($oracleSpansE2e),
       |rs AS (
       |  SELECT trace_id, span_id FROM spans c
       |  WHERE quantity > 45 AND EXISTS (
       |    SELECT 1 FROM spans p WHERE p.trace_id = c.trace_id
       |      AND p.span_id = c.parent_span_id AND p.returnflag = 'R')),
       |ls AS (
       |  SELECT trace_id, span_id FROM spans p
       |  WHERE returnflag = 'R' AND EXISTS (
       |    SELECT 1 FROM spans c WHERE c.trace_id = p.trace_id
       |      AND c.parent_span_id = p.span_id AND c.quantity > 45))
       |SELECT trace_id, COUNT(*) AS n_spans FROM (
       |  SELECT trace_id, span_id FROM rs
       |  UNION SELECT trace_id, span_id FROM ls)
       |GROUP BY trace_id ORDER BY trace_id""".stripMargin
  ) { spans =>
    TraceQL.plan("""{ returnflag = "R" } &> { quantity > 45 }""", spans)
      .select(col("trace_id"), col("n_spans"))
  }

  /** UNION sibling `&~` — spans on either side of the sibling relation
    * survive (symmetric by construction; the dedup matters when a span
    * matches both operands).
    */
  val traceqlUnionSibling: Q = q(
    "traceql_e2e_union_sibling",
    s"""WITH spans AS ($oracleSpansE2e),
       |rs AS (
       |  SELECT trace_id, span_id FROM spans r
       |  WHERE returnflag = 'R' AND EXISTS (
       |    SELECT 1 FROM spans s WHERE s.trace_id = r.trace_id
       |      AND s.parent_span_id = r.parent_span_id
       |      AND s.span_id <> r.span_id AND s.linestatus = 'F')),
       |ls AS (
       |  SELECT trace_id, span_id FROM spans l
       |  WHERE linestatus = 'F' AND EXISTS (
       |    SELECT 1 FROM spans s WHERE s.trace_id = l.trace_id
       |      AND s.parent_span_id = l.parent_span_id
       |      AND s.span_id <> l.span_id AND s.returnflag = 'R'))
       |SELECT trace_id, COUNT(*) AS n_spans FROM (
       |  SELECT trace_id, span_id FROM rs
       |  UNION SELECT trace_id, span_id FROM ls)
       |GROUP BY trace_id ORDER BY trace_id""".stripMargin
  ) { spans =>
    TraceQL.plan("""{ linestatus = "F" } &~ { returnflag = "R" }""", spans)
      .select(col("trace_id"), col("n_spans"))
  }

  val planned: Seq[Q] = Seq(
    spanFilter, spansetAgg, tagAutocomplete, traceqlMetricsRate,
    byCoalesceSelect, negatedChild,
    traceqlFilter, traceqlStructural, traceqlDescendant, traceqlSpansetAnd,
    traceqlDescOf, traceqlNoSibling, traceqlUnionChild, traceqlUnionSibling)

  // ---------- gaps ----------
  // Hand-built frames the planner cannot yet match against their
  // (unchanged) oracles; each names the reason. COVERAGE.md lists them.
  // The structural ones count (left, right) PAIRS; the planner returns
  // the matched spans of one side, and with duplicate span ids in the
  // testdata a span set count is not a pair count.

  private def gap(name: String, oracle: String)(f: DataFrame => DataFrame): Q = q(name, oracle) {
    spans => f(spans.select(
      col("trace_id"), col("span_id"), col("parent_span_id"), col("parent_path"),
      col("name"), col("duration_ns"), col("start_ns"),
      element_at(col("attrs"), "returnflag").as("returnflag"),
      element_at(col("attrs"), "linestatus").as("linestatus"),
      element_at(col("attrs"), "quantity").cast("double").as("quantity")))
  }

  /** GAP (pair count): structural child `{returnflag="R"} > {quantity > 30}`
    * — pairs per trace via self-join on (trace_id, parent=span)
    * (reference traceqlengine/spanset_op.go:49-88).
    */
  val structuralChild: Q = gap(
    "traceql_structural_child",
    s"""WITH spans AS ($oracleSpans)
       |SELECT p.trace_id, COUNT(*) AS n_pairs
       |FROM spans p JOIN spans c
       |  ON c.trace_id = p.trace_id AND c.parent_span_id = p.span_id
       |WHERE p.returnflag = 'R' AND c.quantity > 30
       |GROUP BY p.trace_id ORDER BY p.trace_id""".stripMargin
  ) { s =>
    val p = s.filter(col("returnflag") === "R")
      .select(col("trace_id"), col("span_id")).alias("p")
    val c = s.filter(col("quantity") > 30)
      .select(col("trace_id"), col("parent_span_id")).alias("c")
    p.join(c, col("c.trace_id") === col("p.trace_id") &&
        col("c.parent_span_id") === col("p.span_id"))
      .groupBy(col("p.trace_id").as("trace_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("trace_id")
  }

  /** GAP (pair count): structural descendant `{returnflag="R"} >>
    * {quantity > 45}` — the stored parent_path exploded per physical
    * child row; the oracle re-derives ancestry with a recursive CTE
    * (reference spanset_op.go:78-88).
    */
  val structuralDescendant: Q = gap(
    "traceql_structural_descendant",
    s"""WITH RECURSIVE spans AS ($oracleSpans),
       |uspans AS (SELECT DISTINCT trace_id, span_id, parent_span_id FROM spans),
       |anc AS (
       |  SELECT trace_id, span_id, parent_span_id AS anc FROM uspans
       |  WHERE parent_span_id IS NOT NULL
       |  UNION ALL
       |  SELECT a.trace_id, a.span_id, u.parent_span_id
       |  FROM anc a JOIN uspans u
       |    ON u.trace_id = a.trace_id AND u.span_id = a.anc
       |  WHERE u.parent_span_id IS NOT NULL)
       |SELECT a2.trace_id, COUNT(*) AS n_pairs
       |FROM spans a2 JOIN (
       |  SELECT c.trace_id, x.anc FROM spans c
       |  JOIN anc x ON x.trace_id = c.trace_id AND x.span_id = c.span_id
       |  WHERE c.quantity > 45) d
       |  ON d.trace_id = a2.trace_id AND d.anc = a2.span_id
       |WHERE a2.returnflag = 'R'
       |GROUP BY a2.trace_id ORDER BY a2.trace_id""".stripMargin
  ) { s =>
    val c = s.filter(col("quantity") > 45)
      .select(col("trace_id"), explode(col("parent_path")).as("anc")).alias("c")
    val a = s.filter(col("returnflag") === "R")
      .select(col("trace_id"), col("span_id")).alias("a")
    a.join(c, col("a.trace_id") === col("c.trace_id") && col("c.anc") === col("a.span_id"))
      .groupBy(col("a.trace_id").as("trace_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("trace_id")
  }

  /** GAP (pair count): sibling `{returnflag="R"} ~ {returnflag="A"}` —
    * shared-parent join (reference spanset_op.go sibling relation).
    */
  val structuralSibling: Q = gap(
    "traceql_structural_sibling",
    s"""WITH spans AS ($oracleSpans)
       |SELECT s1.trace_id, COUNT(*) AS n_pairs
       |FROM spans s1 JOIN spans s2
       |  ON s1.trace_id = s2.trace_id
       |  AND s1.parent_span_id = s2.parent_span_id
       |  AND s1.span_id <> s2.span_id
       |WHERE s1.returnflag = 'R' AND s2.returnflag = 'A'
       |GROUP BY s1.trace_id ORDER BY s1.trace_id""".stripMargin
  ) { s =>
    val s1 = s.filter(col("returnflag") === "R")
      .select(col("trace_id"), col("span_id"), col("parent_span_id")).alias("s1")
    val s2 = s.filter(col("returnflag") === "A")
      .select(col("trace_id"), col("span_id"), col("parent_span_id")).alias("s2")
    s1.join(s2, col("s1.trace_id") === col("s2.trace_id") &&
        col("s1.parent_span_id") === col("s2.parent_span_id") &&
        col("s1.span_id") =!= col("s2.span_id"))
      .groupBy(col("s1.trace_id").as("trace_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("trace_id")
  }

  /** GAP (pair count): parent op `{quantity > 45} < {returnflag="R"}` —
    * (parent, child) pairs (the reference PARSES but rejects this,
    * spanset_op.go:89-102).
    */
  val parentOp: Q = gap(
    "traceql_parent_op",
    s"""WITH spans AS ($oracleSpansMore)
       |SELECT p.trace_id, COUNT(*) AS n_pairs
       |FROM spans p JOIN spans c
       |  ON c.trace_id = p.trace_id AND c.parent_span_id = p.span_id
       |WHERE p.returnflag = 'R' AND c.quantity > 45
       |GROUP BY p.trace_id ORDER BY p.trace_id""".stripMargin
  ) { s =>
    val p = s.filter(col("returnflag") === "R")
      .select(col("trace_id"), col("span_id")).alias("p")
    val c = s.filter(col("quantity") > 45)
      .select(col("trace_id"), col("parent_span_id")).alias("c")
    p.join(c, col("c.trace_id") === col("p.trace_id") &&
        col("c.parent_span_id") === col("p.span_id"))
      .groupBy(col("p.trace_id").as("trace_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("trace_id")
  }

  /** GAP: trace-level intrinsics (rootName, traceDuration, trace start)
    * as output columns — the planner evaluates them in filters only and
    * has no trace-level projection; sorted by trace start with the
    * reference's default result limit 20 (traceqlengine/engine.go:128-226).
    */
  val traceExtent: Q = gap(
    "traceql_trace_extent",
    s"""WITH spans AS ($oracleSpans)
       |SELECT trace_id,
       |  MIN(CASE WHEN span_id = 1 THEN name END) AS root_name,
       |  MIN(start_ns) AS trace_start_ns,
       |  MAX(start_ns + duration_ns) - MIN(start_ns) AS trace_duration_ns,
       |  COUNT(*) AS n_spans
       |FROM spans GROUP BY trace_id
       |ORDER BY trace_start_ns, trace_id LIMIT 20""".stripMargin
  ) { s =>
    s.groupBy(col("trace_id"))
      .agg(
        min(when(col("span_id") === 1, col("name"))).as("root_name"),
        min(col("start_ns")).as("trace_start_ns"),
        (max(col("start_ns") + col("duration_ns")) - min(col("start_ns")))
          .as("trace_duration_ns"),
        count(lit(1)).as("n_spans"))
      .orderBy(col("trace_start_ns"), col("trace_id"))
      .limit(20)
  }

  val gaps: Seq[Q] = Seq(
    structuralChild, structuralDescendant, structuralSibling, parentOp, traceExtent)

  override def queries: Seq[Q] = planned ++ gaps
}
