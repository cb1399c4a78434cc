package graft.api

import graft.obs.TaskLedger

/** Per-request EXPLAIN ANALYZE — the reference's `httpmiddleware
  * .Explain()` (internal/httpmiddleware/explain.go:14-55): a request
  * carrying a truthy `X-Graft-Profile` header (the reference's
  * `X-Oteldb-Profile` convention) gets its execution profiled and the
  * operator tree rendered to the request logger after the handler
  * runs; requests without the header pay nothing.
  *
  * Spark-first re-expression: the reference installs a storage
  * `profile.Collector` into the request context and renders the fetch
  * -operator tree with per-node timing/IO counters. Here every query
  * request ALREADY runs under its own Spark job group (the execution
  * -cap machinery), so the profile is the request's job → stage tree
  * with per-stage task metrics (task time, input bytes/rows, shuffle
  * read/write, spill) read from the [[graft.obs.TaskLedger]] entry of
  * that group — the same per-operator timing story, told in Spark's
  * own execution units. Rendered as ONE JSON line through the
  * request-log sink.
  *
  * Zero-overhead contract (the reference's explain.go:24-27 claim,
  * kept): only a profiled request registers its group, and the ledger
  * installs its listener at the first registration; un-profiled
  * requests never touch it. A cache-served profiled request renders
  * `"jobs":[]`, which is itself the answer an operator is usually
  * after ("did this refresh run Spark work at all?").
  */
object ExplainProfile {

  /** Header truthiness, the reference's exact semantics
    * (explain.go:56-66 profileRequested): DEFAULT-TRUE — a present
    * header profiles unless it spells one of the explicit off forms
    * ("", "0", "false", "no", "off", any case/whitespace). An absent
    * header (null) is off.
    */
  def requested(v: String): Boolean = v != null && (v.trim.toLowerCase match {
    case "" | "0" | "false" | "no" | "off" => false
    case _                                 => true
  })

  /** Starts profiling the job group (call before the handler runs). */
  def begin(sc: org.apache.spark.SparkContext, groupId: String): Unit =
    TaskLedger.begin(sc, groupId)

  /** Releases a group's registrations without rendering — the error
    * -path twin of [[render]] (idempotent after a successful render).
    */
  def release(groupId: String): Unit = TaskLedger.release(groupId)

  /** Renders the group's profile as one JSON line and releases every
    * registration (call after the handler finished, even on error).
    * None when [[begin]] was never called for the group.
    *
    * The bus is drained (bounded) before reading — without it a short
    * request's profile could render `"jobs":[]` while its job-start
    * event was still queued. Jobs whose start event lands AFTER the
    * group is released here are deliberately uncounted: the request is
    * over, and a cap-killed request's final stage belongs to the
    * cancellation, not the answer (mirrors the reference dropping
    * collector output once the request context is done,
    * explain.go:30-43).
    */
  def render(groupId: String, method: String, path: String,
      wallMs: Double, status: Int): Option[String] = {
    // Bounded at 1 s: the drain waits on the GLOBAL bus, which under
    // ingest load (ProcessingTime(0) triggers) may never empty — the
    // profiled request pays the bound while holding its query slot, so
    // the cap trades worst-case profile completeness for not letting a
    // handful of profiled requests shed ordinary traffic.
    TaskLedger.drain(1000L): Unit
    TaskLedger.take(groupId).map { g =>
      val jobs = g.jobs.map { case (jobId, stageIds) =>
        val stages = stageIds.sorted.flatMap { sid =>
          g.stages.get(sid).map { sp =>
            s"""{"stage":$sid,"tasks":${sp.tasks.sum()},""" +
              s""""task_time_ms":${sp.runMs.sum()},""" +
              s""""input_bytes":${sp.inputBytes.sum()},""" +
              s""""input_rows":${sp.inputRows.sum()},""" +
              s""""shuffle_read_bytes":${sp.shuffleReadBytes.sum()},""" +
              s""""shuffle_write_bytes":${sp.shuffleWriteBytes.sum()},""" +
              s""""spill_bytes":${sp.spillBytes.sum()}}"""
          }
        }
        s"""{"job":$jobId,"stages":[${stages.mkString(",")}]}"""
      }
      val j = ApiEncoders.jsonString _
      s"""{"event":"explain_analyze","method":${j(method)},""" +
        s""""path":${j(path)},"status":$status,""" +
        s""""wall_ms":${"%.3f".formatLocal(java.util.Locale.ROOT, wallMs)},""" +
        s""""task_time_ms":${g.runMs},"jobs":[${jobs.mkString(",")}]}"""
    }
  }
}
