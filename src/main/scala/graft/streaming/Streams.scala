package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

import graft.functions.GraftFunctions

/** Structured Streaming transforms for the ingest path (SURVEY.md §2.0,
  * §7 M6): the OTLP consumers become streaming Datasets; the
  * MergeTree-append / ReplacingMergeTree semantics become watermarked
  * appends and within-watermark dedup.
  *
  * Each transform takes an unbounded DataFrame (readStream / MemoryStream
  * source) and returns an unbounded DataFrame ready for writeStream —
  * the tests drive them with MemoryStream; production wires
  * `spark.readStream.format(...)` in front and a parquet/Delta sink with
  * `foreachBatch` behind.
  *
  * Scale notes: every transform keys state by the stream's natural
  * partition key (severity/service for logs, series hash for points), so
  * state distributes across executors; watermarks bound state size.
  */
object Streams {

  /** Log consumer: raw (ts, body, service) records → enriched log rows
    * with severity deduced from the body text at ingest (reference
    * internal/logparser/deduce.go:97-225 — same deduction, expressed as
    * a native codegen expression, not a per-row callback).
    */
  def enrichLogs(raw: DataFrame): DataFrame = {
    val sevNum = GraftFunctions.deduce_severity(col("body"))
    val unwrapped = unwrapDockerLogs(raw)
    // frames with an attrs map already carry the stream there (the
    // unwrap folds it in); attrs-less frames normalize UP to the
    // production schema — an attrs map holding just the stream — so
    // the stdout/stderr provenance survives the docker_stream drop
    // and the stored logs schema stays one shape (every production
    // path, logsFromOtlp included, carries attrs already).
    // UPGRADE NOTE: a layout holding files written BEFORE this
    // synthesis (attrs-less) next to files written after has MIXED
    // parquet schemas; readers must open it with mergeSchema or an
    // explicit schema (Serve.logsView does) — default inference can
    // sample an attrs-less file and silently hide the column.
    val withAttrs =
      if (raw.columns.contains("attrs")) unwrapped
      else unwrapped.withColumn("attrs",
        when(col("docker_stream").isNotNull,
          map(lit("stream"), col("docker_stream")))
          .otherwise(map().cast("map<string,string>")))
    withAttrs.drop("docker_stream")
      .withColumn("severity_number", sevNum)
      .withColumn("severity_text", GraftFunctions.severity_text(sevNum))
      .withColumn("service_name",
        coalesce(col("service_name"), lit("unknown_service")))
  }

  /** A stored log row's stream labels, shared by the LogQL serving
    * view (`graft.Serve`) and the log-volume sidecar: resource attrs
    * under attrs (the more specific scope wins), then service_name
    * (the reference's logstorage.DefaultServiceName when absent). A map
    * column an older layout lacks reads as an empty map.
    */
  def storedLogLabels(columns: Seq[String]): Column = {
    val emptyMap = map().cast("map<string,string>")
    def mapCol(name: String) =
      if (columns.contains(name)) coalesce(col(name), emptyMap) else emptyMap
    val res = mapCol("resource_attrs")
    val at = mapCol("attrs")
    val service =
      if (columns.contains("service_name"))
        coalesce(col("service_name"), lit("unknown_service"))
      else lit("unknown_service")
    map_concat(
      map_filter(map_concat(
        map_filter(res, (k, _) => !map_contains_key(at, k)), at),
        (k, _) => k =!= "service_name"),
      map(lit("service_name"), service))
  }

  /** Docker json-file envelope detection + unwrap — the FIFTH ingest
    * auto-format (reference internal/dockerlog/: the daemon-stream
    * parser labels each entry with its stream type and timestamps it
    * from the RFC3339Nano prefix, daemonlog.go:112-129; the json-file
    * log driver persists the same triple per line as
    * {"log","stream","time"}, which is what docker-compose logs look
    * like on disk). Detection requires all three envelope keys with a
    * stdout/stderr stream; on a match the unwrapped line (trailing
    * newline stripped) REPLACES the body — so the four in-body formats
    * and the severity deducer run on the real line — the stream lands
    * in `docker_stream` (and the `attrs` map when the frame carries
    * one), and the envelope time replaces `ts_ns` when that column
    * exists (µs precision, the layouts' native grain; longer fractions
    * truncate rather than fail the parse).
    */
  def unwrapDockerLogs(raw: DataFrame): DataFrame = {
    val body = col("body")
    // ONE json parse per record (the ingest hot path at 100 TB —
    // separate get_json_object calls would re-parse the body per key)
    val env = from_json(body,
      org.apache.spark.sql.types.StructType.fromDDL(
        "log STRING, stream STRING, time STRING"))
    val t6 = regexp_replace(col("__env.time"), "(\\.\\d{1,6})\\d*", "$1")
    // try_: ANSI-mode to_timestamp THROWS on a malformed string, and a
    // single crafted line must never fail the whole ingest micro-batch
    val tsNs = unix_micros(try_to_timestamp(t6)) * 1000
    // a malformed time fails the DETECTION, not just the timestamp: the
    // daemon always writes a valid RFC3339Nano time, so an unparseable
    // one means the line is application JSON that merely shares the key
    // names — it falls through as raw text instead of landing at epoch 0
    val isDocker = ltrim(body).startsWith("{") && col("__env.log").isNotNull &&
      col("__env.stream").isin("stdout", "stderr") &&
      tsNs.isNotNull
    // flags first (all read the ORIGINAL body), body replacement last
    val flagged = raw
      .withColumn("__env", env)
      .withColumn("docker_stream", when(isDocker, col("__env.stream")))
      .withColumn("__dts", when(isDocker, tsNs))
      .withColumn("body",
        when(isDocker, regexp_replace(col("__env.log"), "\\n$", ""))
          .otherwise(body))
      .drop("__env")
    val withTs =
      if (raw.columns.contains("ts_ns"))
        flagged.withColumn("ts_ns",
          coalesce(col("__dts"), col("ts_ns")))
      else flagged
    val withAttrs =
      if (raw.columns.contains("attrs"))
        withTs.withColumn("attrs",
          when(col("docker_stream").isNotNull, map_concat(
            map_filter(col("attrs"), (k, _) => k =!= "stream"),
            map(lit("stream"), col("docker_stream"))))
            .otherwise(col("attrs")))
      else withTs
    withAttrs.drop("__dts")
  }

  /** Ingest-time log-format auto-detection: JSON bodies, zap
    * development-mode consoles, logfmt bodies, klog-style prefixes, or
    * raw text — format tag + extracted severity and message, all in one
    * `when`-chain (reference internal/logparser/{json,logfmt,klog,
    * zap_development,deduce}.go; a declarative column expression
    * instead of a per-row parser chain).
    *
    * `unwrapDocker` controls the docker-envelope pre-pass. Detection is
    * inherently ambiguous there: an application log line that is itself
    * a valid {"log","stream","time"} JSON object is indistinguishable
    * from a daemon envelope, and the unwrap REPLACES the body and
    * rewrites `ts_ns` — a side effect beyond tagging. It defaults on
    * because this helper sits on the ingest path (where json-file
    * envelopes are the real wire shape); callers re-detecting bodies
    * that were already unwrapped once, or classifying application logs
    * that may legitimately carry those keys, pass false to keep
    * detection side-effect-free.
    */
  def detectLogFormat(raw0: DataFrame,
      unwrapDocker: Boolean = true): DataFrame = {
    // Docker envelopes unwrap FIRST so the in-body formats detect on
    // the real line — a docker-wrapped klog line parses exactly like a
    // bare one, tagged docker/klog
    val raw =
      if (unwrapDocker) unwrapDockerLogs(raw0)
      else raw0.withColumn("docker_stream",
        lit(null).cast("string"))
    val body = col("body")
    val trimmed = ltrim(body)
    val isJson = trimmed.startsWith("{") &&
      get_json_object(body, "$").isNotNull
    // zap development console: ISO8601-millis TAB LEVEL TAB
    // [logger TAB] file.go:line TAB msg [TAB {json fields}]
    // (reference logparser/zap_development.go:26-110)
    val zapRe = "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{3}" +
      "(Z|[+-]\\d{4})\t(DEBUG|INFO|WARN|ERROR|DPANIC|PANIC|FATAL)\t"
    val isZap = body.rlike(zapRe)
    val zapParts = split(body, "\t")
    val zapLevel = element_at(zapParts, 2)
    val zapMsg = when(element_at(zapParts, 3).contains(".go:"),
      element_at(zapParts, 4)).otherwise(element_at(zapParts, 5))
    // klog: [IWEF]MMDD hh:mm:ss.uuuuuu ... ] msg
    val klogRe = "^([IWEF])\\d{4} \\d{2}:\\d{2}:\\d{2}\\.\\d+.*?\\] (.*)$"
    val isKlog = body.rlike(klogRe)
    val isLogfmt = GraftFunctions.logfmt_get(body, lit("level")).isNotNull ||
      GraftFunctions.logfmt_get(body, lit("msg")).isNotNull
    val format = when(isJson, "json")
      .when(isZap, "zap-development")
      .when(isKlog, "klog")
      .when(isLogfmt, "logfmt")
      .otherwise("raw")
    val klogSev = regexp_extract(body, klogRe, 1)
    val sevText = when(isJson, upper(get_json_object(body, "$.level")))
      .when(isZap, // DPANIC/PANIC map to FATAL like the reference
        when(zapLevel.isin("DPANIC", "PANIC"), "FATAL").otherwise(zapLevel))
      .when(isKlog,
        when(klogSev === "I", "INFO").when(klogSev === "W", "WARN")
          .when(klogSev === "E", "ERROR").otherwise("FATAL"))
      .when(isLogfmt, upper(GraftFunctions.logfmt_get(body, lit("level"))))
    val msg = when(isJson, get_json_object(body, "$.msg"))
      .when(isZap, zapMsg)
      .when(isKlog, regexp_extract(body, klogRe, 2))
      .when(isLogfmt, GraftFunctions.logfmt_get(body, lit("msg")))
      .otherwise(body)
    raw
      .withColumn("detected_format",
        when(col("docker_stream").isNotNull, concat(lit("docker/"), format))
          .otherwise(format))
      .withColumn("detected_level",
        coalesce(sevText, GraftFunctions.severity_text(
          GraftFunctions.deduce_severity(body))))
      .withColumn("msg", msg)
  }

  /** Windowed severity counts with a watermark — the streaming analogue
    * of the logs-table daily rollup (reference inserter batching,
    * internal/chstorage/inserter_logs.go; aggregation semantics
    * logqlmetric/range_agg.go).
    */
  def logSeverityCounts(logs: DataFrame): DataFrame =
    logs
      .withWatermark("timestamp", "10 minutes")
      .groupBy(window(col("timestamp"), "5 minutes"), col("severity_text"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("severity_text"), col("n"))

  /** Streaming PATTERN MINING — the ingest-time half of the Loki
    * patterns surface (the pattern ingester runs at ingest upstream;
    * the reference stubs the endpoint, lokihandler.go:605-610). The
    * same deterministic masking projection the batch
    * [[graft.logql.PatternMine]] uses, as a watermarked windowed
    * aggregation: state is (template-set × open windows) — bounded by
    * the pattern vocabulary, not log volume — and update mode keeps
    * per-window counts current while lines stream in.
    */
  def minePatterns(logs: DataFrame, step: String = "1 hour"): DataFrame =
    logs
      .withWatermark("timestamp", "10 minutes")
      .groupBy(window(col("timestamp"), step),
        graft.logql.PatternMine.template(col("body")).as("pattern"),
        graft.logql.PatternMine.level(col("body")).as("level"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("pattern"), col("level"), col("n"))

  /** Ingest-time HOURLY ROLLUP maintenance — the per-batch PARTIAL
    * stats the `*_over_time` tier-read pushdown reads (reference
    * embedded-backend aggregate sidecar,
    * docs/storage-integration.md:30-47): one plain aggregation of a
    * committed point micro-batch into lossless mergeable stats
    * (count / decimal-exact sum / min / max) per (series, hour).
    * [[pointsSink]] appends these rows next to each raw batch under
    * the same exactly-once protocol — the AttrCube discipline — so
    * the sidecar covers EXACTLY the points the store has committed:
    * no watermark, no finalization lag, and therefore no "open hour"
    * a tier-served dashboard could silently lose. Readers merge
    * partials additively (the tier planners' own aggregate does it
    * for free, [[graft.sources.RollupTiers.mergedValue]]); compaction
    * pre-merges cold partitions down to vocabulary scale.
    *
    * Buckets are LEFT-OPEN and start-labeled — `hour_start = s`
    * covers (s, s+1h] (the 1µs shift below; same convention as the
    * batch [[graft.promql.PromQL.statTierChain]]) — because the
    * READER is the PromQL tier planner and a Prometheus window
    * (t−range, t] with aligned t is an exact union of left-open
    * buckets; a boundary sample at exactly s+1h must count toward the
    * window ending there, which a left-closed floor would misfile.
    * The row carries the series label map (rebuilt from the canonical
    * series_key) so tier answers render Prom envelopes without a join
    * back to raw points.
    */
  def hourlyStatPartials(batch: DataFrame): DataFrame = {
    val HourUs = 3600000000L
    // the SAME mergeable stat columns the batch tier chain maintains
    // (graft.sources.RollupTiers); sum_v stays for direct readers
    val aggs = graft.sources.RollupTiers.statAggs(col("value"))
    batch
      // stale markers never enter a tier (same invariant as the batch
      // statTierChain): a Prometheus stale NaN would over-count n,
      // poison max/avg, and ANSI decimal casts of NaN throw.
      // Partials written BEFORE this filter existed may still be
      // poisoned (NaN propagates through the merge aggs) — the opt-in
      // repair sweep rebuilds exactly those buckets from raw
      // (Layout.repairRollupNaNPartition; admin POST
      // /api/v1/actions/repair_nan_partials)
      .filter(!isnan(col("value")))
      .withColumn("__s",
        expr(s"(ts_us - 1) - (ts_us - 1) % $HourUs"))
      .groupBy(col("__s"), col("name"),
        graft.logql.VectorMatching.streamKey(col("labels")).as("series_key"))
      .agg(aggs.head, aggs.tail: _*)
      .select(timestamp_micros(col("__s")).as("hour_start"), col("name"),
        col("series_key"), col("n"), col("sum_dec"),
        col("sum_dec").cast("double").as("sum_v"), col("min_v"),
        col("max_v"),
        // labels rebuilt from the canonical series_key (its exact
        // inverse) — a first(map) aggregate would demote the whole
        // partial rollup to SortAggregate
        graft.logql.VectorMatching.labelsOfStreamKey(col("series_key"))
          .as("labels"))
  }

  /** Ingest-time LOG-VOLUME rollup partials — the maintained table the
    * LogQL aggregation offload reads (the reference's BucketedSampleQuery
    * sum-only pushdown, chstorage/querier_logs_optimizer.go:52-152 +
    * querier_logs_query.go:364-540, re-expressed as a maintained
    * sidecar): per committed micro-batch, one row of (line count, body
    * bytes) per (stream labels, hour). Same discipline as the metric
    * stat sidecar ([[hourlyStatPartials]]): additive partials under the
    * raw batch's own exactly-once commit, so coverage equals committed
    * raw coverage — no lag a served last-hour window could lose —
    * and left-open (s, s+1h] buckets labeled s (LogQL windows are
    * (t−range, t]).
    *
    * Only count and bytes are maintained: they are INTEGRAL, so any
    * read-time re-aggregation (partials, coarser tiers, `sum by`
    * regrouping, rate's divide-after-sum) is bit-exact — the same
    * reasoning as the planner's `distributiveRange` gate. `bytes` is
    * `sum(length(body))` to mirror the raw metric path's expression
    * exactly. The stream identity is the frame's `labels` map; the
    * stored ingest layout (no labels column) keys on
    * [[storedLogLabels]] — the map its LogQL serving view exposes as
    * labels, so tier-served and raw answers carry the same streams.
    */
  def logVolumePartials(batch: DataFrame): DataFrame = {
    val HourNs = 3600000000000L
    val labelsCol =
      if (batch.columns.contains("labels")) col("labels")
      else storedLogLabels(batch.columns.toSeq)
    batch
      .withColumn("__labels", labelsCol)
      .withColumn("__s", expr(s"(ts_ns - 1) - (ts_ns - 1) % $HourNs"))
      .groupBy(col("__s"),
        graft.logql.VectorMatching.streamKey(col("__labels")).as("series_key"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("body")).cast("long")).as("bytes"))
      .select(timestamp_micros(expr("__s div 1000")).as("hour_start"),
        col("series_key"), col("n"), col("bytes"),
        graft.logql.VectorMatching.labelsOfStreamKey(col("series_key"))
          .as("labels"))
  }

  /** Streaming SESSIONIZATION: events collapse into per-user sessions
    * that close after `gap` of event-time inactivity — the streaming
    * twin of the batch `src_sessionize` operator (same gap semantics).
    * Spark's native session_window keeps ONE open session per active
    * key (merged as events arrive, state bounded by active users, not
    * event volume) and append mode emits a session only once the
    * watermark passes its close — so downstream sinks see each session
    * exactly once, finalized.
    */
  def sessionize(events: DataFrame, gap: String = "12 hours"): DataFrame =
    events
      .withWatermark("timestamp", "1 hour")
      .groupBy(session_window(col("timestamp"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Series-identity dedup — the ReplacingMergeTree / AggregatingMergeTree
    * analogue for metrics_timeseries: first sighting of each series hash
    * within the watermark wins (reference
    * internal/chstorage/inserter_metrics.go:521-543 series dedup).
    */
  def seriesIdentity(points: DataFrame): DataFrame =
    points
      .withWatermark("timestamp", "1 hour")
      .dropDuplicatesWithinWatermark("hash")
      .select(col("hash"), col("name"), col("timestamp").as("first_seen"))

  /** Streaming EXACT-DEDUP — the ingest-time twin of the batch
    * `pipe_dedup_exact` operator: documents are keyed by the digest of
    * their text and only the FIRST sighting within the watermark
    * horizon survives, so downstream training-data sinks never store a
    * byte-identical duplicate twice. State is one digest per distinct
    * document inside the horizon (bounded by the watermark, not the
    * stream), keyed by digest so it distributes across executors; the
    * batch LSH/CC passes own cross-horizon and NEAR-duplicate
    * clustering, exactly as the batch/streaming split works for
    * sessionize and the window funnel.
    */
  def docDedup(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    docs
      .withWatermark("timestamp", horizon)
      .withColumn("digest", md5(col("text")))
      .dropDuplicatesWithinWatermark("digest")

  /** Streaming CHUNK-level dedup — the ingest-time twin of the batch
    * `pipe_cdc_dedup` pass, riding the SAME content-defined chunker
    * (`QueriesPipeline5.cdcChunks`, a stateless in-row projection, so
    * it streams as-is): each document explodes to its CDC chunks and
    * only a digest's FIRST sighting within the watermark horizon
    * survives. The CDC boundary rule is what makes this worth doing at
    * ingest: a re-crawled document with one edited sentence re-chunks
    * ONLY the edited region (CdcChunkingSpec's measured property), so
    * the re-crawl emits a handful of new chunk rows instead of the
    * whole document — the fixed-grid twin would emit every block after
    * the edit as "new". State is one digest per distinct chunk inside
    * the horizon, keyed by digest so it distributes, exactly like
    * [[docDedup]] one granularity up.
    */
  def cdcChunkDedup(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    graft.queries.QueriesPipeline5
      .cdcChunks(docs.select(col("doc_id"), col("timestamp"), col("text")))
      .withWatermark("timestamp", horizon)
      .dropDuplicatesWithinWatermark("digest")

  final case class SafeRec(ts_ns: Long, body: String, attrs: Map[String, String])
  final case class SafeIn(ts_ns: Long, body: String,
      attrs: Map[String, String], ets: java.sql.Timestamp)
  final case class GateBucket(key: String, count: Int, dropped: Int,
      first: SafeRec)
  final case class GateState(secCounts: Map[Long, Long],
      buckets: Seq[GateBucket], truncCount: Int, truncFirst: Option[SafeRec])

  /** Streaming EXCESS-LOG SAFETY GATE — [[LogSafety]]'s semantics as a
    * stateful stream transform at the log-consumer seam (the
    * reference's odbsafetyprocessor sits exactly here in its collector
    * pipeline, otelcolmod/odbsafetyprocessor/processor.go:58-105).
    * State is keyed by (rate key, compact-window slot): per-second
    * counts (≤ window/1s entries), the compact buckets (≤ maxBuckets),
    * and one truncation record — all bounded, all distributed by key.
    * Surviving records emit with their batch; synthetic compact /
    * truncation records emit when the event-time watermark closes the
    * slot (the reference flushes per consumed batch; a watermark close
    * is the streaming equivalent with late-data tolerance).
    *
    * Within a micro-batch records process in (ts, body) order and
    * first-record captures use min-(ts, body), so batch boundaries
    * don't change which record a synthetic clones; the per-second rate
    * positions of LATE records are assigned on arrival (the wall-clock
    * handler they model would have shed them anyway).
    */
  def safetyGate(raw: DataFrame, cfg: LogSafety.Config,
      metrics: Option[LogSafety.Metrics] = None,
      lateness: String = "10 seconds"): DataFrame = {
    cfg.validate()
    import raw.sparkSession.implicits._
    val secNs = 1000000000L
    val usesWindow =
      Set(cfg.mode, cfg.hardMode).exists(m => m == "compact" || m == "truncate")
    val slotNs = if (usesWindow) cfg.compactWindowNs else secNs
    def fieldKey(r: SafeRec): String =
      cfg.keyFields.map { f =>
        val v = if (f == "body") r.body else r.attrs.getOrElse(f, "")
        s"$f=$v\n"
      }.mkString
    def rateKeyOf(r: SafeRec): String =
      if (cfg.keyFields.isEmpty) "" else fieldKey(r)
    def compactKeyOf(r: SafeRec): String =
      if (cfg.keyFields.isEmpty) r.body else fieldKey(r)
    def redacted(r: SafeRec): SafeRec =
      if (cfg.redactFields.isEmpty) r
      else r.copy(attrs = r.attrs.map { case (k, v) =>
        k -> (if (cfg.redactFields.contains(k)) LogSafety.Redacted else v)
      })
    def sampleKeep(o: Long): Boolean =
      (cfg.sampleFirst > 0 && o <= cfg.sampleFirst) ||
        (cfg.sampleThereafter > 0 && o % cfg.sampleThereafter == 0)
    def synthetics(s: GateState): Iterator[SafeRec] = {
      val compacts = s.buckets.filter(_.dropped > 0).map { b =>
        b.first.copy(attrs =
          b.first.attrs + (LogSafety.CollapsedAttr -> b.dropped.toString))
      }
      metrics.foreach(_.compacted.add(compacts.size.toLong))
      val truncs = s.truncFirst.toSeq.filter(_ => s.truncCount > 0).map { f =>
        val slot = f.ts_ns - java.lang.Math.floorMod(f.ts_ns, slotNs)
        f.copy(body = LogSafety.TruncatedBody, attrs = f.attrs ++ Map(
          LogSafety.TruncatedAttr -> s.truncCount.toString,
          LogSafety.WindowStartAttr -> slot.toString,
          LogSafety.WindowEndAttr -> (slot + slotNs).toString))
      }
      (compacts ++ truncs).iterator
    }
    raw
      .select(col("ts_ns"), col("body"), col("attrs"),
        timestamp_micros(expr("ts_ns div 1000")).as("ets"))
      .withWatermark("ets", lateness)
      .as[SafeIn]
      .groupByKey { r =>
        val rec = SafeRec(r.ts_ns, r.body, r.attrs)
        (rateKeyOf(rec), r.ts_ns - java.lang.Math.floorMod(r.ts_ns, slotNs))
      }
      .flatMapGroupsWithState[GateState, SafeRec](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        case ((_, slot), rows, state) =>
          if (state.hasTimedOut) {
            val out = synthetics(state.get)
            state.remove()
            out
          } else if (state.getOption.isEmpty &&
            (slot + slotNs) / 1000000L <= state.getCurrentWatermarkMs()) {
            // a record for a slot whose timeout already fired would
            // otherwise RESURRECT empty state (Spark does not drop late
            // rows before flatMapGroupsWithState): it would re-enter at
            // rate position 1 and later emit a DUPLICATE synthetic for
            // the slot. The watermark contract applies instead: records
            // past their slot's close are dropped, counted.
            metrics.foreach(_.droppedLate.add(rows.size.toLong))
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(
              GateState(Map.empty, Vector.empty, 0, None))
            val out = Seq.newBuilder[SafeRec]
            val tsOrd = Ordering.Tuple2[Long, String]
            def minFirst(cur: Option[SafeRec], r: SafeRec): Option[SafeRec] =
              cur match {
                case Some(c) if tsOrd.lteq((c.ts_ns, c.body), (r.ts_ns, r.body)) => cur
                case _ => Some(r)
              }
            def truncate(r: SafeRec): Unit = {
              s = s.copy(truncCount = s.truncCount + 1,
                truncFirst = minFirst(s.truncFirst, r))
              metrics.foreach(_.droppedTruncate.add(1))
            }
            def sample(o: Long, r: SafeRec): Unit =
              if (sampleKeep(o)) {
                out += r; metrics.foreach(_.sampled.add(1))
              } else metrics.foreach(_.droppedSample.add(1))
            rows.toSeq.sortBy(r => (r.ts_ns, r.body)).foreach { in =>
              val raw = SafeRec(in.ts_ns, in.body, in.attrs)
              val isSafety = raw.attrs.contains(LogSafety.CollapsedAttr) ||
                raw.attrs.contains(LogSafety.TruncatedAttr)
              if (isSafety) out += raw
              else {
                val r = redacted(raw)
                val sec = r.ts_ns / secNs
                val pos = s.secCounts.getOrElse(sec, 0L) + 1
                s = s.copy(secCounts = s.secCounts.updated(sec, pos))
                val hard = cfg.hardMaxRatePerSecond
                val soft = cfg.softMaxRatePerSecond
                val (mode, thr) =
                  if (hard > 0 && pos > hard) (cfg.hardMode, hard.toLong)
                  else if (soft > 0 && pos > soft) (cfg.mode, soft.toLong)
                  else ("consume", 0L)
                val passthrough =
                  r.attrs.get(LogSafety.PassthroughAttr).contains("true")
                if (mode == "consume" || passthrough) out += r
                else mode match {
                  case "drop" =>
                    metrics.foreach(_.droppedRateLimit.add(1))
                  case "sample" => sample(pos - thr, r)
                  case "truncate" => truncate(r)
                  case "compact" =>
                    val key = compactKeyOf(r)
                    val idx = s.buckets.indexWhere(_.key == key)
                    if (idx < 0 && s.buckets.size >= cfg.compactMaxBuckets)
                      sample(pos - thr, r) // over-cap keys: sample rule
                    else {
                      val b = if (idx < 0) GateBucket(key, 0, 0, r)
                      else s.buckets(idx)
                      val co = b.count + 1
                      var nb = b.copy(count = co,
                        first = minFirst(Some(b.first), r).get)
                      if (co < cfg.compactThreshold) out += r
                      else if (cfg.truncateThreshold > 0 &&
                        co > cfg.truncateThreshold) truncate(r)
                      else {
                        nb = nb.copy(dropped = nb.dropped + 1)
                        metrics.foreach(_.collapsed.add(1))
                      }
                      s = s.copy(buckets =
                        if (idx < 0) s.buckets :+ nb
                        else s.buckets.updated(idx, nb))
                    }
                }
              }
            }
            state.update(s)
            // close the slot when the watermark passes its end (must
            // stay ahead of the current watermark or Spark rejects it)
            val slotEndMs = (slot + slotNs) / 1000000L
            state.setTimeoutTimestamp(
              math.max(slotEndMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
      .toDF()
  }

  /** Reserved attr key carrying non-core record columns through the
    * safety gate (the reference's handler clones whole plog records;
    * the gate's state record is (ts, body, attrs), so the remaining
    * columns ride packed and are restored after).
    */
  private val SafetyRestKey = "__graft.rest"

  /** [[safetyGate]] for frames with MORE than the core (ts_ns, body,
    * attrs) columns: the extras pack into a reserved attr as JSON,
    * ride the gate (synthetics clone them from their bucket's first
    * record, like the reference's record.CopyTo), and unpack after —
    * schema in, schema out.
    */
  def safetyGateKeep(logs: DataFrame, cfg: LogSafety.Config,
      metrics: Option[LogSafety.Metrics] = None,
      lateness: String = "10 seconds"): DataFrame = {
    val core = Set("ts_ns", "body", "attrs")
    val extras = logs.schema.filterNot(f => core(f.name))
    if (extras.isEmpty) return safetyGate(logs, cfg, metrics, lateness)
    require(!cfg.keyFields.contains(SafetyRestKey) &&
      !cfg.redactFields.contains(SafetyRestKey),
      s"$SafetyRestKey is reserved")
    // strip an incoming reserved key first: map_concat throws on
    // duplicates, so a crafted record carrying it would poison the batch
    val packed = logs.select(col("ts_ns"), col("body"),
      map_concat(
        map_filter(col("attrs"), (k, _) => k =!= SafetyRestKey),
        map(lit(SafetyRestKey),
          to_json(struct(extras.map(f => col(f.name)): _*)))).as("attrs"))
    val gated = safetyGate(packed, cfg, metrics, lateness)
    gated
      .withColumn("__rest", from_json(
        element_at(col("attrs"), SafetyRestKey),
        org.apache.spark.sql.types.StructType(extras)))
      .withColumn("attrs", map_filter(col("attrs"),
        (k, _) => k =!= SafetyRestKey))
      .select(col("ts_ns") +: col("body") +: col("attrs") +:
        extras.map(f => col(s"__rest.${f.name}").as(f.name)): _*)
      .select(logs.columns.map(col).toIndexedSeq: _*) // original order
  }

  final case class PointIn(series: String, ts_us: Long, value: Double)
  final case class SeriesState(series: String, ts_us: Long, value: Double, n_seen: Long)

  /** Per-series last-sample state carried across micro-batches with
    * typed `mapGroupsWithState` — the streaming form of the Prometheus
    * lookback/staleness rule (reference selectPoint,
    * querier_metrics_scanners.go:204-390): every trigger emits the
    * newest sample seen so far per series plus a seen-count.
    *
    * State is one fixed-size record per series (bounded by series
    * cardinality, not event volume), keyed by the stream's natural
    * partition key so it distributes across executors.
    */
  def lastValueState(points: Dataset[PointIn]): Dataset[SeriesState] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.series)
      .mapGroupsWithState[SeriesState, SeriesState](GroupStateTimeout.NoTimeout) {
        case (series, rows, state) =>
          val batch = rows.toSeq
          val prev = state.getOption
          val newestInBatch = batch.maxBy(_.ts_us)
          val next =
            if (prev.forall(_.ts_us <= newestInBatch.ts_us))
              SeriesState(series, newestInBatch.ts_us, newestInBatch.value,
                prev.map(_.n_seen).getOrElse(0L) + batch.size)
            else prev.get.copy(n_seen = prev.get.n_seen + batch.size)
          state.update(next)
          next
      }
  }

  final case class FunnelEvent(user_id: Long, event_type: String,
      ts_us: Long, event_time: java.sql.Timestamp)
  final case class FunnelState(t1: Long, t2: Long, t3: Long)
  final case class FunnelUpdate(user_id: Long, funnel_level: Int,
      chain_start_us: Long)

  /** Streaming WINDOW FUNNEL — the ingest-time twin of the batch
    * `src_window_funnel` operator, anchored at each user's FIRST view
    * (the streaming approximation: the batch pass re-anchors at every
    * view and takes the max, which needs the full history; the
    * first-chain level is what a live funnel dashboard tracks). State
    * is one 3-timestamp record per active user, keyed by user so it
    * distributes; a level row is emitted each time the user's chain
    * deepens, and the event-time timeout retires users `retention`
    * past the watermark.
    */
  def windowFunnel(events: DataFrame, windowUs: Long = 86400000000L,
      retentionMs: Long = 3600000L): Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("event_time", "10 minutes")
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_time"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelUpdate](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state) =>
          val batch = rows.toSeq
          if (batch.isEmpty) { state.remove(); Iterator.empty }
          else {
            var s = state.getOption.getOrElse(FunnelState(0L, 0L, 0L))
            def level(x: FunnelState): Int =
              if (x.t3 > 0) 3 else if (x.t2 > 0) 2 else if (x.t1 > 0) 1 else 0
            val out = Seq.newBuilder[FunnelUpdate]
            batch.sortBy(e => (e.ts_us, e.event_type)).foreach { e =>
              val before = level(s)
              s = e.event_type match {
                case "view" if s.t1 == 0 => s.copy(t1 = e.ts_us)
                case "click" if s.t1 > 0 && s.t2 == 0 &&
                  e.ts_us > s.t1 && e.ts_us <= s.t1 + windowUs =>
                  s.copy(t2 = e.ts_us)
                case "purchase" if s.t2 > 0 && s.t3 == 0 &&
                  e.ts_us > s.t2 && e.ts_us <= s.t1 + windowUs =>
                  s.copy(t3 = e.ts_us)
                case _ => s
              }
              if (level(s) > before)
                out += FunnelUpdate(user, level(s), s.t1)
            }
            state.update(s)
            state.setTimeoutTimestamp(
              batch.map(_.event_time.getTime).max + retentionMs)
            out.result().iterator
          }
      }
  }

  final case class BandRow(bucket: String, doc_id: Long, event_time: java.sql.Timestamp)
  final case class BandClaim(doc_id: Long, bucket: String, owner: Long)

  /** Ingest-time STREAMING near-dup filter (MinHash LSH with
    * first-claim bucket state): each document computes `bands` seeded
    * minhashes over its 3-token shingles IN-ROW (one codegen
    * projection, no shuffle before the stateful op), explodes to one
    * (band, minhash) bucket row per band, and a per-bucket
    * `flatMapGroupsWithState` records the first document to claim each
    * bucket. Every row comes back as a [[BandClaim]] whose `owner` is
    * that first claimant — a document is a near-duplicate iff ANY of
    * its claims has `owner != doc_id` (the same any-band-collision
    * rule as the batch `pipe_minhash_lsh` pass, decided at ingest).
    *
    * Verdict aggregation (`max(owner != doc_id) group by doc_id`)
    * belongs in the sink's foreachBatch: a document's band rows are
    * produced from one input row, so they land in one micro-batch and
    * the per-batch group sees all of them.
    *
    * Scale: state is one fixed-size record per DISTINCT bucket (bounded
    * by corpus novelty, not volume), keyed by the band bucket so it
    * distributes; the event-time timeout evicts buckets `retention`
    * past the watermark — at 100 TB/day this is the dedup-window knob,
    * exactly like the batch job's lookback.
    */
  def nearDupBandClaims(docs: DataFrame, bands: Int = 4,
      retentionMs: Long = 3600000L): Dataset[BandClaim] = {
    import docs.sparkSession.implicits._
    val sh =
      "transform(sequence(0, size(__toks) - 3), i -> concat_ws(' ', __toks[i], __toks[i+1], __toks[i+2]))"
    val bandCols = (0 until bands).map { k =>
      concat(lit(s"$k:"), expr(s"array_min(transform($sh, s -> md5(concat('$k:', s))))"))
        .as(s"__b$k")
    }
    docs
      .withWatermark("event_time", "10 minutes")
      .withColumn("__toks", split(col("text"), " ", -1))
      .filter(size(col("__toks")) >= 3)
      .select(col("doc_id") +: col("event_time") +: bandCols: _*)
      .select(col("doc_id"), col("event_time"),
        explode(array((0 until bands).map(k => col(s"__b$k")): _*)).as("bucket"))
      .select(col("bucket"), col("doc_id"), col("event_time"))
      .as[BandRow]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[Long, BandClaim](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        case (bucket, rows, state) =>
          val batch = rows.toSeq
          if (batch.isEmpty) {
            // timeout call: the bucket aged out of the dedup window
            state.remove()
            Iterator.empty
          } else {
            // deterministic first claim inside a batch: earliest
            // event time, ties to the lower doc id
            val sorted = batch.sortBy(r => (r.event_time.getTime, r.doc_id))
            val owner = state.getOption.getOrElse {
              val o = sorted.head.doc_id
              state.update(o)
              o
            }
            state.setTimeoutTimestamp(
              sorted.map(_.event_time.getTime).max + retentionMs)
            sorted.iterator.map(r => BandClaim(r.doc_id, bucket, owner))
          }
      }
  }

  /** Metric point decomposition: one OTLP-ish record carrying
    * gauge/sum/histogram fields → flattened point rows with a `mapping`
    * discriminator (reference inserter_metrics.go:200-620 histogram
    * flattening into metrics_points).
    */
  def decomposePoints(records: DataFrame): DataFrame = {
    val base = records.select(
      col("timestamp"), col("name"),
      GraftFunctions.xxh3_128(concat_ws("\u0000", col("name"), col("attrs")))
        .as("hash"),
      col("gauge"), col("hist_count"), col("hist_sum"))
    val gauges = base.filter(col("gauge").isNotNull)
      .select(col("hash"), col("name"), col("timestamp"),
        col("gauge").as("value"), lit(0).as("mapping"))
    val histCounts = base.filter(col("hist_count").isNotNull)
      .select(col("hash"), col("name"), col("timestamp"),
        col("hist_count").cast("double").as("value"), lit(1).as("mapping"))
    val histSums = base.filter(col("hist_sum").isNotNull)
      .select(col("hash"), col("name"), col("timestamp"),
        col("hist_sum").as("value"), lit(2).as("mapping"))
    gauges.unionAll(histCounts).unionAll(histSums)
  }

  /** Exponential-histogram + summary decomposition — the streaming path
    * for the two record shapes decomposePoints leaves out (reference
    * inserter_metrics.go exp-hist/summary flattening into
    * metrics_exp_histograms / summary points):
    *   - exp-hist: zero-count row (mapping 10) + one row per positive
    *     bucket (mapping 11) with bucket_idx = offset + position and
    *     the scale carried alongside + the sum field (mapping 12, when
    *     the input carries `exp_sum`) — the reference stores count/sum/
    *     min/max next to the bucket arrays (metrics_exp_histograms DDL)
    *   - summary: one row per (quantile, value) pair (mapping 20)
    * posexplode keeps the flattening distributed and codegen'd.
    */
  def decomposeExpHist(records0: DataFrame): DataFrame = {
    val records =
      if (records0.columns.contains("exp_sum")) records0
      else records0.withColumn("exp_sum", lit(null).cast("double"))
    val base = records.select(
      col("timestamp"), col("name"),
      GraftFunctions.xxh3_128(concat_ws("\u0000", col("name"), col("attrs")))
        .as("hash"),
      col("exp_scale"), col("exp_zerocount"),
      col("exp_positive_offset"), col("exp_positive_counts"),
      col("summary_quantiles"), col("exp_sum"))
    val hsums = base.filter(col("exp_sum").isNotNull)
      .select(col("hash"), col("name"), col("timestamp"),
        col("exp_sum").as("value"),
        lit(12).as("mapping"), lit(null).cast("int").as("bucket_idx"),
        col("exp_scale").as("scale"))
    val zeros = base.filter(col("exp_zerocount").isNotNull)
      .select(col("hash"), col("name"), col("timestamp"),
        col("exp_zerocount").cast("double").as("value"),
        lit(10).as("mapping"), lit(null).cast("int").as("bucket_idx"),
        col("exp_scale").as("scale"))
    val buckets = base.filter(col("exp_positive_counts").isNotNull)
      .select(col("hash"), col("name"), col("timestamp"), col("exp_scale"),
        col("exp_positive_offset"),
        posexplode(col("exp_positive_counts")).as(Seq("pos", "cnt")))
      .select(col("hash"), col("name"), col("timestamp"),
        col("cnt").cast("double").as("value"), lit(11).as("mapping"),
        (col("exp_positive_offset") + col("pos")).cast("int").as("bucket_idx"),
        col("exp_scale").as("scale"))
    val summaries = base.filter(col("summary_quantiles").isNotNull)
      .select(col("hash"), col("name"), col("timestamp"),
        explode(col("summary_quantiles")).as("qv"))
      .select(col("hash"), col("name"), col("timestamp"),
        col("qv.value").as("value"), lit(20).as("mapping"),
        (col("qv.q") * 100).cast("int").as("bucket_idx"),
        lit(null).cast("int").as("scale"))
    zeros.unionAll(buckets).unionAll(hsums).unionAll(summaries)
  }

  /** Batched log inserter: wires an unbounded log stream into the
    * MergeTree-analogue Layout via foreachBatch — each micro-batch
    * appends date-partitioned, ORDER BY-sorted parquet, which is
    * exactly the reference's batched inserter shape
    * (inserter_logs.go batching → MergeTree part per insert).
    */
  /** `volumePath` (optional) keeps the log-volume rollup sidecar LIVE:
    * each micro-batch also appends its [[logVolumePartials]] under the
    * same exactly-once protocol — the tier/cube discipline, so
    * [[graft.logql.Planner.volumeFromLayout]] readers can serve
    * grain-aligned count/bytes/rate aggregations with no raw log scan
    * and no coverage gap.
    */
  def logsSink(stream: DataFrame, path: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      volumePath: String = null,
      idBase: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id0: Long) =>
        val id = idBase + id0
        // unlike pointsSink there is no replay-divergence guard here:
        // the log batch derives deterministically from checkpointed
        // offsets + state-store versions (no driver-state admission),
        // so a crash-window replay reproduces the committed rows. Add
        // the pointsSink readBatch guard if admission ever lands here.
        val b = if (volumePath == null) batch else batch.persist()
        try {
          graft.sources.Layout.commitBatch(path, id)(
            graft.sources.Layout.writeLogs(b, _, mode = "overwrite"))
          if (volumePath != null)
            graft.sources.Layout.commitBatch(volumePath, id)(
              writeVolumeStaging(logVolumePartials(b), _))
        } finally if (volumePath != null) { b.unpersist(); () }
      }
      .trigger(trigger)
      .start()

  /** OTLP protobuf ingest: raw ExportTraceServiceRequest payloads →
    * span rows matching the engine schema (attrs/resource_attrs split,
    * events/links arrays, parent ids). The decode runs distributed in
    * mapPartitions over [[graft.sources.OtlpProto]] — the same entry
    * point the reference reaches through the collector's OTLP receiver
    * (internal/otelreceiver/receiver.go:45-93). Works on static frames
    * and streaming micro-batches alike; chain into [[spansSink]] /
    * [[graft.sources.Layout.writeSpans]] for the stored layout.
    */
  def spansFromOtlp(frames: DataFrame,
      payloadCol: String = "payload"): DataFrame = {
    val ss = frames.sparkSession
    import ss.implicits._
    frames.select(col(payloadCol)).as[Array[Byte]]
      .mapPartitions(_.flatMap(graft.sources.OtlpProto.decodeSpans))
      .toDF()
  }

  /** OTLP logs ingest: ExportLogsServiceRequest payloads → log rows
    * (body rendered from AnyValue, severity fields, trace/span ids,
    * attr maps) plus the `service_name`/`timestamp` columns the
    * enrichment/sink stages key on. Distributed decode, same shape as
    * [[spansFromOtlp]] (reference otelreceiver consumes all three
    * signals, internal/otelreceiver/receiver.go:45-93).
    */
  def logsFromOtlp(frames: DataFrame,
      payloadCol: String = "payload"): DataFrame = {
    val ss = frames.sparkSession
    import ss.implicits._
    frames.select(col(payloadCol)).as[Array[Byte]]
      .mapPartitions(_.flatMap(graft.sources.OtlpProto.decodeLogs))
      .toDF()
      .withColumn("service_name",
        element_at(col("resource_attrs"), "service.name"))
      .withColumn("timestamp", timestamp_micros(expr("ts_ns div 1000")))
  }

  /** OTLP profiles ingest: raw ExportProfilesServiceRequest payloads →
    * stack-sample rows for the flame-tree engine (the reference routes
    * this signal to its embedded storage sink,
    * oteldbexporter.go:53-80). Distributed decode via
    * [[graft.sources.OtlpProfiles]], same seam as the other signals.
    */
  def profilesFromOtlp(frames: DataFrame,
      payloadCol: String = "payload"): DataFrame = {
    val ss = frames.sparkSession
    import ss.implicits._
    frames.select(col(payloadCol)).as[Array[Byte]]
      .mapPartitions(_.flatMap(graft.sources.OtlpProfiles.decodeProfiles))
      .toDF()
  }

  /** Profiles sink: date-partitioned append, sorted by (name, ts) —
    * the render path scans one series over a window.
    */
  def profilesSink(stream: DataFrame, path: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      idBase: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id0: Long) =>
        val id = idBase + id0
        graft.sources.Layout.commitBatch(path, id) { staging =>
          batch
            .withColumn("date",
              date_format(timestamp_micros(col("ts_us")), "yyyyMMdd"))
            .repartition(col("date"))
            .sortWithinPartitions(col("date"), col("name"), col("ts_us"))
            .write.mode("overwrite").partitionBy("date").parquet(staging)
        }
      }
      .trigger(trigger)
      .start()

  /** Pyroscope PUSH ingest (collapsed/folded format — the classic
    * agent wire: one `root;child;leaf value` line per stack). The
    * reference declines this endpoint (profilehandler.go:78-82);
    * accepting it is parity-plus. Frames carry (app, ts_us, body):
    * the app name parses Pyroscope-style `name{k=v,...}` into series
    * name + labels; lines split distributed, stacks are already
    * root-first.
    */
  def profilesFromCollapsed(frames: DataFrame): DataFrame = {
    val appName = regexp_extract(col("app"), "^([^{]+)", 1)
    val labelBlob = regexp_extract(col("app"), "\\{(.*)\\}", 1)
    // struct() inside a HOF lambda names its fields col1/col2 —
    // aliases don't survive, so address them positionally
    val labels = map_from_entries(filter(
      transform(split(labelBlob, ","),
        kv => struct(
          regexp_extract(kv, "^([^=]*)=", 1),
          regexp_replace(regexp_extract(kv, "=(.*)$", 1), "\"", ""))),
      kv => kv.getField("col1") =!= ""))
    frames
      .select(appName.as("name"), labels.as("labels"), col("ts_us"),
        explode(split(decode(col("payload"), "UTF-8"), "\n")).as("line"))
      .filter(length(trim(col("line"))) > 0)
      .select(col("ts_us"), col("name"), col("labels"),
        split(regexp_extract(col("line"), "^(.*) ([0-9]+)\\s*$", 1), ";")
          .as("stack"),
        regexp_extract(col("line"), " ([0-9]+)\\s*$", 1).cast("long")
          .as("value"))
      .filter(col("value").isNotNull && size(col("stack")) > 0)
  }

  /** Loki push ingest (`POST /loki/api/v1/push`): promtail-shaped JSON
    * bodies — `{"streams":[{"stream":{labels},"values":[[ns-ts,line,
    * {meta}?],…]}]}` — and promtail's DEFAULT wire encoding
    * (snappy-block-compressed logproto.PushRequest) to rows the log
    * layout stores. The reference returns NotImplemented here
    * (lokihandler.go:611-616); accepting the format is parity-plus.
    * Both decodes run DISTRIBUTED in mapPartitions over
    * [[graft.sources.LokiPush]] inside the micro-batch (the same seam
    * as the OTLP decoders); a malformed body decodes to zero rows,
    * never poisoning the listener. Per-entry STRUCTURED METADATA (the
    * optional third JSON element / proto field 3, Loki ≥2.9) merges
    * into the entry's label map metadata-wins — the pipeline then sees
    * it as ordinary labels, which is how Loki exposes it to LogQL.
    */
  def logsFromLokiPush(frames: DataFrame,
      payloadCol: String = "payload"): DataFrame = {
    val ss = frames.sparkSession
    import ss.implicits._
    frames.select(col(payloadCol)).as[Array[Byte]]
      .mapPartitions(_.flatMap { b =>
        // JSON bodies start with '{'; anything else is the snappy
        // logproto frame (no Content-Encoding header on the wire, so
        // the micro-batch undoes it; an uncompressed proto frame falls
        // through the try)
        if (b.nonEmpty && b(0) == '{'.toByte)
          graft.sources.LokiPush.decodePushJson(b)
        else {
          val raw =
            try graft.sources.Snappy.decode(b)
            catch { case _: Exception => b }
          graft.sources.LokiPush.decodePush(raw)
        }
      })
      .toDF()
      .select(
        col("ts_ns"),
        col("body"),
        mergeRightWins(col("attrs"), col("metadata")).as("attrs"),
        map().cast("map<string,string>").as("resource_attrs"),
        coalesce(element_at(col("attrs"), "service_name"),
          element_at(col("attrs"), "job")).as("service_name"),
        // schema parity with the OTLP decode so both ingest paths
        // append to ONE stored layout without drift
        lit("").as("trace_id_hex"),
        lit(null).cast("long").as("trace_id"),
        lit(null).cast("long").as("span_id"),
        lit(0).as("flags"),
        lit("").as("scope_name"),
        lit("").as("scope_version"))
      .withColumn("timestamp", timestamp_micros(expr("ts_ns div 1000")))
  }

  /** Canonical series-identity rendering: resource + point attrs as
    * one sorted `k=v` list (the hash input decomposePoints expects —
    * inserter_metrics.go hashes the flattened attr set the same way).
    */
  private def attrsKey: Column = concat_ws(",",
    transform(
      array_sort(concat(map_entries(col("resource_attrs")),
        map_entries(col("attrs")))),
      e => concat(e.getField("key"), lit("="), e.getField("value"))))

  /** OTLP metrics ingest: ExportMetricsServiceRequest payloads → one
    * row per data point, bridged to the [[decomposePoints]] input
    * shape (timestamp, name, attrs, gauge, hist_count, hist_sum).
    */
  def pointsFromOtlp(frames: DataFrame,
      payloadCol: String = "payload"): DataFrame =
    metricsFromOtlp(frames, payloadCol)
      .select(col("timestamp"), col("name"), col("attrs"),
        col("gauge"), col("hist_count"), col("hist_sum"))

  /** Decoded OTLP exemplars → the /api/v1/query_exemplars frame
    * (ts_us, name, labels, exemplar_labels, value): one row per
    * exemplar, series labels from the data point's attrs, the
    * trace/span link carried inside exemplar_labels (reference stores
    * them alongside the point, chstorage exemplar columns).
    */
  /** map_concat with right-side precedence that cannot throw on
    * duplicate keys: valid OTLP may carry the same key in both
    * resource and point attrs (or a filtered_attribute named
    * trace_id), and Spark's default mapKeyDedupPolicy=EXCEPTION would
    * fail the whole ingest micro-batch on the collision.
    */
  private def mergeRightWins(left: Column, right: Column): Column =
    map_concat(
      map_filter(left, (k, _) => !map_contains_key(right, k)), right)

  def exemplarsFromOtlp(frames: DataFrame,
      payloadCol: String = "payload"): DataFrame = {
    val ss = frames.sparkSession
    import ss.implicits._
    frames.select(col(payloadCol)).as[Array[Byte]]
      .mapPartitions(_.flatMap(graft.sources.OtlpProto.decodeMetrics))
      .toDF()
      .filter(col("exemplars").isNotNull)
      // series labels stay a MAP here (selector matching needs
      // element_at), unlike the hashed canonical string the point
      // inserter uses. Point attrs shadow resource attrs on key
      // collision (more-specific wins).
      .select(col("name"),
        mergeRightWins(col("resource_attrs"), col("attrs")).as("labels"),
        explode(col("exemplars")).as("e"))
      .select(
        expr("e.ts_ns div 1000").as("ts_us"),
        col("name"), col("labels"),
        mergeRightWins(
          coalesce(col("e.attrs"), map().cast("map<string,string>")),
          map_filter(
            map(lit("trace_id"), col("e.trace_id_hex"),
              lit("span_id"), col("e.span_id_hex")),
            (_, v) => v.isNotNull)).as("exemplar_labels"),
        col("e.value").as("value"))
  }

  /** OTLP exp-hist/summary ingest → the [[decomposeExpHist]] input
    * shape.
    */
  def expHistFromOtlp(frames: DataFrame,
      payloadCol: String = "payload"): DataFrame =
    metricsFromOtlp(frames, payloadCol)
      .filter(col("exp_scale").isNotNull || col("summary_quantiles").isNotNull)
      .select(col("timestamp"), col("name"), col("attrs"),
        col("exp_scale"), col("exp_zerocount"), col("exp_positive_offset"),
        col("exp_positive_counts"), col("summary_quantiles"), col("exp_sum"))

  /** Full decoded metric frame (all five OTLP kinds flattened to one
    * row per data point, attrs rendered canonically).
    */
  def metricsFromOtlp(frames: DataFrame,
      payloadCol: String = "payload"): DataFrame = {
    val ss = frames.sparkSession
    import ss.implicits._
    frames.select(col(payloadCol)).as[Array[Byte]]
      .mapPartitions(_.flatMap(graft.sources.OtlpProto.decodeMetrics))
      .toDF()
      .withColumn("timestamp", timestamp_micros(expr("ts_ns div 1000")))
      .withColumn("attrs", attrsKey)
  }

  /** Prometheus remote-write ingest: uncompressed WriteRequest
    * payloads → the query-ready points schema (ts_us, name, labels,
    * value) — every PromQL front-end runs directly on the result
    * (reference /api/v1/write → inserter_metrics.go path).
    */
  def pointsFromPrompb(frames: DataFrame,
      payloadCol: String = "payload"): DataFrame = {
    val ss = frames.sparkSession
    import ss.implicits._
    frames.select(col(payloadCol)).as[Array[Byte]]
      .mapPartitions(_.flatMap(graft.sources.Prompb.decodeWriteRequest))
      .toDF()
      .select((col("ts_ms") * 1000L).as("ts_us"),
        col("name"), col("labels"), col("value"))
  }

  /** Remote-write exemplars → the same /api/v1/query_exemplars frame
    * as [[exemplarsFromOtlp]] (reference decodes them on the
    * prometheusremotewrite path alongside samples).
    */
  def exemplarsFromPrompb(frames: DataFrame,
      payloadCol: String = "payload"): DataFrame = {
    val ss = frames.sparkSession
    import ss.implicits._
    frames.select(col(payloadCol)).as[Array[Byte]]
      .mapPartitions(_.flatMap(graft.sources.Prompb.decodeWriteRequestExemplars))
      .toDF()
      .select((col("ts_ms") * 1000L).as("ts_us"),
        col("name"), col("labels"), col("exemplar_labels"), col("value"))
  }

  /** Batched span inserter: foreachBatch into the bloom-filtered,
    * (name, start)-sorted daily span layout (inserter_traces.go).
    * `parent_path` ancestry is materialized inside
    * [[graft.sources.Layout.writeSpans]] per micro-batch.
    *
    * `cubePath` (optional) keeps the compare() attr-count rollup
    * ([[graft.traceql.TraceQL.AttrCube]]) LIVE: each micro-batch also
    * appends its partial (bucket × dims × attr × value) counts to the
    * sidecar layout — same incremental-extend shape as the hourly
    * point rollup, same exactly-once commit protocol (the two layouts
    * commit independently; a crash between them replays to the same
    * final state because each marker short-circuits its own layout).
    * Counts are additive, so per-batch partials need no merge at write
    * time — [[graft.traceql.TraceQL.attrCubeFrom]] readers sum them.
    */
  def spansSink(stream: DataFrame, path: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      cubePath: String = null,
      cubeDims: Seq[String] = Seq("name", "kind", "status_code"),
      idBase: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // dims resolve against the STREAM schema once, at sink setup — a
    // per-batch filter would let a dim-less batch write partial rows
    // under a different grouping, silently corrupting the read-time
    // sum(n) merge. `kind`/`status_code` are optional span columns
    // (fixture frames omit them), so absent ones narrow HERE, visibly
    // and permanently for this sink, never per batch.
    val dims =
      if (cubePath == null) cubeDims
      else {
        val present = cubeDims.filter(stream.columns.contains)
        require(present.nonEmpty,
          s"spansSink: none of cube dims $cubeDims exist in the stream " +
            s"schema ${stream.columns.toSeq}")
        present
      }
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id0: Long) =>
        val id = idBase + id0
        // both layouts derive from the batch: cache once, not re-read
        val b = if (cubePath == null) batch else batch.persist()
        try {
          graft.sources.Layout.commitBatch(path, id)(
            graft.sources.Layout.writeSpans(b, _, mode = "overwrite"))
          if (cubePath != null)
            graft.sources.Layout.commitBatch(cubePath, id)(
              graft.sources.Layout.writeAttrCube(
                graft.traceql.TraceQL.compareAttrCounts(b, dims), _))
        } finally if (cubePath != null) { b.unpersist(); () }
      }
      .trigger(trigger)
      .start()
  }

  /** Batched metric-point inserter: same foreachBatch shape into the
    * (hash, ts)-sorted daily layout (inserter_metrics.go batching).
    * An optional [[graft.sources.Admission.SeriesBudget]] enforces the
    * active-series cardinality ceiling per micro-batch (new series
    * past the soft budget → per-metric overflow series; past the hard
    * ceiling → shed), the reference's LimitsConfig MaxSeries /
    * MaxSeriesSoft semantics applied at the inserter seam.
    *
    * `rollupPath` (optional) keeps the hourly stat-tier sidecar LIVE:
    * each micro-batch also appends its [[hourlyStatPartials]] to the
    * rollup layout — the same incremental-extend shape as the span
    * sink's AttrCube, the same exactly-once commit protocol (the two
    * layouts commit independently; a crash between them replays to
    * the same final state because each marker short-circuits its own
    * layout). Because the sidecar is extended by the SAME committed
    * batches as the raw layout — post-admission, so shed points never
    * enter a tier — a tier-served answer can never miss a stored
    * point; [[graft.promql.PromQL.tiersFromLayout]] relies on exactly
    * that invariant.
    */
  def pointsSink(stream: DataFrame, path: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      budget: graft.sources.Admission.SeriesBudget = null,
      rollupPath: String = null,
      idBase: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        commitPointsBatch(batch, idBase + id, path, budget, rollupPath)
        // new points may add native-histogram metrics: stale cached
        // name probes would leave them unexpanded on long-lived frames
        graft.promql.PromQL.invalidateExpHistNames()
      }
      .trigger(trigger)
      .start()

  /** Hourly-sidecar staging write shape (shared by the live sinks and
    * the restart-time settlement of a pending sidecar commit): one
    * partials frame, date-partitioned on the hour bucket, sorted on
    * the sidecar's ORDER BY.
    */
  private def writeHourlyStaging(partials: DataFrame, staging: String,
      sortCols: Seq[String]): Unit =
    partials
      .withColumn("date", date_format(col("hour_start"), "yyyyMMdd"))
      .repartition(col("date"))
      .sortWithinPartitions(
        (col("date") +: sortCols.map(col) :+ col("hour_start")): _*)
      .write.mode("overwrite").partitionBy("date").parquet(staging)

  private[graft] def writeRollupStaging(partials: DataFrame,
      staging: String): Unit =
    writeHourlyStaging(partials, staging, Seq("name", "series_key"))

  private[graft] def writeVolumeStaging(partials: DataFrame,
      staging: String): Unit =
    writeHourlyStaging(partials, staging, Seq("series_key"))

  /** The per-micro-batch commit sequence of [[pointsSink]], exposed so
    * crash-window tests can drive the PRODUCTION protocol directly
    * (the ScalaCheck property kills it between any two steps and
    * asserts reader equality after the replay).
    */
  def commitPointsBatch(batch: DataFrame, id: Long, path: String,
      budget: graft.sources.Admission.SeriesBudget = null,
      rollupPath: String = null): Unit = {
    // a crash BETWEEN the raw commit and the rollup commit replays
    // here with rebuilt driver state — re-running admission can
    // then admit a DIFFERENT row set than the one already stored
    // (the rebuilt series ledger differs: overflowed series
    // collapsed into one key), and the sidecar must cover exactly
    // what the raw layout holds. Detect that window up front and
    // derive the partials from the STORED batch rows instead.
    val replayFromStore = rollupPath != null &&
      new java.io.File(path, s"_committed_$id").exists() &&
      !new java.io.File(rollupPath, s"_committed_$id").exists()
    val admitted0 = if (budget == null) batch else budget.admit(batch)
    // both layouts derive from the batch: cache once, not re-read
    val admitted = if (rollupPath == null) admitted0 else admitted0.persist()
    try {
      graft.sources.Layout.commitBatch(path, id)(
        graft.sources.Layout.writePoints(admitted, _, mode = "overwrite"))
      if (rollupPath != null) {
        val src =
          if (replayFromStore)
            graft.sources.Layout.readBatch(batch.sparkSession, path, id)
              .map(_.select(col("ts_us"), col("name"), col("labels"),
                col("value")))
              .getOrElse(admitted.limit(0))
          else admitted
        graft.sources.Layout.commitBatch(rollupPath, id)(
          writeRollupStaging(hourlyStatPartials(src), _))
      }
    } finally if (rollupPath != null) { admitted.unpersist(); () }
  }

  /** Exemplar inserter: the [[exemplarsFromOtlp]] frame appended into
    * the daily exemplar layout (fourth sink, same foreachBatch shape).
    */
  def exemplarsSink(stream: DataFrame, path: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      idBase: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.sources.Layout.commitBatch(path, idBase + id)(
          graft.sources.Layout.writeExemplars(batch, _, mode = "overwrite"))
      }
      .trigger(trigger)
      .start()
}
