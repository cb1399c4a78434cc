package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.api.{Auth, HttpApi, Limits}
import graft.sources.{Admission, Layout, OtlpReceiver, StoragePolicy}

/** Production composition root — the `cmd/oteldb` app shape
  * (reference cmd/oteldb/app.go + storage_backend.go:34-127 +
  * admin.go:41-43): ONE entry point that stands up ingest (OTLP
  * HTTP + gRPC, remote-write, Loki push, Pyroscope), the query API
  * for all four languages, and the admin/health server, all over the
  * SAME `$dataDir` layouts — raw signals, the rollup/log-volume
  * sidecars, the compare() attr cube, exemplars and profiles.
  *
  * Two freshness problems a naive composition hits, solved here:
  *
  *  1. `spark.read.parquet` snapshots the FILE LISTING when the
  *     DataFrame is created — batches committed after the query API
  *     starts would be invisible forever. [[Serve]] keeps a layout
  *     GENERATION counter, bumped by a StreamingQueryListener on
  *     every committed micro-batch that carried rows (batch commits
  *     are the only writers) and after every maintenance pass (TTL
  *     drops and compaction rewrite listings without a batch). The
  *     [[HttpApi]] receives generation-memoized by-name suppliers:
  *     a request under an unchanged generation reuses the already
  *     opened frame (no relisting); the first request after a bump
  *     re-opens the layout and sees the new files.
  *  2. `HttpApi`'s series/resolution caches were built on the
  *     premise "backing frames are static per API instance" — a live
  *     layout violates that for late-arriving data into an
  *     already-cached window. The API's `generation` hook keys every
  *     cache entry on the layout generation, so a window cached
  *     before a batch can never serve after it.
  *
  * Query-side serving views (the reference's read-side mapping,
  * internal/chstorage/columns_logs.go:264-273 splices materialized
  * columns back into the label map on read):
  *   - logs: `labels` = resource attrs ⊕ log attrs ⊕ the
  *     materialized `service_name` (attrs win key collisions;
  *     strip-then-concat because `map_concat` throws on duplicates)
  *   - points/spans/profiles/exemplars: stored layouts as-is
  *   - tiers/logTiers/cube: re-derived from the sidecar layouts per
  *     generation ([[graft.promql.PromQL.tiersFromLayout]],
  *     [[graft.logql.Planner.volumeFromLayout]],
  *     [[graft.traceql.TraceQL.attrCubeFrom]])
  *
  * An empty-at-startup layout serves a schema-correct EMPTY frame
  * (queries return empty envelopes, not errors) and upgrades to the
  * stored layout at the first committed batch — so Serve can start
  * FIRST and ingest after, the deployment order a real user runs.
  */
final class Serve(val spark: SparkSession, cfg: Serve.Config) {

  // before the receiver's sinks or any request thread can compile first
  graft.util.GraftSession.initCodegenCache(spark)

  val receiver = new OtlpReceiver(spark, cfg.dataDir, cfg.limits,
    cfg.logSafety, cfg.storagePolicy, cfg.retentionDays)

  // ---- layout generation ----

  // PER-SIGNAL counters + shared maintenance counter, extracted to
  // [[graft.util.Generations]] (its two invariants — total moves on
  // every change; a view re-opens iff its own generation moved — are
  // property-tested over random interleavings in
  // GenerationsPropertySpec, since the result caches' freshness builds
  // on them)
  private val gens = new graft.util.Generations(
    Seq("logs", "points", "spans", "profiles", "exemplars"))
  private type Live[T] = graft.util.Generations.Live[T]

  /** Current layout generation (monotone; any committed batch or
    * maintenance pass moves it) — the HttpApi result caches key on
    * this TOTAL, so a change to any layout invalidates by key.
    */
  def generation: Long = gens.total

  /** Force the next request to re-open every layout (used after
    * out-of-band layout changes; harmless when nothing changed).
    */
  def refresh(): Unit = gens.refresh()

  private def genOf(signal: String): () => Long = gens.of(signal)

  /** Opens a layout CONSISTENTLY: both the existence probe and the
    * eager listing run inside [[Layout.openConsistent]]'s swap-epoch
    * double-check — a re-open racing a compaction swap (or a TTL drop)
    * would otherwise observe the brief window where a partition is
    * absent and memoize a silently incomplete (or empty) frame under
    * the current generation. Lock-free: ingest commits never wait on a
    * query re-open (the epoch retry re-lists only in the actual race).
    */
  private def openOrEmpty(path: String, empty: => DataFrame,
      mergeSchema: Boolean = false): DataFrame =
    Layout.openConsistent(path) {
      if (Layout.hasDatePartitions(path))
        spark.read.option("mergeSchema", mergeSchema.toString).parquet(path)
      else empty
    }

  private def openOr(path: String, emptyDdl: String,
      mergeSchema: Boolean = false): DataFrame =
    openOrEmpty(path, spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(emptyDdl)), mergeSchema)

  // ---- serving views over the stored layouts ----

  private def logsView: DataFrame = {
    // mergeSchema: a logs layout can hold files written BEFORE the
    // attrs column was always-synthesized (enrichLogs upgrades
    // attrs-less frames) next to files written after — default
    // inference samples ONE file and could pick the attrs-less schema,
    // silently nulling the column for every row. The footer merge is a
    // distributed metadata job paid once per layout generation, not
    // per query.
    val stored = openOr(s"${cfg.dataDir}/logs",
      "ts_ns BIGINT, body STRING, severity_number INT, " +
        "severity_text STRING, service_name STRING, trace_id_hex STRING, " +
        "attrs MAP<STRING,STRING>, resource_attrs MAP<STRING,STRING>",
      mergeSchema = true)
    // the same stream labels the log-volume sidecar keys on
    stored.select(col("ts_ns"), col("body"),
      graft.streaming.Streams.storedLogLabels(stored.columns.toSeq).as("labels"),
      col("severity_number"), col("severity_text"), col("service_name"),
      col("trace_id_hex"))
  }

  private def pointsView: DataFrame =
    openOr(s"${cfg.dataDir}/points",
      "ts_us BIGINT, name STRING, labels MAP<STRING,STRING>, value DOUBLE")
      .select("ts_us", "name", "labels", "value")

  private def spansView: DataFrame =
    openOrEmpty(s"${cfg.dataDir}/spans", {
      // schema-correct empty spans, derived from the decode type so it
      // cannot drift; withParentPath adds the stored ancestry column
      import spark.implicits._
      Layout.withParentPath(
        spark.emptyDataset[graft.sources.OtlpProto.OtlpSpan].toDF())
    })

  private def profilesView: DataFrame =
    openOrEmpty(s"${cfg.dataDir}/profiles", {
      import spark.implicits._
      spark.emptyDataset[graft.sources.OtlpProfiles.OtlpProfileSample].toDF()
    }).select("ts_us", "name", "labels", "stack", "value")

  private def exemplarsView: DataFrame =
    openOr(s"${cfg.dataDir}/exemplars",
      "ts_us BIGINT, name STRING, labels MAP<STRING,STRING>, " +
        "exemplar_labels MAP<STRING,STRING>, value DOUBLE")
      .select("ts_us", "name", "labels", "exemplar_labels", "value")

  private val liveLogs = new Live(genOf("logs"), () => logsView)
  private val livePoints = new Live(genOf("points"), () => pointsView)
  private val liveSpans = new Live(genOf("spans"), () => spansView)
  private val liveProfiles = new Live(genOf("profiles"), () => profilesView)
  private val liveExemplars =
    new Live(genOf("exemplars"), () => exemplarsView)
  // the sidecars ride their parent signal's sink (rollup ← points,
  // logvolume ← logs, cube ← spans), so they share its generation
  private val liveTiers = new Live(genOf("points"), () =>
    Layout.openConsistent(s"${cfg.dataDir}/rollup")(
      graft.promql.PromQL.tiersFromLayout(spark, s"${cfg.dataDir}/rollup")))
  private val liveLogTiers = new Live(genOf("logs"), () =>
    Layout.openConsistent(s"${cfg.dataDir}/logvolume")(
      graft.logql.Planner.volumeFromLayout(spark, s"${cfg.dataDir}/logvolume")))
  private val liveCube = new Live(genOf("spans"), () =>
    Layout.openConsistent(s"${cfg.dataDir}/cube") {
      if (Layout.hasDatePartitions(s"${cfg.dataDir}/cube"))
        Some(graft.traceql.TraceQL.attrCubeFrom(spark, s"${cfg.dataDir}/cube"))
      else None
    })

  // ---- self-telemetry (reference go-faster/sdk/app OTLP self-export,
  // cmd/oteldb/main.go:9) — the emitter posts to the configured
  // endpoint, or by default the OWN ingest port, which is only known
  // at start(); the URL thunk reads it live
  @volatile private var selfIngestPort: Int = -1
  // headers derived ONCE here (secret files are read at construction,
  // the Auth discipline — start() must not re-read them): a configured
  // (remote) endpoint takes the standard OTEL_EXPORTER_OTLP_HEADERS
  // pairs (the reference's exporter reads the same env); the default
  // self endpoint derives a credential from the OWN ingest auth config
  private val selfHeaders: Seq[(String, String)] =
    if (cfg.selfTelemetryMs <= 0) Nil
    else if (cfg.selfTelemetryEndpoint.nonEmpty)
      Serve.otlpHeadersFromEnv(sys.env.get("OTEL_EXPORTER_OTLP_HEADERS"))
    else Serve.selfAuthHeader(cfg.ingestAuth.getOrElse(cfg.auth))
      .map("Authorization" -> _).toSeq
  private[graft] val selfTelemetry: Option[graft.api.SelfTelemetry] =
    if (cfg.selfTelemetryMs > 0)
      Some(new graft.api.SelfTelemetry(
        // by-name: `api` initializes below; the thunk runs per tick
        () => Seq(api.metrics, receiver.ingestMetrics) ++
          receiver.adminMetrics,
        () => cfg.selfTelemetryEndpoint
          .getOrElse(s"http://127.0.0.1:$selfIngestPort"),
        selfHeaders,
        cfg.selfTelemetryMs))
    else None

  /** Structured-request-log sink (reference InjectLogger/LogRequests:
    * one record per request on every server). stderr lines are opt-in
    * (`--request-log on` / `request_log: on`): a single-process
    * local[32] deployment interleaves these lines with engine output,
    * and the per-route METRICS — the half an operator queries — are
    * always on. With self-telemetry enabled the lines ALSO tee into
    * its bounded ring regardless of the stderr opt-in — they are the
    * "own logs" half of the reference's OTLP self-export.
    */
  private val requestLogSink: Option[String => Unit] = {
    val stderrSink: Option[String => Unit] =
      if (cfg.requestLog) Some(line => System.err.println(line)) else None
    selfTelemetry match {
      case Some(st) =>
        Some(line => {
          stderrSink.foreach(_(line))
          // EXPLAIN ANALYZE lines keep their pre-self-telemetry stderr
          // home when request logging is off: the profile is an
          // explicitly requested diagnostic, and with the sink now
          // Some(ring-tee) HttpApi's getOrElse-stderr fallback never
          // fires — without this, a fail-closed self-stream would
          // silently eat the output the operator just asked for
          if (stderrSink.isEmpty &&
              line.startsWith("""{"event":"explain_analyze"""))
            System.err.println(line)
          st.offerLog(line)
        })
      case None => stderrSink
    }
  }

  /** The query front-end over the live layouts. Profiles/exemplars
    * mount UNCONDITIONALLY (empty until their first batch) — a
    * Some-at-start gate would permanently hide the endpoints of a deployment
    * that starts before its first profile arrives.
    */
  val api = new HttpApi(
    liveLogs.get(), livePoints.get(), liveSpans.get(),
    Some(liveProfiles.get()), Some(liveExemplars.get()),
    limits = cfg.resultLimits, rules = cfg.rules,
    cube = liveCube.get(), tiers = liveTiers.get(),
    logTiers = liveLogTiers.get(),
    generation = () => generation,
    refreshOnStale = () => refresh(),
    auth = Serve.sectionAuth(cfg.queryAuth, cfg.auth),
    metrics = new graft.api.RequestMetrics("query", requestLogSink))

  private var listener: StreamingQueryListener = _
  @volatile private var stopped = false
  private var maintThread: Thread = _

  def start(ingestPort: Int = 0, grpcPort: Int = 0, queryPort: Int = 0,
      adminPort: Int = 0): Serve.Ports = {
    // commit-driven freshness: each sink's foreachBatch completion
    // posts a progress event; a batch that carried rows changed a
    // layout listing, so the next query re-opens. (Zero-row ticks of
    // the ProcessingTime(0) trigger don't invalidate anything.)
    listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0)
          // attribute the batch to the ONE signal layout it wrote; an
          // unrecognized writer falls back to the global bump
          receiver.sinkSignals.get(e.progress.id) match {
            case Some(sig) => gens.bump(sig)
            case None      => refresh()
          }
    }
    spark.streams.addListener(listener)
    // per-section auth override, reference shape (app.go:206-208: a
    // section with no auth config inherits the GLOBAL one; gRPC ingest
    // stays un-middlewared like the reference, whose collector gRPC
    // receivers sit outside the HTTP auth middleware)
    val ingestMw = Serve.sectionAuth(cfg.ingestAuth, cfg.auth)
    receiver.ingestMetrics.logSink = requestLogSink
    val ip = receiver.start(ingestPort, auth = ingestMw)
    // the gRPC OTLP port carries no auth middleware (reference-faithful:
    // its collector gRPC receivers sit outside the HTTP auth middleware)
    // and binds loopback-only — but an operator who configured ingest
    // auth may assume BOTH ingest transports are protected, so say it
    // out loud at startup (ADVICE r15)
    if (ingestMw.nonEmpty)
      System.err.println("[graft.Serve] WARNING: ingest auth is " +
        "configured but the gRPC OTLP port accepts unauthenticated " +
        "writes (reference-faithful; bound to 127.0.0.1)")
    val gp = receiver.startGrpc(grpcPort)
    // admin-triggered storage_maintain changes layouts without a batch
    // commit (TTL drops partitions, compaction rewrites listings):
    // invalidate through the same generation
    val ap = receiver.startAdmin(adminPort, onMaintain = _ => refresh(),
      maintainDate = cfg.maintainDate,
      auth = Serve.sectionAuth(cfg.adminAuth, cfg.auth),
      // /api/v1/routes reports the query server's metrics next to the
      // ingest and admin servers' own
      routeMetrics = Seq(api.metrics),
      requestLog = requestLogSink,
      selfTelemetry = selfTelemetry.map(st => () => st.statusJson))
    val qp = api.start(queryPort)
    selfIngestPort = ip
    selfTelemetry.foreach { st =>
      // an ingest section that self-telemetry cannot authenticate to
      // (fail-closed all-none config, or no resolvable secret) would
      // silently 401 every export — say it out loud at startup; only
      // for the SELF endpoint (a remote sink's auth is not ours to
      // judge from this config)
      // ingestMw/selfHeaders are the instances already built — no
      // secret-file re-read at start()
      if (cfg.selfTelemetryEndpoint.isEmpty &&
          ingestMw.nonEmpty && selfHeaders.isEmpty)
        System.err.println("[graft.Serve] WARNING: self-telemetry is on " +
          "but no ingest credential could be derived from the auth " +
          "config — exports will be rejected")
      // the traces third: every Nth request (plus every 5xx) becomes a
      // SERVER span through the registries' hook — all three servers
      val every = cfg.selfTelemetrySpanEvery
      if (every > 0) {
        val n = new java.util.concurrent.atomic.AtomicLong()
        def wire(reg: graft.api.RequestMetrics): Unit =
          reg.spanSink = (route, method, status, durUs) =>
            // getAndIncrement: the FIRST request samples (a low-traffic
            // instance must export a trace before request #64, or the
            // documented TraceQL check looks broken while working)
            if (status >= 500 || n.getAndIncrement() % every == 0) {
              // epoch timing derived HERE, after the sampling decision
              // — unsampled requests (63 of 64) pay zero wall-clock
              // reads in the middleware
              val endNs = System.currentTimeMillis() * 1000000L
              st.offerSpan(reg.server, route, method, status,
                endNs - durUs * 1000L, durUs)
            }
        wire(api.metrics)
        wire(receiver.ingestMetrics)
        receiver.adminMetrics.foreach(wire)
      }
      st.start()
    }
    if (cfg.maintainEveryMs > 0) {
      // the reference's TTL/merge machinery runs continuously
      // (MergeTree TTL + background merges); the pass is idempotent
      // and once-per-band, so a plain interval daemon is enough
      maintThread = new Thread(() => {
        while (!stopped) {
          try {
            Thread.sleep(cfg.maintainEveryMs)
            if (!stopped) { receiver.maintainStorage(cfg.maintainDate()); refresh() }
          } catch {
            case _: InterruptedException => // stop() interrupts the sleep
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[graft.Serve] maintenance pass failed: $e")
          }
        }
      }, "graft-maintain")
      maintThread.setDaemon(true)
      maintThread.start()
    }
    Serve.Ports(ip, gp, qp, ap)
  }

  /** Run one maintenance pass now (the scheduled/admin pass, callable
    * for tests and ops); returns the pass summary.
    */
  def maintainNow(nowDate: String = cfg.maintainDate()): String = {
    val s = receiver.maintainStorage(nowDate)
    refresh()
    s
  }

  /** Ingest barrier: waits until every enqueued payload is committed,
    * then bumps the generation so the NEXT query is guaranteed to see
    * the committed batches (the listener bump is asynchronous; this
    * makes flush-then-query deterministic for tests and ops scripts).
    */
  def flush(): Unit = { receiver.flush(); refresh() }

  def stop(): Unit = {
    stopped = true
    // before the servers: the final flush tick posts to the still-live
    // ingest port
    selfTelemetry.foreach(_.stop())
    if (maintThread != null) {
      maintThread.interrupt()
      // JOIN (bounded): an in-flight maintenance pass ignores the
      // interrupt until its current Spark job ends — proceeding to
      // stop the servers and (in main) the SparkContext under it would
      // kill the pass mid-rewrite and lean on crash recovery for a
      // non-crash shutdown
      maintThread.join(30000)
    }
    // bounded graceful drain (reference app.go:240-247 shuts the HTTP
    // servers down under a 30 s context): in-flight query exchanges
    // finish; stop returns as soon as they drain, 30 s is the bound
    api.stop(gracefulSeconds = 30)
    receiver.stop()
    if (listener != null) spark.streams.removeListener(listener)
  }
}

object Serve {
  final case class Config(
      dataDir: String,
      limits: Admission.LimitsConfig = Admission.LimitsConfig(),
      logSafety: Option[graft.streaming.LogSafety.Config] = None,
      storagePolicy: Option[StoragePolicy.Policy] = None,
      retentionDays: Int = 0,
      resultLimits: Limits.ResultLimits = Limits.ResultLimits(),
      rules: Seq[graft.promql.Rules.RuleGroup] = Nil,
      requestLog: Boolean = false,
      selfTelemetryMs: Long = 0L,
      // sample every Nth request as a self-span (0 = spans off; 5xx
      // always sample); active only with selfTelemetryMs > 0
      selfTelemetrySpanEvery: Long = 64L,
      // OTLP base URL the self-exporter POSTs to (/v1/{metrics,logs,
      // traces} appended); None = the instance's OWN ingest port
      selfTelemetryEndpoint: Option[String] = None,
      maintainEveryMs: Long = 0L,
      maintainDate: () => String = () => StoragePolicy.utcToday(),
      // global auth applies to every HTTP server; a section override
      // (Some(...)) replaces it for that server — Some(Nil) explicitly
      // disables auth there (cmd/oteldb/config.go:117-118 global Auth
      // + per-section Auth on Tempo/Prometheus/Loki/Admin configs)
      auth: Seq[Auth.AuthConfig] = Nil,
      queryAuth: Option[Seq[Auth.AuthConfig]] = None,
      ingestAuth: Option[Seq[Auth.AuthConfig]] = None,
      adminAuth: Option[Seq[Auth.AuthConfig]] = None)

  final case class Ports(ingestHttp: Int, ingestGrpc: Int, query: Int,
      admin: Int)

  /** Section auth resolution (app.go:206-208): the section's own
    * config when set, the global one otherwise; empty → no middleware.
    */
  private[graft] def sectionAuth(section: Option[Seq[Auth.AuthConfig]],
      global: Seq[Auth.AuthConfig]): Option[Auth.Middleware] =
    Auth.fromConfig(section.getOrElse(global))

  /** Credential the self-telemetry exporter presents to the OWN ingest
    * section: the first resolvable bearer token, else the first basic
    * user — the reference's self-export reads its own config the same
    * way (OTEL_EXPORTER_OTLP_HEADERS). None when the config carries no
    * usable secret (e.g. the fail-closed all-none config).
    */
  private[graft] def selfAuthHeader(
      cfgs: Seq[Auth.AuthConfig]): Option[String] =
    cfgs.collectFirst {
      case c if c.tpe == "bearertoken" && c.tokens.nonEmpty =>
        s"Bearer ${c.tokens.head.get}"
      case c if c.tpe == "basicauth" && c.users.nonEmpty =>
        val u = c.users.head
        "Basic " + java.util.Base64.getEncoder.encodeToString(
          s"${u.user}:${u.getPassword}".getBytes("UTF-8"))
    }

  /** `OTEL_EXPORTER_OTLP_HEADERS` pairs (`k=v,k2=v2`, values
    * percent-encoded per the OTel spec) → exporter request headers —
    * how the reference's exporter authenticates to a remote collector.
    */
  private[graft] def otlpHeadersFromEnv(
      env: Option[String]): Seq[(String, String)] =
    env.filter(_.nonEmpty).toSeq.flatMap(_.split(",")).map { pair =>
      val i = pair.indexOf('=')
      val k = if (i > 0) pair.take(i).trim else ""
      require(k.nonEmpty,
        s"OTEL_EXPORTER_OTLP_HEADERS: want k=v[,k=v], got '$pair'")
      k -> pctDecode(pair.drop(i + 1).trim)
    }

  /** %XX-only decoding (the OTel env spec percent-encodes values, W3C
    * baggage-octet style) — NOT URLDecoder, whose form-urlencoded
    * semantics turn a literal '+' (routine in base64 credentials)
    * into a space.
    */
  private def pctDecode(s: String): String = {
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else { out.write(c.toInt); i += 1 }
    }
    new String(out.toByteArray, "UTF-8")
  }

  /** `--self-telemetry-endpoint` / `OTEL_EXPORTER_OTLP_ENDPOINT`
    * validation: an http(s) base URL, trailing slashes dropped so the
    * `/v1/metrics` append never doubles one.
    */
  private[graft] def normalizeOtlpEndpoint(v: String): String = {
    require(v.startsWith("http://") || v.startsWith("https://"),
      s"--self-telemetry-endpoint: want http(s)://host[:port], got '$v'")
    v.reverse.dropWhile(_ == '/').reverse
  }

  /** `--self-telemetry <N>ms|<N>s|<N>m|off` → period millis (0 = off). */
  private def parseSelfTelemetry(v: String): Long = {
    val m = "^([0-9]+)(ms|s|m)$".r
    v match {
      case "off" | "0" => 0L
      case m(n, "ms")  => n.toLong
      case m(n, "s")   => n.toLong * 1000L
      case m(n, "m")   => n.toLong * 60000L
      case other => throw new IllegalArgumentException(
        s"--self-telemetry: want <N>ms|<N>s|<N>m|off, got '$other'")
    }
  }

  /** Flag parsing, separated for tests. Every knob the programmatic
    * [[Config]] carries is reachable from the command line — the
    * one-binary contract (the reference's `oteldb` reads the same
    * knobs from its YAML/env config, cmd/oteldb/config.go):
    *
    *   admission  --ingest-bytes-per-second N --max-in-flight-bytes N
    *              --max-series N --max-series-soft N --max-body-bytes N
    *   policy     --downsample afterDays:intervalSec:agg[,...]
    *              --precision afterDays:bits[,...]
    *              --recompress afterDays[:zstdLevel]
    *   safety     --safety softRate:hardRate[:mode[:hardMode]]
    *   retention  --retention-days N
    *   scheduler  --maintain-every-min N
    */
  private val KnownFlags = Set(
    "--ingest-port", "--grpc-port", "--query-port", "--admin-port",
    "--retention-days", "--maintain-every-min",
    "--ingest-bytes-per-second", "--max-in-flight-bytes",
    "--max-series", "--max-series-soft", "--max-body-bytes",
    "--downsample", "--precision", "--recompress", "--safety",
    "--auth-token", "--auth-basic",
    "--query-auth-token", "--query-auth-basic",
    "--ingest-auth-token", "--ingest-auth-basic",
    "--admin-auth-token", "--admin-auth-basic",
    "--max-result-rows", "--max-result-bytes", "--max-execution-ms",
    "--max-concurrent-queries", "--queue-depth", "--queue-wait-ms",
    "--request-log", "--self-telemetry", "--self-telemetry-spans",
    "--self-telemetry-endpoint", "--config")

  /** Config-file keys (snake_case twins of the flags, the reference's
    * cmd/oteldb/config.go field names where one exists), validated
    * STRICTLY like the flag names — yaml.Unmarshal silently ignoring a
    * typo'd `retention_day` would fill disks.
    */
  private val KnownFileKeys = Set(
    "ingest_port", "grpc_port", "query_port", "admin_port",
    "retention_days", "maintain_every_min",
    "ingest_bytes_per_second", "max_in_flight_bytes",
    "max_series", "max_series_soft", "max_body_bytes",
    "downsample", "precision", "recompress", "safety",
    "max_result_rows", "max_result_bytes", "max_execution_ms",
    "max_concurrent_queries", "queue_depth", "queue_wait_ms",
    "request_log", "self_telemetry", "self_telemetry_spans",
    "self_telemetry_endpoint", "auth", "query", "ingest", "admin")

  private def checkKeys(m: Map[String, Any], allowed: Set[String],
      ctx: String): Unit =
    m.keys.find(!allowed(_)).foreach(k =>
      throw new IllegalArgumentException(s"unknown $ctx key '$k'"))

  /** Loads and validates the `--config` YAML file (empty map when the
    * flag is absent). Shared by [[parseConfig]] and the port
    * resolution in [[main]].
    */
  private[graft] def loadFileMap(args: Seq[String]): Map[String, Any] = {
    val i = args.indexOf("--config")
    if (i < 0 || i + 1 >= args.length) Map.empty
    else graft.util.MiniYaml.parseFile(args(i + 1)) match {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        checkKeys(mm, KnownFileKeys, "config")
        mm
      case _ => throw new IllegalArgumentException(
        "--config: the top level must be a map")
    }
  }

  /** `auth:` config-file section → [[Auth.AuthConfig]]s
    * (cmd/oteldb/config.go:480-491 AuthConfig shape: `type` +
    * `tokens`/`users`, each entry inline or file-sourced).
    */
  private def authFromFile(v: Any, ctx: String): Seq[Auth.AuthConfig] =
    v match {
      case l: List[_] => l.map {
        case m: Map[_, _] =>
          val mm = m.asInstanceOf[Map[String, Any]]
          checkKeys(mm, Set("type", "tokens", "users"), s"$ctx auth")
          Auth.AuthConfig(
            mm.getOrElse("type", "").toString,
            tokens = mm.get("tokens").map(tokensFromFile(_, ctx)).getOrElse(Nil),
            users = mm.get("users").map(usersFromFile(_, ctx)).getOrElse(Nil))
        case other => throw new IllegalArgumentException(
          s"$ctx auth: each entry must be a map, got '$other'")
      }
      case other => throw new IllegalArgumentException(
        s"$ctx auth: expected a list, got '$other'")
    }

  private def tokensFromFile(v: Any, ctx: String): Seq[Auth.Token] = v match {
    case l: List[_] => l.map {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        checkKeys(mm, Set("token", "token_file"), s"$ctx tokens")
        Auth.Token(mm.getOrElse("token", "").toString,
          mm.getOrElse("token_file", "").toString)
      case other => throw new IllegalArgumentException(
        s"$ctx tokens: each entry must be a map, got '$other'")
    }
    case other => throw new IllegalArgumentException(
      s"$ctx tokens: expected a list, got '$other'")
  }

  private def usersFromFile(v: Any, ctx: String)
      : Seq[Auth.UserCredentials] = v match {
    case l: List[_] => l.map {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        checkKeys(mm, Set("user", "password", "password_file"), s"$ctx users")
        Auth.UserCredentials(mm.getOrElse("user", "").toString,
          mm.getOrElse("password", "").toString,
          mm.getOrElse("password_file", "").toString)
      case other => throw new IllegalArgumentException(
        s"$ctx users: each entry must be a map, got '$other'")
    }
    case other => throw new IllegalArgumentException(
      s"$ctx users: expected a list, got '$other'")
  }

  /** Config-file per-section block (`query:`/`ingest:`/`admin:`),
    * currently carrying only `auth` like the reference's per-API
    * sections.
    */
  private def sectionFromFile(fileMap: Map[String, Any],
      section: String): Option[Seq[Auth.AuthConfig]] =
    fileMap.get(section).map {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        checkKeys(mm, Set("auth"), section)
        mm.get("auth").map(authFromFile(_, section)).getOrElse(Nil)
      case other => throw new IllegalArgumentException(
        s"$section: expected a map, got '$other'")
    }

  def parseConfig(dataDir: String, args: Seq[String]): Config =
    parseConfig(dataDir, args, loadFileMap(args))

  /** [[parseConfig]] over a PRE-PARSED config file: main resolves
    * ports from the same map, and parsing once means ports and
    * limits/auth can never come from two different versions of a file
    * rewritten mid-boot.
    */
  private[graft] def parseConfig(dataDir: String, args: Seq[String],
      fileMap: Map[String, Any],
      // env seam: tests isolate from a host's real
      // OTEL_EXPORTER_OTLP_ENDPOINT (standard with k8s OTel operators)
      envGet: String => Option[String] = k => sys.env.get(k)): Config = {
    // strict flag validation — a typo'd flag name or a forgotten value
    // is a STARTUP error (the same philosophy as the policy's agg
    // validation): `--retention-day 30` silently defaulting retention
    // OFF would fill disks before anyone noticed
    // EVERY token is examined: a flag must be known and valued, and a
    // stray positional (a space where a comma belonged, a flag typed
    // without dashes) is as loud as a typo'd flag name — the scan-only
    // -between-flags version silently dropped both
    var i = 0
    while (i < args.length) {
      val t = args(i)
      if (t.startsWith("--")) {
        require(KnownFlags.contains(t), s"unknown flag '$t'")
        require(i + 1 < args.length && !args(i + 1).startsWith("--"),
          s"flag '$t' is missing its value")
        i += 2
      } else {
        require(i == 0, s"unexpected argument '$t'")
        i += 1
      }
    }
    def flagStr(name: String): Option[String] = {
      val j = args.indexOf(name)
      if (j >= 0 && j + 1 < args.length) Some(args(j + 1)) else None
    }
    // `--config file.yml` loads the snake_case twins of every flag;
    // precedence is flag > file > default (the reference reads one
    // YAML config; our flags stay authoritative on conflict).
    // value-SHAPE mistakes are as loud as key typos: a list/map where
    // a scalar belongs must not silently become the default (the
    // `downsample:` written as a block list would otherwise turn
    // downsampling off without a word); an empty scalar reads as unset
    def fileStr(key: String): Option[String] =
      fileMap.get(key).flatMap {
        case s: String => Some(s).filter(_.nonEmpty)
        case other => throw new IllegalArgumentException(
          s"config key '$key': expected a scalar value, got '$other'")
      }
    def cfgStr(flag: String, key: String): Option[String] =
      flagStr(flag).orElse(fileStr(key))
    def cfgL(flag: String, key: String, default: Long): Long =
      cfgStr(flag, key).map(_.toLong).getOrElse(default)
    val downsample = cfgStr("--downsample", "downsample").toSeq
      .flatMap(_.split(",")).map { spec =>
        spec.split(":") match {
          case Array(d, s)       => StoragePolicy.DownsampleTier(
            d.toInt, s.toLong * 1000000L)
          case Array(d, s, agg)  => StoragePolicy.DownsampleTier(
            d.toInt, s.toLong * 1000000L, agg)
          case _ => throw new IllegalArgumentException(
            s"--downsample: want afterDays:intervalSec[:agg], got '$spec'")
        }
      }
    val precision = cfgStr("--precision", "precision").toSeq
      .flatMap(_.split(",")).map { spec =>
        spec.split(":") match {
          case Array(d, b) => StoragePolicy.PrecisionTier(d.toInt, b.toInt)
          case _ => throw new IllegalArgumentException(
            s"--precision: want afterDays:bits, got '$spec'")
        }
      }
    val recompress = cfgStr("--recompress", "recompress").map(_.split(":") match {
      case Array(d)    => StoragePolicy.Recompress(d.toInt)
      case Array(d, l) => StoragePolicy.Recompress(d.toInt, l.toInt)
      case _ => throw new IllegalArgumentException(
        "--recompress: want afterDays[:zstdLevel]")
    })
    val policy =
      if (downsample.isEmpty && precision.isEmpty && recompress.isEmpty) None
      else Some(StoragePolicy.Policy(precision, downsample, recompress))
    val safety = cfgStr("--safety", "safety").map(_.split(":") match {
      case Array(s, h) => graft.streaming.LogSafety.Config(
        softMaxRatePerSecond = s.toInt, hardMaxRatePerSecond = h.toInt)
      case Array(s, h, m) => graft.streaming.LogSafety.Config(
        softMaxRatePerSecond = s.toInt, hardMaxRatePerSecond = h.toInt,
        onExcess = m)
      case Array(s, h, m, hm) => graft.streaming.LogSafety.Config(
        softMaxRatePerSecond = s.toInt, hardMaxRatePerSecond = h.toInt,
        onExcess = m, hardOnExcess = hm)
      case _ => throw new IllegalArgumentException(
        "--safety: want softRate:hardRate[:mode[:hardMode]]")
    })
    // auth flags: `--auth-token t1[,t2]` (a `@path` entry reads the
    // token from a file, the reference's token_file) and
    // `--auth-basic user:pass[,user:@path]`; the per-section
    // `--query-/--ingest-/--admin-` variants OVERRIDE the global pair
    // for that server (config.go per-section Auth)
    def tokenCfg(flag: String): Option[Auth.AuthConfig] =
      flagStr(flag).map { v =>
        Auth.AuthConfig("bearertoken", tokens = v.split(",").toSeq.map {
          // "@@x" = the literal token "@x"; "@path" = token_file
          case t if t.startsWith("@@") => Auth.Token(token = t.drop(1))
          case t if t.startsWith("@")  => Auth.Token(tokenFile = t.drop(1))
          case t                       => Auth.Token(token = t)
        })
      }
    def basicCfg(flag: String): Option[Auth.AuthConfig] =
      flagStr(flag).map { v =>
        Auth.AuthConfig("basicauth", users = v.split(",").toSeq.map { up =>
          val i = up.indexOf(':')
          require(i > 0, s"$flag: want user:pass, got '$up'")
          val pass = up.drop(i + 1)
          if (pass.startsWith("@@")) // literal leading @
            Auth.UserCredentials(up.take(i), password = pass.drop(1))
          else if (pass.startsWith("@"))
            Auth.UserCredentials(up.take(i), passwordFile = pass.drop(1))
          else Auth.UserCredentials(up.take(i), password = pass)
        })
      }
    def sectionCfg(prefix: String): Option[Seq[Auth.AuthConfig]] = {
      val cfgs = tokenCfg(s"$prefix-auth-token").toSeq ++
        basicCfg(s"$prefix-auth-basic").toSeq
      if (cfgs.isEmpty) None else Some(cfgs)
    }
    // parsed once: the field below and both telemetry-off foot-gun
    // warnings read the same number
    val selfTelemetryMsV = cfgStr("--self-telemetry", "self_telemetry")
      .fold(0L)(parseSelfTelemetry)
    Config(dataDir,
      limits = Admission.LimitsConfig(
        ingestBytesPerSecond =
          cfgL("--ingest-bytes-per-second", "ingest_bytes_per_second", 0L),
        maxInFlightBytes =
          cfgL("--max-in-flight-bytes", "max_in_flight_bytes", 0L),
        maxSeries = cfgL("--max-series", "max_series", 0L),
        maxSeriesSoft = cfgL("--max-series-soft", "max_series_soft", 0L),
        maxBodyBytes = cfgL("--max-body-bytes", "max_body_bytes", 0L)),
      logSafety = safety,
      storagePolicy = policy,
      // boolean knob: on/off | true/false | 1/0, loudly rejecting
      // anything else (the strict-validation philosophy)
      requestLog = cfgStr("--request-log", "request_log").fold(false) {
        case "on" | "true" | "1"   => true
        case "off" | "false" | "0" => false
        case other => throw new IllegalArgumentException(
          s"--request-log: want on|off, got '$other'")
      },
      // duration knob: <N>ms|<N>s|<N>m|off (reference
      // OTEL_METRIC_EXPORT_INTERVAL shape), strictly validated
      selfTelemetryMs = selfTelemetryMsV,
      selfTelemetrySpanEvery = {
        val raw = cfgStr("--self-telemetry-spans", "self_telemetry_spans")
        // explicitly-configured spans with self-telemetry off would be
        // silently inert — the same loud-foot-gun convention as the
        // gRPC-unauth and underivable-credential startup warnings;
        // decided on the PARSED value ("0s"/"0m" are off too, not just
        // the literal "off"/"0" spellings)
        if (raw.nonEmpty && selfTelemetryMsV == 0L)
          System.err.println("[graft.Serve] WARNING: --self-telemetry-" +
            "spans is set but --self-telemetry is off — no spans (or " +
            "any self-telemetry) will be exported")
        val num = "^([0-9]{1,18})$".r
        raw.fold(64L) {
          case "off"  => 0L
          case num(v) => v.toLong
          case other => throw new IllegalArgumentException(
            s"--self-telemetry-spans: want <N>|off, got '$other'")
        }
      },
      selfTelemetryEndpoint = {
        val ep = cfgStr("--self-telemetry-endpoint",
          "self_telemetry_endpoint")
          // the reference honors the standard env (cmd/oteldb/main.go:9
          // → go-faster/sdk autootel); flag/file win on conflict
          .orElse(envGet("OTEL_EXPORTER_OTLP_ENDPOINT")
            .filter(_.nonEmpty))
          .map(normalizeOtlpEndpoint)
        if (ep.nonEmpty && selfTelemetryMsV == 0L)
          System.err.println("[graft.Serve] WARNING: --self-telemetry-" +
            "endpoint is set but --self-telemetry is off — nothing " +
            "will be exported")
        ep
      },
      retentionDays = cfgL("--retention-days", "retention_days", 0L).toInt,
      maintainEveryMs =
        cfgL("--maintain-every-min", "maintain_every_min", 0L) * 60000L,
      resultLimits = Limits.ResultLimits(
        maxSampleRows = cfgL("--max-result-rows", "max_result_rows",
          1000000L),
        maxResultBytes = cfgL("--max-result-bytes", "max_result_bytes",
          64L << 20),
        maxExecutionMs = cfgL("--max-execution-ms", "max_execution_ms",
          30000L),
        maxConcurrentQueries = cfgL("--max-concurrent-queries",
          "max_concurrent_queries", 16L).toInt,
        queueDepth = cfgL("--queue-depth", "queue_depth", 32L).toInt,
        queueWaitMs = cfgL("--queue-wait-ms", "queue_wait_ms", 10000L)),
      // auth precedence mirrors the scalar knobs: flags replace the
      // file's section wholesale when present
      auth = {
        val flagged =
          tokenCfg("--auth-token").toSeq ++ basicCfg("--auth-basic").toSeq
        if (flagged.nonEmpty) flagged
        else fileMap.get("auth").map(authFromFile(_, "global")).getOrElse(Nil)
      },
      queryAuth = sectionCfg("--query")
        .orElse(sectionFromFile(fileMap, "query")),
      ingestAuth = sectionCfg("--ingest")
        .orElse(sectionFromFile(fileMap, "ingest")),
      adminAuth = sectionCfg("--admin")
        .orElse(sectionFromFile(fileMap, "admin")))
  }

  /** `runMain graft.Serve <dataDir> [flags]` — the one-binary
    * deployment (reference cmd/oteldb/main.go). Default ports mirror
    * the reference config defaults (config.go: OTLP 4317/4318, query
    * 3200, admin 13133); the query server carries all four language
    * endpoints on one port (their path spaces don't collide).
    */
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: graft.Serve <dataDir> [--ingest-port N] [--grpc-port N] " +
          "[--query-port N] [--admin-port N] [--retention-days N] " +
          "[--maintain-every-min N] [--ingest-bytes-per-second N] " +
          "[--max-in-flight-bytes N] [--max-series N] [--max-series-soft N] " +
          "[--max-body-bytes N] [--downsample d:sec[:agg],...] " +
          "[--precision d:bits,...] [--recompress d[:level]] " +
          "[--safety soft:hard[:mode[:hardMode]]] " +
          "[--config serve.yml] [--auth-token t[,t|@file]] " +
          "[--auth-basic user:pass[,u:@file]] " +
          "[--{query|ingest|admin}-auth-{token|basic} ...] " +
          "[--max-result-rows N] [--max-result-bytes N] " +
          "[--max-execution-ms N] [--max-concurrent-queries N] " +
          "[--queue-depth N] [--queue-wait-ms N] [--request-log on|off] " +
          "[--self-telemetry <N>ms|<N>s|<N>m|off] " +
          "[--self-telemetry-spans <N>|off] " +
          "[--self-telemetry-endpoint http(s)://host:port] " +
          "(env: INGEST_ADDR GRPC_ADDR QUERY_ADDR ADMIN_ADDR " +
          "OTEL_EXPORTER_OTLP_ENDPOINT OTEL_EXPORTER_OTLP_HEADERS)")
      sys.exit(2)
    }
    val dataDir = args(0)
    require(!dataDir.startsWith("--"),
      s"first argument must be the data directory, got flag '$dataDir'")
    val fileMap = loadFileMap(args.toSeq)
    // port precedence: flag > *_ADDR env override > config file >
    // reference default — the env hook is the reference's
    // `os.Getenv(strings.ToUpper(name)+"_ADDR")` (app.go:201-204);
    // the value may be `host:port`, `:port`, or a bare port (the bind
    // host here is always loopback-or-all per deployment)
    def flag(name: String, envName: String, fileKey: String,
        default: Int): Int = {
      val i = args.indexOf(name)
      if (i >= 0 && i + 1 < args.length) args(i + 1).toInt
      else sys.env.get(envName).filter(_.nonEmpty)
        .map(a => a.substring(a.lastIndexOf(':') + 1).toInt)
        .orElse(fileMap.get(fileKey).map(_.toString.toInt))
        .getOrElse(default)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.util.GraftSession
      .configure(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val serve = new Serve(spark, parseConfig(dataDir, args.toSeq, fileMap))
    val ports = serve.start(
      ingestPort = flag("--ingest-port", "INGEST_ADDR", "ingest_port", 4318),
      grpcPort = flag("--grpc-port", "GRPC_ADDR", "grpc_port", 4317),
      queryPort = flag("--query-port", "QUERY_ADDR", "query_port", 3200),
      adminPort = flag("--admin-port", "ADMIN_ADDR", "admin_port", 13133))
    println(s"graft.Serve up: ingest=${ports.ingestHttp} " +
      s"grpc=${ports.ingestGrpc} query=${ports.query} admin=${ports.admin} " +
      s"dataDir=$dataDir")
    // SIGTERM ordering: a plain JVM shutdown hook RACES Spark's own
    // shutdown hook — if Spark stops the context first, the drain in
    // receiver.stop() can no longer run and acknowledged payloads die
    // silently. Register through Hadoop's shutdown-hook manager (the
    // one Spark's hooks also run under) at a priority ABOVE Spark's
    // (Spark registers at 40), so the drain completes before the
    // context goes away.
    // explicit hook TIMEOUT: Hadoop's default hook budget is 30 s and
    // it cancels (interrupts) the hook on expiry — serve.stop()'s HTTP
    // graceful drain alone may use 30 s, and a cancelled hook would
    // skip the receiver drain and lose acknowledged payloads, the very
    // thing the hook exists to prevent
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable { def run(): Unit = serve.stop() }, 100,
      120, java.util.concurrent.TimeUnit.SECONDS)
    Thread.currentThread().join() // serve until killed
  }
}
