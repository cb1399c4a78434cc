package graft.sources

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.streaming.Streams

/** OTLP/HTTP ingest listener: accepts protobuf `Export*ServiceRequest`
  * POSTs on the standard collector paths and feeds them to the
  * per-signal streaming consumers (reference
  * internal/otelreceiver/receiver.go:45-93 — the receiver fans out to
  * the trace/log/metric consumers, which batch into the inserters):
  *
  *   POST /v1/traces   → spansFromOtlp  → date-partitioned span layout
  *   POST /v1/logs     → logsFromOtlp → enrichLogs → log layout
  *   POST /v1/metrics  → metricsFromOtlp → point layout
  *
  * Spark-first shape: the HTTP handler only ENQUEUES the raw payload
  * into a per-signal streaming source; decode (distributed
  * mapPartitions over [[OtlpProto]]) and the layout append run inside
  * Structured Streaming micro-batches with checkpointing — swap the
  * in-memory source for a durable bus (Kafka source, same payload
  * column) and the pipeline is the deployment topology. Payload decode
  * failures poison only their micro-batch, never the listener.
  *
  * Admission control ([[Admission.LimitsConfig]], the reference's
  * storage_policy.go:82-101 limits): over-budget requests are SHED
  * losslessly at this edge — OTLP clients get a partial-success
  * response naming every item rejected, remote-write/Loki/Pyroscope
  * clients get 429 — and new-series cardinality past the soft budget
  * routes to the per-metric overflow series in the point inserter.
  */
final class OtlpReceiver(spark: SparkSession, dataDir: String,
    limits: Admission.LimitsConfig = Admission.LimitsConfig(),
    logSafety: Option[graft.streaming.LogSafety.Config] = None,
    storagePolicy: Option[StoragePolicy.Policy] = None,
    retentionDays: Int = 0,
    nowNs: () => Long = () => System.nanoTime()) {

  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._

  private val traceIn = MemoryStream[Array[Byte]]
  private val logIn = MemoryStream[Array[Byte]]
  private val metricIn = MemoryStream[Array[Byte]]
  private val promIn = MemoryStream[Array[Byte]]
  // the exemplar sink's own copy of every remote-write payload: a
  // MemoryStream trims its buffer on commit, so two sinks reading one
  // stream lose rows whenever the faster sink commits first
  private val promExIn = MemoryStream[Array[Byte]]
  private val lokiIn = MemoryStream[Array[Byte]]
  private val profileIn = MemoryStream[Array[Byte]]
  private val pyroIn = MemoryStream[(String, Long, Array[Byte])]

  /** Per-route request metrics for the ingest HTTP server (reference
    * httpmiddleware.Measure wraps every server, app.go:215-236) —
    * surfaced by the admin API's /api/v1/routes.
    */
  val ingestMetrics = new graft.api.RequestMetrics("ingest")

  private var queries: Seq[StreamingQuery] = Nil
  private var server: HttpServer = _
  private var grpc: GrpcIngest = _
  private var admin: graft.api.AdminApi = _

  /** The admin server's own route registry (None before [[startAdmin]])
    * — the self-telemetry exporter reads all three servers' registries.
    */
  def adminMetrics: Option[graft.api.RequestMetrics] =
    Option(admin).map(_.metrics)
  private var listener: StreamingQueryListener = _

  // ---- admission state (one budget per receiver = per tenant) ----
  val stats = new Admission.Stats
  // the rate budget's clock is a constructor seam (tests hold time still)
  private val bucket = new Admission.TokenBucket(limits.ingestBytesPerSecond, nowNs)
  private val inFlightTotal = new java.util.concurrent.atomic.AtomicLong
  private def tracker() =
    new Admission.InFlightTracker(limits.maxInFlightBytes, inFlightTotal)
  private val traceTrk = tracker(); private val logTrk = tracker()
  private val metricTrk = tracker(); private val promTrk = tracker()
  private val lokiTrk = tracker(); private val profileTrk = tracker()
  private val pyroTrk = tracker()
  val seriesBudget: Admission.SeriesBudget =
    if (limits.maxSeries > 0 || limits.maxSeriesSoft > 0)
      new Admission.SeriesBudget(limits.maxSeries, limits.maxSeriesSoft, stats)
    else null
  /** Unflushed enqueued bytes (the `maxInFlightBytes` ledger). */
  def inFlightBytes: Long = inFlightTotal.get()

  /** Excess-log safety decision counters (populated when a
    * [[graft.streaming.LogSafety.Config]] is wired; the reference's
    * odbsafety Metrics, surfaced by the admin storage view).
    */
  val safetyStats = new graft.streaming.LogSafety.Metrics(spark.sparkContext)

  /** Reads an HTTP body through a bound: over-budget requests stop
    * buffering at the limit+1 boundary instead of allocating the whole
    * payload before rejection (the gRPC framing path already stops
    * accumulating mid-stream; this is the HTTP twin).
    */
  private def readBounded(ex: HttpExchange): Array[Byte] = {
    val in = ex.getRequestBody
    if (limits.maxBodyBytes <= 0) in.readAllBytes()
    else {
      val cap = math.min(limits.maxBodyBytes, Int.MaxValue - 1L).toInt
      val raw = in.readNBytes(cap + 1)
      if (raw.length > cap)
        throw new Admission.ResourceExhausted(
          s"request body exceeds ${limits.maxBodyBytes} byte limit")
      raw
    }
  }

  /** Rate + in-flight admission for one payload; rate tokens consumed
    * for a payload the ledger then sheds are refunded (nothing was
    * buffered, the client will retry).
    */
  private def admitPayload(trk: Admission.InFlightTracker, n: Long)(
      enqueue: => Long): Boolean =
    bucket.tryAcquire(n) && {
      val ok = trk.tryEnqueue(n, enqueue)
      if (!ok) bucket.refund(n)
      ok
    }

  // (queryName, sourceIndex) → in-flight release for the offsets that
  // sink committed; each source's bytes release when ITS batch commits
  // (points feed the rollup sidecar inside the same commit)
  private var releaseByQuery: Map[(String, Int), Long => Unit] = Map.empty

  // remote-write payloads sit in two streams (points, exemplars) at the
  // same offsets; their bytes release once BOTH sinks committed them
  private val promCommitted = Array(-1L, -1L)
  private def promCommit(sink: Int)(offset: Long): Unit =
    promCommitted.synchronized {
      promCommitted(sink) = math.max(promCommitted(sink), offset)
      promTrk.releaseUpTo(promCommitted.min)
    }

  /** Appends an admitted payload, returning its offset; remote-write
    * payloads also go to the exemplar stream, under the same tracker
    * lock, so the two streams' offsets stay equal.
    */
  private def enqueue(sink: MemoryStream[Array[Byte]],
      payload: Array[Byte]): Long = {
    if (sink eq promIn) promExIn.addData(Seq(payload))
    sink.addData(Seq(payload)).json.toLong
  }

  /** resource attrs merged under point attrs, point side winning on
    * duplicate keys (valid OTLP may repeat a key on both levels).
    */
  private def mergedLabels = map_concat(
    map_filter(col("resource_attrs"),
      (k, _) => !map_contains_key(col("attrs"), k)),
    col("attrs"))

  def start(port: Int = 0,
      auth: Option[graft.api.Auth.Middleware] = None): Int = {
    // crash recovery FIRST, at startup — not deferred to the first
    // maintenance pass: a restart after a crash mid-compaction-swap
    // would otherwise serve (and replay against) a layout whose
    // partition sits invisible under `.old.date=X` until maintenance
    // happens to run (possibly never, if no interval is configured).
    // The reference gets the same guarantee from ClickHouse's part
    // recovery at table load. Idempotent, one listFiles per root.
    Seq("points", "logs", "spans", "profiles", "exemplars",
      "cube", "rollup", "logvolume").foreach { name =>
      Layout.recoverCompactionLeftovers(s"$dataDir/$name")
        .foreach(m => System.err.println(s"[graft] startup recovery $name: $m"))
    }
    // RESTART CONTINUATION over the stored layouts. The in-memory
    // sources die with the process, so a stale checkpoint is
    // unresumable (fresh streams would misalign against its offsets) —
    // exactly-once across restarts lives in the LAYOUT MARKERS
    // instead: (a) stale checkpoints clear (streaming safety-gate rate
    // state resets with them — per-second counters, benign across a
    // restart); (b) each sink continues the batch-id sequence past its
    // layouts' largest marker (a fresh checkpoint restarts foreachBatch
    // ids at 0, and the old `_committed_0` would silently swallow the
    // first new batch); (c) a sidecar commit a prior crash left PENDING
    // (raw marker present, sidecar marker absent — the id sequence
    // moves past it, so the in-batch replay guard can never fire)
    // settles NOW from the stored batch, the same derivation the
    // in-run guard uses.
    Layout.deleteRecursively(new java.io.File(s"$dataDir/ckpt"))
    def settlePendingSidecar(raw: String, side: String)(
        write: (org.apache.spark.sql.DataFrame, String) => Unit): Unit =
      (Layout.committedIds(raw) -- Layout.committedIds(side)).toSeq.sorted
        .foreach { id =>
          System.err.println(
            s"[graft] startup recovery: settling pending sidecar " +
              s"$side for batch $id")
          Layout.commitBatch(side, id)(staging =>
            Layout.readBatch(spark, raw, id)
              .foreach(b => write(b, staging)))
        }
    settlePendingSidecar(s"$dataDir/points", s"$dataDir/rollup")((b, st) =>
      Streams.writeRollupStaging(Streams.hourlyStatPartials(
        b.select(col("ts_us"), col("name"), col("labels"), col("value"))), st))
    settlePendingSidecar(s"$dataDir/logs", s"$dataDir/logvolume")((b, st) =>
      Streams.writeVolumeStaging(Streams.logVolumePartials(b), st))
    settlePendingSidecar(s"$dataDir/spans", s"$dataDir/cube")((b, st) =>
      Layout.writeAttrCube(graft.traceql.TraceQL.compareAttrCounts(
        b, Seq("name", "kind", "status_code").filter(b.columns.contains)), st))
    val spansBase = Layout.nextBatchId(Seq(s"$dataDir/spans", s"$dataDir/cube"))
    val logsBase = Layout.nextBatchId(Seq(s"$dataDir/logs", s"$dataDir/logvolume"))
    val pointsBase = Layout.nextBatchId(Seq(s"$dataDir/points", s"$dataDir/rollup"))
    val exemplarsBase = Layout.nextBatchId(Seq(s"$dataDir/exemplars"))
    val profilesBase = Layout.nextBatchId(Seq(s"$dataDir/profiles"))
    // restart path: the active-series ceiling is driver state — rebuild
    // it from the stored point layout BEFORE the inserter runs, or a
    // bounce resets the budget and cardinality overshoots (the
    // reference reloads its active-series map the same way)
    if (seriesBudget != null) {
      val pointsRoot = new java.io.File(s"$dataDir/points")
      val hasData = Option(pointsRoot.listFiles())
        .exists(_.exists(_.getName.startsWith("date=")))
      if (hasData) seriesBudget.rebuildFrom(spark.read.parquet(pointsRoot.getPath))
    }
    val spans = Streams.spansFromOtlp(
      traceIn.toDF().withColumnRenamed("value", "payload"))
    // ONE SINK PER LAYOUT DIRECTORY: streams that share a stored layout
    // union BEFORE the sink. Two independent foreachBatch writers on one
    // parquet dir would share the FileOutputCommitter's _temporary
    // staging dir — one job's commit can delete the other's in-flight
    // task files — and the exactly-once batch markers
    // (Layout.commitBatch) assume one writer's batch-id sequence.
    val logs0 = Streams.enrichLogs(Streams.logsFromOtlp(
      logIn.toDF().withColumnRenamed("value", "payload")))
      // Loki push shares the log layout with OTLP logs (the reference
      // declines that endpoint — lokihandler.go:611-616)
      .unionByName(Streams.enrichLogs(Streams.logsFromLokiPush(
        lokiIn.toDF().withColumnRenamed("value", "payload"))))
    // excess-log safety sits between the consumers and the sink —
    // where the reference registers its odbsafetyprocessor in the
    // collector pipeline (internal/otelreceiver/receiver.go:62)
    val logs = logSafety match {
      case Some(cfg) => Streams.safetyGateKeep(logs0, cfg, Some(safetyStats))
      case None      => logs0
    }
    // raw decoded records (attrs still a map — metricsFromOtlp
    // canonicalizes them to the hash string the inserter keys on);
    // Prometheus remote-write shares the point layout (reference
    // /api/v1/write → inserter_metrics.go) — wire bodies are
    // snappy-block-compressed, undone at the HTTP edge
    val promFrames = promIn.toDF().withColumnRenamed("value", "payload")
    val points = metricIn.toDF().select(col("value").as[Array[Byte]])
      .mapPartitions(_.flatMap(OtlpProto.decodeMetrics))
      .toDF()
      .filter(col("gauge").isNotNull)
      .select(expr("ts_ns div 1000").as("ts_us"), col("name"),
        mergedLabels.as("labels"), col("gauge").as("value"))
      .unionByName(Streams.pointsFromPrompb(promFrames))
    val promExemplars = Streams.exemplarsFromPrompb(
      promExIn.toDF().withColumnRenamed("value", "payload"))
    // the fourth signal: stack samples for the flame-tree engine
    // (reference oteldbexporter.go:53-80); Pyroscope agent push
    // (collapsed format) shares the profile layout — the reference
    // declines that endpoint (profilehandler.go:78-82)
    val profiles = Streams.profilesFromOtlp(
        profileIn.toDF().withColumnRenamed("value", "payload"))
      .unionByName(Streams.profilesFromCollapsed(
        pyroIn.toDF().toDF("app", "ts_us", "payload")))
    // the compare() attr-count cube rides the same sink: each span
    // micro-batch extends $dataDir/cube so the TraceQL metrics path
    // can plan compare() without scanning spans
    val spansQ = Streams.spansSink(spans, s"$dataDir/spans",
      s"$dataDir/ckpt/spans", Trigger.ProcessingTime(0),
      cubePath = s"$dataDir/cube", idBase = spansBase)
    // the log-volume sidecar the LogQL aggregation offload reads
    // (Planner.volumeFromLayout) rides the same sink, per-batch
    val logsQ = Streams.logsSink(logs, s"$dataDir/logs",
      s"$dataDir/ckpt/logs", Trigger.ProcessingTime(0),
      volumePath = s"$dataDir/logvolume", idBase = logsBase)
    // the aggregate sidecar the *_over_time tier-read planner consults
    // (PromQL.tiersFromLayout) rides the SAME sink as the raw points —
    // per-batch additive partials, so tier coverage equals committed
    // raw coverage with no finalization lag
    val pointsQ = Streams.pointsSink(points, s"$dataDir/points",
      s"$dataDir/ckpt/points", Trigger.ProcessingTime(0), seriesBudget,
      rollupPath = s"$dataDir/rollup", idBase = pointsBase)
    val profilesQ = Streams.profilesSink(profiles,
      s"$dataDir/profiles", s"$dataDir/ckpt/profiles",
      Trigger.ProcessingTime(0), idBase = profilesBase)
    val exemplarsQ = Streams.exemplarsSink(promExemplars,
      s"$dataDir/exemplars", s"$dataDir/ckpt/promexemplars",
      Trigger.ProcessingTime(0), idBase = exemplarsBase)
    queries = Seq(spansQ, logsQ, pointsQ, exemplarsQ, profilesQ)
    // built from the NAMED sink vals (like releaseByQuery below) so the
    // signal attribution can't drift if the `queries` literal reorders —
    // a positional zip would silently misattribute batches and the
    // composition root would serve stale views for the affected signal
    sinkSignalsMap = Map(
      spansQ.id -> "spans", logsQ.id -> "logs", pointsQ.id -> "points",
      exemplarsQ.id -> "exemplars", profilesQ.id -> "profiles")
    // in-flight release: a completed micro-batch's progress event
    // carries each source's endOffset; every payload enqueued at or
    // below it has been committed by the sink
    releaseByQuery = Map(
      (spansQ.id.toString, 0) -> traceTrk.releaseUpTo _,
      (logsQ.id.toString, 0) -> logTrk.releaseUpTo _,
      (logsQ.id.toString, 1) -> lokiTrk.releaseUpTo _,
      (pointsQ.id.toString, 0) -> metricTrk.releaseUpTo _,
      (pointsQ.id.toString, 1) -> promCommit(0) _,
      (exemplarsQ.id.toString, 0) -> promCommit(1) _,
      (profilesQ.id.toString, 0) -> profileTrk.releaseUpTo _,
      (profilesQ.id.toString, 1) -> pyroTrk.releaseUpTo _)
    listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.sources.zipWithIndex.foreach { case (s, i) =>
          releaseByQuery.get((e.progress.id.toString, i)).foreach { release =>
            Option(s.endOffset).flatMap(_.toLongOption).foreach(release)
          }
        }
    }
    spark.streams.addListener(listener)
    // the JDK server's read-timeout knob is read ONCE at the first
    // HttpServer.create in the JVM — in the one-binary composition the
    // ingest server starts FIRST, so the tuning must happen here too,
    // not only in HttpApi.start
    graft.api.HttpApi.tuneServerDefaults()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // auth wraps every ingest route (the reference mounts its auth
    // middleware on every HTTP server it stands up, ingest included —
    // cmd/oteldb/app.go addOgen; an unauthenticated push is rejected
    // BEFORE the body is read into the admission budget); request
    // metrics wrap OUTSIDE auth like the reference's Instrument stack,
    // so rejected pushes are measured per route too
    val g = (h: com.sun.net.httpserver.HttpHandler) =>
      ingestMetrics.measure(graft.api.Auth.guard(auth, h))
    server.createContext("/v1/traces", g(accept(traceIn, traceTrk,
      p => OtlpProto.decodeSpans(p).size.toLong, Otlp)))
    server.createContext("/v1/logs", g(accept(logIn, logTrk,
      p => OtlpProto.decodeLogs(p).size.toLong, Otlp)))
    server.createContext("/v1/metrics", g(accept(metricIn, metricTrk,
      p => OtlpProto.decodeMetrics(p).size.toLong, Otlp)))
    server.createContext("/api/v1/write", g(accept(promIn, promTrk,
      _ => 0L, RetryAfter, snappyBody = true)))
    server.createContext("/loki/api/v1/push", g(accept(lokiIn, lokiTrk,
      _ => 0L, RetryAfter)))
    // OTLP/HTTP profiles: the development-signal path (dictionary/
    // stack-table payloads per the v1development proto revision —
    // decode auto-detects and also accepts classic pprof-shaped
    // requests) plus the plain /v1/ alias local producers use
    server.createContext("/v1development/profiles", g(accept(profileIn,
      profileTrk, p => OtlpProfiles.decodeProfiles(p).size.toLong, Otlp)))
    server.createContext("/v1/profiles", g(accept(profileIn, profileTrk,
      p => OtlpProfiles.decodeProfiles(p).size.toLong, Otlp)))
    server.createContext("/pyroscope/ingest", g(acceptPyro()))
    server.start()
    server.getAddress.getPort
  }

  /** OTLP/gRPC transport (the collector-default export) for all four
    * signals: the standard collector service methods route into the
    * SAME MemoryStream sources as the HTTP listener, so decode, the
    * layout appends AND the admission budget are shared — only the
    * framing differs (reference internal/otelreceiver/receiver.go:
    * 45-93 embeds the collector's gRPC receivers the same way). A shed
    * surfaces as grpc-status 8 RESOURCE_EXHAUSTED. Call after
    * [[start]]; returns the bound gRPC port.
    */
  def startGrpc(port: Int = 0): Int = {
    def admit(trk: Admission.InFlightTracker,
        sink: MemoryStream[Array[Byte]])(payload: Array[Byte]): Unit = {
      if (!bucket.tryAcquire(payload.length.toLong)) {
        stats.shedRequests.incrementAndGet()
        throw new Admission.ResourceExhausted("ingest rate exceeded")
      }
      if (!trk.tryEnqueue(payload.length.toLong,
          sink.addData(Seq(payload)).json.toLong)) {
        bucket.refund(payload.length.toLong) // nothing was buffered
        stats.shedRequests.incrementAndGet()
        throw new Admission.ResourceExhausted("in-flight byte budget exceeded")
      }
    }
    grpc = new GrpcIngest(Map(
      "/opentelemetry.proto.collector.trace.v1.TraceService/Export" ->
        admit(traceTrk, traceIn) _,
      "/opentelemetry.proto.collector.logs.v1.LogsService/Export" ->
        admit(logTrk, logIn) _,
      "/opentelemetry.proto.collector.metrics.v1.MetricsService/Export" ->
        admit(metricTrk, metricIn) _,
      "/opentelemetry.proto.collector.profiles.v1development.ProfilesService/Export" ->
        admit(profileTrk, profileIn) _),
      maxMessageBytes = limits.maxBodyBytes)
    grpc.start(port)
  }

  /** Admin panel over THIS receiver's real wiring (reference
    * cmd/oteldb/admin.go:14-53 builds the same options from the app):
    * components = the HTTP/gRPC listeners plus every streaming sink
    * (liveness check = query active and exception-free), layouts = the
    * signal directories this receiver writes, admission = the shared
    * budget counters. Call after [[start]]; returns the bound port.
    */
  /** The admin `storage_maintain` action — the full background
    * maintenance pass of the reference's storage policy
    * (cmd/oteldb/storage_policy.go:21-68), in three steps:
    *
    *   1. RETENTION first (when `retentionDays` > 0): date partitions
    *      strictly older than the horizon drop whole, raw layouts and
    *      sidecars alike — no point compacting a day about to vanish;
    *   2. sidecar pre-merge: every COLD date partition (strictly
    *      older than YESTERDAY — the quiesce margin below) of the
    *      three per-batch sidecars — the AttrCube, the hourly stat
    *      rollup, the log-volume rollup — collapses its additive
    *      partials back to vocabulary scale (reads otherwise grow
    *      with batch count); partitions with no batch-tagged files
    *      (nothing appended since the last merge) skip for free;
    *   3. age-tiered policy compaction of the raw layouts (when a
    *      `storagePolicy` is configured): downsample / precision /
    *      recompress bands applied per cold day, AT MOST ONCE per band
    *      crossing (a `_policy_<band>` marker in the rewritten
    *      partition makes re-runs metadata-only until the day ages
    *      into the next band).
    *
    * Cold-only throughout: the live sinks append batch-tagged files
    * into CURRENT partitions; a backfill batch landing in a COLD
    * partition mid-swap is covered by the layout lock + late-arrival
    * carry-over inside [[Layout.compactPartition]]. The pass itself is
    * `maintainLock`-serialized — the Serve scheduler and an
    * admin-triggered run may overlap in time, and two concurrent
    * compactions of one partition would double-carry each other's
    * output as "late files".
    */
  private val maintainLock = new Object
  def maintainStorage(nowDate: String = StoragePolicy.utcToday())
      : String = maintainLock.synchronized {
    // QUIESCE MARGIN: cold = strictly older than YESTERDAY, not just
    // before today — the live sinks keep committing into yesterday's
    // partition around midnight (left-open hour buckets put an exactly-
    // midnight event in yesterday's last hour, and commits lag arrival
    // by seconds), and the compaction swap must never race a
    // concurrent batch-file move (the moved file would die with the
    // swapped-out directory while its marker survives — silent loss)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
    val coldCutoff = java.time.LocalDate.parse(nowDate, fmt)
      .minusDays(1).format(fmt)
    def coldDates(root: String): Seq[String] =
      Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("date="))
        .map(_.getName.stripPrefix("date="))
        .filter(_ < coldCutoff).sorted.toSeq
    // batch ids of the commitBatch-tagged files in one partition —
    // compaction REWRITES these into untagged files, so it must only
    // run when every tagged batch is fully SETTLED: its marker present
    // in this layout AND in every dependent layout that might replay
    // from the stored batch (pointsSink's readBatch crash-window guard
    // reads the raw b<id>- files; merging them away while a rollup
    // commit is pending would replay EMPTY sidecar partials)
    def tagIds(root: String, date: String): Set[Long] =
      Option(new java.io.File(root, s"date=$date").listFiles())
        .getOrElse(Array.empty)
        .flatMap(f => Layout.batchIdOf(f.getName)).toSet
    def committed(root: String, id: Long): Boolean =
      new java.io.File(root, s"_committed_$id").exists()
    def settled(root: String, date: String, deps: Seq[String]): Boolean =
      tagIds(root, date).forall(id =>
        committed(root, id) && deps.forall(committed(_, id)))
    val allRoots = Seq("points", "logs", "spans", "profiles", "exemplars",
      "cube", "rollup", "logvolume")
    // crash recovery FIRST: a pass interrupted mid-swap left a
    // partition aside as `.old.date=X` — restore it before anything
    // lists/compacts/drops partitions
    val recoverMsgs = allRoots.flatMap { name =>
      Layout.recoverCompactionLeftovers(s"$dataDir/$name")
        .map(m => s"$name: $m")
    }
    // retention next: partitions strictly older than the horizon drop
    // whole (the reference's TTL clause) — raw layouts AND sidecars
    val ttlMsgs =
      if (retentionDays <= 0) Nil
      else allRoots.flatMap { name =>
        Layout.enforceTtl(s"$dataDir/$name", retentionDays, nowDate)
          .map(p => s"ttl dropped $name/$p")
      }
    // settledness AT SNAPSHOT time: the coldDates/settled() probes
    // below are check-then-act — a batch committed between the probe
    // and the merge's input listing would be merged away while its own
    // (or its dependent sidecar's) marker is still pending, and a
    // crash in that window would lose the pending commit permanently.
    // The include predicate re-evaluates each tagged file's
    // settledness when compactPartition LISTS it; unsettled files stay
    // out of the merge and carry over untouched.
    def settledFile(root: String, deps: Seq[String])(name: String): Boolean =
      Layout.batchIdOf(name).forall(id =>
        committed(root, id) && deps.forall(committed(_, id)))
    val work = Seq[(String, String, (String, String) => Int)](
      ("cube", s"$dataDir/cube",
        (r, d) => Layout.compactCubePartition(spark, r, d,
          include = settledFile(r, Nil))),
      ("rollup", s"$dataDir/rollup",
        (r, d) => Layout.compactRollupPartition(spark, r, d,
          include = settledFile(r, Nil))),
      ("logvolume", s"$dataDir/logvolume",
        (r, d) => Layout.compactLogVolumePartition(spark, r, d,
          include = settledFile(r, Nil))))
    val sidecarMsgs = work.flatMap { case (name, root, compact) =>
      coldDates(root)
        // needs-merge short-circuit (free idempotence): compaction
        // writes UNTAGGED files, so a partition holding no b<id>- tags
        // has no partials to pre-merge — re-runs are metadata-only
        // until a new batch appends a tagged file. Unsettled tags
        // (marker missing = a crash window mid-replay) skip too.
        .filter(d => tagIds(root, d).nonEmpty && settled(root, d, Nil))
        .map(d => s"$name/date=$d -> ${compact(root, d)} file(s)")
    }
    // raw layouts: the reference's age-tiered storage policy applied at
    // the merge seam (storage_policy.go:21-68) — each cold day rewrites
    // AT MOST ONCE PER BAND CROSSING (days age monotonically, so a
    // `_policy_<band>` marker in the rewritten partition records the
    // band it was last compacted at; re-running maintenance is then
    // metadata-only until the day crosses the next threshold)
    val policyMsgs = storagePolicy.toSeq.flatMap { pol =>
      def bandOf(age: Int): String = Seq(
        StoragePolicy.pick(pol.downsample, age)(_.afterDays)
          .map(_.afterDays).getOrElse(-1),
        StoragePolicy.pick(pol.precision, age)(_.afterDays)
          .map(_.afterDays).getOrElse(-1),
        pol.recompress.filter(_.afterDays <= age)
          .map(_.afterDays).getOrElse(-1)).mkString("_")
      // each raw layout's dependent sidecar: a raw batch must be
      // committed THERE too before its tagged files may merge away
      // (the sidecar replay guard reads them back)
      val raws = Seq[(String, String, Seq[String], (String, String) => Int)](
        ("points", s"$dataDir/points", Seq(s"$dataDir/rollup"), (r, d) =>
          Layout.compactPointsPartition(spark, r, d, nowDate, pol,
            include = settledFile(r, Seq(s"$dataDir/rollup")))),
        ("logs", s"$dataDir/logs", Seq(s"$dataDir/logvolume"), (r, d) =>
          Layout.compactLogsPartition(spark, r, d, nowDate, pol,
            include = settledFile(r, Seq(s"$dataDir/logvolume")))),
        ("spans", s"$dataDir/spans", Seq(s"$dataDir/cube"), (r, d) =>
          Layout.compactSpansPartition(spark, r, d, nowDate, pol,
            include = settledFile(r, Seq(s"$dataDir/cube")))))
      raws.flatMap { case (name, root, deps, compact) =>
        coldDates(root).flatMap { d =>
          val band = bandOf(StoragePolicy.ageDays(d, nowDate))
          val marker = new java.io.File(
            new java.io.File(root, s"date=$d"), s"_policy_$band")
          // "-1_-1_-1" = the day hasn't crossed ANY tier yet: nothing
          // to apply, don't churn the partition; unsettled batch tags
          // (a crash window mid-replay) postpone to the next run
          if (band == "-1_-1_-1" || marker.exists() ||
              !settled(root, d, deps)) None
          else {
            val n = compact(root, d)
            // the include predicate may have EXCLUDED an unsettled
            // batch file (carried over untouched): recording the band
            // as applied would permanently exempt that file from the
            // band's transform (marker short-circuit). Leave the
            // marker off while any tagged file remains — the next
            // pass retries once the batch settles (the transforms are
            // idempotent over already-compacted rows).
            if (tagIds(root, d).isEmpty) { marker.createNewFile(): Unit }
            Some(s"$name/date=$d -> $n file(s) @band $band")
          }
        }
      }
    }
    val msgs = recoverMsgs ++ ttlMsgs ++ sidecarMsgs ++ policyMsgs
    if (msgs.isEmpty) "no cold partitions to maintain"
    else msgs.mkString("; ")
  }

  /** Opt-in one-time maintenance (r16 verdict #3, ADVICE r14 #4
    * residue): repair NaN-poisoned rollup partials — rows pre-dating
    * the sidecar writer's stale-NaN filter (Streams.hourlyStatPartials)
    * in ANY rollup date partition, rebuilt from the raw points layout.
    * Serialized with compaction under the same maintain lock; only
    * settled (marker-committed) tagged files participate, like every
    * other partition rewrite. Idempotent: partitions without poison
    * are probe-only.
    */
  def repairNaNPartials(): String = maintainLock.synchronized {
    val root = s"$dataDir/rollup"
    def settledTag(name: String): Boolean =
      Layout.batchIdOf(name).forall(id =>
        new java.io.File(root, s"_committed_$id").exists())
    val dates = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("date="))
      .map(_.getName.stripPrefix("date=")).sorted.toSeq
    val msgs = dates.flatMap { d =>
      val n = Layout.repairRollupNaNPartition(spark, root,
        s"$dataDir/points", d, include = settledTag)
      if (n > 0) Some(s"rollup/date=$d repaired -> $n file(s)") else None
    }
    if (msgs.isEmpty) "no NaN-poisoned rollup partials found"
    else msgs.mkString("; ")
  }

  /** `onMaintain` fires after every admin-triggered storage_maintain
    * pass with its summary — a live deployment (graft.Serve) hooks
    * layout-generation invalidation here (TTL drops change query
    * results; compaction rewrites file listings). `maintainDate`
    * supplies the pass's "now": every trigger (admin, scheduler,
    * maintainNow) must agree on the clock — a deployment on a
    * simulated/replay clock with retentionDays set would otherwise
    * have one admin POST compute the TTL horizon from the REAL clock
    * and drop partitions the configured clock considers live.
    */
  def startAdmin(port: Int = 0,
      onMaintain: String => Unit = _ => (),
      maintainDate: () => String = () => StoragePolicy.utcToday(),
      auth: Option[graft.api.Auth.Middleware] = None,
      routeMetrics: Seq[graft.api.RequestMetrics] = Nil,
      requestLog: Option[String => Unit] = None,
      selfTelemetry: Option[() => String] = None): Int = {
    val listenerComponents = Seq(
      graft.api.AdminApi.Component("otlp-http",
        addr = Option(server).map(s => s"127.0.0.1:${s.getAddress.getPort}")),
      graft.api.AdminApi.Component("otlp-grpc",
        check = Some(() => require(grpc != null, "gRPC transport not started")))) ++
      queries.zipWithIndex.map { case (qu, i) =>
        graft.api.AdminApi.Component(s"sink-${Option(qu.name).getOrElse(i.toString)}",
          check = Some(() => {
            qu.exception.foreach(e => throw e)
            require(qu.isActive, "query stopped")
          }))
      }
    admin = new graft.api.AdminApi(spark,
      signals = Seq("traces", "logs", "metrics", "profiles")
        .map(s => graft.api.AdminApi.SignalInfo(s, "parquet-layout")),
      components = listenerComponents,
      layouts = Map(
        "traces" -> s"$dataDir/spans", "logs" -> s"$dataDir/logs",
        "metrics" -> s"$dataDir/points", "profiles" -> s"$dataDir/profiles"),
      admission = Some(stats),
      safety = logSafety.map(_ => safetyStats),
      maintain = Some(() => {
        val summary = maintainStorage(maintainDate())
        onMaintain(summary)
        summary
      }),
      // opt-in NaN-partials repair; a rewrite changes listings, so the
      // composition root's generation refresh rides the same hook
      repair = Some(() => {
        val summary = repairNaNPartials()
        onMaintain(summary)
        summary
      }),
      auth = auth,
      // the ingest server's own route metrics always report here; the
      // composition root adds the query server's
      routeMetrics = ingestMetrics +: routeMetrics,
      requestLog = requestLog,
      selfTelemetry = selfTelemetry)
    admin.start(port)
  }

  /** How a shed surfaces to this endpoint's clients: OTLP transports
    * report partial success (every item rejected, RESOURCE_EXHAUSTED
    * semantics); remote-write/Loki/Pyroscope push gets HTTP 429.
    */
  private sealed trait ShedMode
  private case object Otlp extends ShedMode
  private case object RetryAfter extends ShedMode

  private def accept(sink: MemoryStream[Array[Byte]],
      trk: Admission.InFlightTracker,
      countItems: Array[Byte] => Long,
      shedMode: ShedMode,
      snappyBody: Boolean = false)
      : com.sun.net.httpserver.HttpHandler = { (ex: HttpExchange) =>
    var contentType = "application/json"
    val (code, body): (Int, Array[Byte]) =
      try {
        if (ex.getRequestMethod != "POST")
          (405, errJson("POST only"))
        else {
          val raw = readBounded(ex)
          // remote-write bodies are snappy-block-compressed (the spec
          // mandates it; `identity` is tolerated for local producers)
          val enc = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
            .getOrElse(if (snappyBody) "snappy" else "identity")
          val payload = enc.toLowerCase match {
            case "snappy" => Admission.snappyBounded(raw, limits.maxBodyBytes)
            case "gzip"   => // OTLP/HTTP's standard compression
              Admission.gunzipBounded(raw, limits.maxBodyBytes)
            case "identity" | "" => raw
            case other =>
              throw new IllegalArgumentException(
                s"unsupported Content-Encoding: $other")
          }
          val n = payload.length.toLong
          val admitted =
            admitPayload(trk, n)(enqueue(sink, payload))
          if (admitted)
            // success: an empty ExportXServiceResponse (zero-field
            // protobuf message = zero bytes)
            (200, Array.emptyByteArray)
          else {
            // LOSSLESS shed: nothing buffered, the client is told to
            // retry — OTLP partial success naming every rejected item
            // (storage_policy.go LimitsConfig contract) or 429
            stats.shedRequests.incrementAndGet()
            shedMode match {
              case Otlp =>
                contentType = "application/x-protobuf"
                (200, Admission.partialSuccess(countItems(payload),
                  "RESOURCE_EXHAUSTED: ingest budget exceeded, retry later"))
              case RetryAfter =>
                ex.getResponseHeaders.set("Retry-After", "1")
                (429, errJson("ingest budget exceeded"))
            }
          }
        }
      } catch {
        case e: Admission.ResourceExhausted => (413, errJson(e.getMessage))
        case e: Throwable => (400, errJson(e.getMessage))
      }
    ex.getResponseHeaders.set("Content-Type",
      if (code == 200 && body.isEmpty) "application/x-protobuf"
      else contentType)
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) {
      val os = ex.getResponseBody
      try os.write(body) finally os.close()
    } else ex.getResponseBody.close()
  }

  /** Pyroscope agent push: `?name=app{k=v}&from=<unix-sec>` with a
    * collapsed-format body. Enqueues (app, ts_us, body); decode and
    * the layout append run in the micro-batch like every other signal.
    */
  private def acceptPyro(): com.sun.net.httpserver.HttpHandler = {
    (ex: HttpExchange) =>
      val (code, body): (Int, Array[Byte]) =
        try {
          if (ex.getRequestMethod != "POST") (405, errJson("POST only"))
          else {
            val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
            val params = q.split("&").iterator.filter(_.contains("="))
              .map { kv =>
                val i = kv.indexOf('=')
                java.net.URLDecoder.decode(kv.take(i), "UTF-8") ->
                  java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
              }.toMap
            val name = params.getOrElse("name",
              throw new IllegalArgumentException("missing name"))
            val fromSec = params.get("from").flatMap(_.toLongOption)
              .getOrElse(throw new IllegalArgumentException(
                "missing or bad from"))
            val raw = readBounded(ex)
            val admitted = admitPayload(pyroTrk, raw.length.toLong)(
              pyroIn.addData(Seq((name, fromSec * 1000000L, raw)))
                .json.toLong)
            if (admitted) (200, Array.emptyByteArray)
            else {
              stats.shedRequests.incrementAndGet()
              ex.getResponseHeaders.set("Retry-After", "1")
              (429, errJson("ingest budget exceeded"))
            }
          }
        } catch {
          case e: Admission.ResourceExhausted => (413, errJson(e.getMessage))
          case e: Throwable => (400, errJson(e.getMessage))
        }
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
      if (body.nonEmpty) {
        val os = ex.getResponseBody
        try os.write(body) finally os.close()
      } else ex.getResponseBody.close()
  }

  private def errJson(msg: String): Array[Byte] =
    s"""{"error":${graft.api.ApiEncoders.jsonString(msg)}}""".getBytes("UTF-8")

  /** Block until every enqueued payload is decoded and stored. */
  def flush(): Unit = queries.foreach(_.processAllAvailable())

  /** Clean shutdown DRAINS by default: a payload the edge already
    * ACKNOWLEDGED (HTTP 200 / gRPC OK) sits in the in-memory source
    * until a micro-batch commits it — stopping the queries first would
    * silently lose acknowledged data on every orderly restart (crash
    * loss is a different, bounded contract: the in-flight ledger and
    * partial-success signaling exist for it). Listeners stop FIRST so
    * nothing new is accepted while the drain runs; per-query failures
    * don't abort draining the remaining sinks. `drain = false` is the
    * fast abandon for tests and emergency teardown.
    */
  /** Sink query-id → signal name — lets a composition root attribute a
    * micro-batch progress event to the ONE layout it wrote (per-signal
    * freshness instead of invalidating every open frame on every batch
    * of any signal). Populated in [[start]] from the named sink vals.
    */
  def sinkSignals: Map[java.util.UUID, String] = sinkSignalsMap
  private var sinkSignalsMap: Map[java.util.UUID, String] = Map.empty

  /** Idempotent: a deployment may stop the receiver directly AND
    * through the composition root's stop (graft.Serve.stop always
    * calls it) — the second call must be a no-op, not a double-stop of
    * the gRPC event loops (Netty throws RejectedExecutionException on
    * a terminated executor).
    */
  def stop(drain: Boolean = true): Unit = synchronized {
    if (stopped) return
    stopped = true
    if (server != null) server.stop(0)
    if (grpc != null) grpc.stop()
    if (admin != null) admin.stop()
    if (drain) queries.foreach(q =>
      scala.util.Try(q.processAllAvailable()): Unit)
    queries.foreach(_.stop())
    if (listener != null) spark.streams.removeListener(listener)
  }
  @volatile private var stopped = false
}
