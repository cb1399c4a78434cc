package e2ebench

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The traced run's per-layer accounting. Spans are taken around the
  * benchmark's own calls into each layer's public functions, replaying
  * every traced request in-process after its HTTP answer arrives; Spark
  * jobs are attributed by the job group `graft.api.HttpApi` sets per
  * request; ingest is observed through ack times, the sinks' progress
  * events and the visibility probes.
  */
final class Layers(spark: SparkSession, dataDir: String, progress: Progress, spanFile: String) {
  import Layers._

  // ---- spans ----
  private val spans = new ConcurrentLinkedQueue[Stats.Span]()
  private val spanIds = new AtomicInteger()
  @volatile var tracing = false

  private def span[T](name: String, parent: Int, req: Long)(body: Int => T): T = {
    val id = spanIds.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id) finally spans.add(Stats.Span(id, parent, name, t0, System.nanoTime(), req))
  }

  // ---- Spark jobs, keyed by job group ----
  private final class Job(val group: String, val startNs: Long) {
    @volatile var endNs = 0L
    val stages = new AtomicInteger()
    val tasks = new ConcurrentLinkedQueue[(Long, Long)]() // launch, finish (ms)
    @volatile var startMs = 0L
    @volatile var endMs = 0L
  }
  private final class Tally {
    val tasks, runMs, cpuNs, gcMs, scanBytes, scanRows, shuffleBytes = new AtomicLong()
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val tally = new ConcurrentHashMap[String, Tally]()

  // listener events arrive late on the bus: place them on the nanoTime
  // axis from their own millisecond timestamps
  private val msBase = System.currentTimeMillis()
  private val nsBase = System.nanoTime()
  private def nsOf(ms: Long): Long = nsBase + (ms - msBase) * 1000000L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new Job(g, nsOf(e.time))
      j.startMs = e.time
      j.stages.set(e.stageInfos.size)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.put(_, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j => j.endNs = nsOf(e.time); j.endMs = e.time }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.tasks.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          val t = tally.computeIfAbsent(j.group, _ => new Tally)
          t.tasks.incrementAndGet()
          t.runMs.addAndGet(m.executorRunTime)
          t.cpuNs.addAndGet(m.executorCpuTime)
          t.gcMs.addAndGet(m.jvmGCTime)
          t.scanBytes.addAndGet(m.inputMetrics.bytesRead)
          t.scanRows.addAndGet(m.inputMetrics.recordsRead)
          t.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
  }
  spark.sparkContext.addSparkListener(listener)

  // ---- ingest observations (setup) ----
  private val acks = new ConcurrentLinkedQueue[(Payload, Http.Resp)]()
  private val polls = new ConcurrentLinkedQueue[(String, Long, Long)]()
  private val inFlightPeak = new AtomicLong()
  def ack(p: Payload, r: Http.Resp, inFlight: Long): Unit = {
    acks.add((p, r)); inFlightPeak.accumulateAndGet(inFlight, math.max)
  }
  def visible(signal: String, rows: Long, nowNs: Long, inFlight: Long): Unit = {
    polls.add((signal, rows, nowNs)); inFlightPeak.accumulateAndGet(inFlight, math.max)
  }

  // ---- replays of traced requests ----
  private lazy val points = spark.read.parquet(s"$dataDir/points").select("ts_us", "name", "labels", "value")
  private lazy val spansDf = spark.read.parquet(s"$dataDir/spans")
  private lazy val profiles = spark.read.parquet(s"$dataDir/profiles").select("ts_us", "name", "labels", "stack", "value")
  private lazy val tiers = graft.promql.PromQL.tiersFromLayout(spark, s"$dataDir/rollup")
  private lazy val logTiers = graft.logql.Planner.volumeFromLayout(spark, s"$dataDir/logvolume")
  /** The serving view of the log layout: resource attributes, then log
    * attributes, then the materialized service name, as one label map.
    */
  private lazy val logs = {
    val stored = spark.read.parquet(s"$dataDir/logs")
    val base = map_concat(map_filter(col("resource_attrs"), (k, _) => !map_contains_key(col("attrs"), k)), col("attrs"))
    stored.select(col("ts_ns"), col("body"), map_concat(map_filter(base, (k, _) => k =!= "service_name"),
      map(lit("service_name"), coalesce(col("service_name"), lit("unknown_service")))).as("labels"),
      col("severity_number"), col("severity_text"), col("service_name"), col("trace_id_hex"))
  }

  private val tierServed = new ConcurrentHashMap[String, AtomicInteger]()
  private val replays = new ConcurrentHashMap[String, AtomicInteger]()
  private val replayIds = new AtomicLong()
  private def bump(m: ConcurrentHashMap[String, AtomicInteger], k: String): Unit =
    m.computeIfAbsent(k, _ => new AtomicInteger()).incrementAndGet(): Unit

  /** Catalyst phases forced one at a time on a fresh QueryExecution. */
  private def catalyst(df: DataFrame, parent: Int, req: Long): Unit = {
    val qe = df.sparkSession.sessionState.executePlan(df.queryExecution.logical)
    span("spark.analyze", parent, req)(_ => qe.assertAnalyzed())
    span("spark.optimize", parent, req)(_ => qe.optimizedPlan)
    span("spark.physical_plan", parent, req)(_ => qe.executedPlan)
  }

  /** Runs the encoder under its own job group and records each Spark
    * job it ran as a child span, so the encoder's self time is the
    * driver-side work outside jobs.
    */
  private def encode(parent: Int, req: Long)(body: => String): Unit = {
    val group = s"e2ebench-replay-${replayIds.incrementAndGet()}"
    val sc = spark.sparkContext
    span("api.encode", parent, req) { id =>
      replayGroups.add((group, id, req))
      sc.setJobGroup(group, "e2ebench replay")
      try body finally sc.clearJobGroup()
    }
  }
  // (job group, encode span, request): job spans are added in report(),
  // once the listener bus has delivered every job event
  private val replayGroups = new ConcurrentLinkedQueue[(String, Int, Long)]()

  def request(id: Long, r: Req, resp: Http.Resp): Unit = if (tracing) {
    spans.add(Stats.Span(spanIds.incrementAndGet(), 0, "http", resp.startNs, resp.endNs, id))
    if (r.lang != "meta") {
      bump(replays, r.lang)
      try replay(id, r)
      catch { case e: Exception => replayFailures.add(s"replay of ${r.query}: $e") }
    }
  }

  private val replayFailures = new ConcurrentLinkedQueue[String]()

  private def replay(id: Long, r: Req): Unit = {
    val sUs = r.startSec * 1000000L; val eUs = r.endSec * 1000000L
    val sNs = sUs * 1000L; val eNs = eUs * 1000L
    val q = r.query
    span("replay", 0, id) { root =>
      r.lang match {
        case "promql" =>
          span("promql.parse", root, id)(_ => graft.promql.PromQL.parse(q))
          val (df, tsCol) = span("promql.plan", root, id) { _ =>
            if (r.stepSec > 0) {
              val stepUs = r.stepSec * 1000000L
              graft.promql.PromQL.rangeTierPlan(q, sUs, eUs, stepUs, tiers) match {
                case Some(t) => bump(tierServed, "promql"); (t, "ts_us")
                case None =>
                  val hist = graft.promql.PromQL.scanHistoryUs(q).getOrElse(0L)
                  val src = points.filter(col("ts_us") >= sUs - hist && col("ts_us") <= eUs)
                  val res = graft.promql.PromQL.range(q, src, Some(stepUs), Some((sUs, eUs)))
                  (res.filter(col("bucket_us") >= sUs && col("bucket_us") <= eUs), "bucket_us")
              }
            } else graft.promql.PromQL.instantTierPlan(q, sUs, tiers) match {
              case Some(t) => bump(tierServed, "promql"); (t, "")
              case None => (graft.promql.PromQL.instant(q, points, sUs), "")
            }
          }
          catalyst(df, root, id)
          encode(root, id)(if (tsCol.isEmpty) graft.api.ApiEncoders.promVector(df)
            else graft.api.ApiEncoders.promMatrix(df, tsCol = tsCol))
        case "logql" =>
          span("logql.parse", root, id)(_ => graft.logql.Parser.parse(q))
          val df = span("logql.plan", root, id) { _ =>
            if (r.stepSec > 0 || r.endSec > r.startSec) {
              val stepNs = Option(r.stepSec).filter(_ > 0).map(_ * 1000000000L)
              stepNs.flatMap(st => graft.logql.Planner.volumeTierPlan(q, sNs, eNs, st, logTiers)) match {
                case Some(t) => bump(tierServed, "logql"); t
                case None =>
                  val hist = graft.logql.Planner.scanHistoryNs(q)
                  graft.logql.Planner.query(q, logs.filter(col("ts_ns") >= sNs - hist && col("ts_ns") <= eNs),
                    stepNs = stepNs, logLimit = Some(20), newestFirst = true)
              }
            } else graft.logql.Planner.volumeInstantPlan(q, sNs, logTiers) match {
              case Some(t) => bump(tierServed, "logql"); t
              case None => graft.logql.Planner.instant(q, logs, sNs).select(col("labels"), col("value"))
            }
          }
          catalyst(df, root, id)
          encode(root, id) {
            if (!df.columns.contains("value")) graft.api.ApiEncoders.lokiStreams(df, newestFirst = true)
            else if (df.columns.contains("bucket_ns")) graft.api.ApiEncoders.lokiMatrix(df)
            else graft.api.ApiEncoders.lokiVector(df, r.startSec)
          }
        case "traceql" =>
          // a metrics query is a spanset selector piped into a function;
          // the selector is what the spanset parser takes
          span("traceql.parse", root, id)(_ =>
            graft.traceql.TraceQL.parse(if (r.stepSec > 0) q.takeWhile(_ != '|') else q))
          val sp = spansDf.filter(col("start_ns") >= sNs && col("start_ns") < eNs)
          if (r.stepSec > 0) {
            val (df, byKey) = span("traceql.plan", root, id)(_ =>
              graft.traceql.TraceQL.metricsRange(q, sp, r.stepSec * 1000000000L))
            catalyst(df, root, id)
            encode(root, id)(graft.api.ApiEncoders.tempoRangeMetrics(df, byKey))
          } else {
            val m = span("traceql.plan", root, id)(_ => graft.traceql.TraceQL.matchSpans(q, sp))
            catalyst(m, root, id)
            encode(root, id)(graft.api.ApiEncoders.tempoSearch(sp, m,
              Some(graft.traceql.TraceQL.referencedAttrs(q)), 20))
          }
        case "profileql" =>
          span("profileql.render", root, id)(_ =>
            graft.profileql.Flame.flamebearer(profiles, q, fromUs = Some(sUs), untilUs = Some(eUs)))
      }
    }
  }

  // ---- measured-phase bookkeeping ----
  private var routesAtBegin: Seq[graft.api.RequestMetrics.RouteSnapshot] = Nil
  private var routesAtEnd: Seq[graft.api.RequestMetrics.RouteSnapshot] = Nil
  private var codegenAtBegin = (0L, 0.0)
  private var codegenAtEnd = (0L, 0.0)
  private def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
  private var window = (0L, 0L)
  def begin(serve: graft.Serve): Unit = {
    routesAtBegin = serve.api.metrics.snapshot(); codegenAtBegin = codegen; window = (System.nanoTime(), 0L)
  }
  def end(serve: graft.Serve): Unit = {
    routesAtEnd = serve.api.metrics.snapshot(); codegenAtEnd = codegen; window = (window._1, System.nanoTime())
  }

  /** Parquet files of the data directory (path → bytes). */
  def files(): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.filterNot(_.getName == "ckpt").flatMap(walk)
      else Seq(f)
    walk(new File(dataDir)).filter(_.getName.endsWith(".parquet")).map(f => f.getPath -> f.length()).toMap
  }

  /** Every per-layer metric. `untraced`/`traced` are the client samples
    * of the two halves of the measured phase.
    */
  def report(untraced: Seq[Main.Sample], traced: Seq[Main.Sample], serve: graft.Serve,
      ingest: Layers.Facts): Seq[(String, Double, String)] = {
    spark.sparkContext.removeSparkListener(listener)
    replayFailures.asScala.headOption.foreach(f => throw new Main.Failed(f))
    val all = untraced ++ traced
    val byGroup = jobs.values.asScala.toSeq.groupBy(_.group)
    replayGroups.asScala.foreach { case (g, parent, req) =>
      byGroup.getOrElse(g, Nil).filter(_.endNs > 0).foreach(j =>
        spans.add(Stats.Span(spanIds.incrementAndGet(), parent, "spark.job", j.startNs, j.endNs, req)))
    }
    val sp = spans.asScala.toSeq
    val self = Stats.selfTimes(sp)
    def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def selfMs(name: String): Seq[Double] = sp.filter(_.name == name).map(s => self(s.id) / 1e6)
    def meanSelf(name: String): Double = mean(selfMs(name))
    val out = Seq.newBuilder[(String, Double, String)]
    def put(n: String, v: Double, u: String, samples: Int = -1): Unit = {
      out += ((n, v, u))
      if (samples >= 0) System.err.println(f"[e2ebench]   $n%-38s n=$samples")
    }

    // api: the query server's own route times between begin and end
    val before = routesAtBegin.map(r => r.route -> r).toMap
    val deltas = routesAtEnd.map { r =>
      val b = before.get(r.route)
      (r.count - b.fold(0L)(_.count), r.totalUs - b.fold(0L)(_.totalUs),
        r.buckets.indices.map(i => r.buckets(i) - b.fold(0L)(_.buckets(i))))
    }
    val served = deltas.map(_._1).sum
    val buckets = deltas.map(_._3).foldLeft(Seq.fill(26)(0L))((a, b) => a.zip(b).map(x => x._1 + x._2))
    if (served < Stats.minSamples(0.5)) throw new Main.Failed(s"api: $served requests cannot support p50")
    put("api.server_ms_p50", bucketQuantileUs(buckets, 0.5) / 1000.0, "ms", served.toInt)
    put("api.wire_overhead_ms", mean(all.map(_.ms)) - deltas.map(_._2).sum / 1000.0 / math.max(1L, served), "ms")
    put("api.encode_ms", meanSelf("api.encode"), "ms", selfMs("api.encode").size)
    put("api.response_bytes_per_query", mean(all.map(_.bytes.toDouble)), "bytes")
    // the query server's jobs: one job group per request it served
    val req = jobs.values.asScala.toSeq.filter(j => j.group.startsWith("graft-http-") &&
      j.startNs >= window._1 && j.startNs <= window._2)
    val reqGroups = req.map(_.group).toSet.size
    put("api.jobless_request_ratio", 1.0 - reqGroups.toDouble / math.max(1, all.size), "ratio")
    put("api.shed_count", serve.api.metrics.snapshot().map(_.statuses.getOrElse(503, 0L)).sum.toDouble, "count")

    // language front-ends, from the replays
    for (l <- Seq("logql", "promql", "traceql")) {
      put(s"$l.parse_ms", mean(selfMs(s"$l.parse")), "ms", selfMs(s"$l.parse").size)
      put(s"$l.plan_ms", mean(selfMs(s"$l.plan")), "ms", selfMs(s"$l.plan").size)
    }
    def tierRatio(l: String): Double =
      Option(tierServed.get(l)).fold(0)(_.get).toDouble / math.max(1, Option(replays.get(l)).fold(0)(_.get))
    put("logql.volume_tier_served_ratio", tierRatio("logql"), "ratio")
    put("promql.tier_served_ratio", tierRatio("promql"), "ratio")
    put("promql.tier_inexact_samples", ingest.tierInexact.toDouble, "count")
    put("profileql.render_ms", meanSelf("profileql.render"), "ms", selfMs("profileql.render").size)

    // spark: Catalyst phases from the replays, jobs from the server's
    // per-request job groups during the measured phase
    Seq("analyze", "optimize", "physical_plan").foreach(p =>
      put(s"spark.${p}_ms", meanSelf(s"spark.$p"), "ms", selfMs(s"spark.$p").size))
    val (c0, _) = codegenAtBegin; val (c1, m1) = codegenAtEnd
    val n = math.max(1, all.size).toDouble
    put("spark.codegen_compile_ms", (c1 - c0) * m1 / n, "ms")
    val tallies = req.map(_.group).distinct.flatMap(g => Option(tally.get(g)))
    def sum(f: Tally => AtomicLong): Double = tallies.map(t => f(t).get.toDouble).sum
    put("spark.jobs_per_query", req.size / n, "count")
    put("spark.stages_per_query", req.map(_.stages.get).sum / n, "count")
    put("spark.tasks_per_query", sum(_.tasks) / n, "count")
    put("spark.job_wall_ms_per_query", req.map(j => (j.endMs - j.startMs).toDouble).sum / n, "ms")
    put("spark.task_run_ms_per_query", sum(_.runMs) / n, "ms")
    put("spark.task_cpu_ms_per_query", sum(_.cpuNs) / 1e6 / n, "ms")
    put("spark.task_gc_ms_per_query", sum(_.gcMs) / n, "ms")
    val floor = req.map { j =>
      (j.endMs - j.startMs) - Stats.coveredNs(j.tasks.asScala.toSeq, j.startMs, j.endMs)
    }.sum
    put("spark.floor_ms_per_query", floor / n, "ms")
    put("spark.scan_bytes_per_query", sum(_.scanBytes) / n, "bytes")
    put("spark.shuffle_bytes_per_query", sum(_.shuffleBytes) / n, "bytes")
    put("spark.scan_rows_per_result_row", sum(_.scanRows) / math.max(1, all.map(_.rows).sum), "ratio")

    // sources: the setup's corpus load
    put("sources.catchup_rows_per_s", ingest.catchupRowsPerS, "rows/s")
    val ackMs = acks.asScala.toSeq.map(_._2.ms)
    put("sources.ack_p50_ms", Stats.percentile(ackMs, 0.5).getOrElse(
      throw new Main.Failed(s"sources: ${ackMs.size} acks cannot support p50")), "ms", ackMs.size)
    put("sources.ack_mean_ms", mean(ackMs), "ms", ackMs.size)
    val (decodeMs, decodedBytes) = decodeAll(acks.asScala.toSeq.map(_._1))
    put("sources.decode_ms_per_mb", decodeMs / (decodedBytes / 1e6), "ms/MB")
    // a shed payload answers 429/413 or 200 with a partial-success body
    put("sources.rejected_count",
      acks.asScala.count { case (_, r) => r.code != 200 || r.body.nonEmpty }.toDouble, "count")
    put("sources.in_flight_bytes_peak", inFlightPeak.get.toDouble, "bytes")
    put("sources.files_written", ingest.filesWritten.toDouble, "count")
    put("sources.maintain_ms", ingest.maintainMs, "ms")
    put("sources.bytes_rewritten_per_input_byte", ingest.bytesRewritten.toDouble / ingest.ackedBytes, "ratio")

    // streaming: every progress event of the run
    val signals = serve.receiver.sinkSignals
    val bs = progress.batches.asScala.toSeq
    val withRows = bs.filter(_.rows > 0)
    put("streaming.batches", withRows.size.toDouble, "count")
    put("streaming.rows_per_batch", mean(withRows.map(_.rows.toDouble)), "rows")
    put("streaming.batch_ms_mean", mean(withRows.map(_.durationMs.getOrElse("triggerExecution", 0L).toDouble)), "ms", withRows.size)
    put("streaming.add_batch_ms_mean", mean(withRows.map(_.durationMs.getOrElse("addBatch", 0L).toDouble)), "ms", withRows.size)
    val waits = acks.asScala.toSeq.flatMap { case (p, r) =>
      withRows.filter(b => signals.get(b.id).contains(p.signal))
        .map(b => b.endNs - b.durationMs.getOrElse("triggerExecution", 0L) * 1000000L)
        .filter(_ >= r.endNs).sorted.headOption.map(s => (s - r.endNs) / 1e6)
    }
    put("streaming.queue_wait_ms_mean", mean(waits), "ms", waits.size)

    // serve: commit (progress event) → first probe that sees more rows
    put("serve.generation_bumps", ingest.generationBumps.toDouble, "count")
    val ps = polls.asScala.toSeq
    val c2v = withRows.flatMap { b =>
      signals.get(b.id).flatMap { s =>
        val mine = ps.filter(_._1 == s)
        val before = mine.filter(_._3 <= b.endNs).map(_._2).maxOption.getOrElse(0L)
        mine.filter(x => x._3 > b.endNs && x._2 > before).map(_._3).minOption.map(t => (t - b.endNs) / 1e6)
      }
    }
    put("serve.commit_to_visible_ms_mean", mean(c2v), "ms", c2v.size)

    // bench: what tracing cost the clients (means: a half of a short
    // run has too few samples for a supported percentile)
    put("bench.tracing_overhead_ratio", mean(traced.map(_.ms)) / mean(untraced.map(_.ms)), "ratio", traced.size)
    put("bench.probe_queries", ps.size.toDouble, "count")

    writeSpans(sp, self)
    System.err.println("[e2ebench] mean self time per span name (ms):")
    sp.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      System.err.println(f"[e2ebench]   $name%-22s n=${ss.size}%5d self=${mean(ss.map(s => self(s.id) / 1e6))}%9.2f " +
        f"total=${mean(ss.map(_.durNs / 1e6))}%9.2f")
    }
    out.result()
  }

  /** Every span with its self time, one JSON object per line. */
  private def writeSpans(sp: Seq[Stats.Span], self: Map[Int, Long]): Unit = {
    val out = new java.io.PrintWriter(new File(spanFile), "UTF-8")
    try sp.sortBy(_.startNs).foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","request":${s.request},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}""")
    } finally out.close()
    System.err.println(s"[e2ebench] ${sp.size} spans written to $spanFile")
  }

  /** The benchmark's own decode of every posted payload through the
    * program's wire decoders (profiles are parsed inside Spark and are
    * not timed here). Returns (ms, bytes decoded).
    */
  private def decodeAll(ps: Seq[Payload]): (Double, Double) = {
    val timed = ps.filterNot(_.signal == "profiles")
    def once(): Unit = timed.foreach { p =>
      p.path match {
        case "/v1/metrics" => graft.sources.OtlpProto.decodeMetrics(p.body)
        case "/v1/logs" => graft.sources.OtlpProto.decodeLogs(p.body)
        case "/v1/traces" => graft.sources.OtlpProto.decodeSpans(p.body)
        case "/loki/api/v1/push" => graft.sources.LokiPush.decodePush(graft.sources.Snappy.decode(p.body))
      }
    }
    once() // warm
    val t0 = System.nanoTime()
    val reps = 3
    (0 until reps).foreach(_ => once())
    ((System.nanoTime() - t0) / 1e6 / reps, timed.map(_.body.length.toDouble).sum)
  }
}

object Layers {
  /** Facts about the setup's corpus load that Main measured. */
  final case class Facts(filesWritten: Int, maintainMs: Double, bytesRewritten: Long,
      ackedBytes: Long, generationBumps: Long, tierInexact: Int, catchupRowsPerS: Double)

  /** Interpolated quantile of RequestMetrics' power-of-two histogram
    * (bucket i holds durations up to 128 µs · 2^i).
    */
  def bucketQuantileUs(counts: Seq[Long], q: Double): Double = {
    val total = counts.sum
    val rank = q * total
    var seen = 0.0
    var i = 0
    while (i < counts.size) {
      val c = counts(i)
      if (c > 0 && seen + c >= rank) {
        val lo = if (i == 0) 0.0 else 128.0 * (1L << (i - 1))
        val hi = 128.0 * (1L << i)
        return lo + (hi - lo) * ((rank - seen) / c)
      }
      seen += c
      i += 1
    }
    128.0 * (1L << (counts.size - 1))
  }
}
