package e2ebench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The end-to-end benchmark: one process stands up `graft.Serve` on a
  * fresh data directory, loads a seeded corpus through its ingest port,
  * drives its query port with closed-loop clients and checks every
  * answer against the corpus model.
  *
  *   e2ebench.Main --workload explore|dashboard --seed N --seconds S --trace 0|1
  *
  * The last line of stdout is the JSON result; breakdowns go to stderr.
  */
object Main {

  /** Fixed settings, the same on both sides of any comparison. */
  val BaseHours = 2
  val ChunkMinutes = 30
  /** Maintenance runs once, at a fixed date that makes the whole corpus
    * (2024-01-01) cold, so compaction and the sidecar merge both run.
    */
  val MaintainDate = "20240103"
  /** Closed-loop clients per workload. */
  def clients(workload: String): Int = if (workload == "explore") 3 else 2
  val VisibleTimeoutMs = 120000L

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  /** One answered request. `cell` is the shape, and in `dashboard` also
    * the request's position among the refreshes of its panel window.
    */
  final case class Sample(shape: Int, cell: Int, startNs: Long, endNs: Long,
      ok: Boolean, bytes: Long, rows: Int) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  class Failed(msg: String) extends RuntimeException(msg)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Set("explore", "dashboard")(w), s"unknown workload '$w'")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parseArgs(argv)); 0 }
      catch {
        case e: Throwable =>
          System.err.println(s"[e2ebench] FAILED: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  private def log(s: String): Unit = System.err.println(s"[e2ebench] $s")

  def run(a: Args): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new File(".bench_build/run").getAbsoluteFile
    val dataDir = new File(work, s"data-${ProcessHandle.current().pid()}")
    dataDir.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.util.GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("e2ebench")
        .config("spark.local.dir", new File(work, "spark").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath), cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val progress = new Progress
    spark.streams.addListener(progress)
    val layers = if (a.trace) Some(new Layers(spark, dataDir.getPath, progress,
      new File(s".bench_build/spans-${a.workload}-${a.seed}.jsonl").getAbsolutePath)) else None
    val tSession = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val serve = new graft.Serve(spark, graft.Serve.Config(dataDir.getPath))
    val ports = serve.start()
    val tServe = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ingestUrl = s"http://127.0.0.1:${ports.ingestHttp}"
    val queryUrl = s"http://127.0.0.1:${ports.query}"
    val corpus = new Corpus(a.seed)
    val shapes = new Shapes(corpus, BaseHours * 60)
    val set = if (a.workload == "explore") shapes.explore else shapes.dashboard
    val errors = new ConcurrentLinkedQueue[String]()
    val inexact = new ConcurrentLinkedQueue[String]()
    val reqIds = new java.util.concurrent.atomic.AtomicLong()
    val next = set.indices.map(_ => new AtomicInteger()).toVector

    // a dashboard panel misses the cache on one of every
    // `refreshesPerWindow` refreshes: each position is its own cell
    val slots = if (a.workload == "explore") 1 else shapes.refreshesPerWindow
    def call(k: Int): Sample = {
      val j = next(k).getAndIncrement()
      val r = set(k).make(j)
      val id = reqIds.incrementAndGet()
      val resp = Http.get(queryUrl + r.path + "?" + Http.qs(r.params))
      val v =
        if (resp.code != 200) Verdict(Seq(s"HTTP ${resp.code}: ${resp.text.take(200)}"), Nil, 0)
        else try r.check(resp.json)
        catch { case e: Exception => Verdict(Seq(s"unreadable response: $e"), Nil, 0) }
      if (!v.ok) errors.add(s"${set(k).name} ${Http.qs(r.params)}: ${v.errors.mkString("; ")}")
      v.inexact.foreach(x => inexact.add(s"${set(k).name}: $x"))
      layers.foreach(_.request(id, r, resp))
      Sample(k, k * slots + j % slots, resp.startNs, resp.endNs, v.ok, resp.body.length.toLong, v.resultRows)
    }

    // ---- setup: load the corpus through the ingest port ----
    val base = corpus.payloads(0, BaseHours * 60, ChunkMinutes)
    val expected = base.groupBy(_.signal).map { case (s, ps) => s -> ps.map(_.rows).sum }
    val visible = new Visibility(queryUrl, corpus, BaseHours)
    val postStart = System.nanoTime()
    val acks = base.map { p =>
      val r = Http.post(ingestUrl + p.path, p.body, p.encoding)
      layers.foreach(_.ack(p, r, serve.receiver.inFlightBytes))
      if (r.code != 200 || r.body.nonEmpty)
        errors.add(s"ingest ${p.path} -> HTTP ${r.code} ${r.text.take(200)}")
      (p, r)
    }
    val ackedOk = acks.count { case (_, r) => r.code == 200 && r.body.isEmpty }
    val visibleNs = visible.await(expected, VisibleTimeoutMs,
      () => spark.streams.active.forall(!_.status.isDataAvailable),
      signal => serve.receiver.sinkSignals.collect { case (id, `signal`) => id }
        .flatMap(id => Option(progress.lastRowsNs.get(id))).maxOption.getOrElse(Visibility.NeverNs),
      (s, n, t) => layers.foreach(_.visible(s, n, t, serve.receiver.inFlightBytes)), errors)
    val ingestRowsPerS = base.map(_.rows).sum / ((visibleNs - postStart) / 1e9)
    val ackedBytes = acks.collect { case (p, r) if r.code == 200 => p.body.length.toLong }.sum
    val generationBumps = serve.generation
    val filesBefore = layers.map(_.files()).getOrElse(Map.empty)
    val tm = System.nanoTime()
    serve.maintainNow(MaintainDate)
    val maintainMs = (System.nanoTime() - tm) / 1e6
    val rewritten = layers.map(_.files().filter { case (f, _) => !filesBefore.contains(f) }.values.sum).getOrElse(0L)
    // warm-up: one request of every shape, so the measured phase starts
    // with compiled code paths; its answers are checked like any other.
    // It runs on the 3-thread cap whatever the workload, to keep setup short
    val tw = System.nanoTime()
    runClients(set.size, 3, 0L, once = true)(call)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    // the loaded server's live heap: taken here, after the same work in
    // every run, rather than after a measured phase whose length in
    // requests varies with speed
    // full GCs half a second apart: each later one collects what the
    // earlier one let Spark's ContextCleaner and the finalizers release
    // (broadcast and shuffle blocks); the pools' collection usage is what
    // the last one left live, unaffected by allocation after it
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(500); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    log(f"setup ${setupS}%.2f s: session up at ${tSession}%.2f s, server at ${tServe}%.2f s; " +
      f"${base.size} payloads, ${base.map(_.rows).sum} rows visible in ${(visibleNs - postStart) / 1e9}%.2f s; " +
      f"maintenance ${maintainMs}%.0f ms; warm-up ${(System.nanoTime() - tw) / 1e9}%.2f s")

    // ---- measured phase ----
    // a traced run measures its first half untraced and its second half
    // traced, so the cost of tracing shows as the ratio of the two
    val t0 = System.nanoTime()
    val endNs = t0 + a.seconds * 1000000000L
    layers.foreach(_.begin(serve))
    val untraced =
      if (a.trace) runClients(set.size, clients(a.workload), (t0 + endNs) / 2, once = false)(call)
      else runClients(set.size, clients(a.workload), endNs, once = false, cells = set.size * slots)(call)
    // the traced half replays every shape at least once, and goes on
    // until the run has enough requests to support the route-time median
    val traced = layers.fold(Seq.empty[Sample]) { l =>
      l.tracing = true
      try {
        val first = runClients(set.size, clients(a.workload), 0L, once = true)(call)
        first ++ runClients(set.size, clients(a.workload), endNs, once = false,
          minRequests = Stats.minSamples(0.5) - untraced.size - first.size)(call)
      } finally l.tracing = false
    }
    layers.foreach(_.end(serve))
    val samples = untraced ++ traced
    // closed-loop throughput: answers per second of client time (each
    // client is always waiting on a request), which does not depend on
    // where the deadline cuts the last requests
    val clientS = samples.map(s => (s.endNs - s.startNs) / 1e9).sum / clients(a.workload)
    val storedBytes = dirBytes(dataDir, skip = Set("ckpt"))

    val okCount = samples.count(_.ok)
    val meanMs = Stats.balancedMean(samples.map(s => s.cell -> s.ms), set.size * slots)
    log(s"per shape (${samples.size} samples):")
    samples.groupBy(_.shape).toSeq.sortBy(_._1).foreach { case (k, ss) =>
      log(f"  ${set(k).name}%-26s n=${ss.size}%4d p50=${Stats.median(ss.map(_.ms))}%9.1f ms " +
        f"bytes/resp=${ss.map(_.bytes).sum / ss.size}%8d")
    }
    inexact.asScala.take(20).foreach(x => log(s"tier-inexact sample: $x"))
    errors.asScala.take(20).foreach(e => log(s"WRONG: $e"))
    Stats.percentile(samples.map(_.ms), 0.5) match {
      case Some(p) => log(f"query p50 ${p}%.1f ms over ${samples.size} samples")
      case None => log(s"query p50 unsupported: ${samples.size} samples (needs ${Stats.minSamples(0.5)})")
    }

    val metrics = layers match {
      case None =>
        val mean = meanMs.getOrElse(throw new Failed(
          s"${samples.size} requests in ${a.seconds} s leave a shape or refresh position unsampled"))
        Seq(
          ("setup_s", setupS, "s"),
          ("query_mean_ms", mean, "ms"),
          ("queries_per_s", okCount / clientS, "1/s"),
          ("query_ok_ratio", okCount.toDouble / samples.size, "ratio"),
          ("ingest_ok_ratio", ackedOk.toDouble / base.size, "ratio"),
          ("bytes_stored_per_input_byte", storedBytes.toDouble / ackedBytes, "ratio"),
          ("heap_live_mb", heapMb, "MB"))
      case Some(l) =>
        log("per-layer sample counts:")
        l.report(untraced, traced, serve, Layers.Facts(filesBefore.size, maintainMs, rewritten,
          ackedBytes, generationBumps, inexact.size, ingestRowsPerS))
    }
    metrics.foreach { case (n, v, u) => log(f"  $n%-38s $v%16.4f $u") }
    val correct = errors.isEmpty
    val json = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${if (v.isNaN || v.isInfinite) "null" else v.toString},"unit":"$u"}"""
    }.mkString(",")
    // no orderly shutdown: main halts the JVM, which ends every thread
    // Serve started; run.py removes the data directory
    println(s"""{"correct":$correct,"attempted":${samples.size},"failed":${samples.size - okCount},"metrics":{$json}}""")
  }

  /** Closed-loop clients: each sends its next request when the previous
    * answer is in, taking the next shape of one rotation they share, so
    * every shape is within one request of the others. With `once` every
    * shape runs exactly once; otherwise clients stop starting requests
    * at `deadlineNs`, or later while cells `0 until cells` are not all
    * sampled or fewer than `minRequests` are answered, so a slow host
    * still yields every metric.
    */
  def runClients(shapes: Int, clients: Int, deadlineNs: Long, once: Boolean, cells: Int = 0,
      minRequests: Int = 0)(
      call: Int => Sample): Seq[Sample] = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val covered = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val turn = new AtomicInteger()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var go = true
        while (go) {
          val k = turn.getAndIncrement()
          if (once) { if (k < shapes) out.add(call(k)) else go = false }
          else if (System.nanoTime() < deadlineNs || covered.size < cells || out.size < minRequests) {
            val s = call(k % shapes)
            out.add(s); covered.add(s.cell)
          }
          else go = false
        }
      }, s"e2ebench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  def dirBytes(f: File, skip: Set[String]): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty[File])
      .filterNot(x => skip(x.getName)).map(dirBytes(_, skip)).sum
}
