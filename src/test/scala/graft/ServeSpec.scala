package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.sources.Snappy

/** The production composition root, driven the way a deployment runs
  * it: [[Serve]] starts FIRST over an empty dataDir, signals arrive
  * over the wire AFTER the query API is up, and the same API must see
  * them — the live-layout freshness seam (a naive composition snapshots
  * parquet file listings at startup and hides every later batch), the
  * generation-keyed caches, the tier-served read path, admin-triggered
  * and SCHEDULED maintenance.
  */
class ServeSpec extends SparkTestBase {

  // minimal protobuf writer (mirrors EndToEndSpec's)
  private class W {
    val out = new ByteArrayOutputStream()
    def varint(v: Long): W = {
      var x = v
      while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt); this
    }
    def tag(field: Int, wire: Int): W = varint((field.toLong << 3) | wire)
    def bytes(field: Int, b: Array[Byte]): W = { tag(field, 2); varint(b.length); out.write(b); this }
    def str(field: Int, s: String): W = bytes(field, s.getBytes(UTF_8))
    def msg(field: Int, m: W): W = bytes(field, m.out.toByteArray)
    def vint(field: Int, v: Long): W = { tag(field, 0); varint(v) }
    def fix64(field: Int, v: Long): W = {
      tag(field, 1)
      var i = 0; while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
      this
    }
  }
  private def kv(k: String, v: String): W =
    new W().str(1, k).msg(2, new W().str(1, v))
  private def tid16(low: Long): Array[Byte] = {
    val b = new Array[Byte](16)
    var i = 0; while (i < 8) { b(15 - i) = ((low >>> (8 * i)) & 0xff).toByte; i += 1 }
    b
  }
  private def sid8(v: Long): Array[Byte] = tid16(v).drop(8)

  private val T0 = 1704103200000000000L // 2024-01-01T10:00Z ns

  private def post(url: String, body: Array[Byte],
      contentType: String = "application/x-protobuf",
      encoding: Option[String] = None): Int = {
    val conn = java.net.URI.create(url).toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", contentType)
    encoding.foreach(conn.setRequestProperty("Content-Encoding", _))
    val os = conn.getOutputStream
    try os.write(body) finally os.close()
    conn.getResponseCode
  }

  private def get(url: String): (Int, String) = {
    val conn = java.net.URI.create(url).toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(Option(is).map(_.readAllBytes()).getOrElse(Array.empty), "UTF-8")
    Option(is).foreach(_.close())
    (code, body)
  }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  // ---- wire payloads (one per signal) ----

  private def tracePayload: Array[Byte] = {
    def span(tid: Long, sid: Long, parent: Option[Long], name: String,
        durNs: Long, status: Int): W = {
      val w = new W().bytes(1, tid16(tid)).bytes(2, sid8(sid))
      parent.foreach(p => w.bytes(4, sid8(p)))
      w.str(5, name).vint(6, 2)
        .fix64(7, T0).fix64(8, T0 + durNs)
        .msg(15, new W().vint(3, status))
    }
    new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, new W().msg(1, new W().str(1, "lib"))
        .msg(2, span(0xD1L, 1, None, "serve-root", 700000L, 0))
        .msg(2, span(0xD1L, 2, Some(1), "serve-child", 90000L, 2))))
      .out.toByteArray
  }

  private def logPayload(line: String, app: String, offNs: Long): Array[Byte] =
    new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, new W().msg(1, new W().str(1, "logger"))
        .msg(2, new W().fix64(1, T0 + offNs).vint(2, 17)
          .msg(5, new W().str(1, line))
          .msg(6, kv("app", app)))))
      .out.toByteArray

  private def metricPayload(name: String, labelKey: String,
      samples: Seq[(Long, Double)]): Array[Byte] = {
    def gaugeAt(tsNs: Long, v: Double): W = {
      val p = new W().fix64(2, T0).fix64(3, tsNs)
      p.tag(4, 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      var i = 0; while (i < 8) { p.out.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
      p.msg(7, kv(labelKey, "h9"))
    }
    val g = new W()
    samples.foreach { case (ts, v) => g.msg(1, gaugeAt(ts, v)) }
    new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, new W().msg(1, new W().str(1, "meter"))
        .msg(2, new W().str(1, name).msg(5, g))))
      .out.toByteArray
  }

  private def rwFrame(metric: String, v: Double, tsMs: Long): Array[Byte] = {
    def label(n: String, vv: String): W = new W().str(1, n).str(2, vv)
    def sample(vv: Double, ms: Long): W =
      new W().fix64(1, java.lang.Double.doubleToLongBits(vv)).vint(2, ms)
    Snappy.encodeLiteral(new W().msg(1, new W()
      .msg(1, label("__name__", metric)).msg(1, label("job", "api"))
      .msg(2, sample(v, tsMs))).out.toByteArray)
  }

  test("Serve starts FIRST; wire ingest after start is served; caches follow the layout generation") {
    val dir = Files.createTempDirectory("graftserve").toString
    val serve = new Serve(spark, Serve.Config(dir))
    val ports = serve.start()
    val q = s"http://127.0.0.1:${ports.query}"
    val in = s"http://127.0.0.1:${ports.ingestHttp}"
    try {
      // empty store: every language answers an empty envelope, not an
      // error — the deployment-order case every test previously dodged
      // by building the API after ingest
      val (e1, b1) = get(s"$q/api/search")
      assert(e1 == 200 && !b1.contains("traceID"), s"body: $b1")
      val (e2, b2) = get(s"$q/loki/api/v1/query_range?query=${enc("""{app="wire"}""")}")
      assert(e2 == 200 && b2.contains(""""result":[]"""), s"body: $b2")
      val (e3, b3) = get(s"$q/api/v1/query?query=${enc("serve_cpu")}")
      assert(e3 == 200 && b3.contains(""""result":[]"""), s"body: $b3")
      // pyroscope endpoints MOUNT on the empty deployment (a
      // Some-at-start gate would hide them until a restart)
      val (e4, b4) = get(s"$q/pyroscope/apps")
      assert(e4 == 200, s"body: $b4")

      // all four signals arrive over the wire AFTER the API started
      assert(post(s"$in/v1/traces", tracePayload) == 200)
      assert(post(s"$in/v1/logs", logPayload(
        """{"level":"error","msg":"serve-boom"}""", "wire", 0L)) == 200)
      assert(post(s"$in/v1/metrics", metricPayload("serve_cpu", "host",
        Seq((T0, 2.0), (T0 + 60000000000L, 7.0)))) == 200)
      assert(post(s"$in/pyroscope/ingest?name=${enc("""srvapp{env="prod"}""")}" +
        s"&from=${T0 / 1000000000L}",
        "main;handler;parse 5\nmain;handler 3\n".getBytes(UTF_8),
        "text/plain") == 200)
      serve.flush()

      // the SAME API instance serves all four languages
      val (c1, traces) = get(s"$q/api/search?q=${enc("""{ name = "serve-child" }""")}")
      assert(c1 == 200 && traces.contains("00000000000000d1"), s"body: $traces")
      val (c2, logs) = get(s"$q/loki/api/v1/query_range?query=${enc("""{app="wire"}""")}")
      assert(c2 == 200 && logs.contains("serve-boom"), s"body: $logs")
      // the serving view splices the materialized service_name into
      // the label map (columns_logs.go:264-273 read-side splice)
      assert(logs.contains(""""service_name":"api""""), s"body: $logs")
      val tSec = T0 / 1000000000L + 60
      val (c3, mets) = get(s"$q/api/v1/query?query=${enc("serve_cpu")}&time=$tSec")
      assert(c3 == 200 && mets.contains("\"7.0\""), s"body: $mets")
      val (c4, flame) = get(s"$q/pyroscope/render?query=${enc("""srvapp{env="prod"}""")}")
      assert(c4 == 200 && flame.contains("handler"), s"body: $flame")

      // metadata window cached under the CURRENT generation...
      val lblUrl = s"$q/api/v1/labels?start=0&end=2000000000"
      val (l1, before) = get(lblUrl)
      assert(l1 == 200 && before.contains("host") && !before.contains("zone"),
        s"body: $before")
      // ...MORE data lands in that same window (a new label key and a
      // second log line) — the layout generation bumps, so both the
      // backing frames AND the cached envelope must refresh
      assert(post(s"$in/v1/metrics", metricPayload("serve_mem", "zone",
        Seq((T0 + 30000000000L, 1.0)))) == 200)
      assert(post(s"$in/v1/logs", logPayload(
        """{"level":"error","msg":"serve-again"}""", "wire", 5000000000L)) == 200)
      serve.flush()
      val (l2, after) = get(lblUrl)
      assert(l2 == 200 && after.contains("zone"),
        s"stale cached labels served after a committed batch: $after")
      val (c5, logs2) = get(s"$q/loki/api/v1/query_range?query=${enc("""{app="wire"}""")}")
      assert(c5 == 200 && logs2.contains("serve-again") &&
        logs2.contains("serve-boom"),
        s"post-start batch invisible to the query API: $logs2")

      // admin-triggered maintenance (T0 is cold relative to now):
      // answers stay byte-identical, served through the same API
      val (m1, metsBefore) = get(s"$q/api/v1/query?query=${enc("serve_cpu")}&time=$tSec")
      val (mc, mbody) = post2(s"http://127.0.0.1:${ports.admin}/api/v1/actions/storage_maintain")
      assert(mc == 200, s"body: $mbody")
      val (m2, metsAfter) = get(s"$q/api/v1/query?query=${enc("serve_cpu")}&time=$tSec")
      assert(m1 == 200 && m2 == 200 && metsBefore == metsAfter,
        s"maintenance changed a served answer:\n$metsBefore\n$metsAfter")

      // self-observability (r16): the one-binary admin API reports
      // per-route metrics for ALL THREE servers — the query traffic
      // above, the ingest pushes, and the admin's own requests
      val (rc, routes) = get(s"http://127.0.0.1:${ports.admin}/api/v1/routes")
      assert(rc == 200)
      for (srv <- Seq("query", "ingest", "admin"))
        assert(routes.contains(s""""server":"$srv""""), s"missing $srv: $routes")
      assert(routes.contains(""""route":"/loki/api/v1/query_range""""), routes)
      assert(routes.contains(""""route":"/v1/logs""""), routes)
      assert(routes.contains(""""route":"/api/v1/actions/""""), routes)
    } finally serve.stop()
  }

  private def post2(url: String): (Int, String) = {
    val conn = java.net.URI.create(url).toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.getOutputStream.close()
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(Option(is).map(_.readAllBytes()).getOrElse(Array.empty), "UTF-8")
    Option(is).foreach(_.close())
    (code, body)
  }

  test("tier-served PromQL range through Serve with NO raw points anywhere (no-raw-scan proof)") {
    val dir = Files.createTempDirectory("graftservetier").toString
    val serve = new Serve(spark, Serve.Config(dir))
    val ports = serve.start()
    val t0ms = T0 / 1000000L
    val sec11 = T0 / 1000000000L + 3600 // 11:00Z, hour-aligned
    val params = s"query=${enc("avg_over_time(tiered_srv[1h])")}" +
      s"&start=$sec11&end=$sec11&step=3600"
    val expected =
      try {
        assert(post(s"http://127.0.0.1:${ports.ingestHttp}/api/v1/write",
          rwFrame("tiered_srv", 2.0, t0ms + 600000L),
          encoding = Some("snappy")) == 200)
        assert(post(s"http://127.0.0.1:${ports.ingestHttp}/api/v1/write",
          rwFrame("tiered_srv", 4.0, t0ms + 1200000L),
          encoding = Some("snappy")) == 200)
        serve.flush()
        val (c, body) = get(s"http://127.0.0.1:${ports.query}/api/v1/query_range?$params")
        assert(c == 200 && body.contains("\"3.0\"") &&
          body.contains(""""job":"api""""), s"body: $body")
        body
      } finally serve.stop()

    // a SECOND deployment over a dataDir holding ONLY the rollup
    // sidecar — the raw points layout does not exist, so a correct
    // answer can only have come from the maintained tiers
    val dir2 = Files.createTempDirectory("graftservetier2").toString
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t): Unit
      }
    }
    copyTree(java.nio.file.Paths.get(dir, "rollup"),
      java.nio.file.Paths.get(dir2, "rollup"))
    val serve2 = new Serve(spark, Serve.Config(dir2))
    val ports2 = serve2.start()
    try {
      val (c, body) = get(s"http://127.0.0.1:${ports2.query}/api/v1/query_range?$params")
      assert(c == 200 && body == expected,
        s"tier-only deployment must serve the identical answer:\n$body\nvs\n$expected")
      // unaligned step: tier plan declines, the raw fallback is EMPTY
      // here — proves the aligned answer above rode the tiers
      val (cf, fb) = get(s"http://127.0.0.1:${ports2.query}/api/v1/query_range" +
        s"?query=${enc("avg_over_time(tiered_srv[1h])")}&start=$sec11&end=$sec11&step=100")
      assert(cf == 200 && !fb.contains("3.0"), s"fallback body: $fb")
    } finally serve2.stop()
  }

  test("log-volume tier and raw path answer a service_name query identically on OTLP logs") {
    def logAt(svc: String, offNs: Long): Array[Byte] =
      new W().msg(1, new W()
        .msg(1, new W().msg(1, kv("service.name", svc)))
        .msg(2, new W().msg(1, new W().str(1, "logger"))
          .msg(2, new W().fix64(1, T0 + offNs).vint(2, 9)
            .msg(5, new W().str(1, s"line from $svc"))
            .msg(6, kv("app", "vol")))))
        .out.toByteArray
    val MinNs = 60000000000L
    val q = enc("""sum by (service_name) (count_over_time({service_name=~".+"}[1h]))""")
    val sec12 = T0 / 1000000000L + 7200 // 12:00Z: the window is (11:00, 12:00]
    def result(port: Int, step: Int): Any = {
      val (c, body) = get(s"http://127.0.0.1:$port/loki/api/v1/query_range?" +
        s"query=$q&start=$sec12&end=$sec12&step=$step")
      assert(c == 200, body)
      TestJson.parseAll(body).asInstanceOf[Map[String, Any]]("data")
        .asInstanceOf[Map[String, Any]]("result")
    }
    val dir = Files.createTempDirectory("graftservevol").toString
    val serve = new Serve(spark, Serve.Config(dir))
    val ports = serve.start()
    val raw =
      try {
        val in = s"http://127.0.0.1:${ports.ingestHttp}/v1/logs"
        for (m <- Seq(65L, 70L, 80L)) assert(post(in, logAt("api", m * MinNs)) == 200)
        assert(post(in, logAt("web", 90L * MinNs)) == 200)
        serve.flush()
        // a 30-minute step is not a multiple of the 1h tier: raw path
        result(ports.query, 1800)
      } finally serve.stop()
    val counts = raw.asInstanceOf[List[Map[String, Any]]].map { r =>
      r("metric").asInstanceOf[Map[String, Any]]("service_name") ->
        r("values").asInstanceOf[List[List[Any]]].map(_(1))
    }.toMap
    assert(counts == Map("api" -> List("3.0"), "web" -> List("1.0")), raw)
    // a deployment holding ONLY the log-volume sidecar answers from the
    // tier alone (no raw log line exists to fall back to)
    val dir2 = Files.createTempDirectory("graftservevol2").toString
    val src = java.nio.file.Paths.get(dir, "logvolume")
    java.nio.file.Files.walk(src).forEach { p =>
      val t = java.nio.file.Paths.get(dir2, "logvolume").resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t): Unit
    }
    val serve2 = new Serve(spark, Serve.Config(dir2))
    val ports2 = serve2.start()
    try assert(result(ports2.query, 3600) == raw)
    finally serve2.stop()
  }

  test("restart after a crash mid-compaction-swap recovers the aside partition at startup") {
    val dir = Files.createTempDirectory("graftserverecover").toString
    val serve1 = new Serve(spark, Serve.Config(dir))
    val ports1 = serve1.start()
    try {
      assert(post(s"http://127.0.0.1:${ports1.ingestHttp}/v1/metrics",
        metricPayload("recov_m", "host", Seq((T0, 3.0)))) == 200)
      serve1.flush()
    } finally serve1.stop()
    // simulate the crash window: the points partition sits ASIDE (the
    // swap's first rename happened, the second never did)
    val pdir = new java.io.File(s"$dir/points")
    val dateDir = pdir.listFiles().find(_.getName.startsWith("date=")).get
    assert(dateDir.renameTo(new java.io.File(pdir, s".old.${dateDir.getName}")))
    // a fresh deployment must see the data WITHOUT any maintenance call
    val serve2 = new Serve(spark, Serve.Config(dir))
    val ports2 = serve2.start()
    try {
      val tSec = T0 / 1000000000L
      val (c, body) = get(s"http://127.0.0.1:${ports2.query}/api/v1/query" +
        s"?query=${enc("recov_m")}&time=$tSec")
      assert(c == 200 && body.contains("\"3.0\""),
        s"startup recovery must restore the aside partition: $body")
      // restart CONTINUATION: new ingest must land even though the old
      // layout already holds batch markers (ids continue past them —
      // a naive restart would restart at 0 and the old _committed_0
      // marker would silently swallow the first new batch)
      assert(post(s"http://127.0.0.1:${ports2.ingestHttp}/v1/metrics",
        metricPayload("recov_m", "host", Seq((T0 + 60000000000L, 9.0)))) == 200)
      serve2.flush()
      val (c2, body2) = get(s"http://127.0.0.1:${ports2.query}/api/v1/query" +
        s"?query=${enc("recov_m")}&time=${tSec + 60}")
      assert(c2 == 200 && body2.contains("\"9.0\""),
        s"post-restart ingest swallowed (batch-id collision?): $body2")
      // both generations of data live in one layout, exactly once
      val (c3, rng) = get(s"http://127.0.0.1:${ports2.query}/api/v1/query_range" +
        s"?query=${enc("sum_over_time(recov_m[2m])")}" +
        s"&start=${tSec + 60}&end=${tSec + 60}&step=60")
      assert(c3 == 200 && rng.contains("\"12.0\""), s"body: $rng")
    } finally serve2.stop()
  }

  test("parseConfig reaches every programmatic knob from the command line") {
    val cfg = Serve.parseConfig("/data", Seq("/data",
      "--ingest-bytes-per-second", "1048576", "--max-series", "1000",
      "--max-series-soft", "800", "--max-body-bytes", "65536",
      "--retention-days", "30", "--maintain-every-min", "60",
      "--downsample", "7:60:last,30:3600:avg", "--precision", "7:30,30:20",
      "--recompress", "60:19", "--safety", "100:1000:sample:drop",
      "--request-log", "on", "--self-telemetry", "30s",
      "--self-telemetry-spans", "16"))
    assert(cfg.requestLog)
    assert(cfg.selfTelemetryMs == 30000L)
    assert(cfg.selfTelemetrySpanEvery == 16L)
    assert(cfg.limits.ingestBytesPerSecond == 1048576L)
    assert(cfg.limits.maxSeries == 1000L && cfg.limits.maxSeriesSoft == 800L)
    assert(cfg.limits.maxBodyBytes == 65536L)
    assert(cfg.retentionDays == 30 && cfg.maintainEveryMs == 3600000L)
    val pol = cfg.storagePolicy.get
    assert(pol.downsample == Seq(
      graft.sources.StoragePolicy.DownsampleTier(7, 60000000L, "last"),
      graft.sources.StoragePolicy.DownsampleTier(30, 3600000000L, "avg")))
    assert(pol.precision == Seq(
      graft.sources.StoragePolicy.PrecisionTier(7, 30),
      graft.sources.StoragePolicy.PrecisionTier(30, 20)))
    assert(pol.recompress.contains(graft.sources.StoragePolicy.Recompress(60, 19)))
    val saf = cfg.logSafety.get
    assert(saf.softMaxRatePerSecond == 100 && saf.hardMaxRatePerSecond == 1000)
    assert(saf.onExcess == "sample" && saf.hardOnExcess == "drop")
    // a typo'd downsample agg is a STARTUP error (reference validates
    // via signal.ParseAggregation), not a silently-ignored tier
    intercept[IllegalArgumentException] {
      Serve.parseConfig("/data", Seq("/data", "--downsample", "7:60:bogus"))
    }
    // bare invocation: everything defaults off
    val bare = Serve.parseConfig("/data", Seq("/data"))
    assert(bare.storagePolicy.isEmpty && bare.logSafety.isEmpty &&
      bare.retentionDays == 0 && bare.maintainEveryMs == 0L)
    assert(!bare.requestLog)
    // a bad boolean is loud, not a silent default
    intercept[IllegalArgumentException] {
      Serve.parseConfig("/data", Seq("/data", "--request-log", "yes!"))
    }
    // self-telemetry duration grammar: off and units parse; junk and
    // overflow are loud typed errors, not NumberFormat stack traces
    assert(Serve.parseConfig("/data", Seq("/data",
      "--self-telemetry", "off")).selfTelemetryMs == 0L)
    assert(Serve.parseConfig("/data", Seq("/data",
      "--self-telemetry", "500ms")).selfTelemetryMs == 500L)
    assert(Serve.parseConfig("/data", Seq("/data",
      "--self-telemetry", "2m")).selfTelemetryMs == 120000L)
    intercept[IllegalArgumentException] {
      Serve.parseConfig("/data", Seq("/data", "--self-telemetry", "fast"))
    }
    assert(Serve.parseConfig("/data", Seq("/data", "--self-telemetry", "1s",
      "--self-telemetry-spans", "off")).selfTelemetrySpanEvery == 0L)
    assert(bare.selfTelemetrySpanEvery == 64L, "default 1-in-64")
    intercept[IllegalArgumentException] {
      Serve.parseConfig("/data", Seq("/data",
        "--self-telemetry-spans", "99999999999999999999"))
    }
    intercept[IllegalArgumentException] {
      Serve.parseConfig("/data", Seq("/data", "--self-telemetry-spans", "-1"))
    }
    // exporter endpoint grammar: http(s) base URL, trailing slashes
    // dropped (the /v1/metrics append must never double one); a bare
    // host is a loud typed error; default None = the own ingest port.
    // parsed through the env SEAM (noEnv/envOf): a host whose real
    // OTEL_EXPORTER_OTLP_ENDPOINT is globally set must not leak in
    val noEnv: String => Option[String] = _ => None
    def parseIso(args: String*) =
      Serve.parseConfig("/data", "/data" +: args,
        Serve.loadFileMap(args), noEnv)
    assert(parseIso().selfTelemetryEndpoint.isEmpty)
    assert(parseIso("--self-telemetry", "1s",
      "--self-telemetry-endpoint", "http://collector:4318/")
      .selfTelemetryEndpoint.contains("http://collector:4318"))
    intercept[IllegalArgumentException] {
      parseIso("--self-telemetry", "1s",
        "--self-telemetry-endpoint", "collector:4318")
    }
    // the standard env is honored (reference parity), flag wins on
    // conflict
    val envOf = Map(
      "OTEL_EXPORTER_OTLP_ENDPOINT" -> "http://env-collector:4318/").get _
    assert(Serve.parseConfig("/data",
      Seq("/data", "--self-telemetry", "1s"), Map.empty, envOf)
      .selfTelemetryEndpoint.contains("http://env-collector:4318"))
    assert(Serve.parseConfig("/data", Seq("/data", "--self-telemetry", "1s",
      "--self-telemetry-endpoint", "http://flag:1"), Map.empty, envOf)
      .selfTelemetryEndpoint.contains("http://flag:1"))
    // OTEL_EXPORTER_OTLP_HEADERS pairs parse, values %XX-decoded ONLY
    // (a literal '+', routine in base64 credentials, must survive —
    // form-urlencoded decoding would turn it into a space); a pair
    // without '=' or with a blank key is loud
    assert(Serve.otlpHeadersFromEnv(
      Some("Authorization=Basic dXNl+cGFzcw==,x-a=a%2Cb")) ==
      Seq("Authorization" -> "Basic dXNl+cGFzcw==", "x-a" -> "a,b"))
    assert(Serve.otlpHeadersFromEnv(None).isEmpty)
    intercept[IllegalArgumentException] {
      Serve.otlpHeadersFromEnv(Some("noequals"))
    }
    intercept[IllegalArgumentException] {
      Serve.otlpHeadersFromEnv(Some(" =tok"))
    }
    // a typo'd FLAG NAME is a startup error too — `--retention-day 30`
    // silently defaulting retention off would fill disks
    intercept[IllegalArgumentException] {
      Serve.parseConfig("/data", Seq("/data", "--retention-day", "30"))
    }
    // a flag missing its value is a startup error
    intercept[IllegalArgumentException] {
      Serve.parseConfig("/data", Seq("/data", "--retention-days"))
    }
  }

  test("one-binary auth: unauthenticated query/ingest/admin rejected; section override wins") {
    val dir = java.nio.file.Files.createTempDirectory("graft-serve-auth").toString
    def withAuth(url: String, token: Option[String],
        method: String = "GET"): (Int, String) = {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod(method)
      token.foreach(t => conn.setRequestProperty("Authorization", s"Bearer $t"))
      if (method == "POST") { conn.setDoOutput(true); conn.getOutputStream.close() }
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = new String(
        Option(is).map(_.readAllBytes()).getOrElse(Array.empty), "UTF-8")
      Option(is).foreach(_.close())
      (code, body)
    }
    // global bearer auth; the ADMIN section overrides with its own
    // token (app.go:206-208: section config replaces global)
    val serve = new Serve(spark, Serve.parseConfig(dir, Seq(dir,
      "--auth-token", "global", "--admin-auth-token", "ops")))
    val ports = serve.start()
    try {
      // query server: global token
      val q = s"http://127.0.0.1:${ports.query}/api/v1/labels"
      assert(withAuth(q, None)._1 == 401)
      assert(withAuth(q, Some("ops"))._1 == 401) // admin token ≠ query
      assert(withAuth(q, Some("global"))._1 == 200)
      // ingest server: global token gates the push BEFORE admission
      val push = s"http://127.0.0.1:${ports.ingestHttp}/v1/logs"
      assert(withAuth(push, None, method = "POST")._1 == 401)
      assert(withAuth(push, Some("global"), method = "POST")._1 == 200)
      // admin server: the DESTRUCTIVE action requires the SECTION token
      val act =
        s"http://127.0.0.1:${ports.admin}/api/v1/actions/storage_maintain"
      val (cNone, bodyNone) = withAuth(act, None, method = "POST")
      assert(cNone == 401, s"got $cNone: $bodyNone")
      assert(bodyNone ==
        "{\"error\":\"missing or invalid Authorization header\"}\n")
      assert(withAuth(act, Some("global"), method = "POST")._1 == 401)
      assert(withAuth(act, Some("ops"), method = "POST")._1 == 200)
    } finally serve.stop()
  }

  test("scheduled maintenance pre-merges cold partials without any admin call") {
    val dir = Files.createTempDirectory("graftservesched").toString
    // the day after ingest's date, so T0's partition is cold; a short
    // interval so the daemon ticks inside the test
    val serve = new Serve(spark, Serve.Config(dir,
      maintainEveryMs = 150L, maintainDate = () => "20240103"))
    val ports = serve.start()
    val t0ms = T0 / 1000000L
    try {
      assert(post(s"http://127.0.0.1:${ports.ingestHttp}/api/v1/write",
        rwFrame("sched_m", 2.0, t0ms + 600000L), encoding = Some("snappy")) == 200)
      serve.flush()
      assert(post(s"http://127.0.0.1:${ports.ingestHttp}/api/v1/write",
        rwFrame("sched_m", 4.0, t0ms + 1200000L), encoding = Some("snappy")) == 200)
      serve.flush()
      def rollupFiles: Int =
        Option(new java.io.File(s"$dir/rollup/date=20240101").listFiles())
          .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
      assert(rollupFiles >= 2, "two batches should have appended two partial file sets")
      val sec11 = T0 / 1000000000L + 3600
      val qUrl = s"http://127.0.0.1:${ports.query}/api/v1/query_range" +
        s"?query=${enc("avg_over_time(sched_m[1h])")}&start=$sec11&end=$sec11&step=3600"
      val (cb, before) = get(qUrl)
      assert(cb == 200 && before.contains("\"3.0\""), s"body: $before")
      // wait for the daemon tick: cold partials pre-merge to ONE
      // untagged file with NO admin call
      val deadline = System.currentTimeMillis() + 30000
      while (rollupFiles != 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(rollupFiles == 1,
        "the scheduled pass should have compacted the cold rollup partition")
      // the tick bumped the generation, so the SAME request re-opens
      // the compacted layout and answers byte-identically
      val (ca, after) = get(qUrl)
      assert(ca == 200 && after == before,
        s"scheduled maintenance changed a served answer:\n$before\n$after")
    } finally serve.stop()
  }
  test("self-telemetry: the instance PromQL/LogQLs its own request metrics and logs") {
    val dir = Files.createTempDirectory("graftselftel").toString
    // scheduled interval far past the test horizon: ticks are driven
    // MANUALLY so every exported count is deterministic
    val serve = new Serve(spark, Serve.Config(dir, selfTelemetryMs = 3600000L,
      selfTelemetrySpanEvery = 1L)) // sample EVERY request as a self-span
    val ports = serve.start()
    val q = s"http://127.0.0.1:${ports.query}"
    val st = serve.selfTelemetry.get
    val lokiRoute = "/loki/api/v1/query_range"
    def promValue(expr: String): Option[Double] = {
      val (c, b) = get(s"$q/api/v1/query?query=${enc(expr)}")
      assert(c == 200, s"$expr -> $b")
      // instant vector: "value":[ts,"<v>"]
      """\"value\":\[[0-9.]+,\"([^\"]+)\"\]""".r
        .findFirstMatchIn(b).map(_.group(1).toDouble)
    }
    try {
      // 3 requests on the loki route, then ONE export tick
      (1 to 3).foreach(_ =>
        assert(get(s"$q$lokiRoute?query=${enc("""{app="st"}""")}")._1 == 200))
      st.tick()
      serve.flush()
      // the VERDICT criterion: PromQL over the self-metric returns the
      // counts the admin routes report shows
      val sel = s"""graft_http_requests_total{server="query",route="$lokiRoute",status="200"}"""
      assert(promValue(sel).contains(3.0))
      val (ac, routes) = get(s"http://127.0.0.1:${ports.admin}/api/v1/routes")
      assert(ac == 200)
      val reported = ("\"route\":\"" + lokiRoute + "\",\"count\":([0-9]+)").r
        .findFirstMatchIn(routes).map(_.group(1).toLong)
      assert(reported.contains(3L), s"routes: $routes")

      // windowed rates (verdict item 3): two more requests, a second
      // tick ≥1s later -> rate() and histogram_quantile(0.95, rate(...))
      // read a real per-route window, which the lifetime-QPS routes
      // report deliberately doesn't carry
      (1 to 2).foreach(_ =>
        assert(get(s"$q$lokiRoute?query=${enc("""{app="st"}""")}")._1 == 200))
      Thread.sleep(1100)
      st.tick()
      serve.flush()
      val rate = promValue(
        s"""rate(graft_http_requests_total{server="query",route="$lokiRoute",status="200"}[5m])""")
      assert(rate.exists(_ > 0.0), s"rate: $rate")
      val p95 = promValue(
        s"""histogram_quantile(0.95, rate(graft_http_request_duration_seconds_bucket{server="query",route="$lokiRoute"}[5m]))""")
      assert(p95.exists(v => v > 0.0 && !v.isNaN), s"p95: $p95")

      // the request-log lines (teed into the self-stream independent of
      // the stderr opt-in) are LogQL-queryable on the instance itself
      val nowNs = System.currentTimeMillis() * 1000000L
      val (lc, lines) = get(s"$q/loki/api/v1/query_range?query=${enc(
        s"""{service_name="graft"} |= "$lokiRoute"""")}" +
        s"&start=${nowNs - 3600000000000L}&end=${nowNs + 3600000000000L}")
      assert(lc == 200 && lines.contains(lokiRoute), s"logql: $lines")

      // the traces third: sampled requests are TraceQL-queryable SERVER
      // spans named after their route on the instance itself
      val (tc, traces) = get(s"$q/api/search?q=${enc(
        """{ name = "/loki/api/v1/query_range" && span.server = "query" }""")}")
      assert(tc == 200 && traces.contains("query_range"), s"traceql: $traces")

      // NO-FEEDBACK-LOOP budget: another tick adds VALUES, never SERIES
      // (the emitter's own POSTs land on already-registered routes).
      // One absorbing tick first: the TraceQL search above touched
      // /api/search for the FIRST time, which legitimately adds that
      // route's series at the next export — the invariant under test
      // is no growth WITHOUT new routes, not no growth ever
      st.tick()
      serve.flush()
      val n1 = promValue("count(graft_http_requests_total)")
      st.tick()
      serve.flush()
      val n2 = promValue("count(graft_http_requests_total)")
      assert(n1.nonEmpty && n1 == n2, s"series grew: $n1 -> $n2")

      // the process-runtime half is PromQL-queryable too (the sdk/app
      // Go-runtime instrumentation analogue)
      assert(promValue("graft_jvm_heap_used_bytes").exists(_ > 0))

      // exporter health rides the routes report (and the status page):
      // ticks counted, every export delivered, nothing dropped
      val (hc, rep) = get(s"http://127.0.0.1:${ports.admin}/api/v1/routes")
      assert(hc == 200 && rep.contains(""""self_telemetry":{"""), rep)
      assert(rep.contains(""""consecutive_failures":0"""), rep)
      assert(rep.contains(""""dropped_logs":0"""), rep)
      assert(rep.contains(""""dropped_spans":0"""), rep)
    } finally serve.stop()
  }

  test("self-telemetry exports to a configured peer endpoint under a distinct instance id") {
    val dirA = Files.createTempDirectory("graftstA").toString
    val dirB = Files.createTempDirectory("graftstB").toString
    // B is the fleet's collector (plain instance, no self-telemetry);
    // A ships its telemetry there — the reference's
    // OTEL_EXPORTER_OTLP_ENDPOINT deployment, where many instances
    // share ONE sink and service.instance.id keeps them apart
    val serveB = new Serve(spark, Serve.Config(dirB))
    val portsB = serveB.start()
    val serveA = new Serve(spark, Serve.Config(dirA,
      selfTelemetryMs = 3600000L, selfTelemetrySpanEvery = 1L,
      selfTelemetryEndpoint =
        Some(s"http://127.0.0.1:${portsB.ingestHttp}")))
    val portsA = serveA.start()
    val qA = s"http://127.0.0.1:${portsA.query}"
    val qB = s"http://127.0.0.1:${portsB.query}"
    val lokiRoute = "/loki/api/v1/query_range"
    try {
      (1 to 3).foreach(_ =>
        assert(get(s"$qA$lokiRoute?query=${enc("""{app="st"}""")}")._1 == 200))
      serveA.selfTelemetry.get.tick()
      serveB.flush()
      // PromQL on B returns A's counter, labeled with A's instance id
      val sel = s"""graft_http_requests_total{server="query",route="$lokiRoute",status="200"}"""
      val (c, b) = get(s"$qB/api/v1/query?query=${enc(sel)}")
      assert(c == 200, b)
      val v = """\"value\":\[[0-9.]+,\"([^\"]+)\"\]""".r
        .findFirstMatchIn(b).map(_.group(1).toDouble)
      assert(v.contains(3.0), b)
      assert(b.contains(serveA.selfTelemetry.get.instanceId), b)
      // A's own store never saw the export (it went to the peer)
      val (ca, ba) = get(s"$qA/api/v1/query?query=${enc(sel)}")
      assert(ca == 200 && !ba.contains("graft_http_requests_total"), ba)
      // A's log lines and sampled spans land on B too — all three
      // signals follow the endpoint
      serveA.flush() // no-op for telemetry; keeps A's ingest quiet
      val nowNs = System.currentTimeMillis() * 1000000L
      val (lc, lines) = get(s"$qB/loki/api/v1/query_range?query=${enc(
        s"""{service_name="graft"} |= "$lokiRoute"""")}" +
        s"&start=${nowNs - 3600000000000L}&end=${nowNs + 3600000000000L}")
      assert(lc == 200 && lines.contains(lokiRoute), s"logql on B: $lines")
      val (tc, traces) = get(s"$qB/api/search?q=${enc(
        s"""{ name = "$lokiRoute" && span.server = "query" }""")}")
      assert(tc == 200 && traces.contains("query_range"),
        s"traceql on B: $traces")
      // exporter health on A reports delivery (to the peer) and the id
      val (hc, rep) = get(s"http://127.0.0.1:${portsA.admin}/api/v1/routes")
      assert(hc == 200 && rep.contains(""""consecutive_failures":0"""), rep)
      assert(rep.contains(serveA.selfTelemetry.get.instanceId), rep)
    } finally { serveA.stop(); serveB.stop() }
  }
}
