package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.api.HttpApi
import graft.sources.Layout
import graft.streaming.Streams

/** The whole chain, one test per signal: OTLP wire bytes → distributed
  * decode → Layout storage (the deployment write path) → read back →
  * query front-end → HTTP envelope. Every stage is covered on its own
  * elsewhere; this spec proves they COMPOSE — schema drift between
  * decoder, sink, and planner fails here even when each unit spec
  * stays green.
  */
class EndToEndSpec extends SparkTestBase {

  // minimal protobuf writer (mirrors OtlpProtoSpec's)
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

  private val T0 = 1704103200000000000L // 2024-01-01T10:00Z

  test("traces: wire -> decode -> layout -> TraceQL -> /api/search") {
    import spark.implicits._
    def span(tid: Long, sid: Long, parent: Option[Long], name: String,
        durNs: Long, status: Int): W = {
      val w = new W().bytes(1, tid16(tid)).bytes(2, sid8(sid))
      parent.foreach(p => w.bytes(4, sid8(p)))
      w.str(5, name).vint(6, 2)
        .fix64(7, T0).fix64(8, T0 + durNs)
        .msg(9, kv("env", "prod"))
        .msg(15, new W().vint(3, status))
    }
    val scopeSpans = new W().msg(1, new W().str(1, "lib"))
      .msg(2, span(0xAAL, 1, None, "root-a", 500000L, 0))
      .msg(2, span(0xAAL, 2, Some(1), "child-a", 100000L, 2))
      .msg(2, span(0xBBL, 1, None, "root-b", 900000L, 0))
    val payload = new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, scopeSpans)).out.toByteArray

    val dir = Files.createTempDirectory("grafte2espans").toString
    Layout.writeSpans(
      Streams.spansFromOtlp(Seq(payload).toDF("payload")), dir)
    val stored = spark.read.parquet(dir)

    // parent_path materialized at write: the child's ancestry is stored
    val paths = stored.filter(col("span_id") === 2 && col("trace_id") === 0xAAL)
      .select("parent_path").collect()
    assert(paths.length == 1 && paths(0).getSeq[Long](0) == Seq(1L))

    // TraceQL over the stored layout: status=error spans
    val err = graft.traceql.TraceQL.matchSpans("{ status = error }", stored)
      .select("trace_id", "span_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(err.toSeq == Seq((0xAAL, 2L)))

    // HTTP search over the same frame
    val api = new HttpApi(spark.emptyDataFrame, spark.emptyDataFrame, stored)
    val port = api.start()
    try {
      val conn = java.net.URI.create(
        s"http://127.0.0.1:$port/api/search?q=" +
          java.net.URLEncoder.encode("""{ name = "root-b" }""", "UTF-8"))
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(conn.getResponseCode == 200)
      assert(body.contains("\"rootTraceName\":\"root-b\"") &&
        !body.contains("root-a"))
    } finally api.stop()
  }

  test("logs: wire -> decode -> enrich -> layout -> LogQL") {
    import spark.implicits._
    // LogRecord: 1 ts, 2 severity_number, 5 body(AnyValue), 6 attrs
    def logRec(tsNs: Long, body: String, sev: Int): W =
      new W().fix64(1, tsNs).vint(2, sev.toLong)
        .msg(5, new W().str(1, body))
        .msg(6, kv("app", "web"))
    val scopeLogs = new W().msg(1, new W().str(1, "logger"))
      .msg(2, logRec(T0, """{"level":"error","msg":"boom"}""", 17))
      .msg(2, logRec(T0 + 1000000L, "status=ok took=2ms", 9))
    val payload = new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, scopeLogs)).out.toByteArray

    val dir = Files.createTempDirectory("grafte2elogs").toString
    Layout.writeLogs(
      Streams.enrichLogs(Streams.logsFromOtlp(Seq(payload).toDF("payload"))),
      dir)
    val stored = spark.read.parquet(dir)
      .withColumn("labels",
        map(lit("app"), element_at(col("attrs"), "app")))
      .select(col("ts_ns"), col("body"), col("labels"))

    // LogQL pipeline over the stored rows: json stage + label filter
    val out = graft.logql.Planner.query(
      """{app="web"} | json | level = "error"""", stored)
      .select("body").collect().map(_.getString(0))
    assert(out.toSeq == Seq("""{"level":"error","msg":"boom"}"""))

    // metric query: count_over_time per day
    val n = graft.logql.Planner.query("""count_over_time({app="web"}[1d])""",
      stored).select("value").collect().map(_.getDouble(0))
    assert(n.toSeq == Seq(2.0))
  }

  test("metrics: wire -> decode -> layout -> PromQL range") {
    import spark.implicits._
    def gaugeAt(tsNs: Long, v: Double): W = {
      val p = new W().fix64(2, T0).fix64(3, tsNs)
      p.tag(4, 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      var i = 0; while (i < 8) { p.out.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
      p.msg(7, kv("host", "h1"))
    }
    val metric = new W().str(1, "cpu")
      .msg(5, new W().msg(1, gaugeAt(T0, 1.0)).msg(1, gaugeAt(T0 + 60_000_000_000L, 5.0)))
    val payload = new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, new W().msg(1, new W().str(1, "meter")).msg(2, metric)))
      .out.toByteArray

    val points = Streams.pointsFromOtlp(Seq(payload).toDF("payload"))
      .filter(col("gauge").isNotNull)
      .select(expr("unix_micros(timestamp)").as("ts_us"),
        col("name"), col("gauge").as("value"),
        map(lit("host"), lit("h1")).as("labels"))
    val dir = Files.createTempDirectory("grafte2epts").toString
    Layout.writePoints(points.withColumn("ts_us", col("ts_us")), dir)
    val stored = spark.read.parquet(dir)
      .select("ts_us", "name", "labels", "value")

    val got = graft.promql.PromQL.range("""max_over_time(cpu[1h])""", stored)
      .select("value").collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(5.0))
  }

  test("clean shutdown drains acknowledged payloads (stop without flush loses nothing)") {
    import graft.sources.OtlpReceiver
    def post(url: String, body: Array[Byte]): Int = {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-protobuf")
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
      conn.getResponseCode
    }
    val logPayload = new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, new W().msg(1, new W().str(1, "logger"))
        .msg(2, new W().fix64(1, T0).vint(2, 9)
          .msg(5, new W().str(1, "acked then stopped"))
          .msg(6, kv("app", "drain")))))
      .out.toByteArray
    val dir = Files.createTempDirectory("grafte2edrain").toString
    val recv = new OtlpReceiver(spark, dir)
    val rport = recv.start()
    assert(post(s"http://127.0.0.1:$rport/v1/logs", logPayload) == 200)
    // stop IMMEDIATELY — the 200 was an acknowledgment, and an orderly
    // restart must not lose acknowledged data; no flush() here
    recv.stop()
    val stored = spark.read.parquet(s"$dir/logs")
    assert(stored.count() == 1L)
    assert(stored.head().getAs[String]("body") == "acked then stopped")
  }

  test("OTLP listener: concurrent producers lose no records") {
    import graft.sources.OtlpReceiver

    def post(url: String, body: Array[Byte]): Int = {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-protobuf")
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
      conn.getResponseCode
    }
    def logPayload(thread: Int, i: Int): Array[Byte] =
      new W().msg(1, new W()
        .msg(1, new W().msg(1, kv("service.name", "api")))
        .msg(2, new W().msg(1, new W().str(1, "logger"))
          .msg(2, new W().fix64(1, T0 + (thread * 1000L + i) * 1000000L)
            .vint(2, 9)
            .msg(5, new W().str(1, s"race line $thread-$i"))
            .msg(6, kv("app", "race")))))
        .out.toByteArray

    val dir = Files.createTempDirectory("grafte2erace").toString
    val recv = new OtlpReceiver(spark, dir)
    val rport = recv.start()
    val threads = 8
    val perThread = 25
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val codes = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[Int]] {
          override def call(): Seq[Int] = (0 until perThread).map(i =>
            post(s"http://127.0.0.1:$rport/v1/logs", logPayload(t, i)))
        })
      }.flatMap(_.get())
      pool.shutdown()
      assert(codes.size == threads * perThread && codes.forall(_ == 200))
      recv.flush()
    } finally recv.stop()

    val logs = spark.read.parquet(s"$dir/logs")
    assert(logs.count() == threads * perThread)
    // every line arrived exactly once — no interleaving corruption
    assert(logs.select("body").distinct().count() == threads * perThread)
  }

  test("OTLP/HTTP listener: POST wire bytes -> streamed layout -> all three query APIs") {
    import graft.sources.OtlpReceiver

    def post(url: String, body: Array[Byte]): Int = {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-protobuf")
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
      conn.getResponseCode
    }
    def get(url: String): (Int, String) = {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = new String(is.readAllBytes(), "UTF-8")
      is.close()
      (code, body)
    }

    // trace payload: one trace, root + error child
    def span(tid: Long, sid: Long, parent: Option[Long], name: String,
        durNs: Long, status: Int): W = {
      val w = new W().bytes(1, tid16(tid)).bytes(2, sid8(sid))
      parent.foreach(p => w.bytes(4, sid8(p)))
      w.str(5, name).vint(6, 2)
        .fix64(7, T0).fix64(8, T0 + durNs)
        .msg(15, new W().vint(3, status))
    }
    val tracePayload = new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, new W().msg(1, new W().str(1, "lib"))
        .msg(2, span(0xCCL, 1, None, "listener-root", 700000L, 0))
        .msg(2, span(0xCCL, 2, Some(1), "listener-child", 90000L, 2))))
      .out.toByteArray

    // log payload: one json error line
    val logPayload = new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, new W().msg(1, new W().str(1, "logger"))
        .msg(2, new W().fix64(1, T0).vint(2, 17)
          .msg(5, new W().str(1, """{"level":"error","msg":"wire-boom"}"""))
          .msg(6, kv("app", "wire")))))
      .out.toByteArray

    // metric payload: one gauge series, two samples
    def gaugeAt(tsNs: Long, v: Double): W = {
      val p = new W().fix64(2, T0).fix64(3, tsNs)
      p.tag(4, 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      var i = 0; while (i < 8) { p.out.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
      p.msg(7, kv("host", "h9"))
    }
    val metricPayload = new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, new W().msg(1, new W().str(1, "meter"))
        .msg(2, new W().str(1, "wire_cpu")
          .msg(5, new W().msg(1, gaugeAt(T0, 2.0))
            .msg(1, gaugeAt(T0 + 60_000_000_000L, 7.0))))))
      .out.toByteArray

    val dir = Files.createTempDirectory("grafte2erecv").toString
    val recv = new OtlpReceiver(spark, dir)
    val rport = recv.start()
    try {
      assert(post(s"http://127.0.0.1:$rport/v1/traces", tracePayload) == 200)
      assert(post(s"http://127.0.0.1:$rport/v1/logs", logPayload) == 200)
      assert(post(s"http://127.0.0.1:$rport/v1/metrics", metricPayload) == 200)
      // OTLP/HTTP's standard gzip content-encoding is transparent
      // (idempotent here: the duplicate log row doesn't change the
      // contains-assertions below)
      val gzBody = {
        val bo = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bo)
        g.write(logPayload); g.close(); bo.toByteArray
      }
      val gzConn = java.net.URI.create(s"http://127.0.0.1:$rport/v1/logs").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      gzConn.setRequestMethod("POST")
      gzConn.setDoOutput(true)
      gzConn.setRequestProperty("Content-Encoding", "gzip")
      val gzOs = gzConn.getOutputStream
      try gzOs.write(gzBody) finally gzOs.close()
      assert(gzConn.getResponseCode == 200)
      recv.flush()
    } finally recv.stop()

    // the streamed layouts serve all three query front-ends
    val spans = spark.read.parquet(s"$dir/spans")
    val logs = spark.read.parquet(s"$dir/logs")
      .withColumn("labels", map(lit("app"), element_at(col("attrs"), "app")))
      .select(col("ts_ns"), col("body"), col("labels"))
    val points = spark.read.parquet(s"$dir/points")
      .select("ts_us", "name", "labels", "value")

    // the receiver also maintained the compare() attr-count cube; its
    // merged counts replay exactly from the stored spans
    val cube = graft.traceql.TraceQL.attrCubeFrom(spark, s"$dir/cube")
    val fromCube = cube.df
      .groupBy("bucket_ns", "name", "kind", "status_code", "attr", "attr_value")
      .agg(sum("n").as("n")).collect()
      .map(r => r.toSeq.init :+ r.getLong(r.length - 1)).toSet
    val fromSpans = graft.traceql.TraceQL
      .compareAttrCounts(spans, Seq("name", "kind", "status_code"))
      .collect().map(_.toSeq).toSet
    assert(fromCube == fromSpans && fromCube.nonEmpty)

    val api = new HttpApi(logs, points, spans, cube = Some(cube))
    val port = api.start()
    try {
      val (c1, traces) = get(s"http://127.0.0.1:$port/api/search?q=" +
        java.net.URLEncoder.encode("""{ status = error }""", "UTF-8"))
      assert(c1 == 200 && traces.contains("\"rootTraceName\":\"listener-root\""))

      val (c2, logBody) = get(s"http://127.0.0.1:$port/loki/api/v1/query_range?query=" +
        java.net.URLEncoder.encode("""{app="wire"} | json | level = "error"""", "UTF-8"))
      assert(c2 == 200 && logBody.contains("wire-boom"))

      val (c3, metBody) = get(s"http://127.0.0.1:$port/api/v1/query_range?query=" +
        java.net.URLEncoder.encode("max_over_time(wire_cpu[1h])", "UTF-8") + "&step=3600")
      assert(c3 == 200 && metBody.contains("\"7.0\""))
    } finally api.stop()
  }

  test("OTLP/gRPC listener: collector-default transport -> streamed layout -> query APIs") {
    import graft.sources.OtlpReceiver
    import io.netty.bootstrap.Bootstrap
    import io.netty.buffer.Unpooled
    import io.netty.channel.{ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer}
    import io.netty.channel.nio.NioEventLoopGroup
    import io.netty.channel.socket.SocketChannel
    import io.netty.channel.socket.nio.NioSocketChannel
    import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2HeadersFrame, Http2MultiplexHandler, Http2StreamChannelBootstrap}

    /** Unary gRPC call over h2c prior knowledge: returns grpc-status. */
    def grpcCall(port: Int, path: String, msg: Array[Byte],
        gzip: Boolean = false): Int = {
      val group = new NioEventLoopGroup(1)
      try {
        val bs = new Bootstrap().group(group).channel(classOf[NioSocketChannel])
          .handler(new ChannelInitializer[SocketChannel] {
            override def initChannel(ch: SocketChannel): Unit = {
              ch.pipeline().addLast(
                Http2FrameCodecBuilder.forClient().build(),
                new Http2MultiplexHandler(new ChannelInboundHandlerAdapter()))
              ()
            }
          })
        val ch = bs.connect("127.0.0.1", port).sync().channel()
        val status = new java.util.concurrent.LinkedBlockingQueue[Integer]()
        val stream = new Http2StreamChannelBootstrap(ch)
          .handler(new ChannelInboundHandlerAdapter {
            override def channelRead(ctx: ChannelHandlerContext, m: AnyRef): Unit =
              m match {
                case h: Http2HeadersFrame =>
                  Option(h.headers().get("grpc-status"))
                    .foreach(s => status.put(s.toString.toInt))
                case d: Http2DataFrame => d.release(); ()
                case other => io.netty.util.ReferenceCountUtil.release(other); ()
              }
          })
          .open().sync().getNow
        val headers = new DefaultHttp2Headers()
        headers.method("POST").scheme("http").path(path)
          .authority(s"127.0.0.1:$port")
        headers.set("content-type", "application/grpc")
        headers.set("te", "trailers")
        if (gzip) headers.set("grpc-encoding", "gzip")
        stream.writeAndFlush(new DefaultHttp2HeadersFrame(headers, false))
        val payload =
          if (!gzip) msg
          else {
            val bo = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bo)
            g.write(msg); g.close(); bo.toByteArray
          }
        val framed = java.nio.ByteBuffer.allocate(5 + payload.length)
          .put(if (gzip) 1.toByte else 0.toByte)
          .putInt(payload.length).put(payload).array()
        stream.writeAndFlush(
          new DefaultHttp2DataFrame(Unpooled.wrappedBuffer(framed), true))
        val st = status.poll(15, java.util.concurrent.TimeUnit.SECONDS)
        ch.close().sync()
        assert(st != null, s"no grpc-status trailer for $path")
        st.intValue()
      } finally { group.shutdownGracefully(); () }
    }

    def span(tid: Long, sid: Long, parent: Option[Long], name: String,
        durNs: Long, status: Int): W = {
      val w = new W().bytes(1, tid16(tid)).bytes(2, sid8(sid))
      parent.foreach(p => w.bytes(4, sid8(p)))
      w.str(5, name).vint(6, 2)
        .fix64(7, T0).fix64(8, T0 + durNs)
        .msg(15, new W().vint(3, status))
    }
    val tracePayload = new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, new W().msg(1, new W().str(1, "lib"))
        .msg(2, span(0xDDL, 1, None, "grpc-root", 700000L, 0))
        .msg(2, span(0xDDL, 2, Some(1), "grpc-child", 90000L, 2))))
      .out.toByteArray
    val logPayload = new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, new W().msg(1, new W().str(1, "logger"))
        .msg(2, new W().fix64(1, T0).vint(2, 17)
          .msg(5, new W().str(1, """{"level":"error","msg":"grpc-boom"}"""))
          .msg(6, kv("app", "grpc")))))
      .out.toByteArray
    def gaugeAt(tsNs: Long, v: Double): W = {
      val p = new W().fix64(2, T0).fix64(3, tsNs)
      p.tag(4, 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      var i = 0; while (i < 8) { p.out.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
      p.msg(7, kv("host", "h2"))
    }
    val metricPayload = new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, new W().msg(1, new W().str(1, "meter"))
        .msg(2, new W().str(1, "grpc_cpu")
          .msg(5, new W().msg(1, gaugeAt(T0, 3.0))
            .msg(1, gaugeAt(T0 + 60_000_000_000L, 8.0))))))
      .out.toByteArray
    // classic-pprof-shaped profile (one stack)
    val strs = Seq("", "cpu", "main", "grpcwork")
    val profile = {
      val w = new W()
        .msg(1, new W().vint(1, 1L))
        .msg(2, new W().vint(1, 2L).vint(1, 1L).vint(2, 4L))
        .msg(4, new W().vint(1, 1L).msg(4, new W().vint(1, 1L)))
        .msg(4, new W().vint(1, 2L).msg(4, new W().vint(1, 2L)))
        .msg(5, new W().vint(1, 1L).vint(2, 2L))
        .msg(5, new W().vint(1, 2L).vint(2, 3L))
      strs.foreach(s => w.str(6, s))
      w.vint(9, T0)
      w
    }
    val profilePayload = new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, new W().msg(2, profile))).out.toByteArray

    val dir = Files.createTempDirectory("grafte2egrpc").toString
    val recv = new OtlpReceiver(spark, dir)
    recv.start()
    val gport = recv.startGrpc()
    try {
      val base = "/opentelemetry.proto.collector"
      assert(grpcCall(gport, s"$base.trace.v1.TraceService/Export",
        tracePayload) == 0)
      // gRPC's standard per-message gzip coding is transparent
      assert(grpcCall(gport, s"$base.logs.v1.LogsService/Export",
        logPayload, gzip = true) == 0)
      assert(grpcCall(gport, s"$base.metrics.v1.MetricsService/Export",
        metricPayload) == 0)
      assert(grpcCall(gport,
        s"$base.profiles.v1development.ProfilesService/Export",
        profilePayload) == 0)
      // unknown method -> UNIMPLEMENTED (12); malformed frame -> 3
      assert(grpcCall(gport, "/no.such.Service/Export", Array[Byte]()) == 12)
      recv.flush()
    } finally recv.stop()

    // every signal landed in its layout and serves its query front-end
    val spans = spark.read.parquet(s"$dir/spans")
    val err = graft.traceql.TraceQL.matchSpans("{ status = error }", spans)
      .select("name").collect().map(_.getString(0))
    assert(err.toSeq == Seq("grpc-child"))
    val logs = spark.read.parquet(s"$dir/logs")
      .withColumn("labels", map(lit("app"), element_at(col("attrs"), "app")))
      .select(col("ts_ns"), col("body"), col("labels"))
    val logHits = graft.logql.Planner.query(
      """{app="grpc"} | json | level = "error"""", logs)
      .select("body").collect().map(_.getString(0))
    assert(logHits.length == 1 && logHits(0).contains("grpc-boom"))
    val points = spark.read.parquet(s"$dir/points")
      .select("ts_us", "name", "labels", "value")
    val met = graft.promql.PromQL.range("max_over_time(grpc_cpu[1h])",
      points, Some(3600000000L))
      .agg(max("value")).collect()(0).getDouble(0)
    assert(met == 8.0)
    val profs = spark.read.parquet(s"$dir/profiles")
      .select("name", "stack", "value").collect()
      .map(r => (r.getString(0), r.getSeq[String](1).toSeq, r.getLong(2)))
    assert(profs.toSeq == Seq(("cpu", Seq("main", "grpcwork"), 4L)))
  }

  test("profiles: pprof wire -> /v1development/profiles -> layout -> render") {
    import graft.sources.OtlpReceiver
    def postBytes(url: String, body: Array[Byte]): Int = {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-protobuf")
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
      conn.getResponseCode
    }
    def get(url: String): (Int, String) = {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val b = new String(is.readAllBytes(), "UTF-8")
      is.close()
      (code, b)
    }

    // string table: pprof index 0 is ""; functions/locations 1:1
    val strs = Seq("", "cpu", "main", "handler", "parse", "svc", "api")
    def vt(typeIdx: Int): W = new W().vint(1, typeIdx.toLong) // ValueType
    def fn(id: Int, nameIdx: Int): W = new W().vint(1, id.toLong).vint(2, nameIdx.toLong)
    def loc(id: Int, fnId: Int): W =
      new W().vint(1, id.toLong).msg(4, new W().vint(1, fnId.toLong))
    // samples: leaf-first location ids (pprof convention)
    val sample1 = new W().vint(1, 3L).vint(1, 2L).vint(1, 1L).vint(2, 5L)
      .msg(3, new W().vint(1, 5L).vint(2, 6L)) // svc=api sample label
    val sample2 = new W().vint(1, 2L).vint(1, 1L).vint(2, 3L)
      .msg(3, new W().vint(1, 5L).vint(2, 6L))
    val profile = {
      val w = new W()
        .msg(1, vt(1))          // sample_type = cpu
        .msg(2, sample1).msg(2, sample2)
        .msg(4, loc(1, 1)).msg(4, loc(2, 2)).msg(4, loc(3, 3))
        .msg(5, fn(1, 2)).msg(5, fn(2, 3)).msg(5, fn(3, 4))
      strs.foreach(s => w.str(6, s))
      w.vint(9, T0)             // time_nanos
      w
    }
    val payload = new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, new W().msg(2, profile))).out.toByteArray

    val dir = Files.createTempDirectory("grafte2eprof").toString
    val recv = new OtlpReceiver(spark, dir)
    val rport = recv.start()
    try {
      assert(postBytes(
        s"http://127.0.0.1:$rport/v1development/profiles", payload) == 200)
      recv.flush()
    } finally recv.stop()

    val stored = spark.read.parquet(s"$dir/profiles")
    val rows = stored.orderBy(col("value").desc)
      .select("name", "stack", "value").collect()
      .map(r => (r.getString(0), r.getSeq[String](1), r.getLong(2)))
    // leaf-first wire stacks arrive root-first in the layout
    assert(rows.toSeq == Seq(
      ("cpu", Seq("main", "handler", "parse"), 5L),
      ("cpu", Seq("main", "handler"), 3L)))

    // flame render over the streamed layout
    val profs = stored.select("ts_us", "name", "labels", "stack", "value")
    val api = new HttpApi(spark.emptyDataFrame, spark.emptyDataFrame,
      spark.emptyDataFrame, profiles = Some(profs))
    val port = api.start()
    try {
      val (c, fb) = get(
        s"""http://127.0.0.1:$port/pyroscope/render?query=${java.net.URLEncoder
          .encode("""cpu{svc="api"}""", "UTF-8")}""")
      assert(c == 200)
      assert(fb.contains(""""names":["total","main","handler","parse"]"""))
      assert(fb.contains(""""numTicks":8"""))
    } finally api.stop()
  }

  test("pyroscope push: collapsed format -> /pyroscope/ingest -> layout") {
    import graft.sources.OtlpReceiver
    def post(url: String, body: String): Int = {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(body.getBytes(UTF_8)) finally os.close()
      conn.getResponseCode
    }
    val dir = Files.createTempDirectory("grafte2epyro").toString
    val recv = new OtlpReceiver(spark, dir)
    val rport = recv.start()
    try {
      val name = java.net.URLEncoder.encode("""myapp.cpu{env="prod"}""", "UTF-8")
      val code = post(
        s"http://127.0.0.1:$rport/pyroscope/ingest?name=$name&from=1704103200",
        "main;handler;parse 5\nmain;handler 3\n")
      assert(code == 200)
      // missing name is a typed 400 at the edge
      assert(post(s"http://127.0.0.1:$rport/pyroscope/ingest?from=1", "x 1") == 400)
      recv.flush()
    } finally recv.stop()

    val rows = spark.read.parquet(s"$dir/profiles")
      .orderBy(col("value").desc)
      .collect()
      .map(r => (r.getAs[String]("name"),
        r.getAs[scala.collection.Map[String, String]]("labels").get("env"),
        r.getAs[scala.collection.Seq[String]]("stack").toSeq,
        r.getAs[Long]("value")))
    assert(rows.toSeq == Seq(
      ("myapp.cpu", Some("prod"), Seq("main", "handler", "parse"), 5L),
      ("myapp.cpu", Some("prod"), Seq("main", "handler"), 3L)))
  }

  test("loki push: JSON streams -> /loki/api/v1/push -> layout -> LogQL") {
    import graft.sources.OtlpReceiver
    def post(url: String, body: String): Int = {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      val os = conn.getOutputStream
      try os.write(body.getBytes(UTF_8)) finally os.close()
      conn.getResponseCode
    }

    // promtail-shaped body: ns timestamps as strings, one stream per
    // label set (the reference declines this endpoint; we ingest it);
    // the error line carries per-entry STRUCTURED METADATA as the
    // optional third element (Loki ≥2.9 push contract)
    val body =
      s"""{"streams":[
         |  {"stream":{"app":"push","job":"svc"},
         |   "values":[["$T0","error: push-boom",{"trace_hint":"t-42","pod":"api-0"}],
         |             ["${T0 + 1000000L}","status=ok"]]},
         |  {"stream":{"app":"other","job":"svc"},
         |   "values":[["${T0 + 2000000L}","fine"]]}
         |]}""".stripMargin

    // promtail's DEFAULT encoding: snappy-compressed logproto
    // PushRequest (labels string + Timestamp entries + field-3
    // structuredMetadata LabelPairAdapter), no Content-Encoding
    // header on the wire
    val protoReq = new W().msg(1, new W()
      .str(1, """{app="pushproto", job="svc"}""")
      .msg(2, new W()
        .msg(1, new W().vint(1, T0 / 1000000000L).vint(2, 500L))
        .str(2, "proto line ok")
        .msg(3, new W().str(1, "pod").str(2, "api-7")))).out.toByteArray

    val dir = Files.createTempDirectory("grafte2epush").toString
    val recv = new OtlpReceiver(spark, dir)
    val rport = recv.start()
    try {
      assert(post(s"http://127.0.0.1:$rport/loki/api/v1/push", body) == 200)
      val conn = java.net.URI.create(
        s"http://127.0.0.1:$rport/loki/api/v1/push").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-protobuf")
      val os = conn.getOutputStream
      try os.write(graft.sources.Snappy.encodeLiteral(protoReq))
      finally os.close()
      assert(conn.getResponseCode == 200)
      recv.flush()
    } finally recv.stop()

    val stored = spark.read.parquet(s"$dir/logs")
    // severity deduced at ingest; service_name falls back to the job label
    assert(stored.filter(col("body") === "error: push-boom")
      .select("severity_text", "service_name").collect().map(r =>
        (r.getString(0), r.getString(1))).toSeq == Seq(("ERROR", "svc")))
    // the snappy-proto frame landed with its parsed labels + exact ts,
    // and its field-3 structured metadata surfaced as a label
    assert(stored.filter(col("body") === "proto line ok")
      .select(col("ts_ns"), element_at(col("attrs"), "app"),
        element_at(col("attrs"), "pod"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq == Seq((T0 + 500L, "pushproto", "api-7")))
    // JSON third-element metadata: entry-scoped (only the error line),
    // stream labels intact on the entry WITHOUT metadata
    assert(stored.filter(col("body") === "error: push-boom")
      .select(element_at(col("attrs"), "trace_hint"),
        element_at(col("attrs"), "pod"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("t-42", "api-0")))
    assert(stored.filter(col("body") === "status=ok")
      .select(element_at(col("attrs"), "pod"),
        element_at(col("attrs"), "app"))
      .collect().map(r => (Option(r.getString(0)), r.getString(1))).toSeq ==
      Seq((None, "push")))

    val logs = stored
      .withColumn("labels", map_filter(
        map(lit("app"), element_at(col("attrs"), "app"),
          lit("pod"), element_at(col("attrs"), "pod")),
        (_, v) => v.isNotNull))
      .select(col("ts_ns"), col("body"), col("labels"))
    val out = graft.logql.Planner.query(
      """{app="push"} |= "boom"""", logs)
      .select("body").collect().map(_.getString(0))
    assert(out.toSeq == Seq("error: push-boom"))
    // structured metadata is queryable as an ordinary LogQL label
    val byPod = graft.logql.Planner.query(
      """{pod="api-7"}""", logs)
      .select("body").collect().map(_.getString(0))
    assert(byPod.toSeq == Seq("proto line ok"))
  }

  test("remote-write: snappy wire frame -> /api/v1/write -> PromQL range") {
    import graft.sources.{OtlpReceiver, Snappy}

    def post(url: String, body: Array[Byte], encoding: Option[String]): Int = {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-protobuf")
      encoding.foreach(conn.setRequestProperty("Content-Encoding", _))
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
      conn.getResponseCode
    }
    def get(url: String): (Int, String) = {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = new String(is.readAllBytes(), "UTF-8")
      is.close()
      (code, body)
    }

    // prompb WriteRequest: Sample.value is double field 1, ts ms field 2
    def label(n: String, v: String): W = new W().str(1, n).str(2, v)
    def sample(v: Double, tsMs: Long): W =
      new W().fix64(1, java.lang.Double.doubleToLongBits(v)).vint(2, tsMs)
    val t0ms = T0 / 1000000L
    // exemplar: trace link labels + value/ts (prompb Exemplar 1/2/3)
    val exemplar = new W()
      .msg(1, label("trace_id", "abcd1234"))
      .fix64(2, java.lang.Double.doubleToLongBits(5.5)).vint(3, t0ms + 30000L)
    val frame1 = new W().msg(1, new W()
      .msg(1, label("__name__", "rw_requests_total"))
      .msg(1, label("job", "api")).msg(1, label("instance", "i1"))
      .msg(2, sample(1.0, t0ms)).msg(2, sample(6.0, t0ms + 60000L))
      .msg(3, exemplar))
      .out.toByteArray
    val frame2 = new W().msg(1, new W()
      .msg(1, label("__name__", "rw_requests_total"))
      .msg(1, label("job", "api")).msg(1, label("instance", "i2"))
      .msg(2, sample(3.0, t0ms)))
      .out.toByteArray

    val dir = Files.createTempDirectory("grafte2erw").toString
    val recv = new OtlpReceiver(spark, dir)
    val rport = recv.start()
    try {
      val url = s"http://127.0.0.1:$rport/api/v1/write"
      // spec-compliant producer: snappy body + Content-Encoding header
      assert(post(url, Snappy.encodeLiteral(frame1), Some("snappy")) == 200)
      // headerless producer: remote-write bodies default to snappy
      assert(post(url, Snappy.encodeLiteral(frame2), None) == 200)
      // corrupt frame is rejected at the edge, not poisoned downstream
      assert(post(url, Array[Byte](99, 1, 2), Some("snappy")) == 400)
      // unknown content-encoding is a 400, not a silent mis-decode
      assert(post(url, frame2, Some("br")) == 400)
      recv.flush()
    } finally recv.stop()

    import spark.implicits._
    val points = spark.read.parquet(s"$dir/points")
      .select("ts_us", "name", "labels", "value")
    // logs/spans are out of scope here: minimal valid frames
    val logsDf = Seq((T0, "ok", Map("app" -> "x")))
      .toDF("ts_ns", "body", "labels")
    val spansDf = Seq((1L, 1L, None: Option[Long], "op", T0, 100L,
      Map("service.name" -> "x")))
      .toDF("trace_id", "span_id", "parent_span_id", "name", "start_ns",
        "duration_ns", "attrs")
    val exemplarsDf = spark.read.parquet(s"$dir/exemplars")
      .select("ts_us", "name", "labels", "exemplar_labels", "value")
    val api = new HttpApi(logsDf, points, spansDf,
      exemplars = Some(exemplarsDf))
    val port = api.start()
    try {
      val (code, body) = get(s"http://127.0.0.1:$port/api/v1/query_range?query=" +
        java.net.URLEncoder.encode("max_over_time(rw_requests_total[1h])", "UTF-8") +
        "&step=3600")
      assert(code == 200 && body.contains("\"6.0\"") && body.contains("\"3.0\""),
        s"range over remote-written series:\n$body")
      val (ec, ebody) = get(s"http://127.0.0.1:$port/api/v1/query_exemplars?query=" +
        java.net.URLEncoder.encode("rw_requests_total", "UTF-8"))
      assert(ec == 200 && ebody.contains("abcd1234") && ebody.contains("5.5"),
        s"exemplars from the remote-write path:\n$ebody")
    } finally api.stop()
  }

  test("remote-write: the exemplar sink committing first loses no points") {
    import graft.sources.{Admission, OtlpReceiver, Snappy}
    def post(url: String, body: Array[Byte]): Int = {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-protobuf")
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
      conn.getResponseCode
    }
    def label(n: String, v: String): W = new W().str(1, n).str(2, v)
    def bits(v: Double): Long = java.lang.Double.doubleToLongBits(v)
    val t0ms = T0 / 1000000L
    // one sample and one exemplar per payload, each on its own series
    def frame(i: Int): Array[Byte] = Snappy.encodeLiteral(new W().msg(1, new W()
      .msg(1, label("__name__", "rw_order_total"))
      .msg(1, label("instance", s"i$i"))
      .msg(2, new W().fix64(1, bits(i.toDouble)).vint(2, t0ms + i * 1000L))
      .msg(3, new W().msg(1, label("trace_id", f"$i%08x"))
        .fix64(2, bits(i + 0.5)).vint(3, t0ms + i * 1000L)))
      .out.toByteArray)
    val n = 16
    val dir = Files.createTempDirectory("grafte2erwex").toString
    // a series budget gives the points sink a lock the test can hold
    val recv = new OtlpReceiver(spark, dir,
      limits = Admission.LimitsConfig(maxSeries = 1000L))
    val rport = recv.start()
    def sink(signal: String) = recv.sinkSignals.collectFirst {
      case (id, `signal`) => spark.streams.get(id)
    }.get
    val url = s"http://127.0.0.1:$rport/api/v1/write"
    try {
      recv.seriesBudget.synchronized {
        // the points sink takes payload 0 and parks in its series
        // admission (its batch's offsets are fixed by then)...
        assert(post(url, frame(0)) == 200)
        val pointsQ = sink("points")
        var busySince = 0L
        val deadline = System.nanoTime() + 30000000000L
        while ((busySince == 0L || System.nanoTime() - busySince < 500000000L) &&
            System.nanoTime() < deadline) {
          val active = pointsQ.status.isTriggerActive && pointsQ.status.isDataAvailable
          if (!active) busySince = 0L
          else if (busySince == 0L) busySince = System.nanoTime()
          Thread.sleep(20)
        }
        assert(busySince != 0L, "points sink never picked up payload 0")
        // ...while the exemplar sink runs two more batches: a source
        // offset is committed when the NEXT batch starts, so the second
        // batch commits every payload the points sink has not read yet
        (1 until n).foreach(i => assert(post(url, frame(i)) == 200))
        sink("exemplars").processAllAvailable()
        assert(post(url, frame(n)) == 200)
        sink("exemplars").processAllAvailable()
      }
      recv.flush()
      // a payload's bytes release once BOTH sinks committed it (the
      // progress events that carry the commits are asynchronous)
      val deadline = System.nanoTime() + 10000000000L
      while (recv.inFlightBytes != 0 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(recv.inFlightBytes == 0L)
    } finally recv.stop()
    val points = spark.read.parquet(s"$dir/points")
      .filter(col("name") === "rw_order_total")
      .select(col("labels")("instance"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(points == (0 to n).map(i => s"i$i" -> i.toDouble).toMap)
    val exemplars = spark.read.parquet(s"$dir/exemplars")
      .select(col("value")).collect().map(_.getDouble(0)).sorted.toSeq
    assert(exemplars == (0 to n).map(_ + 0.5))
  }

  test("admin storage_maintain pre-merges the cold sidecar partials; answers unchanged") {
    import graft.sources.{OtlpReceiver, Snappy}
    def post(url: String, body: Array[Byte], ct: String,
        enc: Option[String] = None): (Int, String) = {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", ct)
      enc.foreach(conn.setRequestProperty("Content-Encoding", _))
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val b = new String(Option(is).map(_.readAllBytes()).getOrElse(Array.empty), "UTF-8")
      Option(is).foreach(_.close())
      (code, b)
    }
    def label(n: String, v: String): W = new W().str(1, n).str(2, v)
    def sample(v: Double, tsMs: Long): W =
      new W().fix64(1, java.lang.Double.doubleToLongBits(v)).vint(2, tsMs)
    val t0ms = T0 / 1000000L // 2024-01-01T10:00Z — cold vs "now"
    def rwFrame(v: Double, off: Long) = Snappy.encodeLiteral(
      new W().msg(1, new W()
        .msg(1, label("__name__", "mtn_m")).msg(1, label("job", "api"))
        .msg(2, sample(v, t0ms + off))).out.toByteArray)
    def lokiBody(line: String, offNs: Long) =
      (s"""{"streams":[{"stream":{"app":"m"},"values":""" +
        s"""[["${T0 + offNs}","$line"]]}]}""").getBytes("UTF-8")

    val dir = Files.createTempDirectory("grafte2emaint").toString
    val recv = new OtlpReceiver(spark, dir)
    val rport = recv.start()
    val aport = recv.startAdmin()
    try {
      // TWO ingest batches per signal -> two additive partial row-sets
      // for the same hour in each sidecar
      assert(post(s"http://127.0.0.1:$rport/api/v1/write", rwFrame(2.0, 600000L),
        "application/x-protobuf", Some("snappy"))._1 == 200)
      recv.flush()
      assert(post(s"http://127.0.0.1:$rport/api/v1/write", rwFrame(4.0, 1200000L),
        "application/x-protobuf", Some("snappy"))._1 == 200)
      assert(post(s"http://127.0.0.1:$rport/loki/api/v1/push",
        lokiBody("a line", 1000L), "application/json")._1 < 300)
      recv.flush()
      assert(post(s"http://127.0.0.1:$rport/loki/api/v1/push",
        lokiBody("b line", 2000L), "application/json")._1 < 300)
      recv.flush()

      def rollupRows = spark.read.parquet(s"$dir/rollup").count()
      def volRows = spark.read.parquet(s"$dir/logvolume").count()
      def tierAnswer = {
        val tiers = graft.promql.PromQL.tiersFromLayout(spark, s"$dir/rollup")
        graft.promql.PromQL.instantTierPlan("avg_over_time(mtn_m[1h])",
          T0 / 1000L + 3600000000L, tiers).get
          .collect().map(r => (r.getAs[Map[String, String]](1), r.getDouble(2)))
          .toSeq
      }
      assert(rollupRows == 2, s"expected two partial rows, got $rollupRows")
      assert(volRows >= 2)
      val before = tierAnswer
      assert(before.map(_._2) == Seq(3.0))

      val (mc, msg) = post(
        s"http://127.0.0.1:$aport/api/v1/actions/storage_maintain",
        Array.empty, "application/json")
      assert(mc == 200 && msg.contains("rollup/date=") &&
        msg.contains("logvolume/date="), s"body: $msg")
      assert(rollupRows == 1, "partials must pre-merge to vocabulary scale")
      assert(volRows == 1)
      assert(tierAnswer == before, "tier answers must be identical post-merge")

      // idempotent: a second run finds nothing structural to redo and
      // answers stay put (it may rewrite, but content is stable)
      val (mc2, _) = post(
        s"http://127.0.0.1:$aport/api/v1/actions/storage_maintain",
        Array.empty, "application/json")
      assert(mc2 == 200 && tierAnswer == before)
    } finally recv.stop()
  }

  test("maintainStorage applies the age-tiered policy once per band and the TTL horizon") {
    import graft.sources.{OtlpReceiver, Snappy, StoragePolicy}
    def post(url: String, body: Array[Byte]): Int = {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-protobuf")
      conn.setRequestProperty("Content-Encoding", "snappy")
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
      conn.getResponseCode
    }
    def label(n: String, v: String): W = new W().str(1, n).str(2, v)
    def sample(v: Double, tsMs: Long): W =
      new W().fix64(1, java.lang.Double.doubleToLongBits(v)).vint(2, tsMs)
    val t0ms = T0 / 1000000L // 2024-01-01T10:00Z
    val dayMs = 86400000L
    // day 0 (2024-01-01): two samples in one hour -> downsample target;
    // day 12 (2024-01-13): one sample -> past the TTL horizon later
    val frame = Snappy.encodeLiteral(new W()
      .msg(1, new W()
        .msg(1, label("__name__", "pol_m")).msg(1, label("job", "api"))
        .msg(2, sample(1.0, t0ms + 60000L))
        .msg(2, sample(9.0, t0ms + 120000L))
        .msg(2, sample(5.0, t0ms + 12 * dayMs)))
      .out.toByteArray)

    val dir = Files.createTempDirectory("grafte2epolicy").toString
    val policy = StoragePolicy.Policy(
      downsample = Seq(StoragePolicy.DownsampleTier(
        afterDays = 2, intervalUs = 3600000000L, agg = "last")))
    val recv = new OtlpReceiver(spark, dir, storagePolicy = Some(policy),
      retentionDays = 10)
    try {
      val rport = recv.start()
      assert(post(s"http://127.0.0.1:$rport/api/v1/write", frame) == 200)
      recv.flush()

      // a crash window mid-replay (raw committed, rollup marker
      // missing) must POSTPONE the raw compaction: merging the tagged
      // batch files away would make the sidecar replay read nothing
      val rollupMarker = new java.io.File(s"$dir/rollup/_committed_0")
      assert(rollupMarker.exists())
      assert(rollupMarker.delete())
      val mBlocked = recv.maintainStorage(nowDate = "20240103")
      assert(!mBlocked.contains("points/date="), s"msg: $mBlocked")
      assert(rollupMarker.createNewFile())

      // "now" = 2024-01-14: day 0 is 13 days old (downsample band AND
      // past the 10-day TTL? no — TTL horizon keeps days > now-10 =
      // 2024-01-04 .. so day 0 DROPS; use now=2024-01-03 first to see
      // the downsample, then age to 2024-01-14 for the TTL)
      val m1 = recv.maintainStorage(nowDate = "20240103")
      assert(m1.contains("points/date=20240101") && m1.contains("@band"),
        s"msg: $m1")
      val day0 = spark.read.parquet(s"$dir/points")
        .filter(col("ts_us") < (T0 / 1000L) + 86400000000L)
      // two same-hour samples -> ONE last representative (value 9.0)
      assert(day0.count() == 1 && day0.head().getAs[Double]("value") == 9.0)
      // second run at the same age: band marker short-circuits
      val m2 = recv.maintainStorage(nowDate = "20240103")
      assert(!m2.contains("points/date=20240101"), s"msg: $m2")
      // aged past the horizon: the partition drops whole
      val m3 = recv.maintainStorage(nowDate = "20240114")
      assert(m3.contains("ttl dropped points/date=20240101"), s"msg: $m3")
      assert(!new java.io.File(s"$dir/points/date=20240101").exists())
      // the in-horizon day survives
      assert(new java.io.File(s"$dir/points/date=20240113").exists())
    } finally recv.stop()
  }

  test("tier serving: ingested points -> rollup sidecar -> HTTP range with no raw scan") {
    import graft.sources.{OtlpReceiver, Snappy}
    def post(url: String, body: Array[Byte]): Int = {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-protobuf")
      conn.setRequestProperty("Content-Encoding", "snappy")
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
      conn.getResponseCode
    }
    def get(url: String): (Int, String) = {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = new String(is.readAllBytes(), "UTF-8")
      is.close()
      (code, body)
    }
    def label(n: String, v: String): W = new W().str(1, n).str(2, v)
    def sample(v: Double, tsMs: Long): W =
      new W().fix64(1, java.lang.Double.doubleToLongBits(v)).vint(2, tsMs)
    val t0ms = T0 / 1000000L // 2024-01-01T10:00Z
    val frame = new W().msg(1, new W()
      .msg(1, label("__name__", "tiered_m")).msg(1, label("job", "api"))
      .msg(2, sample(2.0, t0ms + 600000L)) // 10:10
      .msg(2, sample(4.0, t0ms + 1200000L))) // 10:20
      .out.toByteArray

    val dir = Files.createTempDirectory("grafte2etier").toString
    val recv = new OtlpReceiver(spark, dir)
    val rport = recv.start()
    try {
      assert(post(s"http://127.0.0.1:$rport/api/v1/write",
        Snappy.encodeLiteral(frame)) == 200)
      recv.flush()
    } finally recv.stop()

    import spark.implicits._
    val points = spark.read.parquet(s"$dir/points")
      .select("ts_us", "name", "labels", "value")
    val tiers = graft.promql.PromQL.tiersFromLayout(spark, s"$dir/rollup")
    assert(tiers.keySet == Set(3600000000L, 6 * 3600000000L))
    val logsDf = Seq((T0, "ok", Map("app" -> "x"))).toDF("ts_ns", "body", "labels")
    val spansDf = Seq((1L, 1L, None: Option[Long], "op", T0, 100L,
      Map("service.name" -> "x")))
      .toDF("trace_id", "span_id", "parent_span_id", "name", "start_ns",
        "duration_ns", "attrs")
    // the NO-RAW-SCAN proof: the tier-backed API gets an EMPTY points
    // frame — any correct answer can only have come from the sidecar
    val apiTier = new HttpApi(logsDf, points.limit(0), spansDf, tiers = tiers)
    val apiRaw = new HttpApi(logsDf, points, spansDf)
    val pTier = apiTier.start(); val pRaw = apiRaw.start()
    try {
      val q = java.net.URLEncoder.encode("avg_over_time(tiered_m[1h])", "UTF-8")
      val sec11 = T0 / 1000000000L + 3600 // 11:00Z, hour-aligned
      val params = s"query=$q&start=$sec11&end=$sec11&step=3600"
      val (c1, tierBody) = get(s"http://127.0.0.1:$pTier/api/v1/query_range?$params")
      assert(c1 == 200 && tierBody.contains("\"3.0\"") &&
        tierBody.contains("\"job\":\"api\""),
        s"tier-served range over ingested points:\n$tierBody")
      // the tier answer is byte-identical to the raw-path evaluation
      val (c2, rawBody) = get(s"http://127.0.0.1:$pRaw/api/v1/query_range?$params")
      assert(c2 == 200 && tierBody == rawBody,
        s"tier:\n$tierBody\nraw:\n$rawBody")
      // an unaligned step cannot tile from hour buckets: the tier API
      // falls back to its (empty) raw points — proves the fallback seam
      val (c3, fb) = get(s"http://127.0.0.1:$pTier/api/v1/query_range" +
        s"?query=$q&start=$sec11&end=$sec11&step=100")
      assert(c3 == 200 && !fb.contains("3.0"), s"fallback body:\n$fb")
      // instant rides the tiers too
      val (c4, inst) = get(s"http://127.0.0.1:$pTier/api/v1/query" +
        s"?query=$q&time=$sec11")
      assert(c4 == 200 && inst.contains("\"3.0\""), s"instant body:\n$inst")
    } finally { apiTier.stop(); apiRaw.stop() }
  }
}
