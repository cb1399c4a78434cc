package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{Admission, OtlpReceiver}

/** Admission control (the reference's LimitsConfig,
  * storage_policy.go:82-101): over-budget load sheds LOSSLESSLY —
  * clients see OTLP partial success / 429 / grpc-status 8 and retry —
  * new-series past the soft budget route to the per-metric overflow
  * series, past the hard ceiling they shed, and oversized frames fail
  * typed at the edge instead of exhausting memory.
  */
class AdmissionSpec extends SparkTestBase {

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

  private val T0 = 1704103200000000000L // 2024-01-01T10:00Z

  private def logPayload(i: Int): Array[Byte] =
    new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, new W().msg(1, new W().str(1, "logger"))
        .msg(2, new W().fix64(1, T0 + i * 1000000L).vint(2, 9)
          .msg(5, new W().str(1, s"admission line $i"))
          .msg(6, kv("app", "adm")))))
      .out.toByteArray

  private def gaugePayload(name: String, host: String, v: Double): Array[Byte] = {
    val p = new W().fix64(2, T0).fix64(3, T0)
    p.tag(4, 1)
    val bits = java.lang.Double.doubleToLongBits(v)
    var i = 0; while (i < 8) { p.out.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
    p.msg(7, kv("host", host))
    new W().msg(1, new W()
      .msg(1, new W().msg(1, kv("service.name", "api")))
      .msg(2, new W().msg(1, new W().str(1, "meter"))
        .msg(2, new W().str(1, name).msg(5, new W().msg(1, p)))))
      .out.toByteArray
  }

  private def post(url: String, body: Array[Byte],
      headers: Map[String, String] = Map.empty): (Int, Array[Byte]) = {
    val conn = java.net.URI.create(url).toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/x-protobuf")
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    val os = conn.getOutputStream
    try os.write(body) finally os.close()
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    (code, Option(is).map(_.readAllBytes()).getOrElse(Array.emptyByteArray))
  }

  /** Decode an Export*ServiceResponse partial_success envelope. */
  private def parsePartial(b: Array[Byte]): (Long, String) = {
    var i = 0
    def varint(): Long = {
      var v = 0L; var s = 0; var more = true
      while (more) { val x = b(i) & 0xff; i += 1; v |= (x & 0x7fL) << s; s += 7; more = (x & 0x80) != 0 }
      v
    }
    assert(varint() == 0x0aL, "expected partial_success field 1")
    val end = i + varint().toInt
    var rejected = 0L; var msg = ""
    while (i < end) varint() match {
      case 0x08L => rejected = varint()
      case 0x12L =>
        val l = varint().toInt; msg = new String(b, i, l, UTF_8); i += l
      case t => fail(s"unexpected partial_success tag $t")
    }
    (rejected, msg)
  }

  test("token bucket: one second of burst, deterministic refill") {
    var now = 0L
    val tb = new Admission.TokenBucket(1000L, () => now)
    assert(tb.tryAcquire(800)) // burst capacity = 1s of budget
    assert(!tb.tryAcquire(300)) // only 200 left
    now = 100000000L // +0.1s → +100 tokens
    assert(tb.tryAcquire(300))
    assert(!tb.tryAcquire(1))
    now = 2000000000L // long idle: capacity caps at 1s of budget
    assert(tb.tryAcquire(1000) && !tb.tryAcquire(1))
    // unlimited
    assert(new Admission.TokenBucket(0L).tryAcquire(Long.MaxValue))
  }

  test("in-flight tracker: exact enqueue/release ledger with shared total") {
    val total = new java.util.concurrent.atomic.AtomicLong
    val a = new Admission.InFlightTracker(100L, total)
    val b = new Admission.InFlightTracker(100L, total)
    assert(a.tryEnqueue(40, 0L) && b.tryEnqueue(40, 0L))
    assert(!a.tryEnqueue(30, 1L)) // 80 + 30 > 100, shared cap
    a.releaseUpTo(0L)
    assert(total.get() == 40L)
    assert(a.tryEnqueue(30, 1L) && total.get() == 70L)
    b.releaseUpTo(5L)
    a.releaseUpTo(5L)
    assert(total.get() == 0L)
  }

  test("partial-success envelope round-trips through a protobuf reader") {
    val (n, msg) = parsePartial(Admission.partialSuccess(7, "over budget"))
    assert(n == 7L && msg == "over budget")
  }

  test("bounded decompression fails typed past the cap") {
    val big = Array.fill[Byte](10000)(7)
    val gz = { val bo = new ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo); g.write(big); g.close()
      bo.toByteArray }
    intercept[Admission.ResourceExhausted](Admission.gunzipBounded(gz, 1000))
    assert(Admission.gunzipBounded(gz, 20000).length == 10000)
    // snappy: declared length checked BEFORE allocation
    val declared4g = Array[Byte](0x80.toByte, 0x80.toByte, 0x80.toByte,
      0x80.toByte, 0x10) // varint 2^32
    intercept[Admission.ResourceExhausted](
      Admission.snappyBounded(declared4g, 1000))
  }

  test("series budget: admit under soft, overflow to per-metric series, shed past hard") {
    import spark.implicits._
    val mkLabels = (h: String) => Map("host" -> h)
    val batch1 = Seq(
      (1000000L, "cpu", mkLabels("h1"), 1.0),
      (1000000L, "cpu", mkLabels("h2"), 2.0)).toDF("ts_us", "name", "labels", "value")
    val budget = new Admission.SeriesBudget(3, 2)
    assert(budget.admit(batch1).count() == 2) // both under soft
    // h3 is the 3rd series: past soft → overflow series minted (hard
    // has room); h4 rides the existing overflow series
    val batch2 = Seq(
      (2000000L, "cpu", mkLabels("h1"), 3.0), // existing: unaffected
      (2000000L, "cpu", mkLabels("h3"), 4.0),
      (2000000L, "cpu", mkLabels("h4"), 5.0)).toDF("ts_us", "name", "labels", "value")
    val out2 = budget.admit(batch2)
      .select(col("value"), map_contains_key(col("labels"), "__series_overflow__").as("ovf"))
      .collect().map(r => (r.getDouble(0), r.getBoolean(1))).sortBy(_._1)
    assert(out2.toSeq == Seq((3.0, false), (4.0, true), (5.0, true)))
    assert(budget.stats.overflowSeries.get() == 1L)
    // hard ceiling reached (h1, h2, cpu-overflow): a new METRIC's new
    // series has no overflow room left → shed
    val batch3 = Seq(
      (3000000L, "mem", mkLabels("h9"), 6.0),
      (3000000L, "mem", mkLabels("h9"), 7.0)).toDF("ts_us", "name", "labels", "value")
    assert(budget.admit(batch3).count() == 0)
    assert(budget.stats.shedSamples.get() == 2L)
    assert(budget.stats.activeSeries.get() == 3L)
  }

  test("series budget rebuilds from the stored layout: replay re-derives identical decisions") {
    import spark.implicits._
    val mkLabels = (h: String) => Map("host" -> h)
    val stored = Seq(
      (1000000L, "cpu", mkLabels("h1"), 1.0),
      (1000000L, "cpu", mkLabels("h2"), 2.0)).toDF("ts_us", "name", "labels", "value")
    val replay = Seq(
      (2000000L, "cpu", mkLabels("h1"), 3.0), // known after rebuild
      (2000000L, "cpu", mkLabels("h3"), 4.0), // past soft → overflow
      (2000000L, "mem", mkLabels("h9"), 5.0)) // past hard → shed
      .toDF("ts_us", "name", "labels", "value")
    def decisions(b: Admission.SeriesBudget): Seq[(Double, Boolean)] =
      b.admit(replay)
        .select(col("value"),
          map_contains_key(col("labels"), "__series_overflow__").as("ovf"))
        .collect().map(r => (r.getDouble(0), r.getBoolean(1))).sortBy(_._1).toSeq
    // original process: admits the stored series, then decides replay
    val orig = new Admission.SeriesBudget(3, 2)
    assert(orig.admit(stored).count() == 2)
    val before = decisions(orig)
    // restart: fresh budget, state rebuilt from what the layout holds
    val restarted = new Admission.SeriesBudget(3, 2)
    restarted.rebuildFrom(stored)
    assert(restarted.stats.activeSeries.get() == 2L)
    assert(decisions(restarted) == before)
    assert(before == Seq((3.0, false), (4.0, true)))
    assert(restarted.stats.shedSamples.get() == 1L)
    // WITHOUT the rebuild the ceiling resets: h3 re-admits as a plain
    // series and mem/h9 survives via a fresh overflow series — the
    // cardinality overshoot the restart path must prevent
    val amnesiac = new Admission.SeriesBudget(3, 2)
    assert(decisions(amnesiac) == Seq((3.0, false), (4.0, false), (5.0, true)))
  }

  test("HTTP edge: rate shed = OTLP partial success; oversized body = 413; remote-write = 429") {
    val payload = logPayload(0)
    val dir = Files.createTempDirectory("graftadm1").toString
    // the bucket's clock stands still unless the test advances it, so
    // the burst cannot refill however slow the POSTs are
    val clockNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val recv = new OtlpReceiver(spark, dir, Admission.LimitsConfig(
      ingestBytesPerSecond = math.max(220L, payload.length * 2L + 20L),
      maxBodyBytes = 4096), nowNs = () => clockNs.get())
    val port = recv.start()
    try {
      // burst admits two, third sheds: 200 + partial success naming
      // every rejected log record, nothing buffered
      val (c1, b1) = post(s"http://127.0.0.1:$port/v1/logs", logPayload(1))
      val (c2, b2) = post(s"http://127.0.0.1:$port/v1/logs", logPayload(2))
      assert(c1 == 200 && b1.isEmpty && c2 == 200 && b2.isEmpty)
      val (c3, b3) = post(s"http://127.0.0.1:$port/v1/logs", logPayload(3))
      assert(c3 == 200 && b3.nonEmpty, "shed must be a partial-success, not an error")
      val (rejected, msg) = parsePartial(b3)
      assert(rejected == 1L && msg.contains("RESOURCE_EXHAUSTED"))
      assert(recv.stats.shedRequests.get() == 1L)
      // losslessness: the client retries after the budget refills
      clockNs.addAndGet(1200000000L)
      val (c4, _) = post(s"http://127.0.0.1:$port/v1/logs", logPayload(3))
      assert(c4 == 200)
      // remote-write sheds as 429 (its clients speak Retry-After);
      // a body over the bucket CAPACITY (1s of budget) sheds
      // deterministically regardless of refill timing
      val (c5, _) = post(s"http://127.0.0.1:$port/api/v1/write",
        Array.fill[Byte](4096)(1), Map("Content-Encoding" -> "identity"))
      assert(c5 == 429)
      // oversized body: typed edge error, never buffered
      val (c6, b6) = post(s"http://127.0.0.1:$port/v1/logs",
        Array.fill[Byte](8192)(1))
      assert(c6 == 413 && new String(b6, UTF_8).contains("exceeds"))
      recv.flush()
    } finally recv.stop()
    // exactly the three admitted records landed
    val logs = spark.read.parquet(s"$dir/logs")
    assert(logs.count() == 3)
    assert(logs.select("body").distinct().count() == 3)
  }

  test("in-flight byte cap: sheds while unflushed, capacity returns after commit") {
    val payload = logPayload(10)
    val dir = Files.createTempDirectory("graftadm2").toString
    val recv = new OtlpReceiver(spark, dir, Admission.LimitsConfig(
      maxInFlightBytes = payload.length * 3L / 2)) // room for one, not two
    val port = recv.start()
    try {
      val (c1, _) = post(s"http://127.0.0.1:$port/v1/logs", logPayload(10))
      assert(c1 == 200)
      val (c2, b2) = post(s"http://127.0.0.1:$port/v1/logs", logPayload(11))
      assert(c2 == 200 && parsePartial(b2)._1 == 1L, "second enqueue must shed")
      recv.flush()
      // the progress listener releases the committed bytes (async)
      val deadline = System.nanoTime() + 10000000000L
      while (recv.inFlightBytes > 0 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(recv.inFlightBytes == 0L, "commit must release the ledger")
      val (c3, _) = post(s"http://127.0.0.1:$port/v1/logs", logPayload(12))
      assert(c3 == 200)
      recv.flush()
    } finally recv.stop()
    assert(spark.read.parquet(s"$dir/logs").count() == 2)
  }

  test("series cardinality ceiling end-to-end through the point inserter") {
    val dir = Files.createTempDirectory("graftadm3").toString
    val recv = new OtlpReceiver(spark, dir, Admission.LimitsConfig(
      maxSeries = 3, maxSeriesSoft = 2))
    val port = recv.start()
    try {
      def send(name: String, host: String, v: Double): Unit = {
        val (c, _) = post(s"http://127.0.0.1:$port/v1/metrics",
          gaugePayload(name, host, v))
        assert(c == 200)
        recv.flush() // one micro-batch per series: deterministic order
      }
      send("cpu", "h1", 1.0) // admit (1st series)
      send("cpu", "h2", 2.0) // admit (2nd)
      send("cpu", "h3", 3.0) // past soft → per-metric overflow series
      send("mem", "h9", 4.0) // hard ceiling full → shed
    } finally recv.stop()
    val pts = spark.read.parquet(s"$dir/points")
      .select(col("name"), element_at(col("labels"), "host").as("host"),
        map_contains_key(col("labels"), "__series_overflow__").as("ovf"))
      .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getBoolean(2)))
    assert(pts.count(p => p._1 == "cpu" && p._2 == Some("h1") && !p._3) == 1)
    assert(pts.count(p => p._1 == "cpu" && p._2 == Some("h2") && !p._3) == 1)
    assert(pts.count(p => p._1 == "cpu" && p._2.isEmpty && p._3) == 1)
    assert(!pts.exists(_._1 == "mem"), "past the hard ceiling samples shed")
    assert(recv.stats.activeSeries.get() == 3L)
    assert(recv.stats.shedSamples.get() == 1L)
  }

  test("excess-log safety gate wired in the receiver's log pipeline") {
    val dir = Files.createTempDirectory("graftadm4").toString
    val recv = new OtlpReceiver(spark, dir,
      logSafety = Some(graft.streaming.LogSafety.Config(
        softMaxRatePerSecond = 2, onExcess = "drop")))
    val port = recv.start()
    val aport = recv.startAdmin()
    try {
      // 6 records in one event-time second: the gate admits 2
      (0 until 6).foreach { i =>
        val (c, _) = post(s"http://127.0.0.1:$port/v1/logs", logPayload(i))
        assert(c == 200)
      }
      recv.flush()
      assert(recv.safetyStats.snapshot("dropped_rate_limit") == 4L)
      // the admin storage view surfaces the decisions
      val conn = java.net.URI.create(s"http://127.0.0.1:$aport/api/v1/storage")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val body = new String(conn.getInputStream.readAllBytes(), UTF_8)
      assert(body.contains(""""log_safety":{"""), body)
      assert(body.contains(""""dropped_rate_limit":4"""), body)
    } finally recv.stop()
    val stored = spark.read.parquet(s"$dir/logs")
    assert(stored.count() == 2)
    // enriched extras (service_name from resource attrs) survive the
    // gate's pack/unpack round-trip alongside the core columns
    val r = stored.select(col("service_name"), col("body"),
      element_at(col("attrs"), "app")).head()
    assert(r.getString(0) == "api")
    assert(r.getString(1).startsWith("admission line"))
    assert(r.getString(2) == "adm")
  }

  test("gRPC edge: oversized message and rate shed answer RESOURCE_EXHAUSTED (8)") {
    import io.netty.bootstrap.Bootstrap
    import io.netty.buffer.Unpooled
    import io.netty.channel.{ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer}
    import io.netty.channel.nio.NioEventLoopGroup
    import io.netty.channel.socket.SocketChannel
    import io.netty.channel.socket.nio.NioSocketChannel
    import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2HeadersFrame, Http2MultiplexHandler, Http2StreamChannelBootstrap}

    def grpcCall(port: Int, path: String, msg: Array[Byte]): Int = {
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
        stream.writeAndFlush(new DefaultHttp2HeadersFrame(headers, false))
        val framed = java.nio.ByteBuffer.allocate(5 + msg.length)
          .put(0.toByte).putInt(msg.length).put(msg).array()
        stream.writeAndFlush(
          new DefaultHttp2DataFrame(Unpooled.wrappedBuffer(framed), true))
        val st = status.poll(15, java.util.concurrent.TimeUnit.SECONDS)
        ch.close().sync()
        assert(st != null, s"no grpc-status trailer for $path")
        st.intValue()
      } finally { group.shutdownGracefully(); () }
    }

    val dir = Files.createTempDirectory("graftadm4").toString
    val recv = new OtlpReceiver(spark, dir, Admission.LimitsConfig(
      ingestBytesPerSecond = 300, maxBodyBytes = 2000))
    recv.start()
    val gport = recv.startGrpc()
    val path = "/opentelemetry.proto.collector.logs.v1.LogsService/Export"
    try {
      assert(grpcCall(gport, path, logPayload(20)) == 0)
      // oversized: the stream stops buffering and answers 8
      assert(grpcCall(gport, path, Array.fill[Byte](5000)(1)) == 8)
      // over the bucket CAPACITY (1s of budget): rate shed = 8,
      // deterministic regardless of refill between calls
      assert(grpcCall(gport, path, Array.fill[Byte](1000)(1)) == 8)
      recv.flush()
    } finally recv.stop()
    assert(spark.read.parquet(s"$dir/logs").count() == 1)
  }
}
