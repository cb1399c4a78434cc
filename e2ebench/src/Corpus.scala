package e2ebench

import java.nio.charset.StandardCharsets.UTF_8

/** One wire payload: where it goes, its body, and how many stored rows
  * (points + log lines + spans + profile samples) it carries.
  */
final case class Payload(path: String, body: Array[Byte],
    encoding: Option[String], rows: Long, signal: String)

/** The seeded telemetry corpus and the closed-form model every answer is
  * checked against. Every value is a function of (seed, position), so
  * the checkers recompute expectations without storing the corpus.
  *
  * Timestamps never sit on a query-window edge: samples land on whole
  * minutes (metrics), at 1 s mod 4 (OTLP logs), 5 s mod 10 (Loki push),
  * 3 s mod 10 (spans) and 7 s past the half hour (profiles), while every
  * window the benchmark asks for starts and ends at 30 s past a minute.
  */
final class Corpus(val seed: Long) {
  import Corpus._

  private def h(parts: Long*): Long =
    parts.foldLeft(mix(seed ^ 0x5eedL))((a, p) => mix(a ^ (p * 0x9e3779b97f4a7c15L)))
  private def hi(n: Int, parts: Long*): Int = java.lang.Math.floorMod(h(parts: _*), n.toLong).toInt

  // ---- metrics ----
  val Services: Vector[String] = Vector("checkout", "cart", "search", "auth")
  val Instances = 3
  val Codes: Vector[String] = Vector("200", "500")
  val Les: Vector[String] = Vector("0.05", "0.1", "0.25", "0.5", "1", "+Inf")
  val LeBounds: Vector[Double] = Vector(0.05, 0.1, 0.25, 0.5, 1.0, Double.PositiveInfinity)

  def load(s: Int, i: Int, m: Int): Double =
    java.lang.Math.floorMod(hi(97, 1, s) + m.toLong * (1 + hi(13, 2, s)) + 7L * i, 97L).toDouble
  def version(s: Int): String = s"v1.${hi(9, 3, s)}"
  def reqInc(s: Int, i: Int, c: Int): Int =
    if (c == 0) 20 + hi(40, 4, s, i) else 1 + hi(5, 5, s, i)
  def req(s: Int, i: Int, c: Int, m: Int): Double = 1000.0 + reqInc(s, i, c).toDouble * m
  /** Per-minute increment of the cumulative bucket `le(j)`; the +Inf
    * bucket gains at most one per minute so quantiles land in finite
    * buckets.
    */
  def bucketCum(s: Int, j: Int): Int = (0 to j).map { k =>
    if (k == 0) 1 + hi(10, 6, s, k) else if (k == Les.size - 1) hi(2, 6, s, k) else hi(10, 6, s, k)
  }.sum
  def bucket(s: Int, j: Int, m: Int): Double = bucketCum(s, j).toDouble * m

  // ---- logs (OTLP): line n at T0 + 1 + 4n s, service n % 4 ----
  def logTsSec(n: Long): Long = T0 + 1 + 4 * n
  def logSvc(n: Long): Int = (n % 4).toInt
  def logLevel(n: Long): String = hi(10, 7, n) match {
    case 0 => "error"; case 1 | 2 => "warn"; case _ => "info"
  }
  def logStatus(level: String): Int = level match {
    case "error" => 500; case "warn" => 404; case _ => 200
  }
  def logBody(n: Long): String = {
    val lv = logLevel(n)
    val msg = lv match {
      case "error" => "request failed"; case "warn" => "slow request"; case _ => "request ok"
    }
    s"""{"level":"$lv","status":${logStatus(lv)},"latency_ms":${10 + hi(900, 8, n)},"msg":"$msg"}"""
  }

  // ---- logs (Loki push): line n at T0 + 5 + 10n s, host n % 2 ----
  def lokiTsSec(n: Long): Long = T0 + 5 + 10 * n
  def lokiHost(n: Long): String = s"edge-${n % 2}"
  def lokiWarn(n: Long): Boolean = hi(10, 9, n) < 3
  def lokiLine(n: Long): String =
    if (lokiWarn(n)) s"level=warn status=429 path=/p${n % 7} latency_ms=${hi(90, 10, n)}"
    else s"level=info status=200 path=/p${n % 7} latency_ms=${hi(90, 10, n)}"

  // ---- traces: trace n at T0 + 3 + 10n s, service n % 4, 4 spans ----
  def traceStartSec(n: Long): Long = T0 + 3 + 10 * n
  def traceSvc(n: Long): Int = (n % 4).toInt
  def traceErr(n: Long): Boolean = hi(10, 11, n) == 0
  def traceDb(n: Long): String = if (hi(3, 12, n) == 0) "redis" else "postgres"
  val traceHi: Long = h(13) | 1L
  val SpansPerTrace = 4

  // ---- profiles: push k per service at T0 + 7 + 1800k s ----
  val Stacks: Vector[String] = Vector(
    "main;serve;handler;db.query", "main;serve;handler;render",
    "main;serve;handler;render;json.encode", "main;gc",
    "main;serve;accept", "main;serve;handler;cache.get")
  def profTsSec(k: Long): Long = T0 + 7 + 1800 * k
  def profValue(s: Int, k: Long, j: Int): Long = 1 + hi(50, 14, s, k, j)

  // ---- payloads ----

  /** Every payload covering minutes [m0, m1) of corpus time, in chunks of
    * `chunkMin` minutes; within a chunk one payload per wire protocol
    * plus one profile push per service.
    */
  def payloads(m0: Int, m1: Int, chunkMin: Int): Vector[Payload] =
    (m0 until m1 by chunkMin).toVector.flatMap { c0 =>
      val c1 = math.min(m1, c0 + chunkMin)
      Vector(otlpMetrics(c0, c1), otlpLogs(c0, c1),
        lokiPush(c0, c1), otlpTraces(c0, c1)) ++ pyroscope(c0, c1)
    }

  private def resource(attrs: (String, String)*): Pb =
    attrs.foldLeft(new Pb())((r, kv) => r.msg(1, Pb.kv(kv._1, kv._2)))

  /** One OTLP metrics payload per chunk: the `bench_load` and
    * `bench_build_info` gauges, and the `bench_requests_total` counters
    * and `bench_latency_seconds_bucket` cumulative buckets as cumulative
    * monotonic sums. Remote-write is not posted: see NOTES.md, "Program
    * defects this benchmark leaves out".
    */
  def otlpMetrics(m0: Int, m1: Int): Payload = {
    def points(pts: Seq[Pb]): Pb = pts.foldLeft(new Pb())((g, p) => g.msg(1, p))
    def gauge(name: String, pts: Seq[Pb]): Pb = new Pb().str(1, name).msg(5, points(pts))
    // Sum: data points, AGGREGATION_TEMPORALITY_CUMULATIVE, is_monotonic
    def counter(name: String, pts: Seq[Pb]): Pb =
      new Pb().str(1, name).msg(7, points(pts).vint(2, 2).vint(3, 1))
    def point(m: Int, v: Double, attrs: (String, String)*): Pb = {
      val ts = (T0 + 60L * m) * 1000000000L
      attrs.foldLeft(new Pb().fix64(2, T0 * 1000000000L).fix64(3, ts).double(4, v))(
        (p, kv) => p.msg(7, Pb.kv(kv._1, kv._2)))
    }
    val ms = m0 until m1
    val loads = gauge("bench_load", for {
      s <- Services.indices; i <- 0 until Instances; m <- ms
    } yield point(m, load(s, i, m), "service" -> Services(s), "instance" -> s"i$i"))
    val info = gauge("bench_build_info", for { s <- Services.indices; m <- ms }
      yield point(m, 1.0, "service" -> Services(s), "version" -> version(s)))
    val reqs = counter("bench_requests_total", for {
      s <- Services.indices; i <- 0 until Instances; c <- Codes.indices; m <- ms
    } yield point(m, req(s, i, c, m), "service" -> Services(s), "instance" -> s"i$i", "code" -> Codes(c)))
    val buckets = counter("bench_latency_seconds_bucket", for {
      s <- Services.indices; j <- Les.indices; m <- ms
    } yield point(m, bucket(s, j, m), "service" -> Services(s), "le" -> Les(j)))
    val body = new Pb().msg(1, new Pb().msg(1, resource())
      .msg(2, new Pb().msg(1, new Pb().str(1, "e2ebench"))
        .msg(2, loads).msg(2, info).msg(2, reqs).msg(2, buckets)))
    Payload("/v1/metrics", body.toByteArray, None,
      ms.size.toLong * Services.size * (Instances + 1 + Instances * Codes.size + Les.size), "points")
  }

  /** OTLP log lines n ∈ [n0, n1). */
  def logRange(m0: Int, m1: Int): (Long, Long) = (m0 * 15L, m1 * 15L)

  def otlpLogs(m0: Int, m1: Int): Payload = {
    val (n0, n1) = logRange(m0, m1)
    val bySvc = (n0 until n1).groupBy(logSvc)
    val rls = bySvc.toSeq.sortBy(_._1).map { case (s, ns) =>
      val recs = ns.foldLeft(new Pb().msg(1, new Pb().str(1, "e2ebench"))) { (sc, n) =>
        val lv = logLevel(n)
        sc.msg(2, new Pb().fix64(1, logTsSec(n) * 1000000000L)
          .vint(2, lv match { case "error" => 17; case "warn" => 13; case _ => 9 })
          .str(3, lv.toUpperCase)
          .msg(5, new Pb().str(1, logBody(n))))
      }
      new Pb().msg(1, resource("service.name" -> Services(s))).msg(2, recs)
    }
    val body = rls.foldLeft(new Pb())((b, rl) => b.msg(1, rl))
    Payload("/v1/logs", body.toByteArray, None, n1 - n0, "logs")
  }

  /** Loki push lines n ∈ [n0, n1). */
  def lokiRange(m0: Int, m1: Int): (Long, Long) = (m0 * 6L, m1 * 6L)

  def lokiPush(m0: Int, m1: Int): Payload = {
    val (n0, n1) = lokiRange(m0, m1)
    val streams = (n0 until n1).groupBy(n => (n % 2).toInt).toSeq.sortBy(_._1).map {
      case (host, ns) =>
        ns.foldLeft(new Pb().str(1, s"""{job="edge", host="edge-$host"}""")) { (st, n) =>
          st.msg(2, new Pb().msg(1, new Pb().vint(1, lokiTsSec(n)).vint(2, 0))
            .str(2, lokiLine(n)))
        }
    }
    val body = streams.foldLeft(new Pb())((b, s) => b.msg(1, s))
    Payload("/loki/api/v1/push", Pb.snappy(body.toByteArray), None, n1 - n0, "logs")
  }

  /** Traces n ∈ [n0, n1). */
  def traceRange(m0: Int, m1: Int): (Long, Long) = (m0 * 6L, m1 * 6L)

  private def idBytes(hi64: Long, lo64: Long, len: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(16).putLong(hi64).putLong(lo64).array()
    java.util.Arrays.copyOfRange(b, 16 - len, 16)
  }

  def otlpTraces(m0: Int, m1: Int): Payload = {
    val (n0, n1) = traceRange(m0, m1)
    val bySvc = (n0 until n1).groupBy(traceSvc)
    val rss = bySvc.toSeq.sortBy(_._1).map { case (s, ns) =>
      val sc = ns.foldLeft(new Pb().msg(1, new Pb().str(1, "e2ebench"))) { (sc, n) =>
        val tid = idBytes(traceHi, n + 1, 16)
        val st = traceStartSec(n) * 1000000000L
        val err = traceErr(n)
        def span(k: Int, parent: Option[Int], name: String, kind: Int,
            off: Long, dur: Long, attrs: Seq[Pb], error: Boolean): Pb = {
          val sp = new Pb().bytes(1, tid).bytes(2, idBytes(0, n * 4 + k + 1, 8))
          parent.foreach(p => sp.bytes(4, idBytes(0, n * 4 + p + 1, 8)))
          sp.str(5, name).vint(6, kind).fix64(7, st + off).fix64(8, st + off + dur)
          attrs.foreach(a => sp.msg(9, a))
          sp.msg(15, new Pb().vint(3, if (error) 2 else 1))
        }
        sc.msg(2, span(0, None, s"GET /api/${Services(s)}", 2, 0L, 50000000L,
            Seq(Pb.kvInt("http.status_code", if (err) 500 else 200)), err))
          .msg(2, span(1, Some(0), "db.query", 3, 2000000L, 20000000L,
            Seq(Pb.kv("db.system", traceDb(n))), false))
          .msg(2, span(2, Some(0), "cache.get", 3, 25000000L, 5000000L, Nil, false))
          .msg(2, span(3, Some(0), "render", 1, 31000000L, 15000000L, Nil, false))
      }
      new Pb().msg(1, resource("service.name" -> Services(s))).msg(2, sc)
    }
    val body = rss.foldLeft(new Pb())((b, r) => b.msg(1, r))
    Payload("/v1/traces", body.toByteArray, None, (n1 - n0) * SpansPerTrace, "spans")
  }

  /** Profile pushes k ∈ [k0, k1): one per half hour. */
  def profRange(m0: Int, m1: Int): (Long, Long) = ((m0 + 29) / 30L, (m1 + 29) / 30L)

  def pyroscope(m0: Int, m1: Int): Vector[Payload] = {
    val (k0, k1) = profRange(m0, m1)
    (for (k <- k0 until k1; s <- Services.indices) yield {
      val body = Stacks.indices.map(j => s"${Stacks(j)} ${profValue(s, k, j)}\n").mkString
      val name = java.net.URLEncoder.encode(s"bench.cpu{service_name=${Services(s)}}", "UTF-8")
      Payload(s"/pyroscope/ingest?name=$name&from=${profTsSec(k)}",
        body.getBytes(UTF_8), None, Stacks.size.toLong, "profiles")
    }).toVector
  }
}

object Corpus {
  /** 2024-01-01T00:00:00Z, the start of corpus time (seconds). */
  val T0 = 1704067200L

  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
