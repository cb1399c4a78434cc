package e2ebench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

/** Outcome of checking one response against the corpus model. */
final case class Verdict(errors: Seq[String], inexact: Seq[String], resultRows: Int) {
  def ok: Boolean = errors.isEmpty
}

/** One request: the route and params, the language front-end it
  * exercises (with the query text and window the traced run replays),
  * and the check of its response.
  */
final case class Req(path: String, params: Seq[(String, String)],
    lang: String, query: String, startSec: Long, endSec: Long, stepSec: Long,
    check: JsonNode => Verdict)

final case class Shape(name: String, make: Int => Req)

/** The query shapes of both workloads and the expected answer of every
  * request, computed from the corpus model.
  */
final class Shapes(c: Corpus, baseMinutes: Int) {
  import Corpus.T0

  private val Tol = 1e-9
  // the rollup tiers keep sums as decimal(18,4): a tier-served value may
  // differ from raw by the rounding of its inputs, never by more
  private val TierTol = 1e-4

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= Tol * math.max(1.0, math.abs(b))

  private def num(n: JsonNode): Double = n.asText() match {
    case "+Inf" => Double.PositiveInfinity
    case "-Inf" => Double.NegativeInfinity
    case s => s.toDouble
  }

  private def labels(n: JsonNode): Map[String, String] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  private def err(msg: String): Verdict = Verdict(Seq(msg), Nil, 0)

  private def success(j: JsonNode): Option[String] =
    if (j.path("status").asText() == "success") None
    else Some(s"status ${j.path("status").asText()}: ${j.path("error").asText()}")

  /** Compares (labels, ts) → value maps. `tier` marks answers served
    * from the rollup tiers, whose decimal rounding is listed, not failed.
    */
  private def compare(got: Map[(Map[String, String], Long), Double],
      want: Map[(Map[String, String], Long), Double], tier: Boolean): Verdict = {
    val errs = Seq.newBuilder[String]
    val inexact = Seq.newBuilder[String]
    (got.keySet -- want.keySet).headOption.foreach(k => errs += s"unexpected sample $k")
    (want.keySet -- got.keySet).headOption.foreach(k => errs += s"missing sample $k")
    want.foreach { case (k, w) =>
      got.get(k).foreach { g =>
        if (!close(g, w)) {
          if (tier && math.abs(g - w) <= TierTol) inexact += s"$k raw=$w tier=$g"
          else errs += s"sample $k = $g, want $w"
        }
      }
    }
    Verdict(errs.result().take(3), inexact.result(), got.size)
  }

  private def promSamples(j: JsonNode): Map[(Map[String, String], Long), Double] =
    j.path("data").path("result").elements().asScala.flatMap { r =>
      val l = labels(r.path("metric"))
      if (r.has("value")) Iterator((l, r.path("value").get(0).asLong()) -> num(r.path("value").get(1)))
      else r.path("values").elements().asScala.map(v => (l, v.get(0).asLong()) -> num(v.get(1)))
    }.toMap

  private def vectorCheck(want: Map[Map[String, String], Double], tSec: Long)(j: JsonNode): Verdict =
    success(j).map(err).getOrElse(
      compare(promSamples(j), want.map { case (l, v) => (l, tSec) -> v }, tier = false))

  /** Grid points of a range query: step multiples in [start, end]. */
  private def grid(start: Long, end: Long, step: Long): Seq[Long] =
    (math.ceil(start.toDouble / step).toLong * step to end by step)

  private def matrixCheck(want: Long => Map[Map[String, String], Double],
      start: Long, end: Long, step: Long, tier: Boolean)(j: JsonNode): Verdict =
    success(j).map(err).getOrElse {
      val w = grid(start, end, step).flatMap(t => want(t).map { case (l, v) => (l, t) -> v }).toMap
      compare(promSamples(j), w, tier)
    }

  /** Minute index of the newest sample at or before `tSec`. */
  private def minuteAt(tSec: Long): Int = ((tSec - T0) / 60).toInt

  /** Minutes with a sample in (t − range, t]. */
  private def minutesIn(tSec: Long, rangeSec: Long): Seq[Int] = {
    val hi = math.min(minuteAt(tSec), baseMinutes - 1)
    val lo = math.max(0, ((tSec - rangeSec - T0) / 60).toInt + 1)
    lo to hi
  }

  private val S = c.Services

  // ---- explore: every request asks for a window never asked before ----

  /** Window start of request `j` of shape `k`: 30 s past a minute in
    * the corpus's minutes 10-69 (windows reach at most 30 minutes
    * further), a fresh minute for each of the first 60 requests, then
    * shifted by whole seconds so no window repeats within a run.
    */
  private def exploreStart(k: Int, j: Int): Long = {
    val off = java.lang.Math.floorMod(c.seed * 31 + k * 13, 60L).toInt
    T0 + (10 + (j * 7 + off) % 60) * 60L + 30 + j / 60
  }

  private def histQuantile(q: Double): Double = {
    val cum = c.LeBounds.indices.map(jj => S.indices.map(s => c.bucketCum(s, jj)).sum.toDouble)
    val rank = q * cum.last
    val b = cum.indexWhere(_ >= rank)
    if (b == c.LeBounds.size - 1) c.LeBounds(b - 1)
    else {
      val lo = if (b == 0) 0.0 else c.LeBounds(b - 1)
      val below = if (b == 0) 0.0 else cum(b - 1)
      lo + (c.LeBounds(b) - lo) * (rank - below) / (cum(b) - below)
    }
  }

  private def logLines(svc: Int, fromSec: Long, toSec: Long): Seq[Long] = {
    // OTLP log line n sits at T0 + 1 + 4n
    val n0 = math.max(0L, math.ceil((fromSec - T0 - 1) / 4.0).toLong)
    val n1 = math.min(baseMinutes * 15L, math.ceil((toSec - T0 - 1) / 4.0).toLong)
    (n0 until n1).filter(n => c.logSvc(n) == svc)
  }

  private def lokiLines(fromSec: Long, toSec: Long): Seq[Long] = {
    val n0 = math.max(0L, math.ceil((fromSec - T0 - 5) / 10.0).toLong)
    val n1 = math.min(baseMinutes * 6L, math.ceil((toSec - T0 - 5) / 10.0).toLong)
    n0 until n1
  }

  private def traces(fromSec: Long, toSec: Long): Seq[Long] = {
    val n0 = math.max(0L, math.ceil((fromSec - T0 - 3) / 10.0).toLong)
    val n1 = math.min(baseMinutes * 6L, math.ceil((toSec - T0 - 3) / 10.0).toLong)
    n0 until n1
  }

  private def searchCheck(want: Set[String], limit: Int)(j: JsonNode): Verdict = {
    val got = j.path("traces").elements().asScala.map(_.path("traceID").asText()).toSeq
    val bad = got.filterNot(want)
    val errs = Seq(
      if (got.size != math.min(limit, want.size)) Some(s"${got.size} traces, want ${math.min(limit, want.size)}") else None,
      bad.headOption.map(t => s"trace $t does not match"),
      if (got.distinct.size != got.size) Some("duplicate traces") else None).flatten
    Verdict(errs, Nil, got.size)
  }

  private def hexId(n: Long): String = f"${n + 1}%016x"

  private def prom(path: String, q: String, s: Long, e: Long, step: Long,
      check: JsonNode => Verdict): Req =
    if (path.endsWith("query_range"))
      Req(path, Seq("query" -> q, "start" -> s.toString, "end" -> e.toString, "step" -> step.toString),
        "promql", q, s, e, step, check)
    else Req(path, Seq("query" -> q, "time" -> s.toString), "promql", q, s, s, 0, check)

  private def loki(path: String, q: String, s: Long, e: Long, step: Long,
      extra: Seq[(String, String)], check: JsonNode => Verdict): Req =
    if (path.endsWith("query_range"))
      Req(path, Seq("query" -> q, "start" -> s.toString, "end" -> e.toString) ++
        (if (step > 0) Seq("step" -> step.toString) else Nil) ++ extra,
        "logql", q, s, e, step, check)
    else Req(path, Seq("query" -> q, "time" -> s.toString), "logql", q, s, s, 0, check)

  val explore: Vector[Shape] = Vector(
    Shape("prom_instant_sum_by", j => {
      val t = exploreStart(0, j); val m = minuteAt(t)
      prom("/api/v1/query", "sum by (service) (bench_load)", t, t, 0,
        vectorCheck(S.indices.map(s => Map("service" -> S(s)) ->
          (0 until c.Instances).map(i => c.load(s, i, m)).sum).toMap, t))
    }),
    Shape("prom_range_rate", j => {
      val t = exploreStart(1, j)
      prom("/api/v1/query_range", "sum by (service) (rate(bench_requests_total[5m]))", t, t + 600, 60,
        matrixCheck(_ => S.indices.map(s => Map("service" -> S(s)) -> (for {
          i <- 0 until c.Instances; k <- c.Codes.indices } yield c.reqInc(s, i, k)).sum / 60.0).toMap,
          t, t + 600, 60, tier = false))
    }),
    Shape("prom_histogram_quantile", j => {
      val t = exploreStart(2, j)
      prom("/api/v1/query", "histogram_quantile(0.9, sum by (le) (rate(bench_latency_seconds_bucket[5m])))",
        t, t, 0, vectorCheck(Map(Map.empty[String, String] -> histQuantile(0.9)), t))
    }),
    Shape("prom_group_left", j => {
      val t = exploreStart(3, j); val m = minuteAt(t)
      prom("/api/v1/query", "bench_requests_total * on (service) group_left (version) bench_build_info",
        t, t, 0, vectorCheck((for {
          s <- S.indices; i <- 0 until c.Instances; k <- c.Codes.indices
        } yield Map("service" -> S(s), "instance" -> s"i$i", "code" -> c.Codes(k),
          "version" -> c.version(s)) -> c.req(s, i, k, m)).toMap, t))
    }),
    Shape("logql_filter_json", j => {
      val t = exploreStart(4, j); val svc = j % S.size
      val want = logLines(svc, t, t + 1800).filter(n => c.logLevel(n) == "error")
        .map(n => c.logTsSec(n) * 1000000000L).sorted.reverse.take(20)
      loki("/loki/api/v1/query_range",
        s"""{service_name="${S(svc)}"} |= "error" | json | status >= 500""", t, t + 1800, 0,
        Seq("limit" -> "20", "direction" -> "backward"), js => success(js).map(err).getOrElse {
          val got = js.path("data").path("result").elements().asScala.flatMap(
            _.path("values").elements().asScala.map(_.get(0).asText().toLong)).toSeq.sorted.reverse
          Verdict(if (got == want) Nil else Seq(s"entries ${got.take(3)}.., want ${want.take(3)}.. (${got.size} vs ${want.size})"),
            Nil, got.size)
        })
    }),
    Shape("logql_count_by_level", j => {
      val t = exploreStart(5, j); val svc = j % S.size
      loki("/loki/api/v1/query_range",
        s"""sum by (level) (count_over_time({service_name="${S(svc)}"} | json [5m]))""", t, t + 600, 60, Nil,
        matrixCheck(g => logLines(svc, g - 300 + 1, g + 1).groupBy(c.logLevel)
          .map { case (lv, ns) => Map("level" -> lv) -> ns.size.toDouble }, t, t + 600, 60, tier = false))
    }),
    Shape("logql_topk", j => {
      val t = exploreStart(6, j)
      val counts = S.indices.map(s => S(s) ->
        logLines(s, t - 600 + 1, t + 1).count(n => c.logLevel(n) == "error").toDouble).filter(_._2 > 0)
      loki("/loki/api/v1/query",
        """topk(2, sum by (service_name) (count_over_time({service_name=~".+"} |= "error" [10m])))""",
        t, t, 0, Nil, js => success(js).map(err).getOrElse {
          val got = promSamples(js).map { case ((l, _), v) => l.getOrElse("service_name", "") -> v }
          val top = counts.map(_._2).sorted.reverse.take(2)
          val errs = Seq(
            if (got.values.toSeq.sorted.reverse != top) Some(s"top values ${got.values}, want $top") else None,
            got.find { case (s, v) => !counts.toMap.get(s).contains(v) }.map(g => s"count $g is wrong")).flatten
          Verdict(errs, Nil, got.size)
        })
    }),
    Shape("logql_loki_logfmt", j => {
      val t = exploreStart(7, j)
      loki("/loki/api/v1/query", """sum by (host) (count_over_time({job="edge"} | logfmt | status >= 400 [10m]))""",
        t, t, 0, Nil, vectorCheck(lokiLines(t - 600 + 1, t + 1).filter(c.lokiWarn)
          .groupBy(c.lokiHost).map { case (h, ns) => Map("host" -> h) -> ns.size.toDouble }, t))
    }),
    Shape("traceql_attr", j => {
      val t = exploreStart(8, j)
      val q = "{ span.http.status_code = 500 }"
      Req("/api/search", Seq("q" -> q, "start" -> t.toString, "end" -> (t + 1800).toString, "limit" -> "20"),
        "traceql", q, t, t + 1800, 0,
        searchCheck(traces(t, t + 1800).filter(c.traceErr).map(hexId).toSet, 20))
    }),
    Shape("traceql_structural", j => {
      val t = exploreStart(9, j); val svc = j % S.size
      val q = s"""{ resource.service.name = "${S(svc)}" } >> { span.db.system = "redis" }"""
      Req("/api/search", Seq("q" -> q, "start" -> t.toString, "end" -> (t + 1800).toString, "limit" -> "20"),
        "traceql", q, t, t + 1800, 0, searchCheck(traces(t, t + 1800)
          .filter(n => c.traceSvc(n) == svc && c.traceDb(n) == "redis").map(hexId).toSet, 20))
    }),
    Shape("traceql_metrics", j => {
      val t = exploreStart(10, j)
      val q = "{ status = error } | count_over_time() | by(resource.service.name)"
      val want = traces(t, t + 600).filter(c.traceErr).groupBy(n => S(c.traceSvc(n)))
        .map { case (s, ns) => s -> ns.size.toDouble }
      Req("/api/metrics/query_range", Seq("q" -> q, "start" -> t.toString, "end" -> (t + 600).toString,
        "step" -> "60"), "traceql", q, t, t + 600, 60, js => {
        val got = js.path("series").elements().asScala.map { s =>
          s.path("labels").get(0).path("value").path("stringValue").asText() ->
            s.path("samples").elements().asScala.map(_.path("value").asDouble()).sum
        }.toMap
        Verdict(if (got == want) Nil else Seq(s"per-service error spans $got, want $want"), Nil, got.size)
      })
    }),
    Shape("profileql_render", j => {
      val t = exploreStart(11, j); val svc = j % S.size
      val q = s"""bench.cpu{service_name="${S(svc)}"}"""
      val ks = (0 until baseMinutes / 30).filter(k => c.profTsSec(k) >= t && c.profTsSec(k) <= t + 7200)
      val want = ks.map(k => c.Stacks.indices.map(jj => c.profValue(svc, k, jj)).sum).sum
      Req("/pyroscope/render", Seq("query" -> q, "from" -> t.toString, "until" -> (t + 7200).toString),
        "profileql", q, t, t + 7200, 0, js => {
          val got = js.path("flamebearer").path("numTicks").asLong(-1)
          Verdict(if (got == want) Nil else Seq(s"numTicks $got, want $want"), Nil,
            js.path("flamebearer").path("names").size())
        })
    }))

  // ---- dashboard: a fixed panel set whose windows advance every
  // `refreshesPerWindow` refreshes of a panel ----

  val refreshesPerWindow = 4

  /** Panel window for refresh epoch `e`: an hour-aligned start (so the
    * rollup tiers can serve it) and an end that moves a minute per
    * epoch: two hourly grid points, a new cache key every epoch.
    */
  private def panelWindow(e: Int): (Long, Long) = {
    val start = T0 + 3600L
    (start, start + 3600 + 60L * e + 30)
  }

  /** Refresh epoch of request `k` of panel `p`. The panels advance at
    * staggered requests, so every rotation of the panel set carries a
    * quarter of the misses instead of one rotation carrying them all.
    */
  private def epoch(p: Int, k: Int): Int = (k + p) / refreshesPerWindow

  private def hourly(f: Seq[Int] => Double)(minutes: Seq[Int]): Option[Double] =
    if (minutes.isEmpty) None else Some(f(minutes))

  private def tierPanel(p: Int, q: String, series: Seq[(Map[String, String], Seq[Int] => Double)]): Shape =
    Shape(s"panel_$p", k => {
      val (s, e) = panelWindow(epoch(p, k))
      prom("/api/v1/query_range", q, s, e, 3600, matrixCheck(t =>
        series.flatMap { case (l, f) => hourly(f)(minutesIn(t, 3600)).map(l -> _) }.toMap,
        s, e, 3600, tier = true))
    })

  /** Log volume per Loki-push host off the log-volume tier: line counts
    * or, with `bytes`, line bytes.
    */
  private def volumePanel(p: Int, bytes: Boolean): Shape =
    Shape(s"panel_$p", k => {
      val (s, e) = panelWindow(epoch(p, k))
      val op = if (bytes) "bytes_over_time" else "count_over_time"
      loki("/loki/api/v1/query_range", s"""sum by (host) ($op({job="edge"}[1h]))""", s, e, 3600, Nil,
        matrixCheck(t => lokiLines(t - 3600 + 1, t + 1).groupBy(c.lokiHost).map { case (h, ns) =>
          Map("host" -> h) -> (if (bytes) ns.map(c.lokiLine(_).length).sum else ns.size).toDouble
        }, s, e, 3600, tier = true))
    })

  private def metaPanel(p: Int, path: String, extra: Seq[(String, String)], want: Set[String],
      read: JsonNode => Seq[String]): Shape =
    Shape(s"panel_$p", k => {
      val (s, e) = panelWindow(epoch(p, k))
      Req(path, Seq("start" -> s.toString, "end" -> e.toString) ++ extra, "meta", path, s, e, 0,
        js => success(js).map(err).getOrElse {
          val got = read(js)
          Verdict(if (got.toSet == want && got.distinct.size == got.size) Nil
            else Seq(s"got ${got.sorted}, want ${want.toSeq.sorted}"), Nil, got.size)
        })
    })

  private def dataStrings(js: JsonNode): Seq[String] =
    js.path("data").elements().asScala.map(_.asText()).toSeq

  val dashboard: Vector[Shape] = {
    val inst = 0 until c.Instances
    val ckSvc = S.indexOf("checkout"); val cartSvc = S.indexOf("cart")
    Vector(
      tierPanel(0, """avg_over_time(bench_load{service="checkout"}[1h])""", inst.map(i =>
        Map("service" -> "checkout", "instance" -> s"i$i") ->
          ((ms: Seq[Int]) => ms.map(c.load(ckSvc, i, _)).sum / ms.size))),
      tierPanel(1, "max_over_time(bench_load[1h])", for (s <- S.indices; i <- inst) yield
        Map("service" -> S(s), "instance" -> s"i$i") -> ((ms: Seq[Int]) => ms.map(c.load(s, i, _)).max)),
      tierPanel(2, """sum_over_time(bench_load{service="cart"}[1h])""", inst.map(i =>
        Map("service" -> "cart", "instance" -> s"i$i") -> ((ms: Seq[Int]) => ms.map(c.load(cartSvc, i, _)).sum))),
      tierPanel(3, """count_over_time(bench_requests_total{code="500"}[1h])""", for (s <- S.indices; i <- inst)
        yield Map("service" -> S(s), "instance" -> s"i$i", "code" -> "500") -> ((ms: Seq[Int]) => ms.size.toDouble)),
      volumePanel(4, bytes = false),
      // uncached; the two Loki metadata panels sit half a rotation apart
      metaPanel(5, "/loki/api/v1/labels", Nil, Set("host", "job", "service.name", "service_name"), dataStrings),
      // OTLP logs are left out of the tier panels: NOTES.md, "Program
      // defects this benchmark leaves out"
      volumePanel(6, bytes = true),
      Shape("panel_7", k => {
        val e = epoch(7, k)
        val t = panelWindow(e)._1 + 30 + 60L * e
        prom("/api/v1/query", "sum by (service) (rate(bench_requests_total[5m]))", t, t, 0,
          vectorCheck(S.indices.map(s => Map("service" -> S(s)) -> (for {
            i <- inst; kk <- c.Codes.indices } yield c.reqInc(s, i, kk)).sum / 60.0).toMap, t))
      }),
      metaPanel(8, "/api/v1/labels", Nil,
        Set("__name__", "service", "instance", "code", "le", "version"), dataStrings),
      metaPanel(9, "/api/v1/label/service/values", Nil, S.toSet, dataStrings),
      metaPanel(10, "/api/v1/series", Seq("match[]" -> "bench_build_info"),
        S.indices.map(s => s"bench_build_info,${S(s)},${c.version(s)}").toSet,
        js => js.path("data").elements().asScala.map(r =>
          s"${r.path("__name__").asText()},${r.path("service").asText()},${r.path("version").asText()}").toSeq),
      metaPanel(11, "/loki/api/v1/label/host/values", Nil, Set("edge-0", "edge-1"), dataStrings))
  }
}
