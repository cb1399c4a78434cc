package e2ebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** Asks the query API how many rows of each signal it serves, and waits
  * until every posted row is visible. Profiles are counted by their
  * sample values (the flamegraph's total ticks).
  */
final class Visibility(queryUrl: String, c: Corpus, hours: Int) {
  import Corpus.T0
  import Visibility.NeverNs

  private val day = T0 + 86400
  private val IdleMs = 1500L
  private val PollMs = 100L
  private val RecentMs = 2000L

  private def count(signal: String): Long = {
    val (path, ps) = signal match {
      case "points" => ("/api/v1/query", Seq("query" -> """sum(count_over_time({__name__=~"bench_.+"}[30d]))""", "time" -> day.toString))
      case "logs" => ("/loki/api/v1/query", Seq("query" -> """sum(count_over_time({service_name=~".+"}[30d]))""", "time" -> day.toString))
      case "spans" => ("/api/metrics/query", Seq("q" -> "{ } | count_over_time()", "start" -> T0.toString, "end" -> day.toString))
      case "profiles" => ("/pyroscope/render", Seq("query" -> "bench.cpu", "from" -> T0.toString, "until" -> day.toString))
    }
    val r = Http.get(queryUrl + path + "?" + Http.qs(ps))
    if (r.code != 200) throw new Main.Failed(s"visibility probe $path: HTTP ${r.code} ${r.text.take(200)}")
    val j = r.json
    signal match {
      case "points" | "logs" =>
        val res = j.path("data").path("result")
        if (res.size() == 0) 0L else res.get(0).path("value").get(1).asText().toDouble.toLong
      case "spans" =>
        val s = j.path("series")
        if (s.size() == 0) 0L else s.get(0).path("value").asDouble().toLong
      case "profiles" => j.path("flamebearer").path("numTicks").asLong(0L)
    }
  }

  /** Rows (profile ticks for profiles) each signal should serve. */
  def target(rows: Map[String, Long]): Map[String, Long] =
    rows.map {
      case ("profiles", _) => "profiles" -> (for {
        k <- 0 until hours * 2; s <- c.Services.indices; j <- c.Stacks.indices
      } yield c.profValue(s, k, j)).sum
      case other => other
    }

  /** Polls until every signal serves exactly its posted rows; returns the
    * time the last one became visible. More rows than posted is a wrong
    * answer, and so are rows still missing once every sink has been idle
    * for `IdleMs` (or at the timeout).
    */
  def await(rows: Map[String, Long], timeoutMs: Long, sinksIdle: () => Boolean,
      lastCommitNs: String => Long, onPoll: (String, Long, Long) => Unit,
      errors: ConcurrentLinkedQueue[String]): Long = {
    val want = target(rows)
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var pending = want.keySet
    var last = System.nanoTime()
    // rows still missing while every ingest sink has had nothing left to
    // process for IdleMs were lost, not delayed
    var idleSince = Long.MaxValue
    def settled = {
      val now = System.nanoTime()
      if (!sinksIdle()) idleSince = Long.MaxValue
      else if (idleSince == Long.MaxValue) idleSince = now
      now - idleSince > IdleMs * 1000000L
    }
    // a signal's count can only change after its sink commits a batch:
    // probe it while a commit is recent enough that the server may not
    // have re-opened its layout yet, and once after any older commit,
    // and leave the server alone otherwise
    val probedNs = scala.collection.mutable.Map[String, Long]()
    def due(s: String): Boolean = {
      val commit = lastCommitNs(s)
      System.nanoTime() - commit < RecentMs * 1000000L || probedNs.getOrElse(s, NeverNs) < commit
    }
    def probe(s: String): Long = {
      val t = System.nanoTime()
      val n = count(s)
      probedNs(s) = t
      onPoll(s, n, System.nanoTime())
      n
    }
    while (pending.nonEmpty && System.nanoTime() < deadline && !settled) {
      pending.filter(due).foreach { s =>
        val n = probe(s)
        if (n > want(s)) { errors.add(s"$s: $n rows visible, only ${want(s)} posted"); pending -= s }
        else if (n == want(s)) { pending -= s; last = System.nanoTime() }
      }
      if (pending.nonEmpty) Thread.sleep(PollMs)
    }
    // a last look at what is still pending: rows that are visible now
    // arrived late, not lost
    val lost = pending.toSeq.flatMap { s =>
      val n = probe(s)
      if (n == want(s)) { last = System.nanoTime(); None }
      else Some(s"$s: $n of ${want(s)} rows visible once ingest went idle")
    }
    lost.foreach(errors.add)
    if (lost.nonEmpty) errors.asScala.foreach(e => System.err.println(s"[e2ebench] WRONG: $e"))
    last
  }
}

object Visibility {
  /** The last-commit time of a sink that has committed no rows yet. */
  val NeverNs: Long = Long.MinValue / 2
}
