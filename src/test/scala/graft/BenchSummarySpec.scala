package graft

import org.scalatest.funsuite.AnyFunSuite

/** The last stdout line of `graft.Bench` is parsed from a 2000-char
  * tail: it must stay one strict JSON line of bounded length however
  * many queries the registry holds.
  */
class BenchSummarySpec extends AnyFunSuite {

  test("summary line: one strict JSON line under 2000 chars for 260 queries") {
    val rnd = new scala.util.Random(7)
    val results = (1 to 260).map(i =>
      f"query_number_$i%03d_with_a_long_name" -> rnd.nextDouble() * 3)
    val compute = results.map { case (k, v) => k -> v / 10 }
    val line = Bench.summaryLine(results, compute, p1total = 321.5,
      cpuTotal = 12.25, gcTotal = 0.5, cpus = 32,
      sfDir = "/data/sf0.1", fullName = "BENCH_FULL_c32.json")
    assert(!line.contains('\n') && !line.contains('\r'), line)
    assert(line.length <= 2000, s"${line.length} chars")
    val m = TestJson.parseAll(line).asInstanceOf[Map[String, Any]]
    for (k <- Seq("metric", "value", "unit", "regime", "n", "mean", "median",
        "pass1_total", "compute_total", "compute_mean", "cpu_total",
        "gc_total", "note", "queries", "queries_file", "sf"))
      assert(m.contains(k), k)
    assert(m("metric") == "total" && m("n") == 260.0)
    assert(m("queries_file") == "BENCH_FULL_c32.json")
    // heaviest queries first, as many as fit
    val shown = m("queries").asInstanceOf[Map[String, Double]]
    assert(shown.nonEmpty && shown.size < 260)
    val slowest = results.maxBy(_._2)._1
    assert(shown.contains(slowest))
    val value = m("value").asInstanceOf[Double]
    assert(math.abs(value - results.map(_._2).sum) < 0.001)
  }
}
