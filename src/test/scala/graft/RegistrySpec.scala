package graft

import scala.io.Source

import graft.queries.Registry

/** The registry's contract with the oracle gate and the bench: its name
  * set is fixed (registry_names.txt), and every LogQL, TraceQL and
  * PromQL entry's query string gets through its parser and planner — a
  * rejected string fails here, not only in the offline oracle run.
  */
class RegistrySpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("registry names are exactly the recorded set") {
    val src = Source.fromInputStream(
      getClass.getResourceAsStream("/registry_names.txt"), "UTF-8")
    val expected = try src.getLines().filter(_.nonEmpty).toSet finally src.close()
    val names = Registry.all.map(_.name)
    assert(names.size == names.toSet.size, "duplicate registry names")
    val missing = expected -- names
    val extra = names.toSet -- expected
    assert(missing.isEmpty && extra.isEmpty,
      s"missing: ${missing.toSeq.sorted}; unexpected: ${extra.toSeq.sorted}")
  }

  test("every language entry parses, plans and analyzes") {
    val langs = Registry.all.filter(q =>
      Seq("logql_", "traceql_", "promql_").exists(q.name.startsWith))
    assert(langs.nonEmpty)
    val failed = langs.flatMap { q =>
      try { q.run(spark, sf).queryExecution.analyzed; None }
      catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage}") }
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }
}
