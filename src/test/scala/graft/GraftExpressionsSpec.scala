package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** End-to-end checks of the native Catalyst expressions: interpreted
  * eval, whole-stage codegen, and the SQL registration path.
  */
class GraftExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  test("parse_duration via DataFrame (codegen path)") {
    val df = Seq("1m30s", "250ms", "1.5h", "bogus", "2w").toDF("d")
      .select(parse_duration(col("d")).as("sec"))
    assert(df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq ==
      Seq(Some(90.0), Some(0.25), Some(5400.0), None, Some(1209600.0)))
  }

  test("parse_bytes via SQL registration (injectFunction)") {
    val rows = spark.sql(
      "SELECT graft_parse_bytes(x) FROM VALUES ('1KiB'), ('1.5MB'), ('nope') AS t(x)"
    ).collect()
    assert(rows.map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq ==
      Seq(Some(1024.0), Some(1.5e6), None))
  }

  test("ip_match CIDR / range / exact over a column") {
    val df = Seq(
      ("192.168.1.5", "192.168.1.0/24"),
      ("10.0.0.7", "10.0.0.1-10.0.0.10"),
      ("10.0.0.99", "10.0.0.1-10.0.0.10"),
      ("not-an-ip", "10.0.0.0/8")
    ).toDF("ip", "pat").select(ip_match(col("ip"), col("pat")).as("m"))
    assert(df.collect().map(_.getBoolean(0)).toSeq == Seq(true, true, false, false))
  }

  test("ip_match_line: any IPv4 literal in the line, as regexp_extract_all finds them") {
    val lines = Seq("from 10.5.1.2 to 8.8.8.8", "no address here",
      "then 10.4.0.9", "10.51.0.1", "x10.5.0.1y")
    val pats = Seq("10.5.0.0/16", "10.3.0.0-10.4.255.255", "8.8.8.8")
    val df = lines.toDF("l").crossJoin(pats.toDF("p"))
    val got = df.select(ip_match_line(col("l"), col("p"))).collect().map(_.getBoolean(0))
    val viaExtract = df.select(exists(
      expr("""regexp_extract_all(l, '(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})', 1)"""),
      ip => ip_match(ip, col("p")))).collect().map(_.getBoolean(0))
    assert(got.toSeq == viaExtract.toSeq)
    assert(got.count(identity) == 4, got.toSeq)
  }

  test("logfmt_get extracts quoted and bare values") {
    val line = """level=info msg="hi there" n=42"""
    val df = Seq(line).toDF("l").select(
      logfmt_get(col("l"), lit("msg")).as("msg"),
      logfmt_get(col("l"), lit("n")).as("n"),
      logfmt_get(col("l"), lit("absent")).as("a")
    )
    assert(df.collect().toSeq == Seq(Row("hi there", "42", null)))
  }

  test("severity_text + deduce_severity round-trip") {
    val df = Seq("fatal: disk", "some error", "warning!", "fine").toDF("t")
      .select(severity_text(deduce_severity(col("t"))).as("s"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("FATAL", "ERROR", "WARN", "UNKNOWN"))
  }

  test("nfc_normalize composes combining sequences; clean text passes through") {
    // "cafe" + combining acute (U+0301) composes to U+00E9; ASCII and
    // already-composed text are untouched (the isNormalized fast path)
    val df = Seq("café", "café", "plain ascii", null)
      .toDF("s").select(nfc_normalize(col("s")).as("n"))
    assert(df.collect().map(r => Option(r.getString(0))).toSeq ==
      Seq(Some("café"), Some("café"), Some("plain ascii"), None))
    // SQL registration path
    val viaSql = spark.sql(
      "SELECT graft_nfc_normalize('é')").head().getString(0)
    assert(viaSql == "é")
  }

  test("cosine_sim matches the naive formula on float and double arrays") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),   // identical → 1
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),   // orthogonal → 0
      (Array(1.0f, 2.0f, 2.0f), Array(2.0f, 4.0f, 4.0f))    // parallel → 1
    ).toDF("a", "b")
    val sims = df.select(cosine_sim(col("a"), col("b")).as("s"))
      .collect().map(_.getDouble(0))
    assert(math.abs(sims(0) - 1.0) < 1e-12)
    assert(math.abs(sims(1)) < 1e-12)
    assert(math.abs(sims(2) - 1.0) < 1e-12)
    // double arrays + SQL registration path
    val viaSql = spark.sql(
      "SELECT graft_cosine_sim(array(3.0D, 4.0D), array(4.0D, 3.0D))").collect()
    assert(math.abs(viaSql.head.getDouble(0) - 24.0 / 25.0) < 1e-12)
  }

  test("expressions survive filters inside whole-stage codegen") {
    val df = Seq.tabulate(100)(i => s"10.0.$i.7").toDF("ip")
      .filter(ip_match(col("ip"), lit("10.0.0.0/20")))
    // /20 on 10.0.x.7 → third octet 0..15
    assert(df.count() == 16)
  }
}
