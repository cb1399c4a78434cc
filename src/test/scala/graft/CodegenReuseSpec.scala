package graft

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.api.HttpApi

/** Generated-code reuse across requests: a query asked again at a new
  * window compiles no class (its numeric operands are bound, so the
  * Java source is the same), and the codegen cache holds more than
  * Spark's default 100 classes, so a serving working set is not evicted
  * between requests.
  */
class CodegenReuseSpec extends SparkTestBase with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  /** Classes Janino compiled while `f` ran (JVM-wide counter). */
  private def compiles(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private val Minute = 60L
  private val T0 = 1704067200L // 2024-01-01T00:00:00Z

  /** Parquet-backed frames: a local relation would be folded by the
    * optimizer and never reach generated code.
    */
  private val dirs = scala.collection.mutable.Buffer[java.io.File]()
  override def afterAll(): Unit =
    try dirs.foreach(graft.sources.Layout.deleteRecursively) finally super.afterAll()

  private def parquet(df: org.apache.spark.sql.DataFrame) = {
    val dir = Files.createTempDirectory("codegen-reuse").toString
    dirs += new java.io.File(dir)
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private lazy val points = parquet((0 until 240).flatMap { i =>
    Seq("a", "b").map(h => ((T0 + i * 30L) * 1000000L + 7, "cpu", Map("host" -> h), i.toDouble))
  }.toDF("ts_us", "name", "labels", "value"))

  private lazy val logs = parquet((0 until 240).map { i =>
    ((T0 + i * 30L) * 1000000000L + 11, s"level=${if (i % 3 == 0) "error" else "info"} n=$i",
      Map("app" -> (if (i % 2 == 0) "api" else "web")))
  }.toDF("ts_ns", "body", "labels"))

  private lazy val spans = parquet((0 until 120).map { i =>
    (i.toLong, 1L, None: Option[Long], if (i % 2 == 0) "GET" else "db.query",
      (T0 + i * 60L) * 1000000000L + 13, 1000000L * (i % 7 + 1),
      Map("service.name" -> (if (i % 3 == 0) "api" else "db")))
  }.toDF("trace_id", "span_id", "parent_span_id", "name", "start_ns",
    "duration_ns", "attrs"))

  private def get(url: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    try (code, new String(is.readAllBytes(), "UTF-8")) finally is.close()
  }

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")

  test("a query asked at a second window compiles no class") {
    val api = new HttpApi(logs, points, spans)
    val port = api.start()
    try {
      def ask(startSec: Long): Unit = {
        val end = startSec + 30 * Minute
        Seq(
          s"/api/v1/query_range?query=${enc("sum by (host) (rate(cpu[5m]))")}" +
            s"&start=$startSec&end=$end&step=60",
          s"/loki/api/v1/query_range?query=${enc("""sum by (app) (count_over_time({app=~".+"} |= "error" [5m]))""")}" +
            s"&start=${startSec * 1000000000L}&end=${end * 1000000000L}&step=60",
          s"/api/search?q=${enc("""{ resource.service.name = "api" && duration > 2ms }""")}" +
            s"&start=$startSec&end=$end&limit=20"
        ).foreach { path =>
          val (code, body) = get(s"http://127.0.0.1:$port$path")
          assert(code == 200, s"$path -> $code $body")
        }
      }
      ask(T0 + 5 * Minute) // window A compiles the shapes
      val second = compiles(ask(T0 + 47 * Minute))
      assert(second == 0, s"window B compiled $second classes")
    } finally api.stop()
  }

  test("the codegen cache holds more than Spark's default 100 classes") {
    val df = parquet((0 until 50).map(i => (i.toLong, i.toDouble)).toDF("k", "v"))
    // each projection's distinct function set is a distinct Java source
    val fns = Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
      sqrt, exp, log1p, sin, cos, tan, atan, cbrt, signum, floor)
    def shape(i: Int) = df.select(fns(i % 10)(col("v")).as("a"),
      fns(i / 10)(col("v") + col("k")).as("b"))
    val first = compiles(shape(0).collect(): Unit)
    assert(first > 0)
    // two keys a shape (driver and task class loaders): past the
    // default capacity of 100, within the configured one
    val filled = compiles((1 until 60).foreach(i => shape(i).collect()))
    assert(filled > 100, s"only $filled classes compiled")
    val again = compiles(shape(0).collect(): Unit)
    assert(again == 0, s"the first shape recompiled $again classes after $filled others")
  }
}
