package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.plans.{BoundParam, BoundParams}

/** The physical rule that binds numeric operands ([[BoundParams]]):
  * the same rows as interpreted evaluation, scans and persisted frames
  * untouched, null and must-be-foldable operands left as literals.
  */
class BoundParamsSpec extends SparkTestBase with AdaptiveSparkPlanHelper
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def bound(plan: SparkPlan): Seq[BoundParam] = collect(plan) {
    case f: FilterExec  => Seq(f.condition)
    case p: ProjectExec => p.projectList
  }.flatten.flatMap(_.collect { case b: BoundParam => b })

  private val dir = Files.createTempDirectory("bound-params").toFile
  private lazy val written = {
    (0 until 40).map { i =>
      (i, i * 1000000007L, i * 0.25, Date.valueOf(s"2024-01-${1 + i % 28}"),
        new Timestamp(1704067200000L + i * 60000L), i % 4)
    }.toDF("i", "l", "d", "day", "ts", "part")
      .write.mode("overwrite").partitionBy("part").parquet(dir.getPath)
    dir.getPath
  }
  private def table: DataFrame = spark.read.parquet(written)
  override def afterAll(): Unit =
    try graft.sources.Layout.deleteRecursively(dir) finally super.afterAll()

  private val perType: Seq[(String, DataFrame => DataFrame)] = Seq(
    "int" -> (_.filter(col("i") > 7 && col("i") % 3 =!= 1)
      .select(col("i"), (col("i") * 5 - 2).as("x"))),
    "long" -> (_.filter(col("l") >= 3000000021L)
      .select(col("l"), (col("l") + 11L).as("x"), (col("l") < 20000000140L).as("y"))),
    "double" -> (_.filter(col("d") < 7.5)
      .select(col("d"), (col("d") * 1.5 + 0.125).as("x"))),
    "date" -> (_.filter(col("day") >= lit(Date.valueOf("2024-01-09")))
      .select(col("day"), (col("day") <= lit(Date.valueOf("2024-01-20"))).as("y"))),
    "timestamp" -> (_.filter(col("ts") < lit(Timestamp.valueOf("2024-01-01 00:30:00")))
      .select(col("ts"), (col("ts") > lit(Timestamp.valueOf("2024-01-01 00:10:00"))).as("y")))
  )

  perType.foreach { case (name, q) =>
    test(s"$name operands: bound, and the same rows as interpreted evaluation") {
      val df = q(table)
      val got = df.collect().map(_.toString).sorted.toSeq
      assert(bound(df.queryExecution.executedPlan).nonEmpty,
        s"no bound operand in:\n${df.queryExecution.executedPlan}")
      val want = withConf("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        q(table).collect().map(_.toString).sorted.toSeq
      }
      assert(got.nonEmpty)
      assert(got == want)
    }
  }

  test("a windowed parquet read keeps its pushed and partition filters") {
    val df = table.filter(col("ts") >= lit(Timestamp.valueOf("2024-01-01 00:05:00")) &&
      col("ts") < lit(Timestamp.valueOf("2024-01-01 00:25:00")) && col("part") === 2)
      .select(col("i"), (col("l") + 1L).as("x"))
    val rows = df.collect()
    assert(rows.map(_.getInt(0)).sorted.toSeq == (5 until 25).filter(_ % 4 == 2))
    def scans(p: SparkPlan) = collect(p) { case s: FileSourceScanExec => s }
      .map(s => (s.metadata("PushedFilters"), s.metadata("PartitionFilters")))
    // the planner's plan, before any preparation rule ran
    val before = scans(df.queryExecution.sparkPlan)
    val after = scans(df.queryExecution.executedPlan)
    assert(after == before)
    assert(after.head._1.contains("GreaterThanOrEqual(ts,2024-01-01 00:05:00.0)"), after)
    assert(after.head._2.contains("(part#"), after)
    assert(bound(df.queryExecution.executedPlan).nonEmpty)
    val text = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(text.contains("(l#") && text.contains(" + 1) AS x#"), text)
  }

  test("a persisted frame still plans an in-memory scan with stats filters") {
    // the shape HttpApi's resolutionCache stores and later re-filters
    val cached = table.filter(col("i") >= 4).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      cached.count()
      val df = cached.filter(col("i") < 10).select(col("i"))
      assert(df.collect().map(_.getInt(0)).sorted.toSeq == (4 until 10))
      val scans = collect(df.queryExecution.executedPlan) { case s: InMemoryTableScanExec => s }
      assert(scans.nonEmpty, df.queryExecution.executedPlan)
      val preds = scans.flatMap(_.predicates)
      assert(preds.exists(_.exists {
        case Literal(10, IntegerType) => true
        case _ => false
      }), preds)
      assert(!preds.exists(_.exists(_.isInstanceOf[BoundParam])), preds)
    } finally cached.unpersist()
  }

  test("null operands stay literals") {
    val a = AttributeReference("a", LongType)()
    val e = Add(a, Literal(null, LongType))
    assert(BoundParams.bind(e) eq e)
    assert(BoundParams.bind(EqualTo(a, Literal(7L))) == EqualTo(a, BoundParam(Literal(7L))))
  }

  test("an operand that must be foldable stays a literal") {
    val v = AttributeReference("v", DoubleType)()
    // round's scale must be foldable: binding inside it would unresolve
    val e = Round(v, Add(Literal(1), Literal(1)))
    assert(e.resolved)
    assert(BoundParams.bind(e) eq e)
    // its sibling operands still bind
    val sum = Add(Round(v, Add(Literal(1), Literal(1))), Literal(2.5))
    assert(BoundParams.bind(sum) == Add(e, BoundParam(Literal(2.5))))
  }

  test("with adaptive execution off the rule still applies") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = table.filter(col("i") > 30).select((col("i") * 2).as("x"))
      assert(df.collect().map(_.getInt(0)).sorted.toSeq == (31 until 40).map(_ * 2))
      val plan = df.queryExecution.executedPlan
      assert(!plan.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
      assert(bound(plan).map(_.lit.value).toSet == Set(30, 2), plan)
    }
  }
}
