package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.obs.TaskLedger

/** The measurement CLI: [[Bench]]'s session setup and fixture warm-up,
  * task metrics from the [[graft.obs.TaskLedger]], four modes
  * (SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS as for Bench):
  *
  *   sbt "runMain graft.Measure decomp [stride] [name1,name2]"
  *   sbt "runMain graft.Measure floor"
  *   sbt "runMain graft.Measure plans <outDir> <suffix> name1,name2"
  *   sbt "runMain graft.Measure bpe [merges]"
  *
  * decomp — every `stride`-th query by name (default 10), or those whose
  *   name contains one of the substrings: a cold run (`first`, with the
  *   classes it compiled), then
  *   three runs split into BUILD (the DataFrame), PLAN (analysis,
  *   optimization and physical planning via `executedPlan`, no job) and
  *   EXEC (the count()); the median run by wall prints with compute =
  *   Σ task time / cores, cpu, gc, the classes Janino compiled and their
  *   compile time (all threads), floor = wall − compute − compile
  *   (scheduling, task launch, inter-job turnaround), jobs and stages.
  * floor  — first and warm-median wall of no-IO jobs, a shuffle, parquet
  *   scans and one small LogQL query: the fixed machinery under a query;
  *   then that LogQL query at a second window, with the classes it
  *   compiles (0 when generated code is reused across windows).
  * plans  — each named query's `.explain("formatted")` into
  *   `<outDir>/<name><suffix>.txt` (the `plans/<round>/` evidence files).
  * bpe    — BPE trainer throughput (default 1000 merges): the corpus
  *   end-to-end (one distributed (word, count) rollup, then the
  *   driver-local merge loop), and the merge loop alone over a seeded
  *   50k-word vocabulary — the rate a 32k-merge production vocabulary
  *   extrapolates from (per-merge work is bounded by affected words).
  *   Reads only `documents`, so it skips the query warm-up.
  */
object Measure {

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** (classes compiled, compile seconds) across all threads while `f` ran. */
  private def compiled(f: => Unit): (Long, Double) = {
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = CodeGenerator.compileTime
    f
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0,
      (CodeGenerator.compileTime - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val modes: Map[String, (SparkSession, String, Seq[String]) => Unit] =
      Map("decomp" -> decomp, "floor" -> floor, "plans" -> plans, "bpe" -> bpe)
    require(modes.contains(mode),
      s"usage: graft.Measure ${modes.keys.toSeq.sorted.mkString("|")} [args]")
    val spark = Bench.session(Bench.cpus)
    try {
      if (mode != "bpe") Bench.warmUp(spark, Bench.sfDir)
      modes(mode)(spark, Bench.sfDir, args.toSeq.tail)
    } finally spark.stop()
  }

  private def decomp(spark: SparkSession, sfDir: String,
      args: Seq[String]): Unit = {
    val sc = spark.sparkContext
    val cores = Bench.cpus
    val stride = args.headOption.map(_.toInt).getOrElse(10)
    val nameFilter = args.lift(1).map(_.split(',').toSeq)
    val sample = graft.queries.Registry.all.filter(_.bench)
      .sortBy(_.name).zipWithIndex
      .filter { case (q, i) =>
        nameFilter match {
          case Some(subs) => subs.exists(q.name.contains)
          case None       => i % stride == 0
        }
      }.map(_._1)
    var wallSum = 0.0
    var computeSum = 0.0
    var compileSum = 0.0
    var compilesSum = 0L
    var firstSum = 0.0
    var firstCompileSum = 0.0
    sample.foreach { q =>
      try {
        // cold run pays fixture build, codegen and plan caches once
        var first = 0.0
        val (firstCompiles, firstCompile) =
          compiled { first = time(q.run(spark, sfDir).count()) }
        val runs = (1 to 3).map { i =>
          val group = s"decomp:${q.name}:$i"
          TaskLedger.begin(sc, group)
          sc.setJobGroup(group, q.name)
          try {
            var df: DataFrame = null
            var build, plan, exec = 0.0
            val cg = compiled {
              build = time { df = q.run(spark, sfDir) }
              plan = time { df.queryExecution.executedPlan; () }
              exec = time { df.count(); () }
            }
            (group, build, plan, exec, cg)
          } finally sc.clearJobGroup()
        }
        TaskLedger.drain(10000L): Unit
        val taken = runs.map(r => r -> TaskLedger.take(r._1).get)
        val ((_, build, plan, exec, (compiles, compile)), g) =
          taken.sortBy { case (r, _) => r._2 + r._3 + r._4 }.apply(1)
        val wall = build + plan + exec
        val compute = g.runMs / 1000.0 / cores
        val cpu = g.cpuNs / 1e9 / cores
        val gc = g.gcMs / 1000.0 / cores
        val floor = wall - compute - compile
        wallSum += wall
        computeSum += compute
        compileSum += compile
        compilesSum += compiles
        firstSum += first
        firstCompileSum += firstCompile
        println(f"[decomp] ${q.name}%-36s first=$first%.3f " +
          f"(compiles=$firstCompiles%3d compile=$firstCompile%.3f) " +
          f"build=$build%.3f plan=$plan%.3f exec=$exec%.3f wall=$wall%.3f " +
          f"compute=$compute%.3f cpu=$cpu%.3f gc=$gc%.3f " +
          f"compiles=$compiles%3d compile=$compile%.3f " +
          f"floor=$floor%.3f (${100 * floor / wall}%.0f%%) " +
          f"jobs=${g.jobs.size}%2d stages=${g.stages.size}%2d")
      } catch { case e: Throwable =>
        println(s"[decomp] ${q.name} failed: ${e.getMessage}")
      }
    }
    val floorSum = wallSum - computeSum - compileSum
    def pct(x: Double) = 100 * x / wallSum
    println(f"[decomp] TOTAL sample=${sample.size} wall=$wallSum%.1f s " +
      f"ideal-parallel-compute=$computeSum%.1f s (${pct(computeSum)}%.0f%%) " +
      f"compiles=$compilesSum compile=$compileSum%.1f s (${pct(compileSum)}%.0f%%) " +
      f"scheduling/coordination floor=$floorSum%.1f s (${pct(floorSum)}%.0f%% of wall); " +
      f"cold runs: wall=$firstSum%.1f s compile=$firstCompileSum%.1f s " +
      f"(${100 * firstCompileSum / firstSum}%.0f%%)")
  }

  private def floor(spark: SparkSession, sfDir: String,
      args: Seq[String]): Unit = {
    def probe(name: String, n: Int = 6)(f: => Unit): Unit = {
      val ts = (1 to n).map(_ => time(f))
      val warm = ts.tail.sorted.apply((n - 1) / 2)
      println(f"[floor] $name first=${ts.head}%.3f warm=$warm%.3f")
    }
    // pure scheduling floor: one job, one task, no IO
    probe("1-task no-IO job")(spark.range(1).count(): Unit)
    // full-width scan stage, no shuffle: task-launch cost at full width
    val width = Bench.cpus
    probe(s"$width-task no-IO job")(
      spark.range(0, 1L << 22, 1, width).count(): Unit)
    // one full-width exchange on top: the minimal shuffle round-trip
    probe(s"$width-task + 1 shuffle") {
      spark.range(0, 1L << 22, 1, width).toDF("i")
        .groupBy((col("i") % 7).as("k")).count().count(): Unit
    }
    // parquet: listing + footer on first touch, then the cached scan
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    probe("parquet count")(ev.count(): Unit)
    probe("parquet 1-col agg")(
      ev.agg(sum(length(col("props")))).collect(): Unit)
    // a representative small engine query end-to-end (parse + plan +
    // one grouped scan), the shape of the bench median
    val logs = graft.sources.Testdata(spark, sfDir).events
      .select(col("ts").as("ts_ns"), col("props").as("body"),
        map(lit("event_type"), col("event_type")).as("labels"))
    def logql(from: DataFrame): Unit = graft.logql.Planner.query(
      """count_over_time({event_type=~".+"} [1d])""", from).count(): Unit
    probe("logql count_over_time")(logql(logs))
    // the same query over two windows of the log, as a server asks it:
    // only the window bounds differ, so the second compiles nothing when
    // generated code is shared across windows
    val Seq(lo, hi) = logs.agg(min("ts_ns"), max("ts_ns")).head().toSeq
      .map(_.asInstanceOf[Long])
    def window(a: Long, b: Long) =
      logs.filter(col("ts_ns") >= a && col("ts_ns") < b)
    val span = hi - lo
    val (firstN, _) = compiled(logql(window(lo, lo + span / 2)))
    val (secondN, secondS) = compiled(logql(window(lo + span / 4, lo + 3 * span / 4)))
    println(f"[floor] logql count_over_time, 2nd window compiles=$secondN " +
      f"compile=$secondS%.3f (1st window: $firstN)")
  }

  private def plans(spark: SparkSession, sfDir: String,
      args: Seq[String]): Unit = {
    require(args.size == 3, "usage: graft.Measure plans <outDir> <suffix> name1,name2")
    val Seq(outDir, suffix, names) = args
    new java.io.File(outDir).mkdirs()
    names.split(',').foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val f = new java.io.File(outDir, s"$n$suffix.txt")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.write(p) finally w.close()
      println(s"[plans] wrote ${f.getPath} (${p.linesIterator.size} lines)")
    }
  }

  private def bpe(spark: SparkSession, sfDir: String,
      args: Seq[String]): Unit = {
    val nMerges = args.headOption.map(_.toInt).getOrElse(1000)
    val docs = graft.sources.Testdata(spark, sfDir).documents
    // (a) the real corpus end-to-end (the synthetic vocabulary is 31
    // words and saturates at 89 merges — confirmed by the independent
    // python trainer — so the wall here is ≈ the one Spark rollup)
    val t0 = System.nanoTime()
    val merges = graft.pipeline.Bpe.train(docs, "text", nMerges)
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"PROBE bpe_train corpus merges=${merges.size} wall=$dt%.2f s " +
      "(incl. the one distributed (word,count) rollup)")
    // (b) the driver-local merge LOOP at web-scale vocabulary size:
    // 50k distinct pseudo-words (seeded, deterministic)
    val rnd = new scala.util.Random(42)
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val vocab = (1 to 50000).map { _ =>
      val len = 4 + rnd.nextInt(10)
      (Seq.fill(len)(alpha(rnd.nextInt(26))).mkString,
        1L + rnd.nextInt(1000))
    }.distinct
    val t1 = System.nanoTime()
    val local = graft.pipeline.Bpe.trainLocal(vocab, nMerges)
    val dt1 = (System.nanoTime() - t1) / 1e9
    println(f"PROBE bpe_train loop vocab=${vocab.size} merges=${local.size} " +
      f"wall=$dt1%.2f s (${local.size / dt1}%.0f merges/s driver-local)")
  }
}
