package graft.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graftbridge.Bridge

/** Session factory carrying the engine's standard configuration.
  *
  * Design notes (SURVEY.md §1.4, §4.2):
  *   - `spark.sql.legacy.parquet.nanosAsLong=true`: the reference stores
  *     ns-precision timestamps (DateTime64(9)); Spark's TimestampType is µs.
  *     Reading parquet TIMESTAMP(NANOS) as a raw Long keeps ns fidelity
  *     end-to-end (LogQL APIs return ns), exactly like the reference keeps
  *     a ns uint64 (reference: internal/otelstorage/timestamp.go:11-15).
  *   - AQE on: runtime shuffle coalescing + skew-join handling is our
  *     stand-in for ClickHouse's adaptive merges at 100 TB.
  *   - shuffle partitions default to the core count locally; on a real
  *     cluster this is expected to be overridden (e.g. 2-3× total cores).
  *   - codegen cache capacity: see [[CodegenCacheEntries]].
  */
object GraftSession {

  /** Capacity of Spark's generated-class cache, in (thread context class
    * loader, Java source) keys. Spark's default of 100 is smaller than
    * the serving working set, so the LRU evicted classes every request
    * needed again and each request recompiled its stages. Sized from
    * the keys a serving run holds once numeric operands are bound
    * ([[graft.plans.BoundParams]]); README "Generated code is compiled
    * once per query shape" has the count.
    */
  val CodegenCacheEntries = 300

  /** Apply the engine's standard configuration to a builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(graft.functions.GraftFunctions.inject)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Label-map rewrites (label_replace dst overwrite, OTLP
      // resource/point attr merges) legitimately produce duplicate map
      // keys; the default EXCEPTION policy would fail the whole query
      // or ingest batch. LAST_WIN matches PromQL/LogQL label-overwrite
      // semantics (the rewritten value replaces the old one).
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Builds Spark's JVM-wide codegen cache under `spark`'s conf. Its
    * capacity is a static conf that `CodeGenerator` reads once, when it
    * first initializes, from the session active on that thread; a first
    * compile on a thread with none (a Spark-internal or server thread)
    * builds it at the default 100 entries whatever the builder said.
    * Call once the session exists, before any query runs.
    */
  def initCodegenCache(spark: SparkSession): Unit =
    Bridge.withActive(spark)(CodeGenerator.compileTime): Unit

  /** Local session for tests and ad-hoc runs. */
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      math.max(cores, 1)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    initCodegenCache(spark)
    spark
  }
}
