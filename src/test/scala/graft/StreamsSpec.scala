package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streams

/** Structured Streaming specs driven by MemoryStream: windowed rollup
  * with watermark, series dedup, point decomposition, ingest-time
  * severity deduction.
  */
class StreamsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("enrichLogs deduces severity from body at ingest") {
    val df = Seq(
      (ts(0), "error: disk full", "api"),
      (ts(1), "all fine info", null.asInstanceOf[String])
    ).toDF("timestamp", "body", "service_name")
    val out = Streams.enrichLogs(df).collect()
    assert(out.map(_.getAs[String]("severity_text")).toSeq == Seq("ERROR", "INFO"))
    assert(out.map(_.getAs[String]("service_name")).toSeq == Seq("api", "unknown_service"))
  }

  test("docker json-file envelopes unwrap: wrapped bodies parse identically to bare ones") {
    val klog = "E0101 10:00:00.000000 1 main.go:10] disk full"
    val jsonLine = """{"level":"warn","msg":"slow request"}"""
    def wrap(line: String, stream: String, time: String): String =
      s"""{"log":"${line.replace("\"", "\\\"")}\\n","stream":"$stream","time":"$time"}"""
    val df = Seq(
      wrap(klog, "stderr", "2024-01-01T10:00:00.123456789Z"),
      klog,
      wrap(jsonLine, "stdout", "2024-01-01T10:00:01.5Z"),
      jsonLine,
      // json body with a "log" key but NO envelope time: not docker
      """{"log":"x","stream":"stdout","msg":"plain json"}""",
      // all three envelope keys but an UNPARSEABLE time: application
      // json sharing the key names, not a daemon envelope — must fall
      // through untouched instead of landing at epoch 0 (advice r12)
      """{"log":"y","stream":"stdout","time":"not-a-time"}"""
    ).toDF("body")
    val out = Streams.detectLogFormat(df).select(
      "detected_format", "detected_level", "msg", "docker_stream").collect()
    // wrapped klog == bare klog, modulo the docker/ provenance tag
    assert(out(0).getString(0) == "docker/klog" && out(1).getString(0) == "klog")
    assert(out(0).getString(1) == out(1).getString(1)) // ERROR
    assert(out(0).getString(2) == out(1).getString(2)) // "disk full"
    assert(out(0).getString(3) == "stderr" && out(1).isNullAt(3))
    // wrapped json == bare json
    assert(out(2).getString(0) == "docker/json" && out(3).getString(0) == "json")
    assert(out(2).getString(1) == "WARN" && out(2).getString(2) == "slow request")
    assert(out(2).getString(3) == "stdout")
    // log-keyed json without the time key stays a plain json body
    assert(out(4).getString(0) == "json" && out(4).isNullAt(3))
    // malformed time: detection fails, body survives as plain json
    assert(out(5).getString(0) == "json" && out(5).isNullAt(3))
  }

  test("detectLogFormat with unwrapDocker=false never mutates body or ts_ns") {
    val env =
      """{"log":"E0101 10:00:00.000000 1 m.go:1] x\n","stream":"stderr","time":"2024-01-01T10:00:00Z"}"""
    val df = Seq((42L, env)).toDF("ts_ns", "body")
    val out = Streams.detectLogFormat(df, unwrapDocker = false).head()
    assert(out.getAs[Long]("ts_ns") == 42L)
    assert(out.getAs[String]("body") == env)
    assert(out.getAs[String]("detected_format") == "json")
  }

  test("enrichLogs keeps docker stream provenance on attrs-less frames via a synthesized attrs map") {
    val df = Seq(
      (1L, """{"log":"warn: w\n","stream":"stdout","time":"2024-01-01T00:00:01Z"}"""),
      (2L, "plain: no envelope")
    ).toDF("ts_ns", "body").withColumn("service_name", lit("svc"))
    val out = Streams.enrichLogs(df).orderBy("body").collect()
    assert(!out.head.schema.fieldNames.contains("docker_stream"))
    val plain = out.find(_.getAs[String]("body") == "plain: no envelope").get
    assert(plain.getAs[Map[String, String]]("attrs") == Map.empty)
    val docker = out.find(_.getAs[String]("body") == "warn: w").get
    assert(docker.getAs[Map[String, String]]("attrs") == Map("stream" -> "stdout"))
  }

  test("docker envelope time replaces ts_ns at µs grain; attrs gain the stream label") {
    val df = Seq(
      (1L, """{"log":"error: boom\n","stream":"stderr","time":"2024-01-01T00:00:07.179575123Z"}""",
        Map("app" -> "web", "stream" -> "stale")),
      (2L, "error: bare", Map("app" -> "web"))
    ).toDF("ts_ns", "body", "attrs")
    val out = Streams.enrichLogs(df.withColumn("service_name", lit("svc")))
      .orderBy("ts_ns").collect()
    val docker = out.find(_.getAs[String]("body") == "error: boom").get
    assert(docker.getAs[Long]("ts_ns") == 1704067207179575000L) // µs-truncated
    assert(docker.getAs[Map[String, String]]("attrs") ==
      Map("app" -> "web", "stream" -> "stderr")) // stale stream overwritten
    assert(docker.getAs[String]("severity_text") == "ERROR") // from the UNWRAPPED body
    val bare = out.find(_.getAs[String]("body") == "error: bare").get
    assert(bare.getAs[Long]("ts_ns") == 2L)
    assert(bare.getAs[Map[String, String]]("attrs") == Map("app" -> "web"))
  }

  test("logSeverityCounts: windowed streaming aggregation with watermark") {
    val input = MemoryStream[(Timestamp, String)](spark)
    val logs = input.toDF().toDF("timestamp", "severity_text")
    input.addData(
      (ts(0), "ERROR"), (ts(1), "ERROR"), (ts(2), "INFO"),
      (ts(6), "ERROR"))
    val query = Streams.logSeverityCounts(logs)
      .writeStream.format("memory").queryName("sev_counts")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("sev_counts")
      .groupBy("window_start", "severity_text").agg(max("n").as("n"))
      .orderBy("window_start", "severity_text")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq(
      (ts(0), "ERROR", 2L), (ts(0), "INFO", 1L), (ts(5), "ERROR", 1L)))
  }

  test("pointsSink maintains the hourly stat-tier sidecar exactly-once across restarts") {
    // the r12 gap one seam later: the rollup sidecar must cover
    // EXACTLY the committed raw points (no finalization lag a
    // tier-served dashboard could silently lose) — so it rides
    // pointsSink as per-batch additive partials, the AttrCube
    // discipline, and replayed generations add nothing
    val dir = java.nio.file.Files.createTempDirectory("graft-rollup").toString
    val spool = s"$dir/spool"
    val HourUs = 3600000000L
    val h10 = 1704103200000000L // 2024-01-01T10:00Z µs, on the hour
    val sch = org.apache.spark.sql.types.StructType.fromDDL(
      "ts_us LONG, name STRING, labels MAP<STRING,STRING>, value DOUBLE")
    def run(): Unit = {
      val stream = spark.readStream.schema(sch).parquet(spool)
      val q = Streams.pointsSink(stream, s"$dir/points", s"$dir/ckpt",
        Trigger.AvailableNow(), rollupPath = s"$dir/rollup")
      q.awaitTermination()
    }
    def merged: Map[(Long, String), (Long, Double, Double, Double)] =
      spark.read.parquet(s"$dir/rollup")
        .groupBy("hour_start", "name")
        .agg(sum(col("n")).as("n"), sum(col("sum_dec")).as("s"),
          min(col("min_v")).as("mn"), max(col("max_v")).as("mx"))
        .collect()
        .map(r => ((r.getTimestamp(0).getTime * 1000L, r.getString(1)),
          (r.getLong(2), r.getDecimal(3).doubleValue(), r.getDouble(4),
            r.getDouble(5)))).toMap
    // the 10:00:00.000000 BOUNDARY sample must land in the bucket
    // ENDING at 10:00 (left-open (09:00, 10:00], labeled 09:00) — the
    // PromQL window convention; 10:40 lands in (10:00, 11:00]
    Seq((h10, "cpu", Map("host" -> "a"), 1.0),
      (h10 + 40 * 60000000L, "cpu", Map("host" -> "a"), 5.0))
      .toDF("ts_us", "name", "labels", "value")
      .write.mode("append").parquet(spool)
    run()
    assert(merged == Map(
      (h10 - HourUs, "cpu") -> (1L, 1.0, 1.0, 1.0),
      (h10, "cpu") -> (1L, 5.0, 5.0, 5.0)))
    // replayed generation: checkpoint short-circuits, sidecar unchanged
    run()
    assert(merged((h10, "cpu")) == (1L, 5.0, 5.0, 5.0))
    // a second micro-batch EXTENDS the same hour: a new partial row
    // that merges additively at read time
    Seq((h10 + 50 * 60000000L, "cpu", Map("host" -> "a"), 3.0))
      .toDF("ts_us", "name", "labels", "value")
      .write.mode("append").parquet(spool)
    run()
    assert(merged((h10, "cpu")) == (2L, 8.0, 3.0, 5.0))
    // the layout opens as the tier map the PromQL planners select
    // over: end-labeled hourly buckets + a re-rolled 6h tier
    val tiers = graft.promql.PromQL.tiersFromLayout(spark, s"$dir/rollup")
    assert(tiers.keySet == Set(HourUs, 6 * HourUs))
    val hourly = tiers(HourUs)
      .groupBy("__end").agg(sum(col("n")).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hourly == Map(h10 -> 1L, (h10 + HourUs) -> 2L))
    val sixh = tiers(6 * HourUs)
      .groupBy("__end").agg(sum(col("n")).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // fine ends 10:00 and 11:00 both fold into the 6h bucket ending
    // 12:00 (ends are ceil-aligned: (06:00, 12:00])
    assert(sixh == Map((h10 + 2 * HourUs) -> 3L))
    // a missing layout opens as empty (fallback-to-raw everywhere)
    assert(graft.promql.PromQL.tiersFromLayout(spark, s"$dir/absent").isEmpty)
  }

  test("rollup sidecar crash-window replay derives from the STORED batch, not re-admission") {
    // crash between the raw commit and the rollup commit, then a
    // restart with rebuilt admission state that admits a DIFFERENT row
    // set: the sidecar must still cover exactly what the raw layout
    // holds (the tier soundness invariant), so the replay reads the
    // committed batch files back instead of trusting re-admission
    val dir = java.nio.file.Files.createTempDirectory("graft-replay").toString
    val spool = s"$dir/spool"
    val h10 = 1704103200000000L
    val sch = org.apache.spark.sql.types.StructType.fromDDL(
      "ts_us LONG, name STRING, labels MAP<STRING,STRING>, value DOUBLE")
    Seq((h10 + 600000000L, "cpu", Map("host" -> "a"), 1.0),
      (h10 + 600000000L, "mem", Map("host" -> "a"), 2.0))
      .toDF("ts_us", "name", "labels", "value")
      .write.mode("append").parquet(spool)
    def run(ckpt: String, budget: graft.sources.Admission.SeriesBudget): Unit = {
      val stream = spark.readStream.schema(sch).parquet(spool)
      Streams.pointsSink(stream, s"$dir/points", ckpt,
        Trigger.AvailableNow(), budget = budget,
        rollupPath = s"$dir/rollup").awaitTermination()
    }
    run(s"$dir/ckpt1", null) // both layouts commit batch 0, 2 series
    def rollupSeries = spark.read.parquet(s"$dir/rollup")
      .select("name").distinct().collect().map(_.getString(0)).toSet
    assert(rollupSeries == Set("cpu", "mem"))
    // simulate the crash window: the raw marker stays, the rollup
    // commit never happened
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete(): Unit
    }
    deleteRec(new java.io.File(s"$dir/rollup"))
    // restart from a FRESH checkpoint (batch 0 replays) with a rebuilt
    // 1-series budget: re-admission would shed one of the two series
    run(s"$dir/ckpt2", new graft.sources.Admission.SeriesBudget(1, 0))
    // raw layout unchanged (marker short-circuit), and the replayed
    // sidecar covers BOTH stored series — not the poisoned admission
    assert(spark.read.parquet(s"$dir/points")
      .select("name").distinct().count() == 2)
    assert(rollupSeries == Set("cpu", "mem"),
      "replayed sidecar must derive from the stored batch")
  }

  test("logsSink maintains the log-volume sidecar exactly-once across restarts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-logvol").toString
    val spool = s"$dir/spool"
    val HourNs = 3600000000000L
    val h10 = 1704103200000000000L // 2024-01-01T10:00Z ns, on the hour
    val sch = org.apache.spark.sql.types.StructType.fromDDL(
      "ts_ns LONG, body STRING, attrs MAP<STRING,STRING>, " +
        "severity_number INT, service_name STRING")
    def run(): Unit = {
      val stream = spark.readStream.schema(sch).parquet(spool)
      val q = Streams.logsSink(stream, s"$dir/logs", s"$dir/ckpt",
        Trigger.AvailableNow(), volumePath = s"$dir/logvolume")
      q.awaitTermination()
    }
    def merged: Map[Long, (Long, Long)] =
      spark.read.parquet(s"$dir/logvolume")
        .groupBy("hour_start")
        .agg(sum(col("n")).as("n"), sum(col("bytes")).as("b"))
        .collect()
        .map(r => (r.getTimestamp(0).getTime * 1000000L,
          (r.getLong(1), r.getLong(2)))).toMap
    def rows(ts: Long*) = ts.map(t => (t, "abcde", Map("app" -> "w"), 9, "svc"))
      .toDF("ts_ns", "body", "attrs", "severity_number", "service_name")
    // the 10:00:00 BOUNDARY line counts toward the bucket ENDING at
    // 10:00 (left-open, labeled 09:00); 10:40 toward the 11:00 end
    rows(h10, h10 + 40L * 60 * 1000000000L)
      .write.mode("append").parquet(spool)
    run()
    assert(merged == Map(
      (h10 - HourNs) -> (1L, 5L), h10 -> (1L, 5L)))
    run() // replayed generation: sidecar unchanged
    assert(merged(h10) == (1L, 5L))
    // a second batch EXTENDS the hour with an additive partial row
    rows(h10 + 50L * 60 * 1000000000L).write.mode("append").parquet(spool)
    run()
    assert(merged(h10) == (2L, 10L))
    // opens as the planner tier map; the instant plan merges partials
    val tiers = graft.logql.Planner.volumeFromLayout(spark, s"$dir/logvolume")
    assert(tiers.keySet == Set(HourNs, 6 * HourNs))
    val inst = graft.logql.Planner.volumeInstantPlan(
      """count_over_time({app="w"}[1h])""", h10 + HourNs, tiers).get
      .collect().map(r => (r.getAs[Map[String, String]](0), r.getDouble(1)))
    // streams carry the serving view's labels: attrs + service_name
    assert(inst.toSeq == Seq((Map("app" -> "w", "service_name" -> "svc"), 2.0)))
    // missing layout -> empty map -> consumers fall back to raw
    assert(graft.logql.Planner.volumeFromLayout(spark, s"$dir/absent").isEmpty)
  }

  test("minePatterns: masked templates accumulate across micro-batches") {
    val input = MemoryStream[(Timestamp, String)](spark)
    val logs = input.toDF().toDF("timestamp", "body")
    input.addData(
      (ts(0), "info: handled id=12 in 4ms"),
      (ts(1), "info: handled id=99 in 250ms"))
    input.addData((ts(2), "error timeout from 10.2.3.4:443"))
    val query = Streams.minePatterns(logs, step = "5 minutes")
      .writeStream.format("memory").queryName("patterns")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("patterns")
      .groupBy("window_start", "pattern", "level").agg(max("n").as("n"))
      .orderBy("pattern")
      .collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      ("error timeout from <_>", "error", 1L),
      ("info: handled id=<_> in <_>", "info", 2L)))
  }

  test("sessionize: gap-separated events close into distinct sessions") {
    val input = MemoryStream[(Timestamp, Long)](spark)
    val events = input.toDF().toDF("timestamp", "user_id")
    // user 7: two events 1 min apart (one session), then a third after
    // a 3 h gap (second session); user 8: one event
    def at(min: Long) = new Timestamp(min * 60000L)
    input.addData((at(0), 7L), (at(1), 7L), (at(181), 7L), (at(2), 8L))
    // watermark driver: a far-future event pushes the watermark past
    // every session close so append mode finalizes them
    input.addData((at(100000), 99L))
    val query = Streams.sessionize(events, gap = "1 hour")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("sessions")
      .filter(col("user_id") =!= 99L)
      .select("user_id", "session_start", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2.getTime))
    assert(rows.toSeq == Seq(
      (7L, at(0), 2L), (7L, at(181), 1L), (8L, at(2), 1L)))
  }

  test("windowFunnel: chain deepens across micro-batches, strict order enforced") {
    val input = MemoryStream[(Long, String, Long, Timestamp)](spark)
    val events = input.toDF().toDF("user_id", "event_type", "ts_us", "event_time")
    val query = Streams.windowFunnel(events, windowUs = 1000000L)
      .writeStream.format("memory").queryName("funnel")
      .outputMode("append").start()
    // user 1 completes the chain across two batches; user 2 purchases
    // WITHOUT a click (level stays 1); user 3's click misses the window
    input.addData(
      (1L, "view", 100L, ts(0)), (1L, "click", 200L, ts(0)),
      (2L, "view", 100L, ts(0)), (2L, "purchase", 300L, ts(0)),
      (3L, "view", 100L, ts(0)))
    query.processAllAvailable()
    input.addData(
      (1L, "purchase", 900L, ts(1)),
      (3L, "click", 100L + 2000000L, ts(1)))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("funnel")
      .select("user_id", "funnel_level").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(rows == Seq((1L, 1), (1L, 2), (1L, 3), (2L, 1), (3L, 1)),
      s"got $rows")
  }

  test("safetyGate: compact buckets accumulate across micro-batches, synthetic on window close") {
    val S = 1000000000L
    val input = MemoryStream[(Long, String, Map[String, String])](spark)
    val logs = input.toDF().toDF("ts_ns", "body", "attrs")
    val metrics = new graft.streaming.LogSafety.Metrics(spark.sparkContext)
    val cfg = graft.streaming.LogSafety.Config(
      softMaxRatePerSecond = 1, onExcess = "compact",
      compactWindowNs = 10 * S, compactThreshold = 2, keyFields = Seq("svc"))
    val query = Streams.safetyGate(logs, cfg, Some(metrics))
      .writeStream.format("memory").queryName("safety_compact")
      .outputMode("append").start()
    val a = Map("svc" -> "a")
    // batch 1, second 0: pos1 consume; pos2 co=1 kept; pos3 co=2 collapses
    input.addData((100000000L, "m0", a), (200000000L, "m1", a), (300000000L, "m2", a))
    query.processAllAvailable()
    // batch 2, second 1 (same 10s slot): pos1 consume; pos2 co=3 collapses
    input.addData((1100000000L, "m3", a), (1200000000L, "m4", a))
    query.processAllAvailable()
    // batch 3 advances the watermark past the slot → synthetic flushes,
    // cloning the bucket's FIRST record (m1) with the dropped count
    input.addData((40 * S, "later", a))
    query.processAllAvailable()
    query.stop()
    val out = spark.table("safety_compact")
      .collect().map(r => (r.getString(1),
        r.getMap[String, String](2).get(
          graft.streaming.LogSafety.CollapsedAttr))).toSet
    assert(out == Set(("m0", None), ("m1", None), ("m3", None),
      ("later", None), ("m1", Some("2"))), s"got $out")
    assert(metrics.snapshot("collapsed") == 2L)
    assert(metrics.snapshot("compacted") == 1L)
  }

  test("safetyGate: late records for a closed slot drop instead of resurrecting state") {
    val S = 1000000000L
    val input = MemoryStream[(Long, String, Map[String, String])](spark)
    val logs = input.toDF().toDF("ts_ns", "body", "attrs")
    val metrics = new graft.streaming.LogSafety.Metrics(spark.sparkContext)
    val cfg = graft.streaming.LogSafety.Config(
      softMaxRatePerSecond = 1, onExcess = "compact",
      compactWindowNs = 10 * S, compactThreshold = 2, keyFields = Seq("svc"))
    val query = Streams.safetyGate(logs, cfg, Some(metrics))
      .writeStream.format("memory").queryName("safety_late")
      .outputMode("append").start()
    val a = Map("svc" -> "a")
    input.addData((100000000L, "m0", a), (200000000L, "m1", a), (300000000L, "m2", a))
    query.processAllAvailable()
    // advance the watermark far past slot 0 → its synthetic flushes
    input.addData((60 * S, "later", a))
    query.processAllAvailable()
    // a LATE record for the closed slot must not re-open it (no second
    // synthetic, no record admitted at a reset rate position)
    input.addData((400000000L, "late!", a))
    query.processAllAvailable()
    input.addData((120 * S, "even-later", a))
    query.processAllAvailable()
    query.stop()
    val out = spark.table("safety_late").collect().map(_.getString(1)).toSeq
    // Spark's stateful-operator watermark filter drops the late row
    // before the gate; the gate's own closed-slot guard (dropped_late)
    // is the defense for rows that slip past it in the same batch the
    // watermark advances. Either way the invariant holds:
    assert(!out.contains("late!"), s"late record must drop, got $out")
    assert(out.count(_ == "m1") == 2, // kept once + one synthetic clone
      s"exactly one synthetic for the closed slot, got $out")
  }

  test("safetyGate output equals the batch transform on the same records") {
    val S = 1000000000L
    val cfg = graft.streaming.LogSafety.Config(
      softMaxRatePerSecond = 1, onExcess = "compact",
      compactWindowNs = 10 * S, compactThreshold = 2,
      truncateThreshold = 3, keyFields = Seq("svc"))
    // two keys flooding one second: consume, keep, collapse, escalate.
    // (base offset keeps event times past epoch 0 — a row AT the
    // initial watermark is dropped by Spark's stateful late-row filter)
    val base = 100 * S
    val rows = (0 until 5).flatMap { i =>
      Seq((base + i * 10000000L, s"a$i", Map("svc" -> "a")),
        (base + i * 10000000L + 1000000L, s"b$i", Map("svc" -> "b")))
    }
    def shape(df: org.apache.spark.sql.DataFrame): Set[(String, Option[String], Option[String])] =
      df.collect().map { r =>
        val m = r.getMap[String, String](2)
        (r.getString(1), m.get(graft.streaming.LogSafety.CollapsedAttr),
          m.get(graft.streaming.LogSafety.TruncatedAttr))
      }.toSet
    val batch = shape(graft.streaming.LogSafety(
      rows.toDF("ts_ns", "body", "attrs"), cfg))

    val input = MemoryStream[(Long, String, Map[String, String])](spark)
    val query = Streams.safetyGate(
      input.toDF().toDF("ts_ns", "body", "attrs"), cfg)
      .writeStream.format("memory").queryName("safety_equiv")
      .outputMode("append").start()
    input.addData(rows: _*)
    query.processAllAvailable()
    input.addData((base + 60 * S, "close", Map("svc" -> "z"))) // close the slot
    query.processAllAvailable()
    query.stop()
    val streaming = shape(spark.table("safety_equiv")
      .where("body <> 'close'"))
    assert(streaming == batch,
      s"streaming $streaming\nvs batch $batch")
  }

  test("safetyGate: truncate emits one synthetic per closed window slot") {
    val S = 1000000000L
    val input = MemoryStream[(Long, String, Map[String, String])](spark)
    val logs = input.toDF().toDF("ts_ns", "body", "attrs")
    val cfg = graft.streaming.LogSafety.Config(
      softMaxRatePerSecond = 1, onExcess = "truncate",
      compactWindowNs = 10 * S)
    val query = Streams.safetyGate(logs, cfg)
      .writeStream.format("memory").queryName("safety_trunc")
      .outputMode("append").start()
    val m = Map.empty[String, String]
    input.addData((100000000L, "t0", m), (200000000L, "t1", m), (300000000L, "t2", m))
    query.processAllAvailable()
    input.addData((40 * S, "later", m))
    query.processAllAvailable()
    query.stop()
    val L = graft.streaming.LogSafety
    val syn = spark.table("safety_trunc")
      .where(s"body = '${L.TruncatedBody}'").collect()
    assert(syn.length == 1)
    val attrs = syn.head.getMap[String, String](2)
    assert(attrs(L.TruncatedAttr) == "2")
    assert(attrs(L.WindowStartAttr) == "0")
    assert(attrs(L.WindowEndAttr) == (10 * S).toString)
    // the synthetic clones the first truncated record's timestamp
    assert(syn.head.getLong(0) == 200000000L)
    assert(spark.table("safety_trunc").count() == 3) // t0, later, synthetic
  }

  test("nearDupBandClaims: streaming MinHash dedup flags cross-batch near-dups") {
    val input = MemoryStream[(Long, String, Timestamp)](spark)
    val docs = input.toDF().toDF("doc_id", "text", "event_time")
    // doc 1 arrives first and claims its buckets; doc 2 (identical
    // text, later batch) collides on every band; doc 3 is novel
    val query = Streams.nearDupBandClaims(docs)
      .writeStream.format("memory").queryName("neardup_claims")
      .outputMode("append").start()
    input.addData((1L, "alpha beta gamma delta epsilon", ts(0)))
    query.processAllAvailable()
    input.addData(
      (2L, "alpha beta gamma delta epsilon", ts(1)),
      (3L, "one two three four five", ts(1)))
    query.processAllAvailable()
    query.stop()
    // verdict aggregation = the foreachBatch shape: any foreign owner
    val verdicts = spark.table("neardup_claims")
      .groupBy("doc_id")
      .agg(max(col("owner") =!= col("doc_id")).as("is_dup"),
        count(lit(1)).as("n_bands"))
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
      .sortBy(_._1)
    assert(verdicts.toSeq == Seq(
      (1L, false, 4L), (2L, true, 4L), (3L, false, 4L)))
  }

  test("seriesIdentity: dropDuplicatesWithinWatermark keeps first sighting") {
    val input = MemoryStream[(Array[Byte], String, Timestamp)](spark)
    val points = input.toDF().toDF("hash", "name", "timestamp")
    val h1 = Array[Byte](1, 2)
    val h2 = Array[Byte](3, 4)
    input.addData((h1, "cpu", ts(0)), (h1, "cpu", ts(1)), (h2, "mem", ts(2)))
    val query = Streams.seriesIdentity(points)
      .writeStream.format("memory").queryName("series_ids")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("series_ids").select("name").as[String].collect().sorted
    assert(rows.toSeq == Seq("cpu", "mem"))
  }

  test("docDedup: streaming exact-dedup keeps first sighting across batches") {
    val input = MemoryStream[(Long, String, Timestamp)](spark)
    val docs = input.toDF().toDF("doc_id", "text", "timestamp")
    val query = Streams.docDedup(docs)
      .writeStream.format("memory").queryName("doc_dedup")
      .outputMode("append").start()
    input.addData((1L, "alpha beta", ts(0)), (2L, "alpha beta", ts(1)),
      (3L, "gamma", ts(2)))
    query.processAllAvailable()
    // a later micro-batch re-sends a digest inside the horizon: dropped
    input.addData((4L, "alpha beta", ts(3)), (5L, "delta", ts(4)))
    query.processAllAvailable()
    query.stop()
    val kept = spark.table("doc_dedup").select("doc_id").as[Long]
      .collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 5L))
  }

  test("cdcChunkDedup: a re-crawled edit emits only the edited chunks") {
    val rnd = new scala.util.Random(31)
    val toks = Vector.fill(300)(s"w${rnd.nextInt(97)}")
    val edited = (toks.take(150) :+ "EDITED") ++ toks.drop(150)
    val input = MemoryStream[(Long, String, Timestamp)](spark)
    val docs = input.toDF().toDF("doc_id", "text", "timestamp")
    val query = Streams.cdcChunkDedup(docs)
      .writeStream.format("memory").queryName("cdc_chunks")
      .outputMode("append").start()
    input.addData((1L, toks.mkString(" "), ts(0)))
    query.processAllAvailable()
    val first = spark.table("cdc_chunks").count()
    // the re-crawl: same document with one token inserted mid-text
    input.addData((2L, edited.mkString(" "), ts(1)))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("cdc_chunks")
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(first >= 10L, s"expected ~19 chunks from the 300-token doc, got $first")
    assert(rows(1L) == first)
    // CDC shift robustness at ingest: only the edited chunk (and at
    // most its disturbed neighbors) survives dedup as "new"
    assert(rows.getOrElse(2L, 0L) <= 5L,
      s"re-crawl emitted ${rows.getOrElse(2L, 0L)} chunks — the edit should be local")
  }

  test("lastValueState carries per-series state across micro-batches") {
    import graft.streaming.Streams.PointIn
    val input = MemoryStream[PointIn](spark)
    val query = Streams.lastValueState(input.toDS())
      .writeStream.format("memory").queryName("series_state")
      .outputMode("update").start()
    input.addData(PointIn("cpu", 100L, 1.0), PointIn("cpu", 200L, 2.0),
      PointIn("mem", 100L, 7.0))
    query.processAllAvailable()
    input.addData(PointIn("cpu", 300L, 3.0))
    query.processAllAvailable()
    query.stop()
    val last = spark.table("series_state")
      .groupBy("series").agg(max("n_seen").as("n_seen"), max("ts_us").as("ts_us"))
      .orderBy("series")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // cpu saw 3 samples across 2 batches with newest ts 300; mem saw 1
    assert(last.toSeq == Seq(("cpu", 3L, 300L), ("mem", 1L, 100L)))
  }

  test("decomposeExpHist flattens exp-hist buckets and summary quantiles") {
    val df = Seq(
      // exp-hist record: scale 2, zerocount 5, buckets [3,0,7] at offset 4,
      // sum field 12.5
      (ts(0), "lat", "a=1", Some(2), Some(9L), Some(4), Some(Seq(3L, 0L, 7L)),
        None: Option[Seq[(Double, Double)]], Some(12.5)),
      // summary record: q50=1.5, q99=9.9
      (ts(1), "lat", "a=1", None: Option[Int], None: Option[Long],
        None: Option[Int], None: Option[Seq[Long]],
        Some(Seq((0.5, 1.5), (0.99, 9.9))), None: Option[Double])
    ).toDF("timestamp", "name", "attrs", "exp_scale", "exp_zerocount",
      "exp_positive_offset", "exp_positive_counts", "summary_quantiles",
      "exp_sum")
      .withColumn("summary_quantiles",
        col("summary_quantiles").cast("array<struct<q:double,value:double>>"))
    val out = Streams.decomposeExpHist(df)
      .select("mapping", "bucket_idx", "value")
      .orderBy("mapping", "bucket_idx")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      (10, -1, 9.0),                       // zero-count row
      (11, 4, 3.0), (11, 5, 0.0), (11, 6, 7.0), // positive buckets at offset
      (12, -1, 12.5),                      // sum-field row
      (20, 50, 1.5), (20, 99, 9.9)))       // summary quantiles
  }

  test("logsSink appends date-partitioned sorted parquet per micro-batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val input = MemoryStream[(Long, String, Int, String)](spark)
    val logs = input.toDF().toDF("ts_ns", "body", "severity_number", "service_name")
    // two days of data — must land in two date= partitions
    val day1 = 1704103200000000000L // 2024-01-01T10:00Z in ns
    val day2 = day1 + 86400000000000L
    input.addData((day1, "a", 9, "api"), (day1 + 1000L, "b", 17, "api"),
      (day2, "c", 5, "web"))
    val query = Streams.logsSink(logs, s"$dir/logs", s"$dir/ckpt")
    query.processAllAvailable()
    query.stop()
    val back = spark.read.parquet(s"$dir/logs")
    assert(back.count() == 3)
    assert(back.select("date").distinct().count() == 2)
    assert(back.filter(col("date") === "20240102")
      .select("body").as[String].collect().toSeq == Seq("c"))
  }

  test("logsSink is exactly-once across listener restarts (file spool + checkpoint)") {
    // the restart/recovery proof: the same checkpoint dir drives three
    // generations of the sink over a durable file spool — rows land
    // exactly once, replayed generations add nothing
    val dir = java.nio.file.Files.createTempDirectory("graft-restart").toString
    val spool = s"$dir/spool"
    val day1 = 1704103200000000000L
    val sch = org.apache.spark.sql.types.StructType.fromDDL(
      "ts_ns LONG, body STRING, severity_number INT, service_name STRING")
    def run(): Unit = {
      val stream = spark.readStream.schema(sch).parquet(spool)
      val q = Streams.logsSink(stream, s"$dir/logs", s"$dir/ckpt",
        Trigger.AvailableNow())
      q.awaitTermination()
    }
    def stored: Seq[String] =
      spark.read.parquet(s"$dir/logs").select("body").as[String]
        .collect().toSeq.sorted
    Seq((day1, "a", 9, "api"), (day1 + 1000L, "b", 17, "api"))
      .toDF("ts_ns", "body", "severity_number", "service_name")
      .write.mode("append").parquet(spool)
    run()
    assert(stored == Seq("a", "b"))
    // restart with nothing new: checkpoint replays nothing
    run()
    assert(stored == Seq("a", "b"))
    // new data arrives while the listener is down; restart picks up
    // EXACTLY the new rows
    Seq((day1 + 2000L, "c", 5, "web"))
      .toDF("ts_ns", "body", "severity_number", "service_name")
      .write.mode("append").parquet(spool)
    run()
    assert(stored == Seq("a", "b", "c"))
  }

  test("commitBatch replays every crash window to the same final state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-commit").toString
    val path = s"$dir/logs"
    val day1 = 1704103200000000000L
    val df = Seq((day1, "x", 9, "api"), (day1 + 1000L, "y", 5, "api"))
      .toDF("ts_ns", "body", "severity_number", "service_name")
    def commit(): Unit =
      graft.sources.Layout.commitBatch(path, 7)(
        graft.sources.Layout.writeLogs(df, _, mode = "overwrite"))
    def n: Long = spark.read.parquet(path).count()
    commit()
    assert(n == 2)
    // replay after a full commit: the marker short-circuits
    commit()
    assert(n == 2)
    // crash window: files moved but marker not yet written — the replay
    // must REPLACE the batch's files, not append next to them
    assert(new java.io.File(path, "_committed_7").delete())
    commit()
    assert(n == 2)
    // crash window: partial staging write left behind
    assert(new java.io.File(path, "_committed_7").delete())
    new java.io.File(path, ".staging_7/date=19700101").mkdirs()
    commit()
    assert(n == 2)
    assert(!new java.io.File(path, ".staging_7").exists())
  }

  test("pointsSink appends the (name, ts)-sorted daily point layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft-psink").toString
    val input = MemoryStream[(Long, String, Double)](spark)
    val points = input.toDF().toDF("ts_us", "name", "value")
    val day1 = 1704103200000000L // 2024-01-01T10:00Z µs
    input.addData((day1, "cpu", 1.0), (day1 + 60000000L, "mem", 2.0))
    val query = Streams.pointsSink(points, s"$dir/points", s"$dir/ckpt")
    query.processAllAvailable()
    query.stop()
    val back = spark.read.parquet(s"$dir/points")
    assert(back.count() == 2)
    // partition-column inference reads date= back as an integer
    assert(back.select("date").distinct().collect().map(_.get(0).toString).toSeq == Seq("20240101"))
  }

  test("exemplarsSink appends the daily exemplar layout; endpoint frame reads back") {
    val dir = java.nio.file.Files.createTempDirectory("graft-esink").toString
    val input = MemoryStream[(Long, String, Map[String, String], Map[String, String], Double)](spark)
    val exemplars = input.toDF()
      .toDF("ts_us", "name", "labels", "exemplar_labels", "value")
    val day1 = 1704103200000000L
    input.addData(
      (day1, "latency", Map("svc" -> "api"), Map("trace_id" -> "cafe"), 0.5),
      (day1 + 60000000L, "latency", Map("svc" -> "web"), Map("trace_id" -> "beef"), 1.5))
    val query = Streams.exemplarsSink(exemplars, s"$dir/ex", s"$dir/ckpt")
    query.processAllAvailable()
    query.stop()
    val back = spark.read.parquet(s"$dir/ex")
    assert(back.count() == 2)
    // the stored frame serves the endpoint encoder directly
    val json = graft.api.ApiEncoders.promExemplars(
      back.filter(org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.col("labels"), "svc") === "api"))
    assert(json.contains("\"cafe\"") && !json.contains("beef"))
  }

  test("spansSink appends the bloom-filtered daily span layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ssink").toString
    val input = MemoryStream[(Long, Int, String, Long, Long)](spark)
    val spans = input.toDF().toDF("trace_id", "span_id", "name", "start_ns", "duration_ns")
    val day1 = 1704103200000000000L
    input.addData((1L, 1, "op", day1, 100L), (2L, 1, "op", day1 + 5000L, 200L))
    val query = Streams.spansSink(spans, s"$dir/spans", s"$dir/ckpt")
    query.processAllAvailable()
    query.stop()
    assert(spark.read.parquet(s"$dir/spans").count() == 2)
    // no parent_span_id in the frame → no parent_path materialized, no failure
    assert(!spark.read.parquet(s"$dir/spans").columns.contains("parent_path"))
  }

  test("spansSink materializes parent_path when ancestry columns exist") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ssink2").toString
    val input = MemoryStream[(Long, Long, Option[Long], String, Long, Long)](spark)
    val spans = input.toDF().toDF(
      "trace_id", "span_id", "parent_span_id", "name", "start_ns", "duration_ns")
    val day1 = 1704103200000000000L
    input.addData(
      (1L, 1L, None, "root", day1, 100L),
      (1L, 2L, Some(1L), "child", day1 + 10L, 50L),
      (1L, 3L, Some(2L), "leaf", day1 + 20L, 10L))
    val query = Streams.spansSink(spans, s"$dir/spans", s"$dir/ckpt")
    query.processAllAvailable()
    query.stop()
    val back = spark.read.parquet(s"$dir/spans")
    assert(back.columns.contains("parent_path"))
    val leafPath = back.filter(col("name") === "leaf")
      .select("parent_path").collect().head.getSeq[Long](0)
    assert(leafPath.toSet == Set(1L, 2L))
  }

  test("spansSink maintains the compare() attr cube exactly-once across restarts") {
    // the r11 gap: the AttrCube existed only as a batch fixture model;
    // here the STREAMING sink extends it per micro-batch, and replayed
    // generations add nothing (same commitBatch protocol as the rows)
    val dir = java.nio.file.Files.createTempDirectory("graft-scube").toString
    val spool = s"$dir/spool"
    val day1 = 1704067200000000000L // grain-aligned (bucket_ns % DayNs == 0)
    val sch = org.apache.spark.sql.types.StructType.fromDDL(
      "trace_id LONG, span_id LONG, name STRING, kind INT, " +
        "status_code INT, start_ns LONG, duration_ns LONG, " +
        "attrs MAP<STRING,STRING>")
    def run(): Unit = {
      val stream = spark.readStream.schema(sch).parquet(spool)
      val q = Streams.spansSink(stream, s"$dir/spans", s"$dir/ckpt",
        Trigger.AvailableNow(), cubePath = s"$dir/cube")
      q.awaitTermination()
    }
    def cubeCounts: Map[(Long, String, String, String), Long] =
      spark.read.parquet(s"$dir/cube")
        .groupBy("bucket_ns", "name", "attr", "attr_value")
        .agg(sum(col("n")).as("n"))
        .collect()
        .map(r => ((r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3)), r.getLong(4))).toMap
    Seq(
      (1L, 1L, "op", 2, 0, day1, 100L, Map("env" -> "prod")),
      (2L, 1L, "op", 2, 2, day1 + 5000L, 200L, Map("env" -> "dev")))
      .toDF("trace_id", "span_id", "name", "kind", "status_code",
        "start_ns", "duration_ns", "attrs")
      .write.mode("append").parquet(spool)
    run()
    assert(cubeCounts == Map(
      (day1, "op", "env", "prod") -> 1L, (day1, "op", "env", "dev") -> 1L))
    // replayed generation: checkpoint short-circuits, cube unchanged
    run()
    assert(cubeCounts((day1, "op", "env", "prod")) == 1L)
    // a second micro-batch EXTENDS the cube: partial counts for the
    // same key land as a new row and merge at read time
    Seq((3L, 1L, "op", 2, 0, day1 + 9000L, 50L, Map("env" -> "prod")))
      .toDF("trace_id", "span_id", "name", "kind", "status_code",
        "start_ns", "duration_ns", "attrs")
      .write.mode("append").parquet(spool)
    run()
    assert(cubeCounts == Map(
      (day1, "op", "env", "prod") -> 2L, (day1, "op", "env", "dev") -> 1L))

    // the streamed layout serves compare() with NO span scan and no
    // per-query explode — the same plan shape the fixture cube pins
    val cube = graft.traceql.TraceQL.attrCubeFrom(spark, s"$dir/cube")
    assert(cube.dims == Set("name", "kind", "status_code"))
    val spansBack = spark.read.parquet(s"$dir/spans")
    val viaCube = graft.traceql.TraceQL.planMetrics(
      """{ } | compare({ status = error })""", spansBack,
      86400000000000L, cube = Some(cube))
    val plan = viaCube.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("cube") && !plan.contains("Generate") &&
      !plan.contains(s"$dir/spans"),
      s"streamed-cube compare() must scan only the cube:\n$plan")
    val viaExplode = graft.traceql.TraceQL.planMetrics(
      """{ } | compare({ status = error })""", spansBack, 86400000000000L)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(3), r.getString(0), r.getString(1), r.getString(2))
    assert(
      viaCube.select("meta_type", "attr", "attr_value", "bucket_ns", "n")
        .collect().map(r => key(r) -> r.getDouble(4)).toMap ==
      viaExplode.select("meta_type", "attr", "attr_value", "bucket_ns", "n")
        .collect().map(r => key(r) -> r.getDouble(4)).toMap)
  }

  test("decomposePoints flattens histogram records into mapped sub-series") {
    val df = Seq(
      (ts(0), "latency", "a=1", Some(0.5), None: Option[Long], None: Option[Double]),
      (ts(1), "latency", "a=1", None: Option[Double], Some(10L), Some(42.5))
    ).toDF("timestamp", "name", "attrs", "gauge", "hist_count", "hist_sum")
    val out = Streams.decomposePoints(df)
      .select("mapping", "value").orderBy("mapping")
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(out.toSeq == Seq((0, 0.5), (1, 10.0), (2, 42.5)))
  }
}
