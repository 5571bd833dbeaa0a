package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{Event, Session}

/** Structured Streaming semantics tests via MemoryStream: tumbling windows
  * under watermark, the streaming heatmap, and the custom stateful
  * sessionizer (StreamingOps). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  private def runToCompletion(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** One fixture, two state-store backends: the tumbling aggregation must
    * produce this set under the default provider AND RocksDB (the
    * production backend once state outgrows memory) — a shared helper so
    * the two tests cannot drift apart and stop pinning parity. */
  private def runTumblingFixture(sinkName: String): Set[(String, String, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    in.addData(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(10), 1, "click", 1.0),
      Event(3, ts(20), 2, "view", 1.0), Event(4, ts(70), 1, "click", 1.0))
    runToCompletion(StreamingOps.tumblingCounts(in.toDF()), sinkName, "complete")
    spark.table(sinkName)
      .select(date_format($"window_start", "HH:mm").as("w"), $"event_type", $"n_events")
      .as[(String, String, Long)].collect().toSet
  }

  private val TumblingExpected =
    Set(("10:00", "click", 2L), ("10:00", "view", 1L), ("11:00", "click", 1L))

  test("tumblingCounts aggregates per hour/event_type under watermark") {
    assert(runTumblingFixture("tumbling") == TumblingExpected)
  }

  test("streamingHeatmap filters, fans out groups, and counts tiles per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    in.addData(
      Event(1, ts(0), 3, "click", 1.0),
      Event(2, ts(1), 3, "click", 1.0),
      Event(3, ts(2), 3, "view", 1.0)) // filtered out
    val df = StreamingOps.streamingHeatmap(in.toDF(), zoom = 8,
      lat = lit(47.6062), lon = lit(-122.3321),
      perUser = concat(lit("u"), col("user_id")))
    runToCompletion(df, "shm", "complete")
    val rows = spark.table("shm")
      .select($"user_group", $"tile_id", $"cnt").as[(String, String, Long)]
      .collect().toSet
    assert(rows == Set(("all", "8_89_41", 2L), ("u3", "8_89_41", 2L)))
  }

  test("streaming dedup drops replayed events within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    in.addData(
      Event(100, ts(0), 5, "click", 1.0),
      Event(101, ts(1), 5, "click", 1.0),
      Event(100, ts(0), 5, "click", 1.0)) // exact replay in same batch
    in.addData(Event(100, ts(2), 5, "click", 1.0)) // replayed id, later batch
    in.addData(Event(102, ts(3), 5, "click", 1.0))
    runToCompletion(StreamingOps.dedupEvents(in.toDF()), "dedup", "append")
    val ids = spark.table("dedup").select($"event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(100L, 101L, 102L))
  }

  test("stateful aggregation is backend-agnostic: RocksDB state store matches default") {
    // at 100 TB streaming state outgrows the default in-memory/HDFS-backed
    // store; RocksDB is the production backend. Same fixture, same answers.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try assert(runTumblingFixture("tumbling_rocks") == TumblingExpected)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("checkpoint resume is exactly-once: a restarted stream adds only new files") {
    // the exactly-once contract the parquet sink + checkpoint provide: run 1
    // commits file A through the checkpoint; run 2 (fresh query, SAME
    // checkpoint) sees file B arrived and must append B's rows exactly once
    // — neither reprocessing A nor double-counting B
    import org.apache.spark.sql.streaming.Trigger
    val in = java.nio.file.Files.createTempDirectory("graft-ck-in")
    val out = java.nio.file.Files.createTempDirectory("graft-ck-out")
    val ck = java.nio.file.Files.createTempDirectory("graft-ck-chk")
    def writeFile(name: String, ids: Range): Unit =
      spark.range(ids.start, ids.end).selectExpr("id AS event_id")
        .coalesce(1).write.mode("overwrite").parquet(in.resolve(name).toString)
    def runOnce(): Unit = {
      val q = spark.readStream.schema("event_id BIGINT")
        .option("recursiveFileLookup", "true").parquet(in.toString)
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ck.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    writeFile("a", 0 until 100)
    runOnce()
    assert(spark.read.parquet(out.toString).count() == 100)
    writeFile("b", 100 until 150)
    runOnce() // fresh query object, same checkpoint: must add ONLY file b
    val rows = spark.read.parquet(out.toString)
    assert(rows.count() == 150, "resume must not drop or duplicate")
    assert(rows.select("event_id").distinct().count() == 150,
      "no event may be processed twice across restarts")
  }

  test("stateful sessionizer keeps an interval open at the exact watermark boundary") {
    // Spark admits late rows with ts >= wm, and an event at exactly
    // ts == end + gap == wm still merges — so an interval may only close
    // once the watermark is STRICTLY past end + gap. Closing at <= would
    // emit (10:00) as a singleton and the boundary event as another.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    // batch 1: user 5 opens at 10:00; user 8's event at 11:30 drives the
    // watermark to exactly 10:30 = user 5's end + 30-min gap
    in.addData(Event(1, ts(0), 5, "click", 1.0), Event(2, ts(90), 8, "click", 1.0))
    // batch 2: user 5's event lands exactly ON the watermark — must merge
    in.addData(Event(3, ts(30), 5, "click", 1.0))
    // batch 3: flush everything
    in.addData(Event(4, ts(300), 8, "click", 1.0))
    runToCompletion(StreamingOps.sessionizeStateful(in.toDS()).toDF(), "wm_edge", "append")
    val got = spark.table("wm_edge").as[Session].collect()
      .filter(_.user_id == 5).map(s => (s.start_ms, s.end_ms, s.n_events)).toSeq
    assert(got == Seq((ts(0).getTime, ts(30).getTime, 2L)),
      s"boundary event must extend the open session, got $got")
  }

  test("stateful dedup state survives a mid-backlog kill and restart") {
    // the STATEFUL resume contract (the sibling test above covers the
    // stateless sink): dropDuplicatesWithinWatermark's state store must
    // come back from the checkpoint, so ids first seen before the kill are
    // still dropped when they replay after the restart — and the restarted
    // query must drain the backlog exactly once
    import org.apache.spark.sql.streaming.Trigger
    val in = java.nio.file.Files.createTempDirectory("graft-ckst-in")
    val out = java.nio.file.Files.createTempDirectory("graft-ckst-out")
    val ck = java.nio.file.Files.createTempDirectory("graft-ckst-chk")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def writeEvents(name: String, ids: Seq[Long]): Unit =
      spark.createDataFrame(ids.map(Tuple1(_))).toDF("event_id")
        .select(col("event_id"), lit(t0).as("ts"))
        .coalesce(1).write.parquet(in.resolve(name).toString)
    def dedupStream = StreamingOps.dedupEvents(
      spark.readStream.schema("event_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").parquet(in.toString))
      .select("event_id")
    writeEvents("a", 0L until 100L)
    writeEvents("b", 50L until 150L) // 50..99 replay file a within run 1
    // run 1: one file per micro-batch; kill as soon as the first batch has
    // committed — the rest of the backlog is still pending
    val q1 = dedupStream.writeStream.format("parquet")
      .option("path", out.toString).option("checkpointLocation", ck.toString)
      .outputMode("append").start()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!q1.recentProgress.exists(_.numInputRows > 0) && System.nanoTime() < deadline)
      Thread.sleep(50)
    q1.stop()
    assert(q1.recentProgress.exists(_.numInputRows > 0), "run 1 never committed a batch")
    // file c arrives while the query is down: fresh ids plus replays of ids
    // the PRE-kill run already emitted — only restored state can drop them
    writeEvents("c", (0L until 50L) ++ (150L until 200L))
    val q2 = dedupStream.writeStream.format("parquet")
      .option("path", out.toString).option("checkpointLocation", ck.toString)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val rows = spark.read.parquet(out.toString)
    assert(rows.count() == 200, "each id must survive exactly once across the kill")
    assert(rows.select("event_id").distinct().count() == 200,
      "a pre-kill id replayed after restart must be deduped by restored state")
  }

  test("built-in session_window groups by 30-min gaps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    in.addData(
      Event(1, ts(0), 9, "click", 1.0), Event(2, ts(10), 9, "click", 1.0),
      Event(3, ts(50), 9, "click", 1.0))
    runToCompletion(StreamingOps.sessionWindowCounts(in.toDF()), "sw", "complete")
    val rows = spark.table("sw")
      .filter($"user_id" === 9)
      .select(date_format($"session_start", "HH:mm").as("s"), $"n_events")
      .as[(String, Long)].collect().toSet
    assert(rows == Set(("10:00", 2L), ("10:50", 1L)))
  }

  test("stateful sessionizer emits closed sessions after the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    // session A: minutes 0..10; gap > 30 min; session B: minute 50 onward
    in.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(10), 7, "click", 1.0))
    in.addData(Event(3, ts(50), 7, "click", 1.0))
    // advance watermark far enough to time out session B as well
    in.addData(Event(4, ts(300), 8, "click", 1.0))
    val ds = StreamingOps.sessionizeStateful(in.toDS())
    runToCompletion(ds.toDF(), "sessions", "append")
    val sessions = spark.table("sessions").as[Session].collect()
      .filter(_.user_id == 7).sortBy(_.start_ms)
    assert(sessions.length == 2)
    assert(sessions(0).n_events == 2 &&
      sessions(0).end_ms - sessions(0).start_ms == 10 * 60 * 1000)
    assert(sessions(1).n_events == 1)
  }

  test("stateful sessionizer merges and bridges late arrivals like the batch twin") {
    // cross-batch late events INSIDE the watermark must behave exactly as
    // if they had arrived in order: two late events within gap of each
    // other form ONE session (not two premature singletons), and a late
    // event within gap of two open intervals BRIDGES them into one
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    // batch 1: both users open a session at minute 60 (watermark stays at
    // minute 0, so minutes 5..35 remain admissible as late arrivals)
    in.addData(Event(1, ts(60), 7, "click", 1.0), Event(2, ts(60), 9, "click", 1.0))
    // batch 2: user 7 gets two late events > gap before its open session
    // but within gap of each other; user 9 gets one late singleton
    in.addData(Event(3, ts(5), 7, "click", 1.0), Event(4, ts(15), 7, "click", 1.0),
      Event(5, ts(5), 9, "click", 1.0))
    // batch 3: user 9's late event at minute 35 is within gap of BOTH its
    // open intervals (5 and 60) — they must collapse into one session
    in.addData(Event(6, ts(35), 9, "click", 1.0))
    // batch 4: advance the watermark far enough to flush everything
    in.addData(Event(7, ts(300), 8, "click", 1.0))
    runToCompletion(StreamingOps.sessionizeStateful(in.toDS()).toDF(), "late_sessions", "append")
    val byUser = spark.table("late_sessions").as[Session].collect()
      .groupBy(_.user_id).view.mapValues(_.sortBy(_.start_ms).toSeq).toMap
    assert(byUser(7L).map(s => (s.start_ms, s.end_ms, s.n_events)) ==
      Seq((ts(5).getTime, ts(15).getTime, 2L), (ts(60).getTime, ts(60).getTime, 1L)))
    assert(byUser(9L).map(s => (s.start_ms, s.end_ms, s.n_events)) ==
      Seq((ts(5).getTime, ts(60).getTime, 3L)))
  }

  test("a stream entry started again compiles no generated class") {
    // every start runs on a cloned session with a fresh UUID; with artifact
    // isolation on, its classloader misses CodeGenerator's cache, so the
    // byte-identical classes of the second run would be compiled again
    import org.apache.spark.metrics.source.CodegenMetrics
    val build = SparkEntry.queries("stream_hm_pyramid")
    def rows() = build(spark, TestSpark.sfSmoke).collect().toSeq
    val first = rows()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = rows()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles == 0, s"the second run compiled $compiles classes")
    assert(first.nonEmpty && second == first)
  }

  test("runToSink leaves the session's confs as it found them") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.artifact.isolation.enabled",
      "spark.sql.streaming.checkpointFileManagerClass")
    def confs() = keys.map(spark.conf.getOption)
    val before = confs()
    assert(before.last.isEmpty, "the checkpoint manager must start unset")
    SparkEntry.queries("stream_tumbling")(spark, TestSpark.sfSmoke).collect()
    assert(confs() == before)
  }
}
