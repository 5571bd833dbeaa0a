package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.TileFunctions
import graft.functions.TileFunctions.{Sql => T}
import graft.operators.HeatmapPipeline
import graft.streaming.StreamingOps

/** Oracle-checked STREAMING executions — unlike graft.streaming's unit
  * coverage (StreamingSpec asserts batch/streaming parity on fixtures),
  * these entries run a real Structured Streaming query to completion inside
  * the driver's correctness gate, so the incremental engine path itself is
  * DuckDB-verified, not just its batch twin.
  */
object StreamingQueries {

  /** The events corpus as an UNBOUNDED DataFrame: schema discovered from the
    * parquet file after `Tables.prepare` (the same normalization confs as a
    * batch read — nanos → long + truncate; naive micros → TIMESTAMP via
    * inferTimestampNTZ=false, as event-time watermarks reject
    * TIMESTAMP_NTZ — and the native functions registered), fed through the file
    * stream source. The corpus table is a single parquet FILE and the file
    * source accepts files only via glob patterns (a literal path must be a
    * directory), so one character is quoted to force glob handling. */
  private def streamEvents(s: SparkSession, dir: String): DataFrame = {
    Tables.prepare(s)
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val raw = s.readStream.schema(rawSchema)
      .parquet(s"$dir/events.parque[t]")
    if (rawSchema.exists(f => f.name == "ts" && f.dataType == LongType))
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }

  /** Staging dirs (symlinks + sentinel files for the file stream source) —
    * the shared get-or-build cache lives in [[Staging]] (mm_ingest stages
    * its media files through the same lifecycle). */
  private def stagedDir(kind: String, dir: String)(
      build: java.nio.file.Path => Unit): java.nio.file.Path =
    Staging.dir(kind, dir)(build)

  /** The staged-events stream contract: the ONE schema every staged file
    * is written with and every staged stream reads with. */
  private val StagedEventsSchema =
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"

  /** Rewrite the events table into `out` under `Tables`' NORMALIZED schema
    * (ts = TIMESTAMP), so every file a staged stream lists is Spark-written
    * LTZ micros — the corpus file's physical ts encoding (TIMESTAMP(NANOS)
    * vs naive micros, which changed across testdata generations and
    * silently mis-scaled a forced-BIGINT read by 1000×) never reaches the
    * stream's fixed schema. Columns are selected in [[StagedEventsSchema]]
    * order; one coalesced file keeps listing + micro-batching cheap. */
  private def normalizedEventsWrite(s: SparkSession, dir: String,
      out: java.nio.file.Path): Unit =
    Tables(s, dir, "events")
      .select(StagedEventsSchema.split(",").map(c => col(c.trim.split(" ")(0))): _*)
      .coalesce(1).write.parquet(out.toString)

  /** Staging-cache key for events-derived staged dirs — delegates to
    * [[Staging.provenanceKey]] (the pre-normalization symlink always
    * dereferenced the live file; a copy must carry its provenance). */
  private def eventsStageKey(dir: String): String =
    Staging.provenanceKey(dir, "events")

  /** Corpus + watermark sentinel staging, shared by the stateful-timeout
    * queries (stream_sessions, stream_scd2): the file source needs a
    * directory (/root/testdata is read-only), and the far-future sentinel
    * event drives every real key's event-time timeout deterministically. */
  private def eventsWithSentinelStage(s: SparkSession, dir: String): java.nio.file.Path =
    stagedDir("stream-sess", eventsStageKey(dir)) { p =>
      normalizedEventsWrite(s, dir, p.resolve("events"))
      // 2024-06-01T00:00:00Z: far past corpus end (2024-01-30) + the 1h
      // watermark + every flush delay in use, so all real keys time out
      val sentinelMicros = 1717200000L * 1000000L
      s.range(1).select(
        lit(-1L).as("event_id"),
        timestamp_micros(lit(sentinelMicros)).as("ts"),
        lit(-1L).as("user_id"), lit("click").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
        .write.parquet(p.resolve("sentinel").toString)
    }

  /** Read a staged events directory as an unbounded DataFrame — ONE
    * definition of the stream-side events contract (the normalized
    * TIMESTAMP schema every staged file was written with), shared by every
    * staged-dir query so the encoding can never fork across them
    * (streamEvents keeps its discovery-based variant for un-staged corpus
    * files). */
  private def stagedEventsStream(s: SparkSession, stage: java.nio.file.Path): DataFrame =
    s.readStream
      .schema(StagedEventsSchema)
      .option("recursiveFileLookup", "true")
      .parquet(stage.toString)

  /** The stream session policy [[runToSink]] applies; see there. */
  private val StreamConfs = Seq(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")

  /** Run a streaming DataFrame to completion into a memory sink and return
    * the sink table. The sink is only ever read AFTER processAllAvailable +
    * stop, so the comparison is deterministic.
    *
    * The stream session policy: three session confs are set for the
    * query's lifetime and restored exactly afterwards — a key that was
    * unset before is unset again — so batch queries keep the session as
    * they found it.
    *
    *  - `spark.sql.shuffle.partitions` = 8, the state partitions: a
    *    streaming query materializes one state store PER shuffle partition
    *    PER stateful operator PER micro-batch — sizing them to the session
    *    default (CPU count) pays store open/commit overhead that tracks
    *    cores, not keys. Stateful-query parallelism should track KEY
    *    CARDINALITY and throughput; these corpus streams have at most a few
    *    hundred active keys, so 8 partitions carry them comfortably (a
    *    production deployment tunes this per query the same way — it is
    *    fixed into the checkpoint at first start).
    *  - `spark.sql.artifact.isolation.enabled` = false: every streaming
    *    query runs on a cloned session with a fresh session UUID, and with
    *    artifact isolation on (the Spark 4.1 default) the executor builds a
    *    new session classloader for that UUID. `CodeGenerator`'s cache is
    *    keyed by (context classloader, code), so with isolation on every
    *    start Janino-compiles its generated classes again: 11 compiles of
    *    byte-identical code per warm `stream_hm_pyramid` run, with its
    *    state tasks waiting on them. With isolation off, a restarted entry
    *    compiles nothing. The clone copies the runtime conf, so setting it
    *    on this session is enough; the program adds no session artifacts
    *    (no `addArtifact`/`addJar`), so there is nothing to isolate.
    *  - `spark.sql.streaming.checkpointFileManagerClass` =
    *    `FileSystemBasedCheckpointFileManager`: the default FileContext
    *    manager checks link status on every checkpoint file, and without
    *    libhadoop each check forks a `readlink` process — about 176 forks
    *    per `stream_hm_pyramid` start, ~1 ms each. The FileSystem manager
    *    writes through a temp file and a rename, which is atomic on a local
    *    file system, and each query's checkpoint is a fresh temporary
    *    directory with one writer. */
  private def runToSink(df: DataFrame, mode: String, sinkName: String): DataFrame = {
    val s = df.sparkSession
    // synchronized: the save/set/restore of session-GLOBAL confs would
    // interleave under concurrent callers (A saves 32 → B saves A's 8 →
    // B's restore pins the session at 8); Verify/Bench are sequential
    // today, but the guard costs nothing
    StreamingQueries.synchronized {
      val prev = StreamConfs.map { case (k, _) => k -> s.conf.getOption(k) }
      StreamConfs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val q = df.writeStream.format("memory").queryName(sinkName)
          .outputMode(mode).start()
        try {
          q.processAllAvailable()
          require(q.exception.isEmpty, s"streaming query failed: ${q.exception}")
        } finally q.stop()
      } finally prev.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    }
    s.table(sinkName)
  }

  /** [[StreamingOps.tumblingCounts]] executed as an actual stream: the
    * events parquet is replayed through a file stream source (every file is
    * a micro-batch trigger unit — the same listing-based split a production
    * log directory gets), the watermarked tumbling aggregation runs
    * incrementally, and the COMPLETE-mode memory sink holds the final state,
    * which must match the same aggregation DuckDB computes over the table at
    * rest. Complete mode keeps every window — the stream-vs-batch row sets
    * coincide exactly, watermark or no — and the memory sink is only ever
    * asked for a FINISHED query's result (processAllAvailable + stop), so
    * the comparison is deterministic. */
  val streamTumbling = QuerySpec(
    "stream_tumbling",
    "tumbling 1-hour windows computed by a real streaming execution",
    Some("""SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           |  event_type,
           |  CAST(COUNT(*) AS BIGINT) AS n_events
           |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    (s, dir) =>
      runToSink(StreamingOps.tumblingCounts(streamEvents(s, dir)),
        "complete", "stream_tumbling_sink")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n_events"))
        .orderBy("hour_start", "event_type"))

  /** [[StreamingOps.streamingHeatmap]] — the FLAGSHIP reference pipeline
    * (filter → Mercator quantization → user-group fan-out → windowed tile
    * counts) executed by the incremental engine and compared against the
    * same relational formulation the batch heatmap queries use. Daily
    * windows over the synthetic lat/lon lattice at z10. */
  val streamHmTiles = QuerySpec(
    "stream_hm_tiles",
    "streaming heatmap: daily windowed tile counts per user group (z10)",
    Some(s"""WITH base AS (
            |  SELECT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d %H:%M:%S') AS day_start,
            |    ${HeatmapQueries.latSql} AS lat, ${HeatmapQueries.lonSql} AS lon,
            |    ${HeatmapQueries.perUserSql} AS per_user
            |  FROM events WHERE ${HeatmapQueries.sourceFilterSql}),
            |fan AS (
            |  SELECT day_start, 'all' AS user_group, lat, lon FROM base
            |  UNION ALL
            |  SELECT day_start, per_user, lat, lon FROM base WHERE per_user IS NOT NULL)
            |SELECT day_start, user_group, ${T.tileId("lat", "lon", 10)} AS tile_id,
            |  CAST(COUNT(*) AS BIGINT) AS cnt
            |FROM fan GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    (s, dir) =>
      runToSink(
        StreamingOps.streamingHeatmap(streamEvents(s, dir), zoom = 10,
          dropFilter = HeatmapQueries.sourceFilter,
          lat = HeatmapQueries.latCol, lon = HeatmapQueries.lonCol,
          perUser = HeatmapQueries.perUserCol, window_ = "1 day"),
        "complete", "stream_hm_tiles_sink")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("day_start"),
          col("user_group"), col("tile_id"), col("cnt"))
        .orderBy("day_start", "user_group", "tile_id"))

  /** [[StreamingOps.sessionizeStateful]] — the flatMapGroupsWithState
    * sessionizer run as a real stream. Closed sessions emit when a later
    * event opens the next session; each user's LAST session emits only via
    * event-time timeout, which needs the watermark to pass end+gap. A
    * sentinel input file (one far-future event for user −1, staged next to
    * the corpus in a temp dir) advances the watermark past every real
    * session's timeout, so after processAllAvailable the emitted set for
    * real users is EXACTLY the batch sessionization — which is what the
    * oracle computes. The sentinel user's own session stays in state and is
    * excluded by user_id >= 0 on both sides. */
  val streamSessions = QuerySpec(
    "stream_sessions",
    "stateful streaming sessionizer (30-min gap) flushed via watermark",
    Some("""WITH e AS (SELECT user_id, event_id, EPOCH_MS(ts) AS ms FROM events),
           |l AS (SELECT *, LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev FROM e),
           |f AS (SELECT *, CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END AS is_new FROM l),
           |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM f)
           |SELECT user_id, CAST(MIN(ms) AS BIGINT) AS start_ms,
           |  CAST(MAX(ms) AS BIGINT) AS end_ms, CAST(COUNT(*) AS BIGINT) AS n_events
           |FROM s GROUP BY user_id, sess ORDER BY user_id, start_ms""".stripMargin),
    (s, dir) => {
      import s.implicits._
      val typed = stagedEventsStream(s, eventsWithSentinelStage(s, dir))
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[StreamingOps.Event]

      runToSink(StreamingOps.sessionizeStateful(typed).toDF(),
        "append", "stream_sessions_sink")
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
        .orderBy("user_id", "start_ms")
    })

  /** [[StreamingOps.dedupEvents]] — streaming duplicate-delivery collapse.
    * The corpus file is staged TWICE (two symlinks in a temp dir), so the
    * stream sees every event exactly twice; `dropDuplicatesWithinWatermark`
    * must collapse the replay back to the table at rest, which is what the
    * oracle reads once. Both copies arrive in the same micro-batch (the file
    * source batches all available files when no maxFilesPerTrigger is set),
    * so every duplicate lands while its twin's state is live regardless of
    * event time. The surviving row count and per-type aggregate must equal
    * the single-copy batch table exactly. */
  val streamDedup = QuerySpec(
    "stream_dedup",
    "streaming duplicate-delivery dedup (2x replay collapsed to the table at rest)",
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           |  CAST(SUM(event_id) AS BIGINT) AS sum_ids
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, dir) => {
      val stage = stagedDir("stream-dedup", eventsStageKey(dir)) { p =>
        for (copy <- Seq("a", "b"))
          normalizedEventsWrite(s, dir, p.resolve(s"events_$copy"))
      }

      val raw = stagedEventsStream(s, stage)

      // dedup emits first-seen rows as they arrive (append mode); the
      // aggregation runs batch-side on the finished sink table
      val sunk = runToSink(StreamingOps.dedupEvents(raw), "append", "stream_dedup_sink")
      sunk.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_ids"))
        .orderBy("event_type")
    })

  /** Stream-stream interval join — two UNBOUNDED sides joined on key plus
    * an event-time range (signup → purchases within 7 days, the funnel's
    * join re-expressed as a streaming join). Both sides carry watermarks and
    * the time condition bounds the join state (each side's rows age out
    * once the other side's watermark passes the interval) — the state-bound
    * contract that makes this viable on infinite streams. INNER join
    * matches emit as soon as both rows have arrived, so running the corpus
    * to completion yields exactly the batch interval join, which is what
    * the oracle computes. */
  val streamStreamJoin = QuerySpec(
    "stream_stream_join",
    "stream-stream interval join: signup -> purchases within 7 days",
    Some("""WITH s AS (SELECT user_id, EPOCH_MS(ts) AS sms FROM events WHERE event_type = 'signup'),
           |p AS (SELECT user_id, EPOCH_MS(ts) AS pms FROM events WHERE event_type = 'purchase')
           |SELECT s.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |  CAST(MIN(p.pms - s.sms) AS BIGINT) AS min_lag_ms
           |FROM s JOIN p ON p.user_id = s.user_id
           |  AND p.pms >= s.sms AND p.pms <= s.sms + 604800000
           |GROUP BY s.user_id ORDER BY s.user_id""".stripMargin),
    (s, dir) => {
      val ev = streamEvents(s, dir)
        // the oracle compares EPOCH_MS values, so the join must decide
        // boundary pairs on ms-truncated time too (a purchase 500µs before
        // its signup within the same millisecond is a match at ms precision
        // but not at µs precision)
        .withColumn("ts", expr("timestamp_millis(unix_millis(ts))"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
        .withWatermark("s_ts", "1 hour")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = signups.join(purchases,
        col("p_user") === col("s_user") &&
          col("p_ts") >= col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 7 DAYS"))
      val sunk = runToSink(joined, "append", "stream_stream_join_sink")
      sunk
        .groupBy(col("s_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          min(unix_millis(col("p_ts")) - unix_millis(col("s_ts"))).as("min_lag_ms"))
        .orderBy("user_id")
    })

  /** Streaming blob maintenance — the deployed shape of the reference's
    * continuous ingestion: the STREAM incrementally maintains the fine
    * (z12) per-group tile counts (one stateful aggregation, state = one row
    * per live (group, tile) key), and blob PUBLICATION is a batch step over
    * the maintained counts (the second aggregation — collect into JSON —
    * runs at publish time, not per micro-batch; chained stateful
    * aggregations in one stream would pay a second state store for a
    * serialization step that only the publisher needs). The result must be
    * byte-identical to the batch alltime blob table — the same
    * counts-are-additive argument that makes hm_blob_merge exact makes
    * incremental maintenance exact. */
  val streamHmBlobs = QuerySpec(
    "stream_hm_blobs",
    "streaming-maintained z12 counts + batch blob publication (alltime)",
    Some(s"""WITH base AS (
            |  SELECT ${HeatmapQueries.latSql} AS lat, ${HeatmapQueries.lonSql} AS lon,
            |    ${HeatmapQueries.perUserSql} AS per_user
            |  FROM events WHERE ${HeatmapQueries.sourceFilterSql}),
            |fan AS (
            |  SELECT 'all' AS user_group, lat, lon FROM base
            |  UNION ALL
            |  SELECT per_user, lat, lon FROM base WHERE per_user IS NOT NULL),
            |counts AS (
            |  SELECT user_group, ${T.tileRow("lat", 12)} AS r, ${T.tileCol("lon", 12)} AS c,
            |    CAST(COUNT(*) AS BIGINT) AS cnt
            |  FROM fan GROUP BY 1, 2, 3)
            |SELECT CONCAT_WS('|', user_group, 'alltime', CONCAT_WS('_', 7, r >> 5, c >> 5)) AS id,
            |  '{' || STRING_AGG('"' || CONCAT_WS('_', 12, r, c) || '":' || CAST(cnt AS VARCHAR),
            |                    ',' ORDER BY CONCAT_WS('_', 12, r, c)) || '}' AS heatmap
            |FROM counts GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, dir) => {
      val countsStream = streamEvents(s, dir)
        .filter(HeatmapQueries.sourceFilter)
        .select(HeatmapQueries.latCol.as("lat"), HeatmapQueries.lonCol.as("lon"),
          HeatmapQueries.perUserCol.as("per_user"))
        .withColumn("user_group", explode(array(lit("all"), col("per_user"))))
        .filter(col("user_group").isNotNull)
        .groupBy(col("user_group"),
          TileFunctions.tileRow(col("lat"), 12).as("r"),
          TileFunctions.tileCol(col("lon"), 12).as("c"))
        .agg(count(lit(1)).as("cnt"))
      val counts = runToSink(countsStream, "complete", "stream_hm_blobs_sink")
      // published through the library's blob packer: the constant alltime
      // timespan and z12 level give the batch table's ids and entries
      HeatmapPipeline.resultSetBlobs(counts.select(col("user_group"),
        lit("alltime").as("timespan"), lit(12).as("zoom"), col("r"), col("c"),
        col("cnt").as("count")))
        .orderBy("id")
    })

  /** Streaming CDC apply — [[EventQueries.cdcMerge]]'s LWW snapshot
    * maintained INCREMENTALLY: the same max_by aggregation runs as a
    * stateful streaming aggregation (state = one candidate row + two
    * counters per live key, O(1) per key regardless of history length — the
    * property the batch twin's Scaladoc promises), and the delete filter +
    * projection run batch-side at publish time over the maintained
    * snapshot. Same oracle as cdc_merge: the streaming execution must land
    * on the identical last-writer-wins state. */
  val streamCdc = QuerySpec(
    "stream_cdc",
    "streaming CDC apply: incrementally maintained last-writer-wins snapshot",
    // the twin's contract IS the batch oracle — one definition, no drift
    EventQueries.cdcMerge.oracle,
    (s, dir) => {
      val agg = streamEvents(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
          unix_millis(col("ts")).as("ms"))
        .groupBy("user_id")
        .agg(
          max_by(struct(col("event_type"), col("value"), col("ms")),
            struct(col("ms"), col("event_id"))).as("last"),
          count(lit(1)).as("n_ops"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_deletes"))
      val snap = runToSink(agg, "complete", "stream_cdc_sink")
      snap.filter(col("last.event_type") =!= "error")
        .select(col("user_id"), col("last.event_type").as("last_type"),
          col("last.value").as("last_value"), col("last.ms").as("last_ms"),
          col("n_ops"), col("n_deletes"))
        .orderBy("user_id")
    })

  /** [[StreamingOps.scd2Stateful]] — the streaming twin of `cdc_scd2`,
    * an INCREMENTALLY MAINTAINED temporal table: closed versions emit
    * immediately (they are immutable — the append-mode contract), and each
    * key's still-open version flushes as current when its event-time
    * timeout fires (driven by the watermark sentinel). Run to completion
    * over the corpus this must equal the batch SCD2 build row-for-row,
    * which is exactly what the oracle computes; the sentinel user's own
    * open version stays in state and is excluded by user_id >= 0. */
  val streamScd2 = QuerySpec(
    "stream_scd2",
    "incrementally maintained SCD2 version history (streaming twin of cdc_scd2)",
    // the twin's contract IS the batch oracle — one definition, no drift
    EventQueries.cdcScd2.oracle,
    (s, dir) => {
      import s.implicits._
      val typed = stagedEventsStream(s, eventsWithSentinelStage(s, dir))
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[StreamingOps.Event]
      runToSink(StreamingOps.scd2Stateful(typed).toDF(), "append", "stream_scd2_sink")
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("version_no"), col("attr_type"),
          col("attr_value"), col("valid_from_ms"), col("valid_to_ms"),
          col("is_current"))
        .orderBy("user_id", "version_no")
    })

  /** The documents corpus as an unbounded DataFrame (same glob trick as
    * [[streamEvents]]: the file source takes files only via glob). */
  private def streamDocuments(s: SparkSession, dir: String): DataFrame = {
    val rawSchema = s.read.parquet(s"$dir/documents.parquet").schema
    s.readStream.schema(rawSchema).parquet(s"$dir/documents.parque[t]")
  }

  /** CONTINUOUS corpus ingestion — the curation front half run by the
    * incremental engine, the shape a continuous-pretraining feed uses:
    * documents arrive as files, and each is scored
    * ([[graft.functions.TextFunctions.qualityScore]]), token-estimated
    * ([[graft.functions.TextFunctions.subwordTokenEst]]), mixture-decided
    * ([[graft.operators.CorpusCuration.mixtureDecisions]] — a stateless
    * stream-static broadcast join), and split-assigned, in one append-mode
    * pass with NO state store: every stage is a deterministic per-doc map,
    * so the stream is batch-equivalent by construction and the oracle
    * recomputes the identical manifest over the table at rest. The stages
    * that cannot stream this way (dedup, contamination — they need the
    * whole corpus) stay in the batch manifest; this entry is the
    * ingest-time half a production pipeline runs BEFORE the periodic batch
    * curation, sharing the same mixture config literal as
    * `corpus_mixture`. */
  val streamCorpusIngest = QuerySpec(
    "stream_corpus_ingest",
    "streaming corpus ingestion: score + tokens + mixture + split per arriving doc",
    Some(s"""WITH w(source, target_ppm) AS (VALUES ${CorpusPipeline.mixtureValuesSql}),
            |d AS (SELECT doc_id, source, STRING_SPLIT(text, ' ') AS ws FROM documents),
            |sc AS (SELECT doc_id, source, ${graft.functions.TextFunctions.qualityScoreSql} AS score,
            |    ${graft.functions.TextFunctions.subwordTokenEstSql("ws")} AS n_tok,
            |    ${graft.functions.TextFunctions.splitHashSql("doc_id")} AS hs
            |  FROM d)
            |SELECT sc.doc_id, sc.source, sc.score AS score_x1000,
            |  sc.n_tok AS n_tokens_est,
            |  CAST(COALESCE(w.target_ppm, ${CorpusPipeline.MixtureDefault}) AS BIGINT) AS target_ppm,
            |  ${graft.functions.PortableHash.h48Sql("'mx:' || CAST(sc.doc_id AS VARCHAR)")} % 1000000
            |    < COALESCE(w.target_ppm, ${CorpusPipeline.MixtureDefault}) AS mix_kept,
            |  ${graft.functions.TextFunctions.splitAssignSql("hs")} AS split
            |FROM sc LEFT JOIN w ON w.source = sc.source
            |ORDER BY doc_id""".stripMargin),
    (s, dir) => {
      import graft.functions.TextFunctions
      val scored = streamDocuments(s, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), col("source"),
          TextFunctions.qualityScore(col("ws")).as("score_x1000"),
          TextFunctions.subwordTokenEst(col("ws")).as("n_tokens_est"))
      val decided = graft.operators.CorpusCuration.mixtureDecisions(
        scored, CorpusPipeline.MixtureWeights, CorpusPipeline.MixtureDefault)
      runToSink(
        decided.withColumn("split",
          TextFunctions.splitAssign(TextFunctions.splitHash(col("doc_id")))),
        "append", "stream_corpus_ingest_sink")
        .select(col("doc_id"), col("source"), col("score_x1000"),
          col("n_tokens_est"), col("target_ppm"),
          col("is_kept").as("mix_kept"), col("split"))
        .orderBy("doc_id")
    })

  /** STREAMING PII screening — the redaction pass run at ingest time, where
    * every production pipeline puts it (PII must not reach the data lake at
    * all, not be scrubbed by a later batch): per arriving doc, exact
    * per-kind counts + typed-placeholder redaction
    * ([[graft.functions.TextFunctions.piiCounts]]/piiRedact — the same one
    * definition as the batch `txt_pii` and the manifest's pii stage).
    * Stateless append-mode projection, no state store, batch-equivalent by
    * construction; PII spans are planted deterministically
    * (TextQueries.PlantedPii) since the corpus carries none. The tenth
    * real streaming execution in the gate. */
  val streamPii = QuerySpec(
    "stream_pii",
    "streaming PII screening: per-arriving-doc counts + redaction, stateless append",
    Some {
      val (em, ph, ip) = graft.functions.TextFunctions.piiCountsSql("text")
      s"""WITH pt AS (SELECT doc_id, ${TextQueries.PlantedPii.plantSql} AS text FROM documents)
         |SELECT doc_id, $em AS n_emails, $ph AS n_phones, $ip AS n_ips,
         |  $em + $ph + $ip > 0 AS has_pii,
         |  CAST(LENGTH(${graft.functions.TextFunctions.piiRedactSql("text")}) AS BIGINT) AS redacted_len
         |FROM pt ORDER BY doc_id""".stripMargin
    },
    (s, dir) => {
      import graft.functions.TextFunctions
      val pt = streamDocuments(s, dir)
        .select(col("doc_id"),
          TextQueries.PlantedPii.plant(col("doc_id"), col("text")).as("text"))
      val (em, ph, ip) = TextFunctions.piiCounts(col("text"))
      runToSink(
        pt.select(col("doc_id"), em.as("n_emails"), ph.as("n_phones"),
          ip.as("n_ips"), (em + ph + ip > 0).as("has_pii"),
          length(TextFunctions.piiRedact(col("text"))).cast("long")
            .as("redacted_len")),
        "append", "stream_pii_sink")
        .orderBy("doc_id")
    })

  /** STREAMING ADMISSION SCREEN — the edge filter a production feed runs
    * BEFORE anything reaches the lake: per arriving doc, the three gates
    * that are deterministic per-row — domain blocklist/opt-out (the
    * `pipeline_corpus_blocklist` stage's broadcast source table, the
    * SHARED [[graft.operators.CorpusCuration.blocklistDf]] definition),
    * PII density (the manifest's planted-span law, drop when hits > 1),
    * and the heuristic quality floor (score < 300) — composed into one
    * stateless append-mode pass with a `status` naming the first gate
    * that fired, in the MANIFEST's priority order restricted to these
    * three stages (pii > blocked > low_quality: the worst offense names
    * the death first, exactly as the batch law ranks them), so a doc
    * screened at the edge and a doc curated in batch can never disagree
    * on the reason when both gates apply. This is the PRE-screen, so
    * survivors say 'admitted', not 'kept' — the corpus-wide stages
    * (dedup, contamination) that cannot stream still run in the batch
    * manifest behind it; rejecting at the door is what makes them
    * cheaper. Stream-static broadcast join + per-row projections only —
    * no state store, batch-equivalent by construction. */
  val streamAdmission = QuerySpec(
    "stream_admission",
    "ingest-time admission screen: PII + blocklist + quality floor, first gate names the reason",
    Some {
      import graft.functions.TextFunctions
      val (em, ph, ip) = TextFunctions.piiCountsSql("text")
      val inList = graft.operators.CorpusCuration
        .blocklistInSql(CorpusPipeline.BlockedSources)
      s"""WITH pt AS (SELECT doc_id, source, ${TextQueries.PlantedPii.plantSql} AS text
         |  FROM documents),
         |d AS (SELECT doc_id, source, text, STRING_SPLIT(text, ' ') AS ws FROM pt),
         |sc AS (SELECT doc_id, source, ${TextFunctions.qualityScoreSql} AS score,
         |    $em + $ph + $ip AS n_pii
         |  FROM d)
         |SELECT doc_id, source, score AS score_x1000,
         |  CAST(n_pii AS BIGINT) AS n_pii,
         |  CASE WHEN n_pii > 1 THEN 'pii'
         |    WHEN source IN ($inList) THEN 'blocked'
         |    WHEN score IS NULL OR score < 300 THEN 'low_quality'
         |    ELSE 'admitted' END AS status
         |FROM sc ORDER BY doc_id""".stripMargin
    },
    (s, dir) => {
      import graft.functions.TextFunctions
      val pt = streamDocuments(s, dir)
        .select(col("doc_id"), col("source"),
          TextQueries.PlantedPii.plant(col("doc_id"), col("text")).as("text"))
      val (em, ph, ip) = TextFunctions.piiCounts(col("text"))
      val bl = graft.operators.CorpusCuration
        .blocklistDf(s, CorpusPipeline.BlockedSources)
      val scored = pt.join(bl, Seq("source"), "left")
        .select(col("doc_id"), col("source"), col("is_blocked"),
          TextFunctions.qualityScore(split(col("text"), " ")).as("score_x1000"),
          (em + ph + ip).cast("long").as("n_pii"))
      val status = when(col("n_pii") > 1, "pii")
        .when(col("is_blocked"), "blocked")
        .when(col("score_x1000").isNull || col("score_x1000") < 300, "low_quality")
        .otherwise("admitted")
      runToSink(
        scored.select(col("doc_id"), col("source"), col("score_x1000"),
          col("n_pii"), status.as("status")),
        "append", "stream_admission_sink")
        .orderBy("doc_id")
    })

  /** STREAMING SHARD ROUTING — the write side of a continuous-pretraining
    * feed: each arriving doc takes its mixture decision (the same
    * broadcast hash-threshold law as `stream_corpus_ingest`) and, if kept,
    * is ROUTED to its training shard by the same portable-hash law as the
    * batch `corpus_shards` manifest — so a doc ingested by the stream
    * lands in EXACTLY the shard the batch build would put it in, and the
    * two halves of a lambda-style pipeline (continuous ingest + periodic
    * batch rebuild) can never disagree on placement. Pure map-side
    * (broadcast config join + two hash columns), stateless append mode, no
    * state store — batch-equivalent by construction. A production sink
    * would `partitionBy(shard)`; the gate keeps the routed rows so every
    * assignment is hash-checked doc-for-doc. The eleventh real streaming
    * execution in the gate (`StreamingQueries.all.size` is the count of
    * record — earlier scaladocs' ordinals had drifted). */
  val streamShardRoute = QuerySpec(
    "stream_shard_route",
    "streaming shard routing: mixture-kept docs hash-routed to training shards",
    Some(s"""WITH w(source, target_ppm) AS (VALUES ${CorpusPipeline.mixtureValuesSql}),
            |d AS (SELECT doc_id, doc.source, STRING_SPLIT(text, ' ') AS ws,
            |    COALESCE(w.target_ppm, ${CorpusPipeline.MixtureDefault}) AS ppm
            |  FROM documents doc LEFT JOIN w ON w.source = doc.source)
            |SELECT doc_id, source,
            |  CAST(${graft.functions.PortableHash.h48Sql("'sh:' || CAST(doc_id AS VARCHAR)")} % 16 AS BIGINT) AS shard,
            |  ${graft.functions.TextFunctions.subwordTokenEstSql("ws")} AS n_tokens_est
            |FROM d
            |WHERE ${graft.functions.PortableHash.h48Sql("'mx:' || CAST(doc_id AS VARCHAR)")} % 1000000 < ppm
            |ORDER BY doc_id""".stripMargin),
    (s, dir) => {
      import graft.functions.{PortableHash, TextFunctions}
      val decided = graft.operators.CorpusCuration.mixtureDecisions(
        streamDocuments(s, dir)
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws")),
        CorpusPipeline.MixtureWeights, CorpusPipeline.MixtureDefault)
      val routed = decided.filter(col("is_kept"))
        .select(col("doc_id"), col("source"),
          (PortableHash.h48(concat(lit("sh:"), col("doc_id").cast("string"))) % 16)
            .as("shard"),
          TextFunctions.subwordTokenEst(col("ws")).as("n_tokens_est"))
      runToSink(routed, "append", "stream_shard_route_sink")
        .orderBy("doc_id")
    })

  /** STREAMING CHUNKING — context-window prep at ingest time (a RAG
    * indexer or long-doc splitter fed by arriving files): each doc explodes
    * into its overlapping windows via THE SAME projection as the batch
    * `txt_chunks` ([[TextQueries.chunkProjection]] — one definition of the
    * law, so batch and stream cannot drift), with portable content hashes
    * for downstream chunk-level dedup/indexing. A stateless per-row
    * Generate under append mode — no state store, no watermark, fan-out
    * bounded by document length — so the stream is batch-equivalent by
    * construction and shares the batch oracle verbatim. The twelfth real
    * streaming execution in the gate (`StreamingQueries.all.size` is the
    * count of record). */
  val streamChunks = QuerySpec(
    "stream_chunks",
    "streaming chunking: per-arriving-doc overlapping windows, stateless append",
    Some(TextQueries.chunksOracleSql),
    (s, dir) => {
      runToSink(TextQueries.chunkProjection(
          streamDocuments(s, dir).select(col("doc_id"), col("text"))),
        "append", "stream_chunks_sink")
        .orderBy("doc_id", "chunk_idx")
    })

  /** STREAMING CLASSIFIER INFERENCE — the learned quality gate run at
    * ingest time (where production curation actually scores documents: as
    * they arrive, before anything downstream sees them): each arriving doc
    * takes THE SAME projection as the batch `corpus_clf_score`
    * ([[graft.operators.QualityClassifier.scoreProjection]] — one
    * definition of the law, so batch and stream cannot drift), the model
    * vector riding the closure as a broadcast literal. Stateless per-row
    * under append mode — no state store, no watermark — so the stream is
    * batch-equivalent by construction and shares the batch oracle
    * verbatim. (`StreamingQueries.all.size` is the streaming-execution
    * count of record.) */
  val streamClf = QuerySpec(
    "stream_clf",
    "streaming classifier inference: broadcast-model scoring at ingest, stateless append",
    CorpusPipeline.corpusClfScore.oracle,
    (s, dir) => {
      runToSink(graft.operators.QualityClassifier.scoreProjection(
          streamDocuments(s, dir).select(col("doc_id"), col("text"))),
        "append", "stream_clf_sink")
        .orderBy("doc_id")
    })

  /** STREAMING DISTRIBUTION MONITORING — `dq_drift`'s quality-band counts
    * maintained INCREMENTALLY (the deployment where drift checks actually
    * live: a live ingest feed alerting when a new crawl shifts quality
    * mass): each arriving doc maps to its score band (stateless), one
    * stateful streaming aggregation maintains the ≤ 11 (band, v1, v2)
    * count rows, and the PSI publication math — spine join, ppm rates,
    * integer LLR — runs batch-side over the finished sink via
    * [[DataQualityQueries.driftPublish]], the SAME one definition the
    * batch entry uses, under the same oracle. Counts are additive, so the
    * streaming maintenance is exact by the hm_blob_merge argument.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamDrift = QuerySpec(
    "stream_drift",
    "streaming-maintained quality-band counts + batch PSI drift publication",
    // the twin's contract IS the batch oracle — one definition, no drift
    DataQualityQueries.dqDrift.oracle,
    (s, dir) => {
      import graft.functions.TextFunctions
      val ag = streamDocuments(s, dir)
        .select(col("doc_id"),
          TextFunctions.qualityScore(TextFunctions.words(col("text"))).as("score"))
        .select(col("doc_id"), expr("score div 100").as("band"))
        .groupBy("band")
        .agg(sum(when(col("doc_id") % 5 =!= 4, 1L)).as("c1"),
          count(lit(1)).as("c2"))
      DataQualityQueries.driftPublish(s,
        runToSink(ag, "complete", "stream_drift_sink"))
    })

  /** The embeddings corpus as an unbounded DataFrame (same glob trick as
    * [[streamEvents]]: the file source takes files only via glob). */
  private def streamEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val rawSchema = s.read.parquet(s"$dir/embeddings.parquet").schema
    s.readStream.schema(rawSchema).parquet(s"$dir/embeddings.parque[t]")
  }

  /** STREAMING MODEL SERVING — the online half of the offline/online
    * k-means split every production vector pipeline runs: the model is fit
    * OFFLINE over the batch table (the same literal-centroid fit
    * as `emb_kmeans` — [[SimilarityQueries.kmeansModel]]), and arriving
    * vectors are assigned online by a stateless map-side argmin over the k
    * literal centroids (the `array_min`-of-structs form — no join, no
    * state store, no watermark). Run to completion over the corpus this
    * must equal the batch assignment row-for-row, so it shares
    * `emb_kmeans`'s oracle verbatim; tie-breaks (min d2, then min cluster)
    * are the struct-min ordering on both sides.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamKmeansAssign = QuerySpec(
    "stream_kmeans_assign",
    "streaming model serving: arriving vectors assigned to offline k-means centroids",
    // the twin's contract IS the batch oracle — one definition, no drift
    SimilarityQueries.embKmeans.oracle,
    (s, dir, scope) => {
      // offline fit (eager: the centroids are driver literals, so the
      // scope's fit intermediates may go once it returns); also registers
      // the native vec_l2sq through the Tables chokepoint
      val model = SimilarityQueries.kmeansModel(s, dir, scope)
      val best = array_min(array(model.centroids.map { case (c, cv) =>
        struct(call_function("vec_l2sq", col("v"), typedlit(cv)).as("d2"),
          lit(c.toLong).as("c")) }: _*))
      val assigned = streamEmbeddings(s, dir)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * lit(1000000)).cast("long")).as("v"))
        .select(col("vec_id"), best.getField("c").as("cluster"),
          best.getField("d2").as("d2_micros2"))
      runToSink(assigned, "append", "stream_kmeans_assign_sink")
        .orderBy("vec_id")
    })

  /** STREAMING ANN SERVING — the online half of the index lifecycle, and
    * the composition that makes the staged index REAL: the IVF postings
    * built offline and staged cid-partitioned
    * ([[SimilarityQueries.ivfStagedCells]] — the exact artifact
    * `sim_ivf_probe_stored` probes in batch) are served to a STREAM of
    * arriving query vectors. Per arriving query: probe-cell assignment is
    * a stateless map-side projection against the frozen literal centroids
    * ([[SimilarityQueries.ivfProbes]]), candidate scoring is a
    * STREAM-STATIC join against the staged postings (stateless — no
    * watermark, no state store: each micro-batch joins its queries and
    * emits scored candidates), and the bounded final ranking happens at
    * publication over the sink (the stream_hm_pyramid derive-at-
    * publication split: the corpus-scale work streams, the ≤
    * queries×cell-population ranking does not need to).
    *
    * Shares `sim_ivf_topk`'s oracle VERBATIM (build, probe, and ranking
    * laws all have one definition — ivfCellId/ivfProbes/ivfProbeScore/
    * ivfProbeRank), so a drift between the offline index, the batch
    * probe, and this online server fails the hash gate. Scale: the
    * serving join is per-trigger work proportional to arriving queries ×
    * probed-cell populations; a deployment pins the hot postings in
    * executor storage (they are the static side) and the probe set stays
    * trigger-bounded by construction.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamAnnProbe = QuerySpec(
    "stream_ann_probe",
    "streaming ANN serving: arriving queries probe the staged IVF index — same oracle as sim_ivf_topk",
    SimilarityQueries.simIvfTopk.oracle,
    (s, dir) => {
      import graft.operators.CacheScope
      val cents = SimilarityQueries.ivfCentroids(s, dir, CacheScope.Unmanaged)
      val cells = SimilarityQueries.ivfStagedCells(s, dir, CacheScope.Unmanaged)
      // arriving queries: the shared probe-set law over the embeddings
      // stream (no broadcast hint — the stream side of a stream-static
      // join cannot carry one; ivfQueryProbes casts the query side to the
      // INT partition column exactly like the batch probe)
      val qs = SimilarityQueries.ivfQueryProbes(streamEmbeddings(s, dir), cents)
      val scored = SimilarityQueries.ivfProbeScore(qs, cells)
      SimilarityQueries.ivfProbeRank(
        runToSink(scored, "append", "stream_ann_probe_sink"))
    })

  /** STREAMING HARD-NEGATIVE MINING — [[streamAnnProbe]]'s serving shape
    * pointed at dataset construction instead of answering queries: as
    * training queries ARRIVE (the continuous-crawl mining loop — new
    * positives stream in, their negatives should be mined on arrival, not
    * in a nightly batch), each probes the frozen staged postings
    * stream-statically (stateless — probe-cell assignment is a map-side
    * projection against literal centroids, scoring a stream-static join,
    * no watermark, no state store), and the label screen + n_filtered
    * count + exact ranking happen AT PUBLICATION over the finished sink
    * via [[SimilarityQueries.hardNegativePublish]] — shared VERBATIM with
    * the batch entry, so the streamed mining run and the batch re-mine
    * cannot disagree on what a hard negative is. Shares
    * `sim_hard_negatives`' oracle verbatim for the same reason.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamHardNegatives = QuerySpec(
    "stream_hard_negatives",
    "streaming hard-negative mining: arriving queries probe the staged index, label-screened at publication — same oracle as sim_hard_negatives",
    SimilarityQueries.simHardNegatives.oracle,
    (s, dir) => {
      import graft.operators.CacheScope
      val cents = SimilarityQueries.ivfCentroids(s, dir, CacheScope.Unmanaged)
      val cells = SimilarityQueries.ivfStagedCells(s, dir, CacheScope.Unmanaged)
      // the shared probe-set law over the stream (no broadcast hint on a
      // stream side; the INT partition-key cast lives in ivfQueryProbes)
      val scored = SimilarityQueries.ivfProbeScore(
        SimilarityQueries.ivfQueryProbes(streamEmbeddings(s, dir), cents), cells)
      SimilarityQueries.hardNegativePublish(
        runToSink(scored, "append", "stream_hard_negatives_sink"), s, dir)
    })

  /** STREAMING ANN SERVING FROM THE COMPRESSED ARTIFACT — the memory-law
    * completion of [[streamAnnProbe]]: at 10⁹ vectors the executor-resident
    * static side of the serving join must be the CODE table (~PqM bytes per
    * vector), not the float postings (Dim floats per vector) — this twin
    * serves from [[SimilarityQueries.ivfpqStagedCodes]], the staged
    * cid-partitioned PQ code artifact `sim_ivfpq_probe_stored` probes in
    * batch. Per arriving query: probe-cell assignment AND the
    * normalized-micros ADC query view are stateless map-side projections
    * against the frozen literal centroids/codebooks
    * ([[SimilarityQueries.ivfProbes]]/[[SimilarityQueries.normalizedMicros]]),
    * candidate scoring is a STREAM-STATIC join against the staged codes
    * reading ONLY code columns (no float column exists in the artifact),
    * and the bounded per-query ranking happens at publication (the
    * derive-at-publication split). Production adds the exact-rerank refine
    * exactly as the batch twin does — the refine tier holds the floats,
    * the serving join never does.
    *
    * Shares `sim_ivfpq_topk`'s oracle VERBATIM (qBound=5, ADC top-5):
    * quantizers, encode, probe, ADC, and ranking all have one definition,
    * so a drift between the staged code table and the inline index fails
    * the hash gate. Listing/state cost is streamAnnProbe's: stateless
    * stream-static join, no watermark, no state store.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamAnnProbePq = QuerySpec(
    "stream_ann_probe_pq",
    "streaming ANN serving from the staged PQ code table — same oracle as sim_ivfpq_topk",
    SimilarityQueries.simIvfpqTopk.oracle,
    // scoped (3-arg) builder: pqFit persists its micros input, and that
    // block must belong to the caller's scope — an Unmanaged fit inside
    // a scoped build would leak past release()
    (s, dir, scope) => {
      val cents = SimilarityQueries.ivfCentroids(s, dir, scope)
      val models = SimilarityQueries.pqFitFor(s, dir, "norm",
        SimilarityQueries.pqVxNorm(s, dir), scope)
      val codes = SimilarityQueries.ivfpqStagedCodes(s, dir, models, cents, "norm-v1")
      // arriving queries: probes + the normalized-micros ADC view, both
      // map-side per row (explode in its own select, cast in the next —
      // a generator cannot nest inside an expression); the stream side of
      // a stream-static join carries no broadcast hint
      val qs = streamEmbeddings(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"),
          SimilarityQueries.normalizedMicros(col("embedding")).as("qv"),
          explode(SimilarityQueries.ivfProbes(cents, col("embedding"), 2)).as("cid_l"))
        .select(col("q_id"), col("qv"), col("cid_l").cast("int").as("cid"))
      val scored = qs.join(codes,
          col("cid") === col("c_cid") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          SimilarityQueries.pqAdcD2(models, col("qv")).as("adc_d2"))
      SimilarityQueries.pqAdcRank(
        runToSink(scored, "append", "stream_ann_probe_pq_sink"))
    })

  /** STREAMING CROSS-MODAL SERVING — the image lake's online half (the
    * round-16 verdict's missing streaming execution): TEXT queries ARRIVE
    * as a stream and probe the staged cid-partitioned IMAGE lake — the
    * [[streamAnnProbe]] composition with the candidate tower swapped.
    * Per arriving query: probe-cell assignment is a stateless map-side
    * projection against the frozen literal centroids (the SHARED
    * quantizer both towers serve under), candidate scoring is a
    * STREAM-STATIC join against the staged image postings (stateless —
    * no watermark, no state store), and the bounded top-3 ranking
    * happens at publication over the finished sink
    * ([[MultimodalQueries.crossmodalRank]] — the derive-at-publication
    * split). The probe join and scoring are
    * [[MultimodalQueries.crossmodalProbeScored]] VERBATIM (the batch
    * serve's law, minus the broadcast hint a stream side cannot carry),
    * and the entry shares `mm_crossmodal_stored`'s oracle verbatim — a
    * drift between the offline lake, the batch probe, and this online
    * server fails the hash gate.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamCrossmodalProbe = QuerySpec(
    "stream_crossmodal_probe",
    "streaming cross-modal serving: arriving text queries probe the staged image lake — same oracle as mm_crossmodal_stored",
    MultimodalQueries.mmCrossmodalStored.oracle,
    (s, dir, scope) => {
      val cents = SimilarityQueries.ivfCentroids(s, dir, scope)
      val lake = MultimodalQueries.crossmodalLake(s, dir, scope)
      val cells = s.read.parquet(lake.toString)
        .select(col("doc_id"), col("embedding"), col("cid").as("c_cid"))
      // arriving text queries through the SHARED probe-set law
      // (crossmodalQueryProbesOver — one definition with the batch
      // serves, review finding)
      val qs = MultimodalQueries.crossmodalQueryProbesOver(
        streamEmbeddings(s, dir), cents)
      MultimodalQueries.crossmodalRank(
        runToSink(MultimodalQueries.crossmodalProbeScored(qs, cells),
          "append", "stream_crossmodal_probe_sink"))
    })

  /** STREAMING INDEX ABSORB — the maintenance half of the index lifecycle
    * run by the incremental engine: [[streamAnnProbe]]/[[streamAnnProbePq]]
    * SERVE a built index to arriving queries; this twin ABSORBS arriving
    * DOCUMENTS into the index's per-cell manifests, the shape a retrieval
    * team needs the first day its crawl is a stream. Per arriving doc:
    * the chunk law ([[TextQueries.chunkProjection]] — a stateless explode,
    * stream-legal unchanged), then a STREAM-STATIC join onto the per-doc
    * cell assignment (the frozen-quantizer literal-centroid projection —
    * assignment must NOT re-train per trigger: that would reassign
    * history, which is a rebuild, not maintenance), then ONE stateful
    * aggregation keyed by cell maintaining (n_docs, n_chunks, total_chars,
    * XOR fingerprint) — state is one row per live cell, ≤ nlist rows
    * total. Every maintained quantity is order-free algebra (counts and
    * sums ADD, fingerprints XOR — exactly the merge algebra
    * `pipeline_rag_index_inc` gate-proves batch-side), which is WHY the
    * absorb is stream-safe: any arrival order folds to the same state.
    * n_docs streams as sum(chunk_idx = 0) — COUNT(DISTINCT) is not a
    * streaming aggregate, but every doc emits exactly one chunk 0 and all
    * its chunks share one cell, so the first-chunk count IS the distinct
    * doc count, with the batch oracle's COUNT(DISTINCT doc_id) verifying
    * the equivalence on every run.
    *
    * Shares `pipeline_rag_index`'s oracle VERBATIM (the full-rebuild SQL):
    * run to completion over the corpus stream, the maintained manifests
    * must equal the batch build row-for-row — absorb(stream) == run(all),
    * the streaming restatement of merge(A,B) == run(A∪B).
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamRagIndexInc = QuerySpec(
    "stream_rag_index_inc",
    "streaming index absorb: arriving docs fold into per-cell manifests — same oracle as pipeline_rag_index",
    // the twin's contract IS the batch oracle — one definition, no drift
    SimilarityQueries.pipelineRagIndex.oracle,
    (s, dir) => {
      import graft.operators.CacheScope
      val cents = SimilarityQueries.ivfCentroids(s, dir, CacheScope.Unmanaged)
      // static side: per-doc cell assignment, a pure projection over the
      // embeddings table against the frozen literal centroids (zero
      // shuffle — the ragManifest build shape)
      val cells = Tables(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"),
          SimilarityQueries.ivfCellId(cents, col("embedding")).as("cid"))
      val chunks = TextQueries.chunkProjection(
        streamDocuments(s, dir).select(col("doc_id"), col("text")))
      val manifests = chunks
        .join(cells, "doc_id")
        .groupBy("cid")
        .agg(sum(when(col("chunk_idx") === 0, 1L).otherwise(0L)).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("chunk_chars")).as("total_chars"),
          expr("bit_xor(chunk_hash)").as("fingerprint"))
      runToSink(manifests, "complete", "stream_rag_index_inc_sink")
        .orderBy("cid")
    })

  /** STREAMING POSTINGS ENCODE — the other half of the streaming-crawl
    * absorb next to [[streamRagIndexInc]]: that twin maintains the
    * per-cell MANIFESTS; this one produces the POSTINGS ROWS the crawl
    * appends to the compressed lake — per arriving vector, the coarse
    * cell id plus the packed PQ code, exactly the row
    * [[SimilarityQueries.ivfpqStagedCodes]] writes at build time (ONE
    * shared projection, [[SimilarityQueries.pqPostingsRow]], so the
    * batch artifact and the streaming append path cannot fork). Every
    * stage is a stateless map against frozen literal artifacts (the v1
    * quantizer + the norm codebooks — encoding must NOT re-train per
    * trigger, the streamRagIndexInc argument), so the entry is
    * append-mode with no state store and batch-equivalent by
    * construction. The oracle re-derives cell + codes + packing for the
    * WHOLE corpus independently ([[SimilarityQueries.pqCodesOracle]]),
    * which makes this the first DIRECT gate on the staged code-table
    * law's contents — the probe entries verify it transitively through
    * ADC ranks; this verifies every row.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamIndexEncode = QuerySpec(
    "stream_index_encode",
    "streaming postings encode: arriving vectors -> (cell, packed PQ code) append rows — the compressed-lake absorb path",
    Some(SimilarityQueries.pqCodesOracle),
    // scoped (3-arg) builder: pqFitFor persists its micros input on a
    // miss, and that block must belong to the caller's scope
    (s, dir, scope) => {
      val cents = SimilarityQueries.ivfCentroids(s, dir, scope)
      val models = SimilarityQueries.pqFitFor(s, dir, "norm",
        SimilarityQueries.pqVxNorm(s, dir), scope)
      val enc = streamEmbeddings(s, dir)
        .select(col("vec_id"), col("embedding"),
          SimilarityQueries.normalizedMicros(col("embedding")).as("v"))
        .select(col("vec_id") +:
          SimilarityQueries.pqPostingsRow(models, cents): _*)
      // the shared projection carries the ARTIFACT's native types (packed
      // int, the append-compatibility contract); the gate's output edge
      // casts to BIGINT like every other entry
      runToSink(enc, "append", "stream_index_encode_sink")
        .select(col("vec_id"), col("cid").cast("long").as("cid"),
          col("packed").cast("long").as("packed"))
        .orderBy("vec_id")
    })

  /** STREAMING LEXICAL POSTINGS ENCODE — the lexical twin of
    * [[streamIndexEncode]]: as documents ARRIVE, each emits the inverted-
    * index rows (`word`, tf, dl, source, term bucket) the crawl appends to
    * the staged lexical lake, through
    * [[TextQueries.lexPostingsProjection]] SHARED VERBATIM with every
    * batch build variant — the projection computes tf WITHIN the document
    * row (the zero-shuffle build law), which is exactly what makes this
    * twin possible: a groupBy-based tf would need a state store keyed by
    * (doc, word); the within-row fold is a stateless per-arrival map, so
    * the entry is append-mode with no watermark and batch-equivalent by
    * construction. The consume side is `ret_bm25_inc`'s structural union
    * (per-doc quantities — the appended rows ARE the index rows). The
    * oracle re-derives tf per (doc, word) by the INDEPENDENT formulation
    * (corpus-wide UNNEST + GROUP BY) plus the bucket hash, making this
    * the first DIRECT gate on the lexical posting rows — the serving
    * entries verify them transitively through ranks; this verifies every
    * row. (`StreamingQueries.all.size` is the streaming-execution count
    * of record.) */
  val streamLexEncode = QuerySpec(
    "stream_lex_encode",
    "streaming lexical postings encode: arriving documents -> inverted-index rows — the zero-state crawl absorb",
    Some(TextQueries.lexPostingsOracle),
    (s, dir) => {
      val enc = TextQueries.lexPostingsProjection(
        streamDocuments(s, dir).select(col("doc_id"), col("text"), col("source")))
      runToSink(enc, "append", "stream_lex_encode_sink")
        .orderBy("doc_id", "word")
    })

  /** STREAMING LEXICAL PROBE — the fourth serving family gets its
    * query-stream edge (ANN floats, PQ codes, and cross-modal images
    * have theirs; the inverted index did not): arriving BM25 queries
    * probe the STAGED lexical lake stream-statically. The stream side
    * carries its own term-bucket key — h48(term) mod buckets cast to
    * the INT partition column, the [[SimilarityQueries.ivfQueryProbes]]
    * convention for probing a partitioned static side — so the join is
    * a stateless append-mode equi-join on (tb, word): no watermark, no
    * state store, batch-equivalent by construction. Exact scoring and
    * ranking happen AT PUBLICATION over the finished sink through the
    * one BM25 score law with df and totals from the staged artifacts
    * ([[TextQueries.bm25ProbePublication]]). Shares
    * `ret_bm25_stored`'s oracle VERBATIM: a query answered on arrival
    * must rank exactly like the batch serve.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamBm25Probe = QuerySpec(
    "stream_bm25_probe",
    "streaming lexical serving: arriving queries probe the staged inverted index — same oracle as ret_bm25_stored",
    TextQueries.retBm25Stored.oracle,
    (s, dir) => {
      val qdir = TextQueries.bm25WorkloadDir(s)
      val qs = s.readStream.schema(s.read.parquet(qdir.toString).schema)
        .parquet(qdir.toString)
      TextQueries.bm25ProbePublication(s, dir,
        runToSink(TextQueries.bm25ProbeMatched(s, dir, qs),
          "append", "stream_bm25_probe_sink"))
    })

  /** STREAMING ANALYZED ENCODE — the analyzer law applied at INGEST
    * time, where a production crawl actually runs it (analyzing at
    * query time would re-tokenize the corpus per query): the arriving
    * document's NORMALIZED posting rows through
    * [[TextQueries.lexPostingsProjectionAnalyzed]] — the same
    * parameterized projection body as [[streamLexEncode]], so the
    * analyzer chain composes with the zero-state crawl absorb for free
    * (the analyzer is per-row, exactly like the in-row tf fold; still
    * append-mode, no watermark, batch-equivalent by construction). The
    * oracle re-derives every analyzed posting row independently
    * ([[TextQueries.lexAnalyzedPostingsOracle]]), making this the
    * direct row-level gate on the normalized token stream the analyzed
    * serving family ranks over. (`StreamingQueries.all.size` is the
    * streaming-execution count of record.) */
  val streamLexAnalyzedEncode = QuerySpec(
    "stream_lex_analyzed_encode",
    "streaming ANALYZED postings encode: arriving documents -> normalized inverted-index rows, zero state",
    Some(TextQueries.lexAnalyzedPostingsOracle),
    (s, dir) => {
      val enc = TextQueries.lexPostingsProjectionAnalyzed(
        streamDocuments(s, dir).select(col("doc_id"), col("text"), col("source")))
      runToSink(enc, "append", "stream_lex_analyzed_encode_sink")
        .orderBy("doc_id", "word")
    })

  /** STREAMING POSITIONAL ENCODE — the crawl-side twin of the positional
    * index variant (`ret_phrase_stored`'s build law): positions are
    * per-document quantities exactly like tf, so an arriving document's
    * position-bearing posting rows need ZERO state — the same in-row
    * fold the batch build runs ([[TextQueries.lexPosPostingsProjection]],
    * the one shared projection), emitted append-mode per arrival. The
    * publication edge scalarizes each position array (count / sum /
    * order-sensitive weighted sum — [[TextQueries.lexPosScalarized]]);
    * the oracle re-derives all three from a corpus-wide zipped UNNEST,
    * so a dropped, doubled, or permuted position in the streamed rows
    * fails the hash gate. (`StreamingQueries.all.size` is the
    * streaming-execution count of record.) */
  val streamLexposEncode = QuerySpec(
    "stream_lexpos_encode",
    "streaming positional postings encode: arriving documents -> position-bearing index rows, zero state",
    Some(TextQueries.lexPosPostingsOracle),
    (s, dir) => {
      val enc = TextQueries.lexPosPostingsProjection(
        streamDocuments(s, dir).select(col("doc_id"), col("text"), col("source")))
      TextQueries.lexPosScalarized(
        runToSink(enc, "append", "stream_lexpos_encode_sink"))
    })

  /** STREAMING-MAINTAINED DECAYED HEATMAP — `hm_decay` as the incremental
    * engine runs it, exploiting the batch entry's calendar-week-aligned
    * decay law: the STREAM maintains (tile, week) counts — one stateful
    * aggregation whose key is stateless per event (absolute epoch week),
    * state one row per live (tile, week) — and the half-life weighting
    * (1024 >> (max_week − week), shift capped at 63) is pure batch-side
    * publication arithmetic over the finished sink, with the watermark
    * week a 1-row max over the maintained table itself. Counts are
    * additive, so maintenance is exact (the hm_blob_merge argument), and
    * re-weighting at each publication is how a production decayed view
    * ages WITHOUT rewriting state. Shares `hm_decay`'s oracle verbatim.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamDecay = QuerySpec(
    "stream_decay",
    "streaming-maintained (tile, week) counts + half-life decay at publication",
    // the twin's contract IS the batch oracle — one definition, no drift
    HeatmapQueries.hmDecay.oracle,
    (s, dir) => {
      val countsStream = streamEvents(s, dir)
        .filter(HeatmapQueries.sourceFilter)
        .select(HeatmapQueries.latCol.as("lat"), HeatmapQueries.lonCol.as("lon"),
          expr("unix_millis(ts) div 604800000").as("wk"))
        .groupBy(
          TileFunctions.tileId(col("lat"), col("lon"), 10).as("tile_id"),
          col("wk"))
        .agg(count(lit(1)).as("cnt"))
      val counts = runToSink(countsStream, "complete", "stream_decay_sink")
      val g = counts.agg(max("wk").as("max_wk"))
      counts.crossJoin(broadcast(g))
        .select(col("tile_id"), col("cnt"),
          (col("cnt") *
            expr("shiftright(1024L, cast(least(max_wk - wk, 63L) as int))")).as("wtd"))
        .groupBy("tile_id")
        .agg(sum("cnt").as("n_events"), sum("wtd").as("decayed_x1024"))
        .orderBy("tile_id")
    })

  /** STREAMING referential screen — `dq_referential`'s ingest-time twin:
    * the batch audit finds orphans after the fact; this flags each
    * arriving child row against the parent key set AT INGEST (the earliest
    * point a dropped parent partition is detectable). A stateless
    * stream-static LEFT join against the broadcast parent keys — no state
    * store, batch-equivalent by construction — sharing the batch entry's
    * simulated partial parent (`c_custkey % 97 <> 0`) so orphan flags
    * actually fire. At scale the parent side is the measured
    * broadcast-or-shuffle decision every stream-static join makes; the
    * per-batch probe itself is map-side. */
  val streamReferential = QuerySpec(
    "stream_referential",
    "streaming FK orphan screen: arriving events probed against a partial parent, stateless append",
    Some("""SELECT e.event_id, e.user_id, c.c_custkey IS NULL AS is_orphan
           |FROM events e
           |LEFT JOIN (SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0) c
           |  ON c.c_custkey = e.user_id
           |ORDER BY event_id""".stripMargin),
    (s, dir) => {
      val parent = Tables(s, dir, "customer")
        .filter(col("c_custkey") % 97 =!= 0).select(col("c_custkey"))
      runToSink(
        streamEvents(s, dir).select(col("event_id"), col("user_id"))
          .join(broadcast(parent), col("c_custkey") === col("user_id"), "left")
          .select(col("event_id"), col("user_id"),
            col("c_custkey").isNull.as("is_orphan")),
        "append", "stream_referential_sink")
        .orderBy("event_id")
    })

  /** STREAMING PYRAMID maintenance — the reference's flagship output
    * (heatmap.py:110–117's 16-level rollup) kept current incrementally.
    * The state-minimality insight mirrors the batch plan's two phases
    * exactly: the STREAM maintains only the FINE-zoom tile counts (a
    * stateful aggregation on two integer keys — the minimal state any
    * pyramid view needs, 1/16th of the published surface), and the 15
    * coarser levels derive at PUBLICATION through
    * [[HeatmapPipeline.rollup]], the same zoom rollup as `hm_pyramid` (the
    * `stream_decay` publication-step precedent). Batch-equivalent by
    * construction: the published rollup is a deterministic function of the
    * fine aggregate, which the streaming agg maintains exactly; the oracle
    * computes the identical all-users/alltime pyramid over the table at
    * rest. */
  val streamHmPyramid = QuerySpec(
    "stream_hm_pyramid",
    "streaming 16-level pyramid: fine-tile counts as stream state, zoom rollup at publication",
    Some(s"""WITH base AS (
            |  SELECT ${HeatmapQueries.latSql} AS lat, ${HeatmapQueries.lonSql} AS lon
            |  FROM events WHERE ${HeatmapQueries.sourceFilterSql}),
            |fine AS (
            |  SELECT ${T.tileRow("lat", HeatmapQueries.FineZoom)} AS fine_row,
            |    ${T.tileCol("lon", HeatmapQueries.FineZoom)} AS fine_col,
            |    COUNT(*) AS c0
            |  FROM base GROUP BY 1, 2)
            |SELECT zoom,
            |  CONCAT_WS('_', zoom, fine_row >> (${HeatmapQueries.FineZoom} - zoom),
            |    fine_col >> (${HeatmapQueries.FineZoom} - zoom)) AS tile_id,
            |  CAST(SUM(c0) AS BIGINT) AS cnt
            |FROM fine CROSS JOIN (SELECT CAST(UNNEST(GENERATE_SERIES(
            |    ${HeatmapPipeline.CoarseZoom}, ${HeatmapQueries.FineZoom})) AS INT) AS zoom)
            |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    (s, dir) => {
      val fz = HeatmapQueries.FineZoom
      val fine = runToSink(
        streamEvents(s, dir)
          .filter(HeatmapQueries.sourceFilter)
          .groupBy(
            TileFunctions.tileRow(HeatmapQueries.latCol, fz).as("fine_row"),
            TileFunctions.tileCol(HeatmapQueries.lonCol, fz).as("fine_col"))
          .agg(count(lit(1)).as("count")),
        "complete", "stream_hm_pyramid_sink")
      HeatmapPipeline.rollup(fine, HeatmapPipeline.Config(fineZoom = fz))
        .select(col("zoom"),
          concat_ws("_", col("zoom"), col("r"), col("c")).as("tile_id"),
          col("count").as("cnt"))
        .orderBy("zoom", "tile_id")
    })

  /** STREAMING TRAJECTORY export — [[StreamingOps.trajectoriesStateful]]:
    * the `events_trajectories` training-sample export maintained
    * incrementally (per-user open intervals carry their event records;
    * a closed session emits its ordered action sequence, numbered by the
    * surviving per-user counter so `session_idx` matches the batch
    * cumulative sum). Same sentinel-flush mechanics as `stream_sessions`;
    * the oracle is the batch `sessionCtes` chain — shared text, so the
    * two execution modes answer to ONE session law. */
  /** STREAMING MEDIA INGESTION — the `binaryFile` lake consumed by the
    * incremental engine (the production shape for a continuously-growing
    * media store: objects arrive, each is decoded at arrival): the SAME
    * staged lake as the batch `mm_ingest`
    * ([[MultimodalQueries.mediaStage]] — one definition, both execution
    * modes list the same files), read with `readStream.format
    * ("binaryFile")`, doc identity parsed from the object path and the
    * payload decoded by the same header parser. Stateless per-row under
    * append mode — no state store, no watermark — so the stream is
    * batch-equivalent by construction and shares mm_ingest's closed-form
    * oracle verbatim.
    *
    * Measured scaling wall, deliberately exhibited: the listing-based
    * file stream source pays ~2 ms PER OBJECT in exactly-once
    * bookkeeping (measured: 1.8 s at 500 objects, 10.7 s at 5000 —
    * linear; the batch twin bin-packs the same 5000 objects into 0.3 s,
    * and neither coalesce nor maxFilesPerTrigger moves it). This is the
    * known cost law of directory-listing ingest and exactly why
    * production media lakes switch to notification-based discovery or
    * compact small objects into archives once arrival rates grow. The
    * entry keeps the wall VISIBLE but bounded: it streams the
    * `doc_id % 10 = 0` decile of the lake (the trailing-zero path glob —
    * the object-count knob that makes the per-object cost law a fixed,
    * honest exhibit instead of the bench's dominant term), while
    * [[streamMmCompacted]] is the implemented scale-safe shape: the SAME
    * lake compacted into parquet bundles and streamed at per-bundle cost.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamMmIngest = QuerySpec(
    "stream_mm_ingest",
    "streaming binaryFile media ingestion: decode-at-arrival, stateless append",
    Some(MultimodalQueries.ingestOracle("WHERE doc_id % 10 = 0")),
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val media = sp.readStream.format("binaryFile")
        // objects are named doc_%010d.g8r, so a trailing-zero glob selects
        // exactly the doc_id % 10 = 0 decile at LISTING time — the
        // filtered-out objects never enter the exactly-once file log
        .option("pathGlobFilter", "*0.g8r")
        // file stream sources require an explicit schema; binaryFile's is
        // FIXED by the format, restated here verbatim
        .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
        .option("maxFilesPerTrigger", "1000000")
        .load(MultimodalQueries.mediaStage(s, dir).toString)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.g8r$", 1).cast("long").as("doc_id"),
          col("content").as("media"))
        .as[graft.operators.Multimodal.MediaDoc]
      runToSink(graft.operators.Multimodal.decodeMeta(media).toDF(),
        "append", "stream_mm_ingest_sink")
        .orderBy("doc_id")
    })

  /** STREAMING COMPACTED-BUNDLE media ingestion — the production answer to
    * the per-object listing wall [[streamMmIngest]] exhibits. The same
    * media lake is first compacted ([[MultimodalQueries.mediaBundleStage]]:
    * one batch binaryFile pass bin-packs the small objects into a handful
    * of parquet bundle files of `(doc_id, media)` rows), and the STREAM
    * consumes the bundles: per-trigger bookkeeping is now O(bundles) while
    * every row still carries the full opaque payload, decoded at arrival
    * by the same header parser. Covers the FULL corpus (the subset knob
    * exists only to bound the per-object exhibit) under mm_ingest's
    * closed-form oracle verbatim, so compact → stream → decode answers to
    * the same law as write → list → read → decode. Stateless append — no
    * state store, batch-equivalent by construction. */
  val streamMmCompacted = QuerySpec(
    "stream_mm_compacted",
    "streaming media over compacted parquet bundles: O(bundles) listing, full-corpus decode",
    MultimodalQueries.mmIngest.oracle,
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val bundles = sp.readStream
        .schema("doc_id BIGINT, media BINARY")
        .parquet(MultimodalQueries.mediaBundleStage(s, dir).resolve("bundles").toString)
        .as[graft.operators.Multimodal.MediaDoc]
      runToSink(graft.operators.Multimodal.decodeMeta(bundles).toDF(),
        "append", "stream_mm_compacted_sink")
        .orderBy("doc_id")
    })

  val streamTrajectories = QuerySpec(
    "stream_trajectories",
    "stateful streaming trajectory assembly, flushed via watermark sentinel",
    Some(s"""WITH ${EventQueries.sessionCtes}
            |SELECT user_id, CAST(sess AS BIGINT) AS session_idx,
            |  STRING_AGG(event_type, '>' ORDER BY ms, event_id) AS trajectory,
            |  CAST(COUNT(*) AS BIGINT) AS n_steps,
            |  CAST(MAX(ms) - MIN(ms) AS BIGINT) AS duration_ms
            |FROM s GROUP BY user_id, sess ORDER BY user_id, session_idx""".stripMargin),
    (s, dir) => {
      import s.implicits._
      val typed = stagedEventsStream(s, eventsWithSentinelStage(s, dir))
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[StreamingOps.Event]
      runToSink(StreamingOps.trajectoriesStateful(typed).toDF(),
        "append", "stream_trajectories_sink")
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("session_idx"), col("trajectory"),
          col("n_steps"), col("duration_ms"))
        .orderBy("user_id", "session_idx")
    })

  /** STREAMING ENTITY RESOLUTION — `dedup_linkage` as the ingest path runs
    * it: a dirty feed arrives as a stream and each row is matched against
    * the static catalog THE MOMENT IT ARRIVES (production links at ingest
    * so downstream consumers see resolved ids, not a nightly batch lag).
    * Per arriving row: title extraction, the dirtying replay, and the
    * block key are stateless map-side projections
    * ([[DedupQueries.linkageFeed]] — the batch entry's exact law); blocked
    * candidate generation is a STREAM-STATIC equi-join on the block key
    * (stateless — no watermark, no state store; per-trigger work is
    * arriving rows × per-block candidates, and the catalog side is the
    * static relation a deployment pins in executor storage); the
    * Levenshtein verify distance is computed in-stream. The bounded
    * count/verify/best-match resolve runs at publication over the
    * finished sink ([[DedupQueries.linkageResolve]] — the
    * stream_hm_pyramid derive-at-publication split), with the feed spine
    * recomputed from the table at rest under the same law, so every feed
    * row appears even when no candidate ever streamed. Shares
    * `dedup_linkage`'s oracle VERBATIM — drift between the batch linker
    * and this online one fails the hash gate.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamLinkage = QuerySpec(
    "stream_linkage",
    "streaming entity resolution: arriving feed rows block-join the static catalog — same oracle as dedup_linkage",
    DedupQueries.dedupLinkage.oracle,
    (s, dir) => {
      val catalog = DedupQueries.linkageCatalog(
        DedupQueries.linkageTitled(Tables(s, dir, "documents")))
      val feed = DedupQueries.linkageFeed(
        DedupQueries.linkageTitled(streamDocuments(s, dir)))
      val scored = DedupQueries.linkageScore(feed.join(catalog, "bk"))
      val sink = runToSink(scored, "append", "stream_linkage_sink")
      val spine = DedupQueries.linkageFeed(
          DedupQueries.linkageTitled(Tables(s, dir, "documents")))
        .select(col("feed_id"))
      DedupQueries.linkageResolve(spine, sink)
    })

  /** STREAMING DATA CONTRACT — `dq_expectations` as the ingest gate runs
    * it: the declarative rule table is compiled by the SAME suite law
    * ([[DataQualityQueries.expectationCounters]] — one fused conditional-
    * counter aggregation) but executed INCREMENTALLY over arriving
    * events: a global streaming aggregation (no keys, complete mode)
    * whose state is ONE row of counters — rule count scales state WIDTH,
    * never state rows, the same property the batch entry claims for
    * scans. Per-rule verdict rows derive at publication over the final
    * counter row ([[DataQualityQueries.expectationVerdicts]] — pure
    * literal-explode arithmetic, nothing corpus-sized). The rule table
    * checks schema presence, domains, ranges, and a value cap the corpus
    * deliberately breaches at ~133‰ against a 50‰ tolerance, so BOTH
    * verdict paths stream through the gate. A production deployment
    * reads the running counters every trigger (complete mode re-emits
    * them) — the contract dashboard is live, not nightly.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamExpectations = QuerySpec(
    "stream_expectations",
    "streaming data contract: the expectation suite maintained incrementally over arriving events",
    Some(DataQualityQueries.expectationOracleSql("events",
      DataQualityQueries.eventExpectations)),
    (s, dir) => {
      val es = DataQualityQueries.eventExpectations
      val counters = DataQualityQueries.expectationCounters(
        streamEvents(s, dir), es)
      DataQualityQueries.expectationVerdicts(
        runToSink(counters, "complete", "stream_expectations_sink"), es)
    })

  /** The customer table as an unbounded DataFrame (the streamEvents glob
    * trick) — the arriving-records feed of the k-anonymity twin. */
  private def streamCustomer(s: SparkSession, dir: String): DataFrame = {
    val rawSchema = s.read.parquet(s"$dir/customer.parquet").schema
    s.readStream.schema(rawSchema).parquet(s"$dir/customer.parque[t]")
  }

  /** STREAMING-MAINTAINED K-ANONYMITY — `dq_kanonymity` as the ingest
    * gate runs it: a release pipeline must know the dataset's anonymity
    * level AS RECORDS ARRIVE, not after a batch audit. The stream
    * maintains the quasi-identifier class counts (one stateful
    * aggregation whose key is stateless per record — segment × coarsened
    * balance bucket; state is one row per live class, ≤ |segments|·
    * |buckets|), and the global level + sub-k flags are pure publication
    * arithmetic over the maintained table (the stream_decay
    * derive-at-publication split: corpus-sized work streams, the ≤55-row
    * verdict does not need to). Counts are additive, so maintenance is
    * exact; run to completion this must equal the batch audit
    * row-for-row, so it shares `dq_kanonymity`'s oracle verbatim — one
    * threshold constant ([[DataQualityQueries.KAnonymityK]]) AND one
    * class-bucket law ([[DataQualityQueries.kAnonBalBucket]]), no fork.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamKanonymity = QuerySpec(
    "stream_kanonymity",
    "streaming-maintained k-anonymity: QI class counts as stream state, level derived at publication",
    DataQualityQueries.dqKanonymity.oracle,
    (s, dir) => {
      val classes = streamCustomer(s, dir)
        .groupBy(col("c_mktsegment"),
          DataQualityQueries.kAnonBalBucket(1000).as("bal_bucket"))
        .agg(count(lit(1)).as("class_n"))
      val counts = runToSink(classes, "complete", "stream_kanonymity_sink")
      val t = counts.agg(min("class_n").as("k_anonymity"))
      counts.crossJoin(broadcast(t))
        .select(col("c_mktsegment"), col("bal_bucket"), col("class_n"),
          (col("class_n") < DataQualityQueries.KAnonymityK).as("is_violation"),
          col("k_anonymity"))
        .orderBy("c_mktsegment", "bal_bucket")
    })

  /** STREAMING-MAINTAINED L-DIVERSITY — `dq_ldiversity` as the ingest
    * gate runs it, and the pattern answer to "COUNT(DISTINCT) is not a
    * streaming aggregate" when no single-representative trick exists
    * (contrast [[streamRagIndexInc]]'s chunk-0 count): maintain state ONE
    * LEVEL FINER than the published classes — keyed (segment, bucket,
    * NATION), each state row a live (class, sensitive-value) pair with
    * its count, ≤ |classes|·|nations| rows — and derive the distinct
    * count at publication per class over the maintained table as
    * count(c_nationkey) — counting the KEY column, not rows, so a NULL
    * sensitive value is ignored exactly as the oracle's COUNT(DISTINCT)
    * ignores it, while class_n (the counts' sum) still includes
    * null-sensitive rows exactly as COUNT(*) does; both exact because
    * per-key counts are additive and a class holds at most one NULL
    * state row. Flags + the global level are the batch audit's own
    * publication function ([[DataQualityQueries.ldiversityPublish]] —
    * shared constants alone don't stop a verdict-arithmetic fork; a
    * shared function does). Run to completion this must equal
    * `dq_ldiversity` row-for-row — shared oracle, shared
    * [[DataQualityQueries.kAnonBalBucket]] class law, shared
    * publication, no fork.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamLdiversity = QuerySpec(
    "stream_ldiversity",
    "streaming-maintained l-diversity: (class, sensitive) counts as stream state, distinct derived at publication",
    DataQualityQueries.dqLdiversity.oracle,
    (s, dir) => {
      val pairs = streamCustomer(s, dir)
        .groupBy(col("c_mktsegment"),
          DataQualityQueries.kAnonBalBucket(1000).as("bal_bucket"),
          col("c_nationkey"))
        .agg(count(lit(1)).as("n"))
      val sink = runToSink(pairs, "complete", "stream_ldiversity_sink")
      DataQualityQueries.ldiversityPublish(
        sink.groupBy(col("c_mktsegment"), col("bal_bucket"))
          .agg(sum(col("n")).as("class_n"),
            count(col("c_nationkey")).as("n_sensitive")))
    })

  /** STREAMING-MAINTAINED T-CLOSENESS — the third privacy screen kept
    * live at ingest, completing the trilogy's streaming story: the SAME
    * finer-keyed state as [[streamLdiversity]] (one row per live
    * (class, sensitive-value) pair with its count) already carries
    * everything total-variation distance needs — per-class sizes, the
    * global sensitive histogram, AND the table total are all FOLDS of
    * that one maintained table, so a release dashboard gets all three
    * screens from at most one state store each, none corpus-sized.
    * Publication is the batch audit's own derivation verbatim
    * ([[DataQualityQueries.tclosenessPublish]] — integer-exact TVD
    * numerators, cross-multiplied verdicts, the shared-function no-fork
    * argument), run over the finished sink. Shares `dq_tcloseness`'s
    * oracle, class law, and ceiling — run to completion the maintained
    * audit must equal the batch audit row-for-row.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamTcloseness = QuerySpec(
    "stream_tcloseness",
    "streaming-maintained t-closeness: (class, sensitive) counts as stream state, exact TVD at publication",
    DataQualityQueries.dqTcloseness.oracle,
    (s, dir) => {
      val pairs = streamCustomer(s, dir)
        .groupBy(col("c_mktsegment"),
          DataQualityQueries.kAnonBalBucket(1000).as("bal_bucket"),
          col("c_nationkey"))
        .agg(count(lit(1)).as("cnt"))
      DataQualityQueries.tclosenessPublish(
        runToSink(pairs, "complete", "stream_tcloseness_sink"))
    })

  /** STREAMING-MAINTAINED RELEASE LADDER — the trilogy-wide release
    * decision (`dq_release_ladder`) kept live at ingest: the stream
    * state is EXACTLY [[streamTcloseness]]'s — one row per live finest
    * (segment, bucket@1000, sensitive) triple, never corpus-sized —
    * because every rung of the ladder is a FOLD of that finest table
    * (floor division composes; suppression folds the bucket away), so
    * the entire five-rung × three-screen derivation is publication
    * arithmetic over the finished sink, shared verbatim with the batch
    * entry ([[DataQualityQueries.releaseLadderPublish]] — the
    * shared-function no-fork argument at its largest: one function
    * carries k, l, exact cross-multiplied t, AND the chosen-rung
    * promotion). Run to completion this must equal `dq_release_ladder`
    * row-for-row — shared oracle, shared class law, shared publication.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamReleaseLadder = QuerySpec(
    "stream_release_ladder",
    "streaming-maintained release ladder: finest (class, sensitive) counts as stream state, all three screens + promotion at publication",
    DataQualityQueries.dqReleaseLadder.oracle,
    // scoped (3-arg): the sink feeds every rung's fold and the ladder
    // feeds two consumers — untracked, the whole publication pipeline
    // would recompute per consumer (the batch entry's caching argument)
    (s, dir, scope) => {
      val pairs = streamCustomer(s, dir)
        .groupBy(col("c_mktsegment"),
          DataQualityQueries.kAnonBalBucket(
            DataQualityQueries.KAnonWidths.head).as("b"),
          col("c_nationkey"))
        .agg(count(lit(1)).as("cnt"))
      DataQualityQueries.releaseLadderPublish(
        scope.track(runToSink(pairs, "complete", "stream_release_ladder_sink")),
        scope.track)
    })

  /** STREAMING IMAGE–CAPTION PAIR CONSTRUCTION — `mm_caption_pairs` as
    * the crawl runs it: each arriving document yields its caption by the
    * one chunk law (chunk 0 — a stateless explode+filter, stream-legal
    * unchanged), canonicalization is a stream-static ANTI-join against
    * the frozen exact-phash duplicate set, the negative draw is the
    * stateless closed-form hash, and the negative caption is a
    * stream-static join against the STATIC corpus caption projection —
    * negatives draw from the full corpus, a frozen artifact at serving
    * time exactly like the quantizer. Every stage is stateless, so the
    * entry is append-mode with no state store; all laws are the batch
    * entry's own functions ([[MultimodalQueries.captionPairsPublish]] /
    * [[MultimodalQueries.captionProjection]]), and the oracle is shared
    * verbatim — run to completion, pair construction at ingest must
    * equal the batch build row-for-row.
    * (`StreamingQueries.all.size` is the streaming-execution count of
    * record.) */
  val streamCaptionPairs = QuerySpec(
    "stream_caption_pairs",
    "streaming image-caption pair construction: stateless chunk-0 captions, frozen dup set, hash-drawn negatives",
    MultimodalQueries.mmCaptionPairs.oracle,
    (s, dir, scope) => {
      val anchors = TextQueries.chunkProjection(
          streamDocuments(s, dir).select(col("doc_id"), col("text")))
        .filter(col("chunk_idx") === 0L)
        .select(col("doc_id"), col("chunk_hash"), col("chunk_chars"))
      val out = MultimodalQueries.captionPairsPublish(s, dir, scope,
        anchors, MultimodalQueries.captionProjection(s, dir, scope))
      runToSink(out, "append", "stream_caption_pairs_sink")
        .orderBy("image_id")
    })

  val all: Seq[QuerySpec] = Seq(streamTumbling, streamHmTiles, streamSessions,
    streamDedup, streamStreamJoin, streamHmBlobs, streamCdc, streamScd2,
    streamCorpusIngest, streamPii, streamShardRoute, streamChunks, streamClf,
    streamDrift, streamKmeansAssign, streamAnnProbe, streamAnnProbePq,
    streamCrossmodalProbe, streamHardNegatives,
    streamRagIndexInc, streamIndexEncode, streamLexEncode,
    streamLexAnalyzedEncode, streamBm25Probe, streamLexposEncode,
    streamDecay,
    streamReferential,
    streamHmPyramid, streamTrajectories, streamMmIngest, streamMmCompacted,
    streamAdmission, streamLinkage, streamExpectations, streamKanonymity,
    streamLdiversity, streamTcloseness, streamReleaseLadder,
    streamCaptionPairs)
}
