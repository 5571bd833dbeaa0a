package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.TileFunctions
import graft.functions.TileFunctions.{Sql => T}
import graft.operators.HeatmapPipeline
import graft.operators.HeatmapPipeline.{blobEntryJson, blobJson}

/** The reference pipeline's query surface, re-expressed Spark-first.
  *
  * The reference (heatmap.py) quantizes GPS points to zoom-21 tiles, fans out
  * user groups and timespans, and builds a 16-level count pyramid via 16
  * chained reduceByKey/groupByKey rounds (32 shuffles, all rows crossing the
  * JVM↔Python boundary). Here the same semantics are a declarative plan:
  *
  *   - ONE Mercator quantization at the fine zoom (transcendental math once),
  *   - pyramid levels derived by exact integer shifts (`row >> (fine-z)`),
  *     exploded in a single generator over the fine pre-aggregate → two
  *     shuffles for the pyramid, and two for pyramid plus blobs in
  *     `HeatmapPipeline.run`,
  *   - user-group / timespan fan-out via `explode` (Catalyst Generate),
  *   - the result-set JSON blob via sorted `collect_list` + string concat.
  *
  * The zoom rollup, the blob byte format and the blob merge are not
  * written here: the entries call [[graft.operators.HeatmapPipeline]]'s
  * `pyramid`, `blobEntryJson`/`blobJson` and `mergeBlobs`, the one copy of
  * each law. What stays here is the corpus side: the synthetic lat/lon, the
  * integer-coded fan and its label decoders, and the DuckDB oracles.
  *
  * Scale notes (100 TB): each groupBy shuffles (group, timespan, zoom,
  * tile) keys — partial aggregation (map-side combine) collapses the ~32×
  * fan-out before the exchange, and AQE handles the `all`-group skew
  * (SURVEY.md §7.4). Intended semantics per SURVEY.md §2.11 — every level's
  * counts equal a direct group-by of raw observations at that level; the
  * reference's exponential `all`-group double-count (heatmap.py:64–70) is a
  * verified defect and is NOT replicated.
  *
  * The corpus has no lat/lon (FIXTURES.md §B): synthetic coordinates derive
  * from `event_id` with integer-lattice arithmetic so the native tile
  * expressions (TileMath on the JVM) and DuckDB's SQL twins agree
  * bit-for-bit (only +,-,*,/ on exactly-representable values feed the
  * trig; see the TileFunctions determinism note).
  */
object HeatmapQueries {

  /** Fine (content) zoom for the pyramid: 21 in the reference
    * (heatmap.py:16–17: MAX_ZOOM_LEVEL 16 + DETAIL_ZOOM_DELTA 5). */
  // single source of truth: the tiles layer owns the zoom constants
  // (MaxZoom 16 + DetailZoomDelta 5, heatmap.py:16–17) — a literal here
  // could silently drift from TileMath's arithmetic
  val FineZoom: Int = graft.tiles.TileMath.FineZoom

  // --- synthetic geo lattice: lat in [-80, 79.9] step .1, lon in [-180, 179.9]
  def latCol: Column = (col("event_id") * 37 % 1600) / lit(10.0) - lit(80.0)
  def lonCol: Column = (col("event_id") * 73 % 3600) / lit(10.0) - lit(180.0)
  val latSql = "(CAST((event_id * 37) % 1600 AS DOUBLE) / 10.0 - 80.0)"
  val lonSql = "(CAST((event_id * 73) % 3600 AS DOUBLE) / 10.0 - 180.0)"

  /** The corpus analog of heatmap.py:28's `source == "background"` drop. */
  def sourceFilter: Column = col("event_type") =!= "view"
  val sourceFilterSql = "event_type <> 'view'"

  /** Per-user group with the reference's user_id semantics (heatmap.py:64–69):
    * an "excluded" class (analog of the `x` prefix → NULL, dropped from
    * per-user groups) and a "collapsed" class (analog of `rt-*` → 'route'). */
  def perUserCol: Column =
    when(col("user_id") % 10 === 0, lit(null))
      .when(col("user_id") % 7 === 0, lit("route"))
      .otherwise(concat(lit("u"), col("user_id").cast("string")))
  val perUserSql =
    "CASE WHEN user_id % 10 = 0 THEN NULL WHEN user_id % 7 = 0 THEN 'route' " +
      "ELSE 'u' || CAST(user_id AS VARCHAR) END"

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")

  // baseSql/fanSql remain the oracle-side (DuckDB) formulation of the fan;
  // the Spark side uses the integer-keyed intFan below, which decodes to
  // the same strings on aggregated output.
  private val baseSql =
    s"""SELECT event_id, user_id, $latSql AS lat, $lonSql AS lon,
       |  $perUserSql AS per_user,
       |  STRFTIME(ts, '%Y-%m') AS month_label, STRFTIME(ts, '%Y-%m-%d') AS day_label
       |FROM events WHERE $sourceFilterSql""".stripMargin

  private val fanSql =
    s"""WITH base AS ($baseSql),
       |fan AS (
       |  SELECT 'all' AS user_group, * FROM base
       |  UNION ALL
       |  SELECT per_user AS user_group, * FROM base WHERE per_user IS NOT NULL),
       |tfan AS (
       |  SELECT user_group, lat, lon, 'alltime' AS timespan FROM fan
       |  UNION ALL SELECT user_group, lat, lon, month_label FROM fan
       |  UNION ALL SELECT user_group, lat, lon, day_label FROM fan)""".stripMargin

  // --- integer-keyed fan for the aggregation-heavy paths --------------------
  // user group encodes as (-1=all, -2=route, else user_id); timespan as
  // (0=alltime, yyyymm, yyyymmdd). Pre-aggregation streams carry only longs;
  // label/tile strings are rendered on aggregated output. Decoders mirror
  // the oracle's string forms exactly.

  private def perUserIntCol: Column =
    when(col("user_id") % 10 === 0, lit(null))
      .when(col("user_id") % 7 === 0, lit(-2L))
      .otherwise(col("user_id"))

  /** Filtered events fanned over integer group (and optionally timespan)
    * codes, carrying synthetic lat/lon. */
  private def intFan(s: SparkSession, dir: String, timespans: Boolean,
      where: Column = lit(true)): DataFrame = {
    val ym = (year(col("ts")) * 100 + month(col("ts"))).cast("long")
    val ymd = (year(col("ts")) * 10000 + month(col("ts")) * 100 +
      dayofmonth(col("ts"))).cast("long")
    val b = events(s, dir)
      .filter(sourceFilter)
      .filter(where)
      .select(latCol.as("lat"), lonCol.as("lon"),
        perUserIntCol.as("pui"), ym.as("ym"), ymd.as("ymd"))
      .withColumn("ugi", explode(array(lit(-1L), col("pui"))))
      .filter(col("ugi").isNotNull)
    if (timespans)
      b.withColumn("tsi", explode(array(lit(0L), col("ym"), col("ymd"))))
    else b
  }

  private def pad2(c: Column): Column = lpad(c.cast("string"), 2, "0")

  private def decodeUgi(n: String): Column =
    when(col(n) === -1, "all").when(col(n) === -2, "route")
      .otherwise(concat(lit("u"), col(n)))

  private def decodeTsi(n: String): Column =
    when(col(n) === 0, "alltime")
      .when(col(n) < 999999,
        concat(expr(s"$n div 100").cast("string"), lit("-"), pad2(col(n) % 100)))
      .otherwise(concat(expr(s"$n div 10000").cast("string"), lit("-"),
        pad2(expr(s"$n div 100") % 100), lit("-"), pad2(col(n) % 100)))

  // -------------------------------------------------------------------------

  /** Op #3 (heatmap.py:25–36): filter + project + tile quantization, as a
    * pushdown-friendly scan → Filter → Project plan (no UDF). */
  val hmTiles = QuerySpec(
    "hm_tiles",
    "source filter + projection + Web-Mercator quantization at z12",
    Some(s"""SELECT event_id, user_id, ${T.tileId(latSql, lonSql, 12)} AS tile_id,
            |  CAST(1.0 AS DOUBLE) AS cnt
            |FROM events WHERE $sourceFilterSql ORDER BY event_id""".stripMargin),
    (s, dir) =>
      events(s, dir)
        .filter(sourceFilter)
        .select(col("event_id"), col("user_id"),
          TileFunctions.tileId(latCol, lonCol, 12).as("tile_id"),
          lit(1.0).as("cnt"))
        .orderBy("event_id"))

  /** Ops #4–#5 (heatmap.py:57–77, 111): user-group fan-out + hash aggregation
    * at one zoom. Catalyst plans partial→final HashAggregate, exactly
    * reduceByKey's map-side-combine semantics. */
  val hmGroups = QuerySpec(
    "hm_groups",
    "user-group fan-out + count aggregation at z10",
    Some(s"""WITH base AS ($baseSql),
            |fan AS (
            |  SELECT 'all' AS user_group, lat, lon FROM base
            |  UNION ALL
            |  SELECT per_user, lat, lon FROM base WHERE per_user IS NOT NULL)
            |SELECT user_group, ${T.tileId("lat", "lon", 10)} AS tile_id,
            |  CAST(COUNT(*) AS BIGINT) AS cnt
            |FROM fan GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    (s, dir) =>
      intFan(s, dir, timespans = false)
        .groupBy(col("ugi"),
          TileFunctions.tileRow(col("lat"), 10).as("r"),
          TileFunctions.tileCol(col("lon"), 10).as("c"))
        .agg(count(lit(1)).as("cnt"))
        .select(decodeUgi("ugi").as("user_group"),
          concat_ws("_", lit(10), col("r"), col("c")).as("tile_id"), col("cnt"))
        .orderBy("user_group", "tile_id"))

  /** The full 16-level pyramid (ops #4–#10, heatmap.py:107–118) through
    * [[HeatmapPipeline.pyramid]]: quantize once at z21, pre-aggregate at the
    * fine zoom, explode zooms 6..21 over the fine aggregate, derive each
    * level's tile by integer shift, aggregate again. The pyramid shuffles
    * twice, where the reference shuffles 32 times (SURVEY.md §4.4.2);
    * [[HeatmapPipeline.run]] (`hm_pipeline_blobs`) also shuffles twice, its
    * blob packaging included. */
  val hmPyramid = QuerySpec(
    "hm_pyramid",
    "16-level tile pyramid, groups × timespans, two-phase (fine pre-agg + zoom rollup)",
    Some(s"""$fanSql,
            |quant AS (
            |  SELECT user_group, timespan,
            |    ${T.tileRow("lat", FineZoom)} AS fine_row,
            |    ${T.tileCol("lon", FineZoom)} AS fine_col
            |  FROM tfan)
            |SELECT user_group, timespan, zoom,
            |  CONCAT_WS('_', zoom, fine_row >> ($FineZoom - zoom), fine_col >> ($FineZoom - zoom)) AS tile_id,
            |  CAST(COUNT(*) AS BIGINT) AS cnt
            |FROM quant CROSS JOIN (SELECT CAST(UNNEST(GENERATE_SERIES(${HeatmapPipeline.CoarseZoom}, $FineZoom)) AS INT) AS zoom)
            |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin),
    (s, dir) => {
      // ALL group keys are integers through the shuffle — user group encodes
      // as (-1=all, -2=route, else user_id), timespan as (0=alltime,
      // yyyymm, yyyymmdd; see intFan) — and the strings (tile id, labels)
      // are rendered only on aggregated output. The pre-aggregation stream
      // carries 5 longs/row instead of 3 strings + 2 longs, which at sf0.1
      // cuts both shuffle bytes and hash-aggregation cost materially.
      val obs = intFan(s, dir, timespans = true)
        .select(col("ugi"), col("tsi"),
          TileFunctions.tileRow(col("lat"), FineZoom).as("fine_row"),
          TileFunctions.tileCol(col("lon"), FineZoom).as("fine_col"),
          lit(1L).as("count"))
      // the library pyramid: fine pre-aggregation, then the zoom rollup
      HeatmapPipeline.pyramid(obs, HeatmapPipeline.Config(fineZoom = FineZoom))
        .select(decodeUgi("ugi").as("user_group"), decodeTsi("tsi").as("timespan"),
          col("zoom"),
          concat_ws("_", col("zoom"), col("r"), col("c")).as("tile_id"),
          col("count").as("cnt"))
        .orderBy("user_group", "timespan", "zoom", "tile_id")
    })

  /** Shared blob builder for hm_blobs / hm_blob_explode. When `alltimeOnly`,
    * the timespan restriction applies BEFORE any fan-out or aggregation — the
    * plan never computes the month/day two-thirds of the fan (mirrors the
    * oracle's `WHERE timespan = 'alltime'` placement; a post-aggregation
    * `LIKE` on the composite id is NOT pushable through the groupBy and
    * would do 3× the work). */
  private def blobsDf(s: SparkSession, dir: String, alltimeOnly: Boolean,
      where: Column = lit(true)): DataFrame = {
    val fan =
      if (alltimeOnly) intFan(s, dir, timespans = false, where).withColumn("tsi", lit(0L))
      else intFan(s, dir, timespans = true, where)
    // integer keys through both aggregations; label strings and the
    // composite id render on the (small) blob-level output
    val counts = fan
      .groupBy(col("ugi"), col("tsi"),
        TileFunctions.tileRow(col("lat"), 12).as("r"),
        TileFunctions.tileCol(col("lon"), 12).as("c"))
      .agg(count(lit(1)).as("cnt"))
    // result-set tile = DetailZoomDelta zooms coarser than the z12 blob
    // level — derived from the tiles layer's constant, not a drifting literal
    val delta = graft.tiles.TileMath.DetailZoomDelta
    counts
      .groupBy(col("ugi"), col("tsi"),
        expr(s"shiftright(r, $delta)").as("rsr"), expr(s"shiftright(c, $delta)").as("rsc"))
      .agg(blobJson(collect_list(blobEntryJson(
        concat_ws("_", lit(12), col("r"), col("c")), col("cnt")))).as("heatmap"))
      .select(concat_ws("|", decodeUgi("ugi"), decodeTsi("tsi"),
        concat_ws("_", lit(12 - delta), col("rsr"), col("rsc"))).as("id"), col("heatmap"))
  }

  /** Ops #6–#7, #11–#12 (heatmap.py:79–90, 120–129, 157): package content
    * tiles (z12) into per-result-set-tile (z7 = 5 zooms coarser,
    * DETAIL_ZOOM_DELTA) JSON heatmap blobs keyed `group|timespan|rsTile`.
    * JSON is built from sorted entries so both engines agree byte-for-byte. */
  private val blobsOracleSql =
    s"""$fanSql,
       |counts AS (
       |  SELECT user_group, timespan,
       |    ${T.tileRow("lat", 12)} AS r, ${T.tileCol("lon", 12)} AS c,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM tfan GROUP BY 1, 2, 3, 4)
       |SELECT CONCAT_WS('|', user_group, timespan, CONCAT_WS('_', 7, r >> 5, c >> 5)) AS id,
       |  '{' || STRING_AGG('"' || CONCAT_WS('_', 12, r, c) || '":' || CAST(cnt AS VARCHAR),
       |                    ',' ORDER BY CONCAT_WS('_', 12, r, c)) || '}' AS heatmap
       |FROM counts GROUP BY 1 ORDER BY 1""".stripMargin

  val hmBlobs = QuerySpec(
    "hm_blobs",
    "result-set heatmap JSON blobs: {fineTileId: count} per coarse tile",
    Some(blobsOracleSql),
    (s, dir) => blobsDf(s, dir, alltimeOnly = false).orderBy("id"))

  /** Incremental blob maintenance — the reference's append workflow
    * (heatmap.py:149–150: read the stored heatmaps, add the day's points,
    * write back) expressed at scale: the stored BASE blobs and the DELTA
    * period's blobs merge per result-set tile by summing per-fine-tile
    * counts, WITHOUT recomputing the base period from raw events. At 100 TB
    * the base side is the blob store read back through the sink (a few rows
    * per coarse tile) and only the delta (one day) touches raw data — here
    * both derive from one corpus, split by a ts predicate, so the full
    * recompute is the exact oracle (counts are additive over any row
    * partition, so the oracle holds for EVERY split predicate).
    *
    * The merge itself is the operator under test:
    * [[HeatmapPipeline.mergeBlobs]] with bigint counts, re-serializing
    * through the same `blobJson` as [[blobsDf]]'s writer. */
  val hmBlobMerge = QuerySpec(
    "hm_blob_merge",
    "incremental blob maintenance: base-period blobs + delta-period blobs merged",
    Some(blobsOracleSql),
    (s, dir) => {
      // coalesce makes the predicate two-valued so base/delta are an EXACT
      // partition: a null ts would otherwise fall out of BOTH sides (the
      // filters evaluate to NULL) and silently undercount vs the oracle
      val inBase = coalesce(col("ts") < lit("2024-01-21").cast("timestamp"), lit(false))
      val base = blobsDf(s, dir, alltimeOnly = false, inBase)
      val delta = blobsDf(s, dir, alltimeOnly = false, !inBase)
      HeatmapPipeline.mergeBlobs(base, delta, LongType).orderBy("id")
    })

  /** Tile-id navigation ops (tile.py:60–98): decode, parent, result-set
    * ancestor, children, full ancestor chain — all exact integer arithmetic,
    * verified against the oracle's independent formulation. */
  val hmTileOps = QuerySpec(
    "hm_tile_ops",
    "tile id decode / parent / ancestor(5) / children / ancestor chain",
    Some(s"""WITH tiles AS (
            |  SELECT DISTINCT ${T.tileId(latSql, lonSql, 12)} AS tile_id
            |  FROM events WHERE $sourceFilterSql)
            |SELECT tile_id,
            |  ${T.idZoom("tile_id")} AS zoom, ${T.idRow("tile_id")} AS r, ${T.idColumn("tile_id")} AS c,
            |  ${T.tileAncestor("tile_id", 1)} AS parent_id,
            |  ${T.tileAncestor("tile_id", 5)} AS rs_tile_id,
            |  ARRAY_TO_STRING(LIST_TRANSFORM(GENERATE_SERIES(1, 11),
            |    i -> CONCAT_WS('_', 12 - i, ${T.idRow("tile_id")} >> i, ${T.idColumn("tile_id")} >> i)), ',') AS ancestors,
            |  CONCAT_WS('_', 13, ${T.idRow("tile_id")} * 2, ${T.idColumn("tile_id")} * 2) AS child0
            |FROM tiles ORDER BY tile_id""".stripMargin),
    (s, dir) =>
      events(s, dir)
        .filter(sourceFilter)
        .select(TileFunctions.tileId(latCol, lonCol, 12).as("tile_id"))
        .distinct()
        .select(col("tile_id"),
          TileFunctions.tileDecode(col("tile_id")).as("t"),
          TileFunctions.tileAncestors(col("tile_id")).as("anc"))
        .select(col("tile_id"),
          col("t.zoom").as("zoom"), col("t.row").as("r"), col("t.col").as("c"),
          TileFunctions.tileParent(col("tile_id")).as("parent_id"),
          element_at(col("anc"), 5).as("rs_tile_id"), // zooms 11 … 1: the 5th is 12 - 5
          array_join(col("anc"), ",").as("ancestors"),
          element_at(TileFunctions.tileChildren(col("tile_id")), 1).as("child0"))
        .orderBy("tile_id"))

  /** The full composable pipeline API (operators.HeatmapPipeline) driven
    * through the driver surface: corpus events mapped into the reference's
    * `locations` shape — including its string user-id semantics (`x*`
    * excluded from per-user groups, `rt-*` collapsed to 'route') — then
    * batchMain-equivalent run() at fine zoom 12. Counts are DOUBLE (the
    * reference emits {tile: 2.0}). */
  val hmPipelineBlobs = QuerySpec(
    "hm_pipeline_blobs",
    "reference batchMain as composable API: locations -> heatmap blobs",
    Some {
      val userStr = "CASE WHEN user_id % 10 = 0 THEN 'x' || CAST(user_id AS VARCHAR) " +
        "WHEN user_id % 7 = 0 THEN 'rt-' || CAST(user_id AS VARCHAR) " +
        "ELSE 'u' || CAST(user_id AS VARCHAR) END"
      s"""WITH base AS (
         |  SELECT $latSql AS lat, $lonSql AS lon, $userStr AS user_str,
         |    STRFTIME(ts, '%Y-%m') AS ml, STRFTIME(ts, '%Y-%m-%d') AS dl
         |  FROM events WHERE $sourceFilterSql),
         |fan AS (
         |  SELECT 'all' AS user_group, lat, lon, ml, dl FROM base
         |  UNION ALL
         |  SELECT CASE WHEN user_str LIKE 'rt-%' THEN 'route' ELSE user_str END,
         |    lat, lon, ml, dl FROM base WHERE user_str NOT LIKE 'x%'),
         |tfan AS (
         |  SELECT user_group, lat, lon, 'alltime' AS timespan FROM fan
         |  UNION ALL SELECT user_group, lat, lon, ml FROM fan
         |  UNION ALL SELECT user_group, lat, lon, dl FROM fan),
         |quant AS (
         |  SELECT user_group, timespan,
         |    ${T.tileRow("lat", 12)} AS fr, ${T.tileCol("lon", 12)} AS fc
         |  FROM tfan),
         |pyr AS (
         |  SELECT user_group, timespan, zoom, fr >> (12 - zoom) AS r, fc >> (12 - zoom) AS c,
         |    CAST(COUNT(*) AS DOUBLE) AS cnt
         |  FROM quant CROSS JOIN (SELECT CAST(UNNEST(GENERATE_SERIES(6, 12)) AS INT) AS zoom)
         |  GROUP BY 1, 2, 3, 4, 5)
         |SELECT CONCAT_WS('|', user_group, timespan,
         |    CONCAT_WS('_', zoom - 5, r >> 5, c >> 5)) AS id,
         |  '{' || STRING_AGG('"' || CONCAT_WS('_', zoom, r, c) || '":' || CAST(cnt AS VARCHAR),
         |                    ',' ORDER BY CONCAT_WS('_', zoom, r, c)) || '}' AS heatmap
         |FROM pyr WHERE zoom - 5 >= 0
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    (s, dir) =>
      HeatmapPipeline.run(locationsFromEvents(s, dir),
        HeatmapPipeline.Config(fineZoom = 12, timespans = true))
        .orderBy("id"))

  /** The corpus events mapped to the reference's `locations` contract
    * (closed-form lat/lon, view→background, x/rt user prefixes) — the input
    * `hm_pipeline_blobs` runs the full pipeline over; public so the
    * merge-law property test folds random partitions of the same rows. */
  def locationsFromEvents(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select(
      latCol.as("latitude"), lonCol.as("longitude"),
      when(col("event_type") === "view", "background").otherwise("gps").as("source"),
      when(col("user_id") % 10 === 0, concat(lit("x"), col("user_id")))
        .when(col("user_id") % 7 === 0, concat(lit("rt-"), col("user_id")))
        .otherwise(concat(lit("u"), col("user_id"))).as("user_id"),
      col("ts").as("timestamp"))

  /** Same semantics and oracle as hm_tiles, but reaching the native
    * codegen Catalyst expressions (plans.TileExpressions) through the SQL
    * surface instead of the Column wrappers — proving the SQL registration
    * path is oracle-exact. */
  val hmTilesNative = QuerySpec(
    "hm_tiles_native",
    "tile quantization via native codegen Catalyst expressions (SQL surface)",
    Some(s"""SELECT event_id, user_id, ${T.tileId(latSql, lonSql, 12)} AS tile_id,
            |  CAST(1.0 AS DOUBLE) AS cnt
            |FROM events WHERE $sourceFilterSql ORDER BY event_id""".stripMargin),
    (s, dir) => {
      Tables(s, dir, "events").createOrReplaceTempView("events")
      s.sql(s"""SELECT event_id, user_id,
               |  tile_id($latSql, $lonSql, 12) AS tile_id,
               |  CAST(1.0 AS DOUBLE) AS cnt
               |FROM events WHERE event_type <> 'view' ORDER BY event_id""".stripMargin)
    })

  /** The serving-side read: counts for tiles inside a lat/lon viewport at
    * one zoom. The bbox is converted to integer row/col ranges once (tile.py
    * forward formulas on the bbox corners), so the filter is a pushable
    * integer range predicate on the quantized coordinates — the pattern that
    * lets a tile store range-scan instead of post-filtering. */
  // shared viewport bbox (N 50° → S 30°, W -130° → E -60°, z10): used by
  // BOTH hm_viewport (row/col formulation) and hm_viewport_zorder (Z-range
  // formulation) — the equivalence proof depends on the bboxes (and oracle)
  // being literally the same definition, not copies that can drift
  private val ViewportZoom = 10
  // north lat → min row (rows grow southward)
  private def viewportRows =
    (graft.tiles.TileMath.rowFromLatitude(50.0, ViewportZoom),
      graft.tiles.TileMath.rowFromLatitude(30.0, ViewportZoom))
  private def viewportCols =
    (graft.tiles.TileMath.columnFromLongitude(-130.0, ViewportZoom),
      graft.tiles.TileMath.columnFromLongitude(-60.0, ViewportZoom))
  private val viewportOracleSql =
    s"""WITH q AS (
       |  SELECT ${T.tileRow(latSql, 10)} AS r, ${T.tileCol(lonSql, 10)} AS c
       |  FROM events WHERE $sourceFilterSql)
       |SELECT CONCAT_WS('_', 10, r, c) AS tile_id, CAST(COUNT(*) AS BIGINT) AS cnt
       |FROM q
       |WHERE r >= ${T.tileRow("50.0", 10)} AND r <= ${T.tileRow("30.0", 10)}
       |  AND c >= ${T.tileCol("-130.0", 10)} AND c <= ${T.tileCol("-60.0", 10)}
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val hmViewport = QuerySpec(
    "hm_viewport",
    "viewport query: tile counts within a bbox at z10",
    Some(viewportOracleSql),
    (s, dir) => {
      val (rMin, rMax) = viewportRows
      val (cMin, cMax) = viewportCols
      events(s, dir)
        .filter(sourceFilter)
        .select(TileFunctions.tileRow(latCol, 10).as("r"), TileFunctions.tileCol(lonCol, 10).as("c"))
        .filter(col("r") >= rMin && col("r") <= rMax && col("c") >= cMin && col("c") <= cMax)
        .groupBy(concat_ws("_", lit(10), col("r"), col("c")).as("tile_id"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("tile_id")
    })

  /** The serving-side "what bbox is this tile" answer (tile.py:38–52): decode
    * every observed z12 tile id to north/south/west/east bounds + center via
    * the native tile_decode struct expression; the oracle recomputes the same
    * Gudermannian inverse (tile.py:24–30) independently in SQL.
    *
    * Determinism: west/east/center_lon are EXACT IEEE arithmetic
    * (col/2^z*360-180 on ≤21-bit mantissas) → compared at full double
    * precision. north/south/center_lat pass through exp/atan, where JVM and
    * DuckDB libm can differ in the last ulp → quantized to 1e-5°(≈1.1 m) via
    * FLOOR, which both engines apply identically (oracle-determinism rule:
    * floor-quantization absorbs transcendental last-ulp skew). */
  val hmTileBounds = QuerySpec(
    "hm_tile_bounds",
    "tile bbox + center per observed z12 tile (native tile_decode struct)",
    Some {
      def gud(r: String): String =
        s"DEGREES(ATAN(0.5 * (EXP(PI() - 2 * PI() * CAST($r AS DOUBLE) / 4096.0) " +
          s"- EXP(-(PI() - 2 * PI() * CAST($r AS DOUBLE) / 4096.0)))))"
      def lonOf(c: String): String = s"CAST($c AS DOUBLE) / 4096.0 * 360.0 - 180.0"
      s"""WITH tiles AS (
         |  SELECT DISTINCT ${T.tileId(latSql, lonSql, 12)} AS tile_id
         |  FROM events WHERE $sourceFilterSql),
         |d AS (
         |  SELECT tile_id, ${T.idRow("tile_id")} AS r, ${T.idColumn("tile_id")} AS c
         |  FROM tiles),
         |b AS (
         |  SELECT tile_id, r, c,
         |    ${gud("r")} AS north, ${gud("r + 1")} AS south,
         |    ${lonOf("c")} AS west, ${lonOf("c + 1")} AS east
         |  FROM d)
         |SELECT tile_id, CAST(12 AS BIGINT) AS zoom, r, c,
         |  CAST(FLOOR(north * 100000.0) AS BIGINT) AS north_e5,
         |  CAST(FLOOR(south * 100000.0) AS BIGINT) AS south_e5,
         |  west, east,
         |  CAST(FLOOR((north + south) / 2.0 * 100000.0) AS BIGINT) AS center_lat_e5,
         |  (west + east) / 2.0 AS center_lon
         |FROM b ORDER BY tile_id""".stripMargin
    },
    (s, dir) => {
      events(s, dir)
        .filter(sourceFilter)
        .select(TileFunctions.tileId(latCol, lonCol, 12).as("tile_id"))
        .distinct()
        .select(col("tile_id"), TileFunctions.tileDecode(col("tile_id")).as("t"))
        .select(col("tile_id"),
          col("t.zoom").cast("long").as("zoom"),
          col("t.row").as("r"), col("t.col").as("c"),
          floor(col("t.north") * lit(100000.0)).cast("long").as("north_e5"),
          floor(col("t.south") * lit(100000.0)).cast("long").as("south_e5"),
          col("t.west").as("west"), col("t.east").as("east"),
          floor(col("t.center_lat") * lit(100000.0)).cast("long").as("center_lat_e5"),
          col("t.center_lon").as("center_lon"))
        .orderBy("tile_id")
    })

  /** Op #9 inverse (heatmap.py:92–105) + JSON decode: parse the blob JSON
    * back into a map, explode it to per-tile rows — round-tripping the blob
    * encoding against a direct computation of the same counts. Restricted to
    * the alltime timespan, applied BEFORE the blob aggregations (blobsDf's
    * alltimeOnly path): the month/day two-thirds of the fan are never
    * computed, matching the oracle's pre-aggregation WHERE. */
  val hmBlobExplode = QuerySpec(
    "hm_blob_explode",
    "explode heatmap JSON blobs back to per-tile rows (from_json + map explode)",
    Some(s"""$fanSql,
            |counts AS (
            |  SELECT user_group, timespan,
            |    ${T.tileRow("lat", 12)} AS r, ${T.tileCol("lon", 12)} AS c,
            |    CAST(COUNT(*) AS BIGINT) AS cnt
            |  FROM tfan WHERE timespan = 'alltime' GROUP BY 1, 2, 3, 4)
            |SELECT user_group, timespan, CONCAT_WS('_', 12, r, c) AS tile_id, cnt
            |FROM counts ORDER BY 1, 2, 3""".stripMargin),
    (s, dir) =>
      blobsDf(s, dir, alltimeOnly = true)
        .select(split(col("id"), "\\|").as("parts"),
          explode(from_json(col("heatmap"),
            org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>"))))
        .select(element_at(col("parts"), 1).as("user_group"),
          element_at(col("parts"), 2).as("timespan"),
          col("key").as("tile_id"), col("value").as("cnt"))
        .orderBy("user_group", "timespan", "tile_id"))

  /** The SQL entry path end-to-end: a query authored as SQL TEXT, parsed by
    * Spark, planned through the [[graft.plans.GraftExtensions]]-registered
    * native expressions AND the TileAlgebra optimizer rule (the
    * `tile_parent(tile_id(lat,lon,z))` below is exactly the pattern the rule
    * collapses to `tile_id(lat,lon,z-1)`) — proving a SQL-only user of the
    * library gets the same codegen'd plans and the same answers as the
    * DataFrame API. The synthetic-coordinate SQL strings are engine-neutral
    * arithmetic shared VERBATIM with the DuckDB oracle; only the tile
    * function spellings differ (native registrations vs. expanded Mercator
    * SQL). */
  val hmSqlSurface = QuerySpec(
    "hm_sql_surface",
    "SQL-text query through registered native tile expressions + optimizer rule",
    Some(s"""WITH q AS (
            |  SELECT ${T.tileId(latSql, lonSql, 12)} AS tile_id
            |  FROM events WHERE $sourceFilterSql)
            |SELECT DISTINCT tile_id,
            |  ${T.tileAncestor("tile_id", 1)} AS parent_id,
            |  CAST(${T.idZoom("tile_id")} - 1 AS BIGINT) AS n_ancestors
            |FROM q ORDER BY tile_id""".stripMargin),
    (s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_events_v")
      // parent/ancestors apply to the NESTED tile_id expression (projection
      // feeds the distinct), so TileAlgebra sees its structural pattern;
      // the derived columns don't change the distinct row set
      s.sql(s"""
        |SELECT DISTINCT tile_id($latSql, $lonSql, 12) AS tile_id,
        |  tile_parent(tile_id($latSql, $lonSql, 12)) AS parent_id,
        |  CAST(size(tile_ancestors(tile_id($latSql, $lonSql, 12))) AS BIGINT) AS n_ancestors
        |FROM graft_events_v WHERE $sourceFilterSql
        |ORDER BY tile_id""".stripMargin)
    })

  /** Z-order (Morton) spatial layout keys — the data-layout operator a tile
    * store needs at 100 TB: locations sorted by interleaved row/col bits
    * put map-adjacent tiles in adjacent rows, so a bbox (viewport) query
    * prunes parquet row groups by min/max statistics instead of scanning
    * the world. This query computes the key per observed z10 tile (native
    * branchless expression; the oracle re-derives it bit-by-bit), plus the
    * 4^3-tile Z-block each tile falls in (`morton >> 6` — the coarse
    * clustering unit a writer would range-partition on) and each block's
    * tile count. Sorted BY the key: the output order IS the layout order. */
  val hmZorder = QuerySpec(
    "hm_zorder",
    "Morton (Z-order) layout keys + coarse Z-blocks for observed z10 tiles",
    Some(s"""WITH q AS (
            |  SELECT DISTINCT ${T.tileRow(latSql, 10)} AS r, ${T.tileCol(lonSql, 10)} AS c
            |  FROM events WHERE $sourceFilterSql),
            |m AS (SELECT r, c, CAST(${T.tileMorton("r", "c", 10)} AS BIGINT) AS morton FROM q)
            |SELECT r, c, morton, CAST(morton >> 6 AS BIGINT) AS zblock,
            |  CAST(COUNT(*) OVER (PARTITION BY (morton >> 6)) AS BIGINT) AS tiles_in_block
            |FROM m ORDER BY morton""".stripMargin),
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("zblock")
      events(s, dir)
        .filter(sourceFilter)
        .select(TileFunctions.tileRow(latCol, 10).as("r"),
          TileFunctions.tileCol(lonCol, 10).as("c"))
        .distinct()
        .withColumn("morton", call_function("tile_morton", col("r"), col("c")))
        .withColumn("zblock", expr("morton div 64"))
        .withColumn("tiles_in_block", count(lit(1)).over(w))
        .orderBy("morton")
    })

  /** The READ side of the Z-order layout: the same bbox as [[hmViewport]],
    * but served as `zkey BETWEEN lo AND hi` predicates from
    * [[graft.tiles.ZRange]]'s aligned-quad decomposition — the predicate
    * shape that prunes parquet row groups on a
    * [[graft.sources.ParquetCompactor.compactZOrdered]] layout, where the
    * (row, col) conjunction cannot (min/max stats on two correlated columns
    * are useless; on the interleaved key they are tight). The oracle
    * computes the viewport the row/col way, so the gate PROVES the range
    * decomposition selects exactly the bbox. */
  val hmViewportZorder = QuerySpec(
    "hm_viewport_zorder",
    "viewport served via Z-order key ranges (ZRange bbox decomposition)",
    Some(viewportOracleSql),
    (s, dir) => {
      import graft.tiles.ZRange
      val (rMin, rMax) = viewportRows
      val (cMin, cMax) = viewportCols
      // the store-serving predicate shape: ≤ 8 COARSE key ranges (superset
      // of the bbox — these are what min/max stats prune against) + the
      // exact r/c bbox as the residual filter. The exact decomposition of
      // this bbox runs to hundreds of ranges; a 500-term OR chain defeats
      // codegen and stats pruning alike.
      val coarse = ZRange.coveringRanges(rMin, rMax, cMin, cMax,
        bits = ViewportZoom, maxRanges = 8)
      // foldLeft, not reduce: an empty decomposition (degenerate bbox) must
      // select nothing, not throw
      val inRanges = coarse
        .map { case (lo, hi) => col("zkey") >= lo && col("zkey") <= hi }
        .foldLeft(lit(false))(_ || _)
      events(s, dir)
        .filter(sourceFilter)
        .select(TileFunctions.tileRow(latCol, 10).as("r"), TileFunctions.tileCol(lonCol, 10).as("c"))
        .withColumn("zkey", call_function("tile_morton", col("r"), col("c")))
        .filter(inRanges)
        .filter(col("r") >= rMin && col("r") <= rMax && col("c") >= cMin && col("c") <= cMax)
        .groupBy(concat_ws("_", lit(10), col("r"), col("c")).as("tile_id"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("tile_id")
    })

  /** RECENCY-DECAYED heatmap — the continuous form of the reference's
    * step-decay timespans (alltime/year/month, heatmap.py:45–52: an event
    * counts fully inside a window and not at all outside): production
    * heatmaps weight by exponential recency instead, so activity fades
    * rather than cliff-dropping. The decay law is INTEGER-EXACT and
    * CALENDAR-WEEK-ALIGNED: weight = 1024 >> (max_week − event_week) over
    * absolute epoch weeks (exact powers of two, no float exp), the shift
    * capped at 63 because BOTH engines' `>>` needs a bounded count (Java
    * shift counts wrap mod 64 — an uncapped 64-week-old event would weigh
    * 1024, not 0). Week alignment is what makes the decayed table
    * INCREMENTALLY MAINTAINABLE: (tile, week) counts are stream-state,
    * and the weighting is pure publication arithmetic — `stream_decay`
    * runs exactly that split under this same oracle. The watermark is a
    * 1-row max broadcast (the dq_freshness pattern); everything else is
    * the same integer-keyed partial-aggregated exchange as `hm_tiles`. */
  val hmDecay = QuerySpec(
    "hm_decay",
    "recency-decayed tile counts: integer half-life weights (1024 >> age_weeks) at z10",
    Some(s"""WITH base AS (SELECT $latSql AS lat, $lonSql AS lon,
            |    EPOCH_MS(ts) // 604800000 AS wk
            |  FROM events WHERE $sourceFilterSql),
            |g AS (SELECT CAST(MAX(wk) AS BIGINT) AS max_wk FROM base),
            |w AS (SELECT ${T.tileId("lat", "lon", 10)} AS tile_id,
            |    1024 >> LEAST(g.max_wk - wk, 63) AS wt
            |  FROM base CROSS JOIN g)
            |SELECT tile_id, CAST(COUNT(*) AS BIGINT) AS n_events,
            |  CAST(SUM(wt) AS BIGINT) AS decayed_x1024
            |FROM w GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, dir) => {
      // the watermark week is the max over the FILTERED view — the same
      // table the streaming twin maintains, so the two cannot disagree
      // when the globally-newest event is a filtered-out 'view'
      val base = graft.queries.Tables(s, dir, "events")
        .filter(sourceFilter)
        .select(latCol.as("lat"), lonCol.as("lon"),
          expr("unix_millis(ts) div 604800000").as("wk"))
      val g = base.agg(max("wk").as("max_wk"))
      base
        .crossJoin(broadcast(g))
        .select(
          graft.functions.TileFunctions.tileId(col("lat"), col("lon"), 10).as("tile_id"),
          expr("shiftright(1024L, cast(least(max_wk - wk, 63L) as int))").as("wt"))
        .groupBy("tile_id")
        .agg(count(lit(1)).as("n_events"), sum("wt").as("decayed_x1024"))
        .orderBy("tile_id")
    })

  val all: Seq[QuerySpec] = Seq(hmTiles, hmGroups, hmPyramid, hmBlobs, hmTileOps,
    hmPipelineBlobs, hmTilesNative, hmViewport, hmBlobExplode, hmTileBounds,
    hmSqlSurface, hmZorder, hmViewportZorder, hmBlobMerge, hmDecay)
}
