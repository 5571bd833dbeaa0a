package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, MapType, StringType}
import graft.functions.TileFunctions
import graft.tiles.TileMath

/** The reference's batch pipeline (heatmap.py `batchMain`, lines 152–158) as
  * a composable Spark-native API: a user of the reference can point this at
  * the same `locations` shape (latitude, longitude, source, user_id,
  * timestamp — FIXTURES.md §A) and get the same `heatmaps` output shape
  * (id = "group|timespan|rsTile", heatmap = JSON {fineTileId: count}).
  *
  * The zoom rollup, the blob byte format and the blob merge live only here;
  * the `hm_*` and `stream_hm_*` catalog entries call them.
  *
  * Differences from the reference, all deliberate:
  *   - two-phase pyramid (fine pre-aggregation + explode ancestors and ONE
  *     rollup aggregation) instead of 16 chained reduceByKey/groupByKey
  *     rounds: [[pyramid]] shuffles twice where the reference shuffles 32
  *     times (SURVEY.md §4.4.2), and [[run]] also shuffles twice, blob
  *     packaging included;
  *   - intended user-group semantics: the fan-out applies exactly once, so
  *     `all`-group counts equal raw counts at every level, instead of the
  *     reference's exponential double-count (verified defect,
  *     SURVEY.md §2.11.2);
  *   - timespans (alltime/month/day) are live, not dead code
  *     (heatmap.py:38–52), and the early-return bug that dropped all but the
  *     first timespan (§2.11.1) does not exist by construction;
  *   - source/sink are any DataFrame reader/writer (the reference hardcodes
  *     Cassandra, heatmap.py:131–150).
  *
  * Scale: the fine pre-aggregation shuffles (group, timespan, tile) keys
  * with map-side combine. [[pyramid]]'s rollup does the same with the zoom
  * added; [[run]]'s shuffles each level's tile uncombined, by result-set
  * tile. The `all` hot key is AQE-skew-splittable because counts are
  * decomposable sums (SURVEY.md §7.4).
  */
object HeatmapPipeline {

  /** Pyramid floor: zooms fineZoom → 6 (heatmap.py:110). */
  val CoarseZoom = 6

  /** Settings over a `locations`-shaped input. */
  final case class Config(
      fineZoom: Int = TileMath.FineZoom, // MAX_ZOOM 16 + DETAIL_ZOOM_DELTA 5 (heatmap.py:16–17)
      timespans: Boolean = false) {      // enable month/day labels (alltime always on)
    val coarseZoom: Int = CoarseZoom
    val detailZoomDelta: Int = TileMath.DetailZoomDelta // result-set tile offset (heatmap.py:17)
  }

  /** `c`, or a job failure when null: concat_ws would silently drop the null
    * segment from the blob id (the reference raises a TypeError). */
  private def required(c: String, what: String = ""): Column =
    when(col(c).isNull, raise_error(lit(s"HeatmapPipeline: null $c$what"))).otherwise(col(c))

  /** A required coordinate, or a job failure outside the domain where the
    * reference's tile math is defined: heatmap.py's `math.log` and
    * `int(math.floor(...))` raise ValueError on a NaN, on an infinite
    * longitude and on a latitude outside (−90, 90], where the tile math
    * would return a garbage row instead. */
  private def coordinate(c: String, outside: Column => Column): Column =
    when(isnan(col(c)) || outside(col(c)), raise_error(
      concat(lit(s"HeatmapPipeline: $c out of domain: "), col(c).cast("string"))))
      .otherwise(required(c))

  /** Stage 1 — op #3 (heatmap.py:25–36): drop background points (a null
    * source is kept, as in the reference's `source == "background"` test),
    * quantize to the fine zoom, emit one observation per point with count
    * 1.0. */
  def observations(locations: DataFrame, cfg: Config = Config()): DataFrame = {
    graft.plans.GraftExtensions.register(locations.sparkSession)
    val base = locations
      .filter(!(col("source") <=> "background"))
      .select(
        TileFunctions.tileRow(coordinate("latitude", lat => lat <= -90.0 || lat > 90.0),
          cfg.fineZoom).as("fine_row"),
        TileFunctions.tileCol(coordinate("longitude", lon => abs(lon) === Double.PositiveInfinity),
          cfg.fineZoom).as("fine_col"),
        col("user_id").cast("string").as("user_id"),
        (if (cfg.timespans) {
          // a null timestamp would also emit TWO null-timespan rows per point
          // (double-counting)
          val ts = required("timestamp", " with timespans enabled")
          array(lit("alltime"), date_format(ts, "yyyy-MM"), date_format(ts, "yyyy-MM-dd"))
        } else array(lit("alltime"))).as("timespans"),
        lit(1.0).as("count"))
    // user-group fan-out, applied exactly once (heatmap.py:62–70 intended):
    // 'all' + per-user, except 'x*' users (excluded) and 'rt-*' (→ 'route')
    base
      .withColumn("user_group", explode(array(lit("all"),
        when(col("user_id").startsWith("x"), lit(null))
          .when(col("user_id").startsWith("rt-"), lit("route"))
          .otherwise(col("user_id")))))
      .filter(col("user_group").isNotNull)
      .withColumn("timespan", explode(col("timespans")))
      .drop("timespans", "user_id")
  }

  /** Both pyramid steps group by every column but the fine tile and count. */
  private def groupKeys(df: DataFrame): Seq[Column] =
    df.columns.toSeq.filterNot(Set("fine_row", "fine_col", "count")).map(col)

  /** The fine-zoom pre-aggregation: (keys…, fine_row, fine_col, count). */
  private def fineCounts(obs: DataFrame): DataFrame =
    obs.groupBy(groupKeys(obs) :+ col("fine_row") :+ col("fine_col"): _*)
      .agg(sum(col("count")).as("count"))

  /** Every zoom level's tile of each fine-tile count, unaggregated:
    * (keys…, zoom, r, c, count), each level's tile by exact integer shift. */
  private def levels(fine: DataFrame, cfg: Config): DataFrame =
    fine
      .withColumn("zoom", explode(sequence(lit(cfg.coarseZoom), lit(cfg.fineZoom))))
      .select(groupKeys(fine) ++ Seq(col("zoom"),
        expr(s"shiftright(fine_row, ${cfg.fineZoom} - zoom)").as("r"),
        expr(s"shiftright(fine_col, ${cfg.fineZoom} - zoom)").as("c"),
        col("count")): _*)

  /** Stage 2 — ops #4–#10: counts per (keys, zoom, tile) for every zoom in
    * [coarseZoom, fineZoom]. Pre-aggregates at the fine zoom first (the
    * reference's level-from-level insight, heatmap.py:117): coarser levels
    * derive from the much smaller fine aggregate, not from raw
    * observations. Input: (keys…, fine_row, fine_col, count). */
  def pyramid(obs: DataFrame, cfg: Config = Config()): DataFrame =
    rollup(fineCounts(obs), cfg)

  /** The zoom rollup of a fine-zoom count table (keys…, fine_row, fine_col,
    * count) into (keys…, zoom, r, c, count): explode the zooms, derive each
    * level's tile by exact integer shift, aggregate once. */
  def rollup(fine: DataFrame, cfg: Config = Config()): DataFrame =
    levels(fine, cfg)
      .groupBy(groupKeys(fine) ++ Seq(col("zoom"), col("r"), col("c")): _*)
      .agg(sum(col("count")).as("count"))

  /** THE blob byte format, one `"tileId":count` entry; every blob producer
    * renders through it and [[blobJson]], so merge == recompute and
    * stream == batch hold byte for byte. */
  def blobEntryJson(tileId: Column, cnt: Column): Column =
    concat(lit("\""), tileId, lit("\":"), cnt.cast("string"))

  /** `{entry,…}`, sorted: sorting rendered entries sorts by key, because the
    * closing `"` (0x22) precedes every key character. */
  def blobJson(entries: Column): Column =
    concat(lit("{"), array_join(array_sort(entries), ","), lit("}"))

  /** A level tile's result-set tile, `detailZoomDelta` zooms coarser, as
    * integer keys. Row and column lead, so the sort an aggregate falls back
    * to compares integers before the group and timespan strings. */
  private def resultSetTile(cfg: Config): Seq[Column] =
    Seq(shiftright(col("r"), cfg.detailZoomDelta), shiftright(col("c"), cfg.detailZoomDelta),
      col("zoom"), col("user_group"), col("timespan"))

  /** Stage 3 — ops #6–#7, #11–#12 (heatmap.py:79–90, 120–129, 157): package
    * each zoom level into result-set blobs keyed `detailZoomDelta` zooms
    * coarser. Each entry is rendered before the grouping, so it is
    * computed in generated code, not in the collecting aggregate; the
    * `group|timespan|z_r_c` id is rendered once per blob from the integer
    * key. Input: (user_group, timespan, zoom, r, c, count). */
  def resultSetBlobs(pyr: DataFrame, cfg: Config = Config()): DataFrame =
    pyr
      .filter(col("zoom") - cfg.detailZoomDelta >= 0)
      .withColumn("entry",
        blobEntryJson(concat_ws("_", col("zoom"), col("r"), col("c")), col("count")))
      .groupBy(resultSetTile(cfg): _*)
      .agg(blobJson(collect_list(col("entry"))).as("heatmap"))
      .toDF("rs_r", "rs_c", "zoom", "user_group", "timespan", "heatmap")
      .select(concat_ws("|", col("user_group"), col("timespan"),
        concat_ws("_", col("zoom") - cfg.detailZoomDelta, col("rs_r"), col("rs_c"))).as("id"),
        col("heatmap"))

  /** The full batchMain equivalent: locations in, heatmap blobs out.
    * Equal to `resultSetBlobs(pyramid(observations(...)))` row for row, in
    * two shuffles instead of three: after the fine pre-aggregation the
    * exploded levels are repartitioned once by their result-set tile, so
    * the zoom rollup and [[resultSetBlobs]], which group by supersets of
    * that key, run in one stage and the blob fragments cross no second
    * exchange. The rollup loses its map-side combine, which is why
    * [[pyramid]] keeps its own exchange. */
  def run(locations: DataFrame, cfg: Config = Config()): DataFrame = {
    val fine = fineCounts(observations(locations, cfg))
    val rsTile = resultSetTile(cfg)
    resultSetBlobs(levels(fine, cfg)
      .repartition(rsTile: _*)
      .groupBy(rsTile ++ Seq(col("r"), col("c")): _*)
      .agg(sum(col("count")).as("count"))
      .select("user_group", "timespan", "zoom", "r", "c", "count"), cfg)
  }

  /** Incremental maintenance — the reference's read-add-write-back append
    * (heatmap.py:149–150) without recomputing the base period: merge two
    * blob tables of [[run]]'s output shape by summing per-fine-tile counts
    * over the key union (full-outer on blob id), then re-serialize through
    * [[blobJson]], so merged blobs are byte-identical to recomputed ones.
    * Counts are decomposable sums, so
    * `merge(run(A), run(B)) == run(A ∪ B)` for ANY disjoint row split —
    * associative and commutative, fold daily deltas in any order
    * (HeatmapPipelineSpec pins a 3-way fold; the oracle-gated
    * `hm_blob_merge` pins the corpus-scale variant). At 100 TB the left side
    * is the stored blob table read back from the sink; only the delta
    * touches raw locations.
    *
    * `countType`: double for [[run]]'s blobs (the reference's
    * `{tile: 2.0}`), bigint for the catalog's (`{tile: 2}`).
    *
    * Each side's blobs are parsed once per row, in a projection right
    * after that side is read, and the join carries the parsed maps; a side
    * missing from the join is the empty map. `map_zip_with` and `transform`
    * are not code-generated and get no common-subexpression elimination, so
    * a parse among their arguments would run interpreted, twice per row
    * with its null guard, for both sides of every joined row (the "{}"
    * stand-in of each untouched base row included), and after the shuffle,
    * in the few partitions adaptive execution coalesces it to. Below the
    * join the parse runs in the read's own tasks. */
  def mergeBlobs(base: DataFrame, delta: DataFrame,
      countType: DataType = DoubleType): DataFrame = {
    val mapType = MapType(StringType, countType)
    // a malformed blob must FAIL the job, not vanish: from_json returns null
    // on parse failure, and a null map would silently null the merged row —
    // on a corrupt blob store that is data loss disguised as success. The
    // guard is coalesce's fallback, so the parse is written (and run) once.
    def parsed(side: DataFrame, name: String): DataFrame =
      side.select(col("id"), coalesce(
        from_json(coalesce(col("heatmap"), lit("{}")), mapType),
        raise_error(concat(lit("mergeBlobs: malformed blob JSON for id "),
          col("id"), lit(": "), col("heatmap")))).as(name))
    val empty = map().cast(mapType)
    val zero = lit(0).cast(countType)
    val merged = map_zip_with(coalesce(col("mb"), empty), coalesce(col("md"), empty),
      (_, v1, v2) => coalesce(v1, zero) + coalesce(v2, zero))
    parsed(base, "mb").join(parsed(delta, "md"), Seq("id"), "full_outer")
      .select(col("id"),
        blobJson(transform(map_entries(merged),
          e => blobEntryJson(e.getField("key"), e.getField("value")))).as("heatmap"))
  }
}
