package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, lit}

/** Tile math as Column functions: each is one call of the native Catalyst
  * expression of the same SQL name ([[graft.plans.TileExpressions]]), whose
  * generated code and interpreted eval both call the pure
  * [[graft.tiles.TileMath]] — the one Scala-side definition of the tile
  * law (file:line citations of the reference's tile.py live there).
  *
  * The functions resolve through the session function registry, so the
  * session needs `GraftExtensions.register(spark)` (or
  * `spark.sql.extensions=graft.plans.GraftExtensions`) before a DataFrame
  * using them is analyzed. Catalog tables load through `Tables`, which
  * registers; library entry points outside the catalog register
  * themselves.
  *
  * Each forward function has a `Sql.*` twin that renders the equivalent
  * DuckDB SQL: the oracle's independent formulation of the same law.
  *
  * Determinism note (oracle bit-parity): both sides inject `2^zoom` as an
  * exact integer and all non-transcendental arithmetic is IEEE-exact
  * (+,-,*,/), so the JVM and DuckDB agree bit-for-bit except for last-ulp
  * differences in tan/log/cos, which can only matter within ~1e-9 of a
  * tile boundary — negligible for the lattice-valued synthetic coordinates
  * used by the query corpus (see HeatmapQueries).
  */
object TileFunctions {

  /** Mercator row at `zoom` (tile.py:16–17). */
  def tileRow(lat: Column, zoom: Int): Column = call_function("tile_row", lat, lit(zoom))

  /** Tile column at `zoom` (tile.py:20–21). */
  def tileCol(lon: Column, zoom: Int): Column = call_function("tile_col", lon, lit(zoom))

  /** `"z_row_col"` id from lat/lon (tile.py:8–13, 56–58). */
  def tileId(lat: Column, lon: Column, zoom: Int): Column =
    call_function("tile_id", lat, lon, lit(zoom))

  /** Quadtree parent id; null on a malformed id or zoom 0 (tile.py:60–64). */
  def tileParent(id: Column): Column = call_function("tile_parent", id)

  /** All strict ancestor ids, zoom-1 … 1 (tile.py:79–86); empty on a
    * malformed id. The key generator of a single-pass pyramid. */
  def tileAncestors(id: Column): Column = call_function("tile_ancestors", id)

  /** The 4 child ids one zoom finer (tile.py:88–98); empty on a malformed id. */
  def tileChildren(id: Column): Column = call_function("tile_children", id)

  /** struct(zoom, row, col, north, south, west, east, center_lat,
    * center_lon) of an id (tile.py:38–52); null on a malformed id. */
  def tileDecode(id: Column): Column = call_function("tile_decode", id)

  /** Morton (Z-order) layout key of (row, col): row bits at odd positions,
    * column bits at even (see [[graft.tiles.TileMath.morton]]). */
  def tileMorton(row: Column, col: Column): Column = call_function("tile_morton", row, col)

  // -------------------------------------------------------------------------
  // DuckDB-SQL twins. NOTE: DuckDB `log` is log10 — natural log is `ln`.
  // DuckDB floor() returns DOUBLE → cast to BIGINT before string concat.
  // -------------------------------------------------------------------------
  object Sql {
    private def pow2(zoom: Int): String = (1L << zoom).toString

    def tileRow(lat: String, zoom: Int): String =
      s"CAST(FLOOR((1.0 - LN(TAN(RADIANS($lat)) + 1.0/COS(RADIANS($lat)))/PI())/2.0 * ${pow2(zoom)}.0) AS BIGINT)"

    def tileCol(lon: String, zoom: Int): String =
      s"CAST(FLOOR(($lon + 180.0)/360.0 * ${pow2(zoom)}.0) AS BIGINT)"

    def tileId(lat: String, lon: String, zoom: Int): String =
      s"CONCAT_WS('_', $zoom, ${tileRow(lat, zoom)}, ${tileCol(lon, zoom)})"

    def idZoom(id: String): String   = s"CAST(STRING_SPLIT($id, '_')[1] AS INT)"
    def idRow(id: String): String    = s"CAST(STRING_SPLIT($id, '_')[2] AS BIGINT)"
    def idColumn(id: String): String = s"CAST(STRING_SPLIT($id, '_')[3] AS BIGINT)"

    def tileAncestor(id: String, levels: Int): String =
      s"CONCAT_WS('_', ${idZoom(id)} - $levels, ${idRow(id)} >> $levels, ${idColumn(id)} >> $levels)"

    /** Morton (Z-order) key: sum over bit positions of the dilated row/col
      * bits — same value as TileMath.morton for row/col < 2^bits. Fully
      * parenthesized (shift/& /+ precedence differs across engines). */
    def tileMorton(row: String, col: String, bits: Int = 21): String =
      s"""LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(0, ${bits - 1}),
         | i -> (((($row) >> i) & 1) << ((2 * i) + 1)) + (((($col) >> i) & 1) << (2 * i))))"""
        .stripMargin.replace("\n", "")
  }
}
