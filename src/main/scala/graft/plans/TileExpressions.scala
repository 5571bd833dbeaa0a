package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType,
  LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.tiles.TileMath

/** Native Catalyst expressions for the tile math, with full `doGenCode`:
  * the generated Java is inlined into whole-stage codegen and calls the
  * static [[TileMath]] methods directly (no boxing, no UDF serde).
  *
  * These are the (b)-tier extension mechanism of SURVEY.md §2.x — a custom
  * `Expression` beats a Scala UDF beats anything else. Generated code and
  * interpreted eval both call [[TileMath]], so the two are equal by
  * construction and [[TileMath]] stays the one Scala-side definition of
  * the tile law; [[graft.functions.TileFunctions]] wraps these
  * expressions as Column functions. Registered as SQL functions via
  * [[GraftExtensions]].
  */
object TileExpressions {

  /** Manual input-type validation (AbstractDataType is private[sql], so
    * ExpectsInputTypes is unavailable outside Spark's namespace; the SQL
    * builders in GraftExtensions insert explicit casts instead). */
  private[plans] def requireTypes(name: String, args: Seq[Expression],
      expected: Seq[DataType]): TypeCheckResult = {
    // arity first: zip would silently truncate an extra argument
    if (args.length != expected.length)
      return TypeCheckResult.TypeCheckFailure(
        s"$name requires ${expected.length} arguments, got ${args.length}")
    val bad = args.zip(expected).zipWithIndex.collectFirst {
      case ((a, e), i) if a.dataType != e => (i, a.dataType, e)
    }
    bad match {
      case Some((i, got, want)) => TypeCheckResult.TypeCheckFailure(
        s"$name argument ${i + 1} requires $want, got $got")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  /** tile_row(latitude, zoom) → Mercator row (tile.py:16–17). */
  case class TileRow(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      TileExpressions.requireTypes(prettyName, Seq(left, right), Seq(DoubleType, IntegerType))
    override def dataType: DataType = LongType
    override def prettyName: String = "tile_row"

    override protected def nullSafeEval(lat: Any, zoom: Any): Any =
      TileMath.rowFromLatitude(lat.asInstanceOf[Double], zoom.asInstanceOf[Int])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (lat, z) =>
        s"${ev.value} = graft.tiles.TileMath.rowFromLatitude($lat, $z);")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): TileRow =
      copy(left = l, right = r)
  }

  /** tile_col(longitude, zoom) → tile column (tile.py:20–21). */
  case class TileCol(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      TileExpressions.requireTypes(prettyName, Seq(left, right), Seq(DoubleType, IntegerType))
    override def dataType: DataType = LongType
    override def prettyName: String = "tile_col"

    override protected def nullSafeEval(lon: Any, zoom: Any): Any =
      TileMath.columnFromLongitude(lon.asInstanceOf[Double], zoom.asInstanceOf[Int])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (lon, z) =>
        s"${ev.value} = graft.tiles.TileMath.columnFromLongitude($lon, $z);")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): TileCol =
      copy(left = l, right = r)
  }

  /** Static helper callable from generated code. */
  def parentIdJava(id: UTF8String): UTF8String =
    if (id == null) null
    else TileMath.parentId(id.toString).map(UTF8String.fromString).orNull

  /** tile_parent("z_r_c") → "z-1_r/2_c/2"; null on malformed input or zoom 0
    * (tile.py:60–64 with the reference's silent-None semantics). Subject to
    * the [[TileAlgebra]] rewrite when applied to a tile_id() call. */
  case class TileParent(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      TileExpressions.requireTypes(prettyName, Seq(child), Seq(StringType))
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "tile_parent"

    override protected def nullSafeEval(id: Any): Any =
      parentIdJava(id.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, id => s"""
        ${ev.value} = graft.plans.TileExpressions.parentIdJava($id);
        ${ev.isNull} = ${ev.value} == null;""")

    override protected def withNewChildInternal(c: Expression): TileParent =
      copy(child = c)
  }

  /** Static helpers callable from generated code. Malformed/out-of-range ids
    * yield an EMPTY array (the reference's ancestor/child enumeration over a
    * failed decode is an empty loop, tile.py:79–98). */
  def ancestorsJava(id: UTF8String): ArrayData =
    if (id == null) null
    else new GenericArrayData(
      TileMath.ancestorIds(id.toString).map(UTF8String.fromString).toArray[Any])

  def childrenJava(id: UTF8String): ArrayData =
    if (id == null) null
    else new GenericArrayData(
      TileMath.childIds(id.toString).map(UTF8String.fromString).toArray[Any])

  /** tile_ancestors("z_r_c") → ["z-1_…", …, "1_…"] — all strict ancestors
    * down to zoom 1 (tile.py:79–86), exact integer shifts. */
  case class TileAncestors(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      TileExpressions.requireTypes(prettyName, Seq(child), Seq(StringType))
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "tile_ancestors"

    override protected def nullSafeEval(id: Any): Any =
      ancestorsJava(id.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, id =>
        s"${ev.value} = graft.plans.TileExpressions.ancestorsJava($id);")

    override protected def withNewChildInternal(c: Expression): TileAncestors =
      copy(child = c)
  }

  /** tile_children("z_r_c") → the 4 ids one zoom finer (tile.py:88–98). */
  case class TileChildren(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      TileExpressions.requireTypes(prettyName, Seq(child), Seq(StringType))
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "tile_children"

    override protected def nullSafeEval(id: Any): Any =
      childrenJava(id.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, id =>
        s"${ev.value} = graft.plans.TileExpressions.childrenJava($id);")

    override protected def withNewChildInternal(c: Expression): TileChildren =
      copy(child = c)
  }

  /** Result schema of tile_decode: full materialized tile (tile.py:38–52). */
  val tileStructType: StructType = StructType(Seq(
    StructField("zoom", IntegerType, nullable = false),
    StructField("row", LongType, nullable = false),
    StructField("col", LongType, nullable = false),
    StructField("north", DoubleType, nullable = false),
    StructField("south", DoubleType, nullable = false),
    StructField("west", DoubleType, nullable = false),
    StructField("east", DoubleType, nullable = false),
    StructField("center_lat", DoubleType, nullable = false),
    StructField("center_lon", DoubleType, nullable = false)))

  /** Static helper callable from generated code. */
  def decodeStructJava(id: UTF8String): InternalRow =
    if (id == null) null
    else TileMath.decode(id.toString) match {
      case Some(t) => InternalRow(t.zoom, t.row, t.column,
        t.northLatitude, t.southLatitude, t.westLongitude, t.eastLongitude,
        t.centerLatitude, t.centerLongitude)
      case None => null
    }

  /** tile_decode("z_r_c") → struct(zoom, row, col, north, south, west, east,
    * center_lat, center_lon) — the serving-side "what bbox is this tile"
    * one-call answer (tile.py:38–52: bounds = inverse Mercator at row/row+1,
    * col/col+1; center = bound midpoints). Null on malformed/out-of-range
    * input, matching TileMath.decode's silent-None semantics. */
  case class TileDecode(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      TileExpressions.requireTypes(prettyName, Seq(child), Seq(StringType))
    override def dataType: DataType = tileStructType
    override def nullable: Boolean = true
    override def prettyName: String = "tile_decode"

    override protected def nullSafeEval(id: Any): Any =
      decodeStructJava(id.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, id => s"""
        ${ev.value} = graft.plans.TileExpressions.decodeStructJava($id);
        ${ev.isNull} = ${ev.value} == null;""")

    override protected def withNewChildInternal(c: Expression): TileDecode =
      copy(child = c)
  }

  /** tile_id(latitude, longitude, zoom) → "z_row_col" (tile.py:8–13, 56–58). */
  case class TileId(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      TileExpressions.requireTypes(prettyName, Seq(first, second, third),
        Seq(DoubleType, DoubleType, IntegerType))
    override def dataType: DataType = StringType
    override def prettyName: String = "tile_id"

    override protected def nullSafeEval(lat: Any, lon: Any, zoom: Any): Any =
      UTF8String.fromString(TileMath.tileIdFromLatLon(
        lat.asInstanceOf[Double], lon.asInstanceOf[Double], zoom.asInstanceOf[Int]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (lat, lon, z) =>
        s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
           |  graft.tiles.TileMath.tileIdFromLatLon($lat, $lon, $z));""".stripMargin)

    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): TileId =
      copy(first = f, second = s, third = t)
  }

  /** tile_morton(row, col) → Z-order (Morton) layout key: row bits in odd
    * positions, column bits in even. The sort key for spatial data layout —
    * see [[TileMath.morton]]. Generated code calls the static magic-number
    * dilation directly (two table-free bit-spreads + a shift-or: branchless,
    * inlined by JIT). */
  case class TileMorton(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      TileExpressions.requireTypes(prettyName, Seq(left, right), Seq(LongType, LongType))
    override def dataType: DataType = LongType
    override def prettyName: String = "tile_morton"

    override protected def nullSafeEval(row: Any, col: Any): Any =
      TileMath.morton(row.asInstanceOf[Long], col.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      // single line on purpose: a continuation line starting with `|` would
      // have its bitwise-OR eaten by stripMargin, breaking the generated Java
      nullSafeCodeGen(ctx, ev, (row, col) =>
        s"${ev.value} = (graft.tiles.TileMath.part1By1($row) << 1) " +
          s"| graft.tiles.TileMath.part1By1($col);")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): TileMorton =
      copy(left = l, right = r)
  }
}
