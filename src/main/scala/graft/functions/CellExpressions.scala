package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.core.{Cells, Geo}

/**
 * Native Catalyst expressions for the hot-path geospatial scalar functions
 * (SURVEY.md §2.H: promoted to `Expression` with codegen rather than Scala
 * UDFs so they stay inside whole-stage codegen — each generated snippet is
 * a static call into graft.core, no boxing, no serialization).
 *
 * All are deterministic and, except `regions_at` (null in -> empty array),
 * null-intolerant (null in -> null out), which Catalyst exploits for
 * constant folding and filter inference.
 */
object CellRuntime {
  // static entry points referenced from generated Java code
  def encode(lat: Double, lon: Double, r: Int): Long = Cells.encode(lat, lon, r)
  def parent(cell: Long, r: Int): Long = Cells.parent(cell, r)
  def tileX(cell: Long): Long = Cells.toXY(cell)._1
  def tileY(cell: Long): Long = Cells.toXY(cell)._2
  def fromXY(r: Int, x: Long, y: Long): Long =
    Cells.mkCell(r, Cells.interleave(x, y, r))
  def bounds(cell: Long): ArrayData = {
    val (latMin, latMax, lonMin, lonMax) = Cells.bounds(cell)
    new GenericArrayData(Array(latMin, latMax, lonMin, lonMax))
  }
  def quadkey(cell: Long): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(Cells.quadkey(cell))
  def fromQuadkey(qk: org.apache.spark.unsafe.types.UTF8String): Long =
    Cells.fromQuadkey(qk.toString)
  def ring(cell: Long, k: Int): ArrayData = new GenericArrayData(Cells.ring(cell, k))
  def disk(cell: Long, k: Int): ArrayData = new GenericArrayData(Cells.disk(cell, k))
  def pip(lat: Double, lon: Double, rings: ArrayData): Boolean = {
    val n = rings.numElements()
    val arr = new Array[Array[Double]](n)
    var i = 0
    while (i < n) { arr(i) = rings.getArray(i).toDoubleArray(); i += 1 }
    Geo.contains(lat, lon, arr)
  }

  /** Ray cast over the PACKED ring layout (flat [lon,lat,...] vertex array
    * + ring start offsets with a total-length sentinel): vertices are read
    * in place from (Unsafe)ArrayData — zero allocation per candidate row,
    * the refine-stage fix for the round-2 hot spot. The crossing test is
    * byte-for-byte the fixed-order expression of Geo.contains, so the
    * DuckDB oracle parity and the on-edge IEEE-754 behavior are unchanged. */
  def pipPacked(lat: Double, lon: Double, flat: ArrayData,
                offsets: ArrayData): Boolean = {
    var crossings = 0
    val nRings = offsets.numElements() - 1
    var ri = 0
    while (ri < nRings) {
      val s = offsets.getInt(ri)
      val e = offsets.getInt(ri + 1)
      val n = (e - s) / 2
      var i = 0
      while (i < n) {
        val j = if (i == n - 1) 0 else i + 1
        val x1 = flat.getDouble(s + 2 * i); val y1 = flat.getDouble(s + 2 * i + 1)
        val x2 = flat.getDouble(s + 2 * j); val y2 = flat.getDouble(s + 2 * j + 1)
        if (((y1 > lat) != (y2 > lat)) &&
            (lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1)) {
          crossings += 1
        }
        i += 1
      }
      ri += 1
    }
    (crossings & 1) == 1
  }
}

case class CellEncode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_encode"
  override protected def nullSafeEval(lat: Any, lon: Any, r: Any): Any =
    CellRuntime.encode(lat.asInstanceOf[Double], lon.asInstanceOf[Double],
      r.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lat, lon, r) =>
      s"graft.functions.CellRuntime.encode($lat, $lon, $r)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(f, s, t)
}

case class CellParent(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_parent"
  override protected def nullSafeEval(cell: Any, r: Any): Any =
    CellRuntime.parent(cell.asInstanceOf[Long], r.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (cell, r) =>
      s"graft.functions.CellRuntime.parent($cell, $r)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression):
      Expression = copy(l, r)
}

case class CellTileX(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_tile_x"
  override protected def nullSafeEval(cell: Any): Any =
    CellRuntime.tileX(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, cell => s"graft.functions.CellRuntime.tileX($cell)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class CellTileY(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_tile_y"
  override protected def nullSafeEval(cell: Any): Any =
    CellRuntime.tileY(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, cell => s"graft.functions.CellRuntime.tileY($cell)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** cell_from_xy(r, x, y) -> LONG: cell id from tile coordinates — the
  * inverse of (cell_tile_x, cell_tile_y) at resolution r. */
case class CellFromXY(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(IntegerType, LongType, LongType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_from_xy"
  override protected def nullSafeEval(r: Any, x: Any, y: Any): Any =
    CellRuntime.fromXY(r.asInstanceOf[Int], x.asInstanceOf[Long],
      y.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (r, x, y) =>
      s"graft.functions.CellRuntime.fromXY($r, $x, $y)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(f, s, t)
}

/** cell_bounds(cell) -> ARRAY<DOUBLE> [latMin, latMax, lonMin, lonMax]. */
case class CellBounds(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_bounds"
  override protected def nullSafeEval(cell: Any): Any =
    CellRuntime.bounds(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, cell => s"graft.functions.CellRuntime.bounds($cell)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** cell_quadkey(cell) -> STRING: base-4 level-prefix key (Cells.quadkey —
  * quadkey(parent(c, rp)) is a string prefix of quadkey(c), so key ranges
  * are cell-prefix ranges: the tile-addressing / storage-layout codec). */
case class CellQuadkey(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_quadkey"
  override protected def nullSafeEval(cell: Any): Any =
    CellRuntime.quadkey(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, cell => s"graft.functions.CellRuntime.quadkey($cell)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** quadkey_cell(key STRING) -> LONG: inverse of cell_quadkey. */
case class QuadkeyCell(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "quadkey_cell"
  override protected def nullSafeEval(qk: Any): Any =
    CellRuntime.fromQuadkey(qk.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, qk => s"graft.functions.CellRuntime.fromQuadkey($qk)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** ring(cell, k) -> ARRAY<LONG>: cells at Chebyshev distance exactly k. */
case class CellRing(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_ring"
  override protected def nullSafeEval(cell: Any, k: Any): Any =
    CellRuntime.ring(cell.asInstanceOf[Long], k.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (cell, k) =>
      s"graft.functions.CellRuntime.ring($cell, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression):
      Expression = copy(l, r)
}

/** disk(cell, k) -> ARRAY<LONG>: all cells within Chebyshev distance k. */
case class CellDisk(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_disk"
  override protected def nullSafeEval(cell: Any, k: Any): Any =
    CellRuntime.disk(cell.asInstanceOf[Long], k.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (cell, k) =>
      s"graft.functions.CellRuntime.disk($cell, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression):
      Expression = copy(l, r)
}

/** pip(lat, lon, rings ARRAY<ARRAY<DOUBLE>>) -> BOOLEAN, exact ray cast. */
case class PipContains(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(DoubleType, DoubleType, ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pip_contains"
  override protected def nullSafeEval(lat: Any, lon: Any, rings: Any): Any =
    CellRuntime.pip(lat.asInstanceOf[Double], lon.asInstanceOf[Double],
      rings.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lat, lon, rings) =>
      s"graft.functions.CellRuntime.pip($lat, $lon, $rings)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(f, s, t)
}

/** pip_packed(lat, lon, flat ARRAY<DOUBLE>, offsets ARRAY<INT>) -> BOOLEAN:
  * exact ray cast over the packed ring layout (see CellRuntime.pipPacked).
  * Same determinism contract as PipContains; this is the refine-path form
  * used by SpatialJoin (reads vertices in place, no allocation). */
case class PipContainsPacked(first: Expression, second: Expression,
                             third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(DoubleType, DoubleType, ArrayType(DoubleType), ArrayType(IntegerType))
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pip_contains_packed"
  override protected def nullSafeEval(lat: Any, lon: Any, flat: Any,
                                      offsets: Any): Any =
    CellRuntime.pipPacked(lat.asInstanceOf[Double], lon.asInstanceOf[Double],
      flat.asInstanceOf[ArrayData], offsets.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lat, lon, flat, offsets) =>
      s"graft.functions.CellRuntime.pipPacked($lat, $lon, $flat, $offsets)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): Expression = copy(f, s, t, q)
}

/** regions_at(lat, lon) -> ARRAY<BIGINT>: the sorted distinct ids of the
  * regions containing the point, looked up in a [[PackedCover]] read in
  * place (the Broadcast form of SpatialJoin.assign, which explodes it,
  * and of SpatialJoin.assignRegions, which keeps it whole). Deterministic
  * and null-safe: a null lat or lon gives the empty array, the join path's
  * "no region", so the result is never null. The pack arrives through its
  * broadcast handle: generated code registers it as a reference object and
  * dereferences it once per partition; `eval` once per expression copy. */
case class RegionsAt(left: Expression, right: Expression, cover: PackedCoverRef)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "regions_at"
  override def flatArguments: Iterator[Any] = Iterator(left, right)

  @transient private lazy val pack = cover.broadcast.value

  override def eval(input: InternalRow): Any = {
    val lat = left.eval(input)
    val lon = right.eval(input)
    if (lat == null || lon == null) PackedCover.Empty
    else pack.regionsAt(lat.asInstanceOf[Double], lon.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val packClass = classOf[PackedCover].getName
    val bc = ctx.addReferenceObj("coverBroadcast", cover.broadcast)
    val pack = ctx.addMutableState(packClass, "cover",
      v => s"$v = ($packClass) $bc.value();", forceInline = true)
    val lat = left.genCode(ctx)
    val lon = right.genCode(ctx)
    ev.copy(code = code"""
      ${lat.code}
      ${lon.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        (${lat.isNull} || ${lon.isNull}) ? $packClass.Empty()
          : $pack.regionsAt(${lat.value}, ${lon.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression):
      Expression = copy(l, r)
}

/** Column-API surface for the expressions above. */
object GeoFunctions {
  import ColumnBridge.{column, expression}

  def cellEncode(lat: Column, lon: Column, r: Column): Column =
    column(CellEncode(expression(lat), expression(lon), expression(r)))
  def cellParent(cell: Column, r: Column): Column =
    column(CellParent(expression(cell), expression(r)))
  def cellTileX(cell: Column): Column = column(CellTileX(expression(cell)))
  def cellTileY(cell: Column): Column = column(CellTileY(expression(cell)))
  def cellFromXY(r: Column, x: Column, y: Column): Column =
    column(CellFromXY(expression(r), expression(x), expression(y)))
  def cellBounds(cell: Column): Column = column(CellBounds(expression(cell)))
  def cellQuadkey(cell: Column): Column = column(CellQuadkey(expression(cell)))
  def quadkeyCell(qk: Column): Column = column(QuadkeyCell(expression(qk)))
  def cellRing(cell: Column, k: Column): Column =
    column(CellRing(expression(cell), expression(k)))
  def cellDisk(cell: Column, k: Column): Column =
    column(CellDisk(expression(cell), expression(k)))
  def pip(lat: Column, lon: Column, rings: Column): Column =
    column(PipContains(expression(lat), expression(lon), expression(rings)))
  def pipPacked(lat: Column, lon: Column, flat: Column, offsets: Column): Column =
    column(PipContainsPacked(expression(lat), expression(lon),
      expression(flat), expression(offsets)))
  def regionsAt(lat: Column, lon: Column, cover: PackedCoverRef): Column =
    column(RegionsAt(expression(lat), expression(lon), cover))

  /** Squared degree-space distance — composed from built-ins so it stays
    * in codegen and mirrors the oracle SQL op order exactly. */
  def d2(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    (lat1 - lat2) * (lat1 - lat2) + (lon1 - lon2) * (lon1 - lon2)

  /** Register SQL names so spark.sql("... cell_encode(...)") works too. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    def add(name: String, builder: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    add("cell_encode", e => CellEncode(e(0), e(1), e(2)))
    add("cell_parent", e => CellParent(e(0), e(1)))
    add("cell_tile_x", e => CellTileX(e(0)))
    add("cell_tile_y", e => CellTileY(e(0)))
    add("cell_from_xy", e => CellFromXY(e(0), e(1), e(2)))
    add("cell_bounds", e => CellBounds(e(0)))
    add("cell_quadkey", e => CellQuadkey(e(0)))
    add("quadkey_cell", e => QuadkeyCell(e(0)))
    add("cell_ring", e => CellRing(e(0), e(1)))
    add("cell_disk", e => CellDisk(e(0), e(1)))
    add("pip_contains", e => PipContains(e(0), e(1), e(2)))
    add("pip_contains_packed", e => PipContainsPacked(e(0), e(1), e(2), e(3)))
  }
}
