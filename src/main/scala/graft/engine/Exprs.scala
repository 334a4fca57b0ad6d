package graft.engine

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** `CoordCodec.encodeAD(coords, ringEnds)` as a native Catalyst expression
  * WITH codegen: the delta-varint packing then runs inside the cover
  * stage's whole-stage-codegen projection right before the exchange write
  * (a Scala UDF here would box every coordinate and break the codegen
  * span). */
case class EncodeGeom(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType

  override protected def nullSafeEval(c: Any, r: Any): Any =
    graft.geom.CoordCodec.encodeAD(
      c.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (c, r) => s"graft.geom.CoordCodec.encodeAD($c, $r)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): EncodeGeom =
    copy(left = newLeft, right = newRight)
}

/** [[graft.geom.CoordCodec.decode]] boxed into an InternalRow for
  * [[DecodeGeomExpr]]. */
object DecodeGeom {
  def toRow(b: Array[Byte]): InternalRow = {
    val (cs, re) = graft.geom.CoordCodec.decode(b)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UnsafeArrayData.fromPrimitiveArray(cs),
        UnsafeArrayData.fromPrimitiveArray(re)))
  }
}

/** The read face of [[EncodeGeom]]: the persisted index's delta-varint
  * payload back to flat (coords, ringEnds) int-array COLUMNS, for
  * consumers that need the rings outside the fused kernel (the indexed
  * streaming point-in-polygon screen, [[SpatialIndex.pipScreen]]). One
  * decode per GEOMETRY row at screen-build time — candidates then read
  * the arrays in place (PipExpr), never re-decoding per pair. */
case class DecodeGeomExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  override def dataType: DataType = StructType(Seq(
    StructField("coords", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("ringEnds", ArrayType(IntegerType, containsNull = false),
      nullable = false)))

  override protected def nullSafeEval(b: Any): Any =
    DecodeGeom.toRow(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.engine.DecodeGeom.toRow($b)")

  override protected def withNewChildInternal(
      newChild: Expression): DecodeGeomExpr = copy(child = newChild)
}

/** Flat multi-level cell enumeration for one padded bbox: the engine's
  * ONE cover enumeration, behind both [[SpatialJoin.cellCover]] and the
  * fused kernel's packed cover.
  *
  * One call emits every (level ≥ nlvl, active) cell key into a primitive
  * long[] with zero boxing; the caller explodes that single array. Double
  * division by the level cell size, floor toward -inf, key packing
  * level << 56 plus biased 28-bit cx/cy. Pinned by the EngineOpsSpec
  * enumeration tests against a plain-Scala re-derivation.
  */
object CellEnum {
  import SpatialJoin.{CELL_BIAS, CELL_LVL_SHIFT, CELL_XY_BITS, LEVEL_FACTOR_BITS}

  /** Cell keys of the bbox at every level `l >= nlvl` with bit `l` set in
    * `lvlMask`, level-ascending then cx then cy (the old chain's order).
    * `w2` is WORLD_W / 2 (double, matching the SQL chain's arithmetic). */
  def cells(minX: Int, minY: Int, maxX: Int, maxY: Int, nlvl: Int,
      cs: Long, lvlMask: Int, w2: Double): ArrayData = {
    var total = 0
    var l = if (nlvl < 0) 0 else nlvl
    val l0 = l
    while (l < 16) {
      if (((lvlMask >>> l) & 1) == 1) {
        val csL = (cs << (LEVEL_FACTOR_BITS * l)).toDouble
        val nx = math.floor((maxX + w2) / csL).toLong -
          math.floor((minX + w2) / csL).toLong + 1L
        val ny = math.floor((maxY + w2) / csL).toLong -
          math.floor((minY + w2) / csL).toLong + 1L
        total += (nx * ny).toInt
      }
      l += 1
    }
    val out = new Array[Long](total)
    var pos = 0
    l = l0
    while (l < 16) {
      if (((lvlMask >>> l) & 1) == 1) {
        val csL = (cs << (LEVEL_FACTOR_BITS * l)).toDouble
        val cx0 = math.floor((minX + w2) / csL).toLong
        val cx1 = math.floor((maxX + w2) / csL).toLong
        val cy0 = math.floor((minY + w2) / csL).toLong
        val cy1 = math.floor((maxY + w2) / csL).toLong
        val lvlBits = l.toLong << CELL_LVL_SHIFT
        var cx = cx0
        while (cx <= cx1) {
          val xBits = lvlBits + (cx + CELL_BIAS) * (1L << CELL_XY_BITS)
          var cy = cy0
          while (cy <= cy1) {
            out(pos) = xBits + (cy + CELL_BIAS); pos += 1
            cy += 1
          }
          cx += 1
        }
      }
      l += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Exact ray-cast point-in-polygon over the cover table's flat
  * (coords, ringEnds) int-array columns, reading the UnsafeArrayData
  * in place — no boxed Seq, no toArray copy, no per-row Geo.G + edge
  * index build (the probe tests ONE point per candidate row, so the
  * index could never amortize). Same exact rules as [[Geo.locate]]:
  * ON counts as inside, half-open horizontal-ray crossing with exact
  * long-arithmetic sign tests. Pinned by the EngineOpsSpec batch/stream
  * PiP parity tests against the full join.
  */
object Pip {
  def inside(px: Int, py: Int, cs: ArrayData, re: ArrayData): Boolean = {
    var crossings = 0
    val nRings = re.numElements()
    var r = 0
    var start = 0
    while (r < nRings) {
      val end = re.getInt(r)
      var i = start
      while (i < end) {
        val j = if (i + 1 == end) start else i + 1
        val ax = cs.getInt(2 * i); val ay = cs.getInt(2 * i + 1)
        val bx = cs.getInt(2 * j); val by = cs.getInt(2 * j + 1)
        if (graft.geom.Geo.onSeg(px, py, ax, ay, bx, by)) return true
        if ((ay > py) != (by > py)) {
          val det = (bx - ax).toLong * (py - ay) -
            (by - ay).toLong * (px - ax)
          if (by > ay) { if (det > 0) crossings += 1 }
          else if (det < 0) crossings += 1
        }
        i += 1
      }
      start = end
      r += 1
    }
    (crossings & 1) == 1
  }
}

/** [[Pip.inside]] as a codegen'd expression; children are the engine's own
  * non-nullable columns, so null handling is skipped by construction. */
case class PipExpr(x: Expression, y: Expression,
    coords: Expression, ringEnds: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(x, y, coords, ringEnds)
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any =
    Pip.inside(
      x.eval(input).asInstanceOf[Int], y.eval(input).asInstanceOf[Int],
      coords.eval(input).asInstanceOf[ArrayData],
      ringEnds.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cks = children.map(_.genCode(ctx))
    val childCode = cks.map(_.code).reduce(_ + _)
    ev.copy(
      code = childCode + code"""
        final boolean ${ev.value} = graft.engine.Pip.inside(
          ${cks(0).value}, ${cks(1).value}, ${cks(2).value}, ${cks(3).value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PipExpr =
    copy(x = newChildren(0), y = newChildren(1), coords = newChildren(2),
      ringEnds = newChildren(3))
}

/** `CellEnum.cells` as a codegen'd Catalyst expression over a cover's
  * (minX, minY, maxX, maxY, nlvl) columns; cs/lvlMask/w2
  * are plan-time constants. Children are the engine's own non-nullable int
  * columns, so null handling is skipped by construction. */
case class CellListExpr(minX: Expression, minY: Expression,
    maxX: Expression, maxY: Expression, nlvl: Expression,
    cs: Long, lvlMask: Int, w2: Double) extends Expression {

  override def children: Seq[Expression] = Seq(minX, minY, maxX, maxY, nlvl)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any =
    CellEnum.cells(
      minX.eval(input).asInstanceOf[Int], minY.eval(input).asInstanceOf[Int],
      maxX.eval(input).asInstanceOf[Int], maxY.eval(input).asInstanceOf[Int],
      nlvl.eval(input).asInstanceOf[Int], cs, lvlMask, w2)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cks = children.map(_.genCode(ctx))
    val childCode = cks.map(_.code).reduce(_ + _)
    ev.copy(
      code = childCode + code"""
        final org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.engine.CellEnum.cells(${cks(0).value}, ${cks(1).value},
            ${cks(2).value}, ${cks(3).value}, ${cks(4).value},
            ${cs}L, $lvlMask, ${w2}D);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CellListExpr =
    copy(minX = newChildren(0), minY = newChildren(1), maxX = newChildren(2),
      maxY = newChildren(3), nlvl = newChildren(4))
}
