package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Element-wise MAX over fixed-width int-array registers as a PARTIAL
  * aggregate — the HyperANF merge (Boldi, Rosa & Vigna, WWW 2011;
  * reference: the neighbourhood-function queries around
  * src/neo4j/call_path_analyzer.rs): each map task folds every
  * neighbor's m-register sketch into ONE m-int buffer per node before
  * the shuffle, so a round ships n·m ints instead of the exploded
  * 64×|E| (node, idx, ρ) rows the row-form merge shuffles. Same
  * max-per-register semantics bit for bit — only the carrier shape
  * changes (the kmeansIterate de-explosion lesson applied to register
  * sketches).
  *
  * Null input arrays are skipped (no registers to contribute); an
  * empty group evaluates to the all-zero register bank, which the
  * HLL estimator reads as "nothing seen".
  */
case class RegisterMax(
    regs: Expression,
    m: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Int]] {

  override def children: Seq[Expression] = Seq(regs)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def createAggregationBuffer(): Array[Int] = new Array[Int](m)

  private def foldIn(buf: Array[Int], arr: ArrayData): Array[Int] = {
    val n = math.min(m, arr.numElements())
    var i = 0
    while (i < n) {
      val v = arr.getInt(i)
      if (v > buf(i)) buf(i) = v
      i += 1
    }
    buf
  }

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val a = regs.eval(input)
    if (a == null) buf else foldIn(buf, a.asInstanceOf[ArrayData])
  }

  override def merge(buf: Array[Int], other: Array[Int]): Array[Int] = {
    var i = 0
    while (i < m) {
      if (other(i) > buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Int]): Any =
    new GenericArrayData(buf.map(Int.box))

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 * m)
    var i = 0
    while (i < m) { bb.putInt(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Int](m)
    var i = 0
    while (i < m) { buf(i) = bb.getInt; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): RegisterMax =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): RegisterMax =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(regs = newChildren(0))
}

/** Brandes forward message-sum, fused: for every input row (an
  * active-node ⋈ out-edge join row carrying the SOURCE node's packed
  * dist/σ arrays), adds σ[i] into the buffer at every index i whose
  * dist[i] equals the current level `t`. Semantically identical to
  * `zip_with(dist, sigma, (d, g) -> IF(d = t, g, 0))` summed element
  * by element — but the higher-order-function form is
  * interpreted (a boxed intermediate array per edge row per round);
  * the fused update is one primitive loop over ArrayData, which cut
  * the forward rounds ~2× at sf0.1.
  */
case class LevelSigmaSum(
    dist: Expression,
    sigma: Expression,
    t: Int,
    m: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(dist, sigma)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](m)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val d = dist.eval(input)
    val g = sigma.eval(input)
    if (d == null || g == null) buf
    else {
      val dArr = d.asInstanceOf[ArrayData]
      val gArr = g.asInstanceOf[ArrayData]
      val n = math.min(m, math.min(dArr.numElements(), gArr.numElements()))
      var i = 0
      while (i < n) {
        if (dArr.getInt(i) == t) buf(i) += gArr.getLong(i)
        i += 1
      }
      buf
    }
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < m) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * m)
    var i = 0
    while (i < m) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](m)
    var i = 0
    while (i < m) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): LevelSigmaSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): LevelSigmaSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(dist = newChildren(0), sigma = newChildren(1))
}

/** Brandes backward dependency-sum, fused: for every DAG-edge ⋈ δ
  * join row carrying predecessor arrays (dv, gv), successor arrays
  * (dw, gw) and the successor's current δ (dlw), accumulates
  * ⌊gv[i]·(10⁶ + dlw[i]) / gw[i]⌋ at every index i on a shortest-path
  * DAG edge of the current level (dv[i] = t ∧ dw[i] = t+1). All
  * operands are non-negative longs, so Java `/` IS the floor
  * division the ppm contract specifies. Fuses the interpreted
  * per-edge `transform` + element-wise array sum into one primitive
  * loop (same arithmetic bit for bit).
  */
case class BrandesDeltaSum(
    dv: Expression, gv: Expression,
    dw: Expression, gw: Expression,
    dlw: Expression,
    t: Int,
    m: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(dv, gv, dw, gw, dlw)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](m)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val a1 = dv.eval(input); val a2 = gv.eval(input)
    val a3 = dw.eval(input); val a4 = gw.eval(input)
    val a5 = dlw.eval(input)
    if (a1 == null || a2 == null || a3 == null || a4 == null || a5 == null) buf
    else {
      val dvA = a1.asInstanceOf[ArrayData]; val gvA = a2.asInstanceOf[ArrayData]
      val dwA = a3.asInstanceOf[ArrayData]; val gwA = a4.asInstanceOf[ArrayData]
      val dlA = a5.asInstanceOf[ArrayData]
      var i = 0
      while (i < m) {
        if (dvA.getInt(i) == t && dwA.getInt(i) == t + 1)
          buf(i) += gvA.getLong(i) * (1000000L + dlA.getLong(i)) / gwA.getLong(i)
        i += 1
      }
      buf
    }
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < m) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * m)
    var i = 0
    while (i < m) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](m)
    var i = 0
    while (i < m) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BrandesDeltaSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BrandesDeltaSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(dv = newChildren(0), gv = newChildren(1), dw = newChildren(2),
      gw = newChildren(3), dlw = newChildren(4))
}

object RegisterAgg {

  /** Column API: element-wise max of `m`-int register arrays. */
  def registerMax(regs: Column, m: Int): Column =
    ColumnBridge.column(
      RegisterMax(ColumnBridge.expression(regs), m).toAggregateExpression())

  /** Column API: fused forward σ message sum at level `t`. */
  def levelSigmaSum(dist: Column, sigma: Column, t: Int, m: Int): Column =
    ColumnBridge.column(
      LevelSigmaSum(ColumnBridge.expression(dist),
        ColumnBridge.expression(sigma), t, m).toAggregateExpression())

  /** Column API: fused backward Brandes δ contribution sum at level `t`. */
  def brandesDeltaSum(dv: Column, gv: Column, dw: Column, gw: Column,
      dlw: Column, t: Int, m: Int): Column =
    ColumnBridge.column(
      BrandesDeltaSum(ColumnBridge.expression(dv), ColumnBridge.expression(gv),
        ColumnBridge.expression(dw), ColumnBridge.expression(gw),
        ColumnBridge.expression(dlw), t, m).toAggregateExpression())
}
