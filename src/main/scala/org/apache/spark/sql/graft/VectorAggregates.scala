package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** Per-dimension running sums + non-null counts for [[VectorMean]].
  * Arrays grow to the longest vector seen, so ragged inputs aggregate
  * like the posexplode reference (each dimension averages over the
  * vectors that HAVE it).
  */
final class VectorMeanBuffer(var sums: Array[Double], var counts: Array[Long]) {
  def ensure(n: Int): Unit = if (n > sums.length) {
    sums = java.util.Arrays.copyOf(sums, n)
    counts = java.util.Arrays.copyOf(counts, n)
  }
}

/** Element-wise mean of a double-array column — ONE map-side-combining
  * aggregate instead of the `posexplode -> groupBy(key, dim) ->
  * groupBy(key)` shape, which amplifies the corpus x dim through an
  * exchange (64-dim embeddings = 64x the rows, twice) just to average
  * per dimension. This is the centroid-update primitive of the k-means
  * / IVF family: per-cid vector means in a single pass whose partial
  * state is one (sums, counts) pair of dim-length arrays per group.
  *
  * Semantics match the posexplode reference exactly:
  *   - null vectors contribute nothing;
  *   - a null ELEMENT is skipped for its dimension only (avg ignores
  *     nulls), so each dimension divides by its own non-null count;
  *   - ragged lengths average per dimension over the vectors that have
  *     it; a dimension with no observations yields a null element;
  *   - a group with no non-null vectors yields null (the posexplode
  *     pipeline emits no row at all — callers treat both as "no mean").
  */
case class VectorMean(child: Expression,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VectorMeanBuffer]
  with ImplicitCastInputTypes with UnaryLike[Expression] {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "vector_mean"

  override def createAggregationBuffer(): VectorMeanBuffer =
    new VectorMeanBuffer(Array.emptyDoubleArray, Array.emptyLongArray)

  override def update(buf: VectorMeanBuffer, input: InternalRow): VectorMeanBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      buf.ensure(n)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          buf.sums(i) += arr.getDouble(i)
          buf.counts(i) += 1
        }
        i += 1
      }
    }
    buf
  }

  override def merge(a: VectorMeanBuffer, b: VectorMeanBuffer): VectorMeanBuffer = {
    a.ensure(b.sums.length)
    var i = 0
    while (i < b.sums.length) {
      a.sums(i) += b.sums(i)
      a.counts(i) += b.counts(i)
      i += 1
    }
    a
  }

  override def eval(buf: VectorMeanBuffer): Any = {
    val n = buf.sums.length
    if (n == 0) return null
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = if (buf.counts(i) == 0) null
               else java.lang.Double.valueOf(buf.sums(i) / buf.counts(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: VectorMeanBuffer): Array[Byte] = {
    val n = buf.sums.length
    val bb = ByteBuffer.allocate(4 + 16 * n)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(buf.sums(i)); i += 1 }
    i = 0
    while (i < n) { bb.putLong(buf.counts(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): VectorMeanBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val sums = new Array[Double](n)
    val counts = new Array[Long](n)
    var i = 0
    while (i < n) { sums(i) = bb.getDouble; i += 1 }
    i = 0
    while (i < n) { counts(i) = bb.getLong; i += 1 }
    new VectorMeanBuffer(sums, counts)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorMean =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorMean =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VectorMean =
    copy(child = newChild)
}

object VectorAggregates {
  /** Element-wise mean of a double-array column as a single
    * map-side-combining aggregate (null elements skipped per
    * dimension, null when the group saw no vectors).
    */
  def vectorMean(c: Column): Column =
    ExpressionUtils.column(
      VectorMean(ExpressionUtils.expression(c)).toAggregateExpression())
}
