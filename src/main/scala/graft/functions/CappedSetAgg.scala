package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.Collect
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `collect_set` that stops growing at `cap + 1` distinct non-null
  * values — the MERGE source-key summary's IN-set
  * ([[graft.plans.MergeInto]]). The answer is exact while the column
  * holds at most `cap` distinct values; past that its size reads
  * `cap + 1`, which is all the caller needs to switch to [min, max]
  * bounds. Neither an executor buffer nor the driver ever holds more
  * than `cap + 1` values, however large the source: a buffer that
  * reached `cap + 1` stays there (update and merge stop adding), and a
  * union of value subsets reaches `cap + 1` exactly when the whole
  * column does.
  *
  * Buffer elements follow Spark's `CollectSet`: binary values hash by
  * content (as byte arrays), and floating-point values are normalized
  * the way a grouping key is (-0.0 → 0.0, one NaN), so the set matches
  * what `distinct()` would return. */
case class CappedSetAgg(child: Expression, cap: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends Collect[mutable.HashSet[Any]]
    with UnaryLike[Expression] {

  override def createAggregationBuffer(): mutable.HashSet[Any] =
    mutable.HashSet.empty

  override def convertToBufferElement(value: Any): Any = child.dataType match {
    case BinaryType => UnsafeArrayData.fromPrimitiveArray(value.asInstanceOf[Array[Byte]])
    case DoubleType =>
      val d = value.asInstanceOf[Double]
      if (d == 0.0d) 0.0d else if (d.isNaN) Double.NaN else d
    case FloatType =>
      val f = value.asInstanceOf[Float]
      if (f == 0.0f) 0.0f else if (f.isNaN) Float.NaN else f
    case _ => InternalRow.copyValue(value)
  }

  override protected lazy val bufferElementType: DataType = child.dataType match {
    case BinaryType => ArrayType(ByteType)
    case other => other
  }

  override def update(buffer: mutable.HashSet[Any],
                      input: InternalRow): mutable.HashSet[Any] =
    if (buffer.size > cap) buffer else super.update(buffer, input)

  override def merge(buffer: mutable.HashSet[Any],
                     other: mutable.HashSet[Any]): mutable.HashSet[Any] = {
    val it = other.iterator
    while (buffer.size <= cap && it.hasNext) buffer += it.next()
    buffer
  }

  override def eval(buffer: mutable.HashSet[Any]): Any = child.dataType match {
    case BinaryType =>
      new GenericArrayData(buffer.iterator.map(_.asInstanceOf[ArrayData].toByteArray()).toArray)
    case _ => new GenericArrayData(buffer.toArray)
  }

  override def withNewMutableAggBufferOffset(n: Int): CappedSetAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CappedSetAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): CappedSetAgg =
    copy(child = newChild)
  override def prettyName: String = "graft_capped_set"
}
