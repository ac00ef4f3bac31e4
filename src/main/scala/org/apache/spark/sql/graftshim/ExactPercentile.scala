package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
  ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType,
  DoubleType, FloatType, IntegralType, TypeCollection}

import graft.functions.DoubleCounts

/** Spark's exact `percentile` of `child` at each of `percentages`, over
  * a primitive value→count table (`DoubleCounts`) instead of Spark's
  * boxed `OpenHashMap[AnyRef, Long]`: no row is boxed, the partial
  * buffers travel as raw (bits, count) pairs, and the final sort is
  * `Arrays.sort(double[])`. The input is a double, float or integral
  * column, cast to DOUBLE; a group with no non-null value gives null.
  * One value when `returnArray` is false, else one per percentage. */
case class ExactPercentile(
    child: Expression,
    percentages: Seq[Double],
    returnArray: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[DoubleCounts]
    with ExpectsInputTypes with UnaryLike[Expression] {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(DoubleType, FloatType, IntegralType))

  override def dataType: DataType =
    if (returnArray) ArrayType(DoubleType, containsNull = false)
    else DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "exact_percentile"

  @transient private lazy val ps: Array[Double] = percentages.toArray

  @transient private lazy val value: Expression =
    if (child.dataType == DoubleType) child else Cast(child, DoubleType)

  /** The input row's column of a bound double child, else -1. */
  @transient private lazy val ordinal: Int = value match {
    case b: BoundReference => b.ordinal
    case _ => -1
  }

  override def createAggregationBuffer(): DoubleCounts = new DoubleCounts

  override def update(buffer: DoubleCounts, input: InternalRow)
      : DoubleCounts = {
    if (ordinal >= 0) {
      if (!input.isNullAt(ordinal)) buffer.add(input.getDouble(ordinal))
    } else {
      val v = value.eval(input)
      if (v != null) buffer.add(v.asInstanceOf[Double])
    }
    buffer
  }

  override def merge(buffer: DoubleCounts, input: DoubleCounts)
      : DoubleCounts = buffer.merge(input)

  override def eval(buffer: DoubleCounts): Any =
    if (buffer.isEmpty) null
    else {
      val out = buffer.percentiles(ps)
      if (returnArray) new GenericArrayData(out) else out(0)
    }

  override def serialize(buffer: DoubleCounts): Array[Byte] =
    buffer.serialize()

  override def deserialize(bytes: Array[Byte]): DoubleCounts =
    DoubleCounts.deserialize(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): ExactPercentile =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): ExactPercentile =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildInternal(c: Expression)
      : ExactPercentile = copy(child = c)
}
