package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.Collect
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native bounded collect: `bounded_collect_list(x, cap)` → array<type of x>
  * that SATURATES at cap+1 elements. Nulls are skipped, as in
  * `collect_list`.
  *
  * The LSH hot-bucket census problem: candidate generation wants each
  * bucket's member list in one aggregation pass, but a pathological bucket
  * (boilerplate text hashing millions of documents onto one band key) must
  * never materialize its full list in an aggregation buffer — with plain
  * `collect_list` the buffer grows with the bucket, and the over-cap filter
  * only runs AFTER the damage. This aggregate stops accumulating at cap+1
  * elements — enough to prove "over the cap" — so every buffer (partial
  * map-side and merged reduce-side alike) is bounded by cap+1 elements
  * regardless of bucket size, and `size(result) > cap` is the census
  * verdict. Callers filter `size BETWEEN 2 AND cap`; which cap+1 elements a
  * saturated buffer happens to retain is irrelevant because saturated
  * buckets are dropped wholesale.
  *
  * Spark's `collect_list` (`Collect`) supplies the buffer, its
  * serialization and eval; only `update`/`merge` add the saturation.
  *
  * Replaces the two-pass count-census + join-back shape with ONE shuffle
  * carrying the same bounded-memory guarantee.
  */
case class BoundedCollectList(
    child: Expression,
    capExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends Collect[ArrayBuffer[Any]] with BinaryLike[Expression] {

  override def left: Expression = child
  override def right: Expression = capExpr

  @transient private lazy val cap: Int = capExpr.eval().asInstanceOf[Int]

  override def checkInputDataTypes(): TypeCheckResult =
    capExpr.dataType match {
      case IntegerType =>
        if (!capExpr.foldable)
          TypeCheckResult.TypeCheckFailure(s"$prettyName cap must be a literal")
        else capExpr.eval() match {
          case c: java.lang.Integer if c < 1 =>
            TypeCheckResult.TypeCheckFailure(s"$prettyName cap must be >= 1, got $c")
          case null => TypeCheckResult.TypeCheckFailure(s"$prettyName cap must not be null")
          case _ => TypeCheckResult.TypeCheckSuccess
        }
      case b => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an int cap, got ${b.sql}")
    }

  override def prettyName: String = "bounded_collect_list"

  override protected lazy val bufferElementType: DataType = child.dataType
  override protected def convertToBufferElement(value: Any): Any =
    InternalRow.copyValue(value)

  override def createAggregationBuffer(): ArrayBuffer[Any] = ArrayBuffer.empty

  override def update(buffer: ArrayBuffer[Any], input: InternalRow): ArrayBuffer[Any] =
    if (buffer.length <= cap) super.update(buffer, input) // cap+1 marks saturation
    else buffer

  override def merge(buffer: ArrayBuffer[Any], other: ArrayBuffer[Any]): ArrayBuffer[Any] =
    buffer ++= other.iterator.take(cap + 1 - buffer.length)

  override def eval(buffer: ArrayBuffer[Any]): Any = new GenericArrayData(buffer.toArray)

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedCollectList =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedCollectList =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BoundedCollectList =
    copy(child = newLeft, capExpr = newRight)
}
