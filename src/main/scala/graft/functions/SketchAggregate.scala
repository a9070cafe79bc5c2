package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Which aggregate of a sketch family a [[SketchAggregate]] is, and the
  * last part of its SQL name: `distinct` reads values and returns the
  * distinct-count estimate, `sketch` reads values and returns the
  * serialized sketch, `merge` reads serialized sketches and returns their
  * merge as one.
  */
sealed abstract class SketchOp(val suffix: String) extends Serializable
object SketchOp {
  case object Distinct extends SketchOp("distinct")
  case object Build extends SketchOp("sketch")
  case object Merge extends SketchOp("merge")
}

/** One sketch family's state operations, each stated once: a fresh state,
  * how a non-null value joins it, how two states merge, the estimate, and
  * the family's own wire format. A family is a case class of its
  * parameters, so two aggregates over the same column compare equal only
  * when they compute the same thing.
  */
abstract class Sketch[S] extends Product with Serializable {
  def op: SketchOp
  /** The family's part of the SQL names: `kmv` in `graft_kmv_merge`. */
  protected def family: String
  def name: String = s"graft_${family}_${op.suffix}"
  def dataType: DataType = if (op == SketchOp.Distinct) LongType else BinaryType
  def nullable: Boolean = false

  def empty(): S
  def add(s: S, value: Any): S
  def merge(s: S, other: S): S
  def estimate(s: S): Long =
    throw new UnsupportedOperationException(s"$name: the $family family has no estimate")
  def toBytes(s: S): Array[Byte]
  def fromBytes(bytes: Array[Byte]): S
  /** A `sketch` or `merge` aggregate's result. */
  def result(s: S): Any = toBytes(s)
}

/** The sketch families' aggregates, one class for all of them (SURVEY.md
  * §2.4: the TypedImperativeAggregate shape, with explicit serialize /
  * deserialize across partial-aggregation shuffles). A null input is
  * skipped; anything else joins the state as a value, or, for a `merge`,
  * as a serialized sketch merged in.
  */
case class SketchAggregate[S](
    child: Expression,
    sketch: Sketch[S],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[S] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = sketch.nullable
  override def dataType: DataType = sketch.dataType
  override def prettyName: String = sketch.name

  override def createAggregationBuffer(): S = sketch.empty()

  override def update(buffer: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v == null) buffer
    else if (sketch.op == SketchOp.Merge) sketch.merge(buffer, sketch.fromBytes(v.asInstanceOf[Array[Byte]]))
    else sketch.add(buffer, v)
  }

  override def merge(buffer: S, other: S): S = sketch.merge(buffer, other)

  override def eval(buffer: S): Any =
    if (sketch.op == SketchOp.Distinct) sketch.estimate(buffer) else sketch.result(buffer)

  override def serialize(buffer: S): Array[Byte] = sketch.toBytes(buffer)
  override def deserialize(bytes: Array[Byte]): S = sketch.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAggregate[S] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAggregate[S] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SketchAggregate[S] =
    copy(child = newChildren.head)
}
