package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hot-path `count300k`: exact hashset-based distinct count as a native
  * Catalyst `TypedImperativeAggregate`. Its six callbacks are the 1:1
  * structural analogue of the reference UDA's five
  * (`/root/reference/hashset-count.h:30-34`):
  *
  *   - `createAggregationBuffer` ≈ `DistHashSetInit`
  *     (`hashset-count.cc:82-103`)
  *   - `update` ≈ `DistHashSetUpdate` incl. the NULL skip
  *     (`hashset-count.cc:105-192`)
  *   - `serialize`/`deserialize` ≈ `DistHashSetSerialize`'s 'D' form
  *     (`hashset-count.cc:195-262`) — but length-prefixed instead of
  *     NUL-delimited, so values containing '\0' are safe (the reference
  *     documents silent corruption, `README.md:9`). The format lives in
  *     [[SketchWire]], shared with the persistable sketch-column
  *     surface (`sketch_agg`/`sketch_merge`/`sketch_count`)
  *   - `merge` ≈ `DistHashSetMerge` (`hashset-count.cc:269-461`) — a plain
  *     set union; the reference's sort-merge-over-bucket-order dance existed
  *     only because its serialized form was a flat delimited string
  *   - `eval` ≈ `DistHashSetFinalize` incl. the empty-set→NULL rule and
  *     STRING output (`hashset-count.cc:464-524`, `README.md:28`)
  *
  * Unlike the reference's fixed 300,000 buckets (`hashset-count.cc:67`),
  * the buffer grows with cardinality; `count300k` survives as a name only.
  * Spark plans the same two-phase aggregation Impala did (Partial →
  * exchange → Final) and falls back to sort-based aggregation under memory
  * pressure, replacing the reference's warn-and-hope spill handling
  * (`hashset-count.cc:200-205`).
  *
  * The buffer is a [[DistinctSet]]: one byte arena laid out as the
  * [[SketchWire]] frame plus an open-addressing index, so a value costs
  * no object of its own. `child.eval` can return a string backed by a
  * reused row buffer; its bytes are copied into the arena on the first
  * sighting only, and duplicates allocate nothing.
  */
case class HashSetCountDistinct(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends HashSetAggBase with UnaryLike[Expression] {

  override def update(buf: DistinctSet, input: InternalRow): DistinctSet = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String])
    buf
  }

  override def eval(buf: DistinctSet): Any =
    if (buf.isEmpty) null else UTF8String.fromString(buf.size.toString)

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"count300k requires a STRING argument, got ${child.dataType.sql}")
  override def prettyName: String = "count300k"

  override def withNewMutableAggBufferOffset(
      newOffset: Int): HashSetCountDistinct =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(
      newOffset: Int): HashSetCountDistinct =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(
      newChild: Expression): HashSetCountDistinct =
    copy(child = newChild)
}
