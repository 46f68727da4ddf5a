package graft.functions

import java.nio.ByteOrder
import java.util.Arrays

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** The engine's exact-distinct-set wire format, shared by the in-query
  * aggregate ([[HashSetCountDistinct]]) and the PERSISTABLE sketch
  * column surface ([[SketchAgg]]/[[SketchMergeAgg]]/[[SketchCount]]).
  *
  * Layout: `[int32 n] ([int32 len] [len bytes])*`, big-endian — framed,
  * compact, order-free. The reference's serialized 'D' form kept values
  * in bucket order only so its delimited-string merge could stream
  * (`/root/reference/hashset-count.cc:226-247`, `README.md:38-41`);
  * a framed format needs no ordering invariant and is `'\0'`-safe
  * where the reference documents silent corruption (`README.md:9`).
  *
  * This object is the one codec: [[DistinctSet]] (the aggregates'
  * buffer) and the `mutable.HashSet` entry points below write frames
  * with [[putFrame]] and read them with [[foreachValue]].
  */
object SketchWire {

  /** The largest frame one JVM array can hold. */
  private[functions] val MaxBytes: Int = ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH

  private val littleEndian = ByteOrder.nativeOrder() == ByteOrder.LITTLE_ENDIAN

  def serialize(buf: mutable.HashSet[UTF8String]): Array[Byte] = {
    var total = 4L
    buf.foreach(s => total += 4 + s.numBytes())
    val out = new Array[Byte](checkedLength(total))
    putInt(out, 0, buf.size)
    var at = 4
    buf.foreach(s => at = putFrame(out, at, s.getBaseObject, s.getBaseOffset, s.numBytes()))
    out
  }

  /** Union a serialized set into a live buffer (no intermediate set);
    * each new value is an owned copy.
    */
  def mergeInto(
      buf: mutable.HashSet[UTF8String],
      bytes: Array[Byte]): mutable.HashSet[UTF8String] = {
    buf.sizeHint(buf.size + sizeHint(bytes))
    foreachValue(bytes) { (at, len) =>
      buf += UTF8String.fromBytes(Arrays.copyOfRange(bytes, at, at + len))
    }
    buf
  }

  /** Distinct count carried by a serialized sketch — the leading int32;
    * the values themselves are never touched. A header that cannot be
    * one (fewer than 4 bytes, a negative count) fails loudly rather
    * than reading garbage.
    */
  def count(bytes: Array[Byte]): Int = {
    if (bytes == null || bytes.length < 4)
      malformed(if (bytes == null) "null" else s"${bytes.length} bytes")
    val n = getInt(bytes, 0)
    if (n < 0) malformed(s"negative count $n")
    n
  }

  /** The frame reader: `f(at, len)` for each value, `at` being the
    * offset of its bytes in `bytes`. A truncated frame, a negative
    * length or bytes after the n-th frame throw
    * `IllegalArgumentException("not a graft sketch: …")` — after `f`
    * has seen the frames before the fault.
    */
  private[functions] def foreachValue(bytes: Array[Byte])(f: (Int, Int) => Unit): Unit = {
    val n = count(bytes)
    var at = 4
    var i = 0
    while (i < n) {
      if (bytes.length - at < 4)
        malformed(s"value ${i + 1} of $n truncated at byte $at of ${bytes.length}")
      val len = getInt(bytes, at)
      if (len < 0) malformed(s"value ${i + 1} of $n has negative length $len")
      if (bytes.length - at - 4 < len)
        malformed(s"value ${i + 1} of $n (length $len) truncated at byte $at of ${bytes.length}")
      f(at + 4, len)
      at += 4 + len
      i += 1
    }
    if (at != bytes.length)
      malformed(s"${bytes.length - at} trailing bytes after $n values")
  }

  /** Presizing hint: the header count, capped at what the bytes could
    * hold (each value takes at least 4), so a corrupt count cannot force
    * a huge allocation.
    */
  private[functions] def sizeHint(bytes: Array[Byte]): Int =
    math.min(count(bytes), bytes.length / 4)

  /** `total` as an array length, or a clear error past [[MaxBytes]]. */
  private[functions] def checkedLength(total: Long): Int =
    if (total <= MaxBytes) total.toInt
    else throw new IllegalStateException(
      s"graft sketch too large: $total bytes exceeds the $MaxBytes-byte frame limit")

  /** Write one `[len][bytes]` frame at `at`; returns the offset after it. */
  private[functions] def putFrame(
      dst: Array[Byte], at: Int, base: AnyRef, off: Long, len: Int): Int = {
    putInt(dst, at, len)
    Platform.copyMemory(base, off, dst, Platform.BYTE_ARRAY_OFFSET + at + 4, len)
    at + 4 + len
  }

  private[functions] def getInt(b: Array[Byte], at: Int): Int = {
    val v = Platform.getInt(b, Platform.BYTE_ARRAY_OFFSET + at)
    if (littleEndian) Integer.reverseBytes(v) else v
  }

  private[functions] def putInt(b: Array[Byte], at: Int, v: Int): Unit =
    Platform.putInt(b, Platform.BYTE_ARRAY_OFFSET + at,
      if (littleEndian) Integer.reverseBytes(v) else v)

  private def malformed(why: String): Nothing =
    throw new IllegalArgumentException(s"not a graft sketch: $why")
}

/** Shared buffer lifecycle of the distinct-set aggregates: a
  * [[DistinctSet]] buffer (values copied on first sighting, duplicates
  * allocate nothing), size-aware union merge, and the [[SketchWire]]
  * frame as the shuffle and state-store format.
  */
private[functions] trait HashSetAggBase extends TypedImperativeAggregate[DistinctSet] {

  override def createAggregationBuffer(): DistinctSet = DistinctSet.empty

  override def merge(buf: DistinctSet, other: DistinctSet): DistinctSet =
    if (buf.size < other.size) other.union(buf) else buf.union(other)

  override def serialize(buf: DistinctSet): Array[Byte] = buf.serialize

  override def deserialize(bytes: Array[Byte]): DistinctSet = DistinctSet.fromWire(bytes)
}

/** `sketch_agg(string) → binary`: the reference's distinct-count STATE
  * as a first-class, persistable column. The reference's whole reason
  * to exist is a distinct count whose state merges across nodes
  * (`/root/reference/hashset-count.cc:269-461`); the warehouse-scale
  * version of that idea is MATERIALIZING the serialized set, so
  * partial aggregates can be stored (per-day parquet), rolled up later
  * ([[SketchMergeAgg]]) and finalized ([[SketchCount]]) — per-day
  * sketches merged to month equal the direct month count, exactly
  * (this is a set, not an estimator). NULL inputs are skipped like
  * `count300k` (`hashset-count.cc:105-108`); an all-NULL or empty
  * group yields the empty sketch (n=0), which [[SketchCount]] maps to
  * NULL — the reference's empty-group rule, deferred to finalize time.
  *
  * Scale note: sketch size ∝ distinct values in the group, the same
  * law as the reference's buffer and the in-query `count300k`. For
  * unbounded-cardinality groups the bounded-size estimator siblings
  * are Spark's own `hll_sketch_agg`/`hll_union_agg`/
  * `hll_sketch_estimate` — same agg/merge/finalize shape, fixed-size
  * state, approximate answer.
  */
case class SketchAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends HashSetAggBase with UnaryLike[Expression] {

  override def update(buf: DistinctSet, input: InternalRow): DistinctSet = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String])
    buf
  }

  override def eval(buf: DistinctSet): Any = buf.serialize

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sketch_agg requires a STRING argument, got ${child.dataType.sql}")
  override def prettyName: String = "sketch_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SketchAgg =
    copy(child = newChild)
}

/** `sketch_merge(binary) → binary`: union stored [[SketchAgg]] sketches
  * — the rollup half of the persistable-state story (day → month is
  * one `groupBy(month).agg(sketch_merge(sk))` over sketch rows; the
  * raw fact table is never rescanned). NULL sketches are skipped;
  * merging zero sketches yields the empty sketch. The buffer IS the
  * union, so merging is associative and commutative — partition
  * layout cannot change the result.
  */
case class SketchMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends HashSetAggBase with UnaryLike[Expression] {

  override def update(buf: DistinctSet, input: InternalRow): DistinctSet = {
    val v = child.eval(input)
    if (v != null) buf.mergeWire(v.asInstanceOf[Array[Byte]])
    buf
  }

  override def eval(buf: DistinctSet): Any = buf.serialize

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sketch_merge requires a BINARY sketch argument, got ${child.dataType.sql}")
  override def prettyName: String = "sketch_merge"

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(
      newChild: Expression): SketchMergeAgg =
    copy(child = newChild)
}

/** `sketch_count(binary) → string`: finalize a sketch — read the count
  * from the frame header (the values are never deserialized). Empty
  * sketch → NULL and STRING output, matching `count300k`'s
  * finalize contract (`/root/reference/hashset-count.cc:464-524`,
  * `README.md:28`). Codegen'd: a header read is one static call, so
  * the expression stays inside whole-stage codegen.
  */
case class SketchCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sketch_count requires a BINARY sketch argument, got ${child.dataType.sql}")
  override def prettyName: String = "sketch_count"

  override def nullSafeEval(input: Any): Any = {
    val n = SketchWire.count(input.asInstanceOf[Array[Byte]])
    if (n == 0) null else UTF8String.fromString(n.toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("sketchN")
      s"""
         |int $n = graft.functions.SketchWire.count($c);
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |    java.lang.Integer.toString($n));
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SketchCount =
    copy(child = newChild)
}
