package graft.functions

import java.util.Arrays

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** The exact distinct-value buffer of `count300k`, `sketch_agg` and
  * `sketch_merge` — the analogue of the reference UDA's bucketed table
  * plus its flat serialized string (`hashset-count.cc:82-262`),
  * kept as ONE object instead of an object per value (the inline-storage
  * hash table of Impala's own aggregation, CIDR 2015).
  *
  *   - **Arena.** One growable `byte[]` holds the values laid out exactly
  *     as a [[SketchWire]] frame: `[int32 n] ([int32 len] [len bytes])*`.
  *     It is append-only, so `serialize` is one `Arrays.copyOf` plus the
  *     count header, and written bytes never change.
  *   - **Index.** Open addressing with linear probing at load ≤ 0.5; slot
  *     `i` holds the value's arena offset (`slots(2i)`, 0 = empty — the
  *     header occupies offset 0) and its cached Murmur3 hash
  *     (`slots(2i+1)`), so growing the index never re-reads the arena and
  *     a union never re-hashes the other side.
  *
  * A value is hashed once, straight from its source bytes, and copied into
  * the arena only on its first sighting — `child.eval` may return a
  * string backed by a reused row buffer, and the copy is what makes that
  * safe. Duplicates allocate nothing.
  */
final class DistinctSet private (
    private var arena: Array[Byte],
    private var slots: Array[Int]) {

  private var end = 4 // arena bytes in use: the header, then the frames
  private var n = 0

  def size: Int = n
  def isEmpty: Boolean = n == 0
  private def capacity: Int = slots.length >> 1 // index slots; load ≤ 0.5

  def add(s: UTF8String): Unit = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()
    insert(base, off, len, DistinctSet.hash(base, off, len))
  }

  /** Add every value of `other` into this set and return this set;
    * `other` is only read, probing with its cached hashes.
    */
  def union(other: DistinctSet): DistinctSet = {
    reserve(math.max(n, other.n), math.max(end, other.end))
    val src = other.arena
    val t = other.slots
    var i = 0
    while (i < t.length) {
      val at = t(i)
      if (at != 0)
        insert(src, Platform.BYTE_ARRAY_OFFSET + at + 4, SketchWire.getInt(src, at), t(i + 1))
      i += 2
    }
    this
  }

  /** Add every value of a serialized frame, probing straight from
    * `bytes`; a malformed frame throws (see [[SketchWire.foreachValue]]).
    */
  def mergeWire(bytes: Array[Byte]): DistinctSet = {
    reserve(math.max(n, SketchWire.sizeHint(bytes)), math.max(end, bytes.length))
    SketchWire.foreachValue(bytes) { (at, len) =>
      val off = Platform.BYTE_ARRAY_OFFSET + at
      insert(bytes, off, len, DistinctSet.hash(bytes, off, len))
    }
    this
  }

  /** The [[SketchWire]] frame of this set, in first-sighting order. */
  def serialize: Array[Byte] = {
    val out = Arrays.copyOf(arena, end)
    SketchWire.putInt(out, 0, n)
    out
  }

  /** The values in first-sighting order, as views into the arena (valid
    * for good: the arena is append-only).
    */
  def values: Iterator[UTF8String] = {
    val a = arena
    val stop = end
    Iterator.unfold(4) { at =>
      if (at >= stop) None
      else {
        val len = SketchWire.getInt(a, at)
        Some((UTF8String.fromBytes(a, at + 4, len), at + 4 + len))
      }
    }
  }

  private def insert(base: AnyRef, off: Long, len: Int, h: Int): Unit = {
    var mask = capacity - 1
    var i = h & mask
    var at = slots(2 * i)
    while (at != 0) {
      if (slots(2 * i + 1) == h && SketchWire.getInt(arena, at) == len &&
          ByteArrayMethods.arrayEquals(
            arena, Platform.BYTE_ARRAY_OFFSET + at + 4, base, off, len))
        return
      i = (i + 1) & mask
      at = slots(2 * i)
    }
    if (2L * (n + 1) > capacity) {
      rehash(DistinctSet.slotsFor(n + 1)) // then find the new empty slot
      mask = capacity - 1
      i = h & mask
      while (slots(2 * i) != 0) i = (i + 1) & mask
    }
    val need = end.toLong + 4 + len
    if (need > arena.length) {
      val cap = SketchWire.checkedLength(need)
      arena = Arrays.copyOf(arena,
        math.max(cap, math.min(2L * arena.length, SketchWire.MaxBytes.toLong).toInt))
    }
    slots(2 * i) = end
    slots(2 * i + 1) = h
    end = SketchWire.putFrame(arena, end, base, off, len)
    n += 1
  }

  /** Make room for `entries` values in the index and `bytes` in the arena. */
  private def reserve(entries: Int, bytes: Int): Unit = {
    if (2L * entries > capacity)
      rehash(DistinctSet.slotsFor(entries))
    if (bytes > arena.length) arena = Arrays.copyOf(arena, bytes)
  }

  private def rehash(slotCount: Int): Unit = {
    val old = slots
    slots = new Array[Int](2 * slotCount)
    val mask = slotCount - 1
    var j = 0
    while (j < old.length) {
      val at = old(j)
      if (at != 0) {
        val h = old(j + 1)
        var i = h & mask
        while (slots(2 * i) != 0) i = (i + 1) & mask
        slots(2 * i) = at
        slots(2 * i + 1) = h
      }
      j += 2
    }
  }
}

object DistinctSet {

  def empty: DistinctSet = new DistinctSet(new Array[Byte](64), new Array[Int](2 * 8))

  def fromWire(bytes: Array[Byte]): DistinctSet = empty.mergeWire(bytes)

  /** Not Spark's seed 42: rows hash-partitioned on the counted column
    * share the low bits of `Murmur3(v, 42)` within a partition, which
    * would crowd the index's power-of-two probe starts.
    */
  private val Seed = 0x3c6ef372

  private def hash(base: AnyRef, off: Long, len: Int): Int =
    Murmur3_x86_32.hashUnsafeBytes(base, off, len, Seed)

  /** Power-of-two slot count that keeps `entries` at load ≤ 0.5, up to
    * 2^29 slots (a 2^30-int array). The 2 GiB arena limit binds first
    * for any values but the shortest.
    */
  private def slotsFor(entries: Int): Int = {
    val want = ByteArrayMethods.nextPowerOf2(math.max(8L, 2L * entries))
    if (want > (1 << 29))
      throw new IllegalStateException(
        s"graft sketch too large: $entries distinct values (limit ${1 << 28})")
    want.toInt
  }
}
