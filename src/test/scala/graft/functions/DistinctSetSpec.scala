package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[DistinctSet]] against a plain `Set[String]` model, its frames
  * against the `mutable.HashSet` entry points of [[SketchWire]] (and
  * against frames written the way stored sketches were written), and
  * the frame reader's refusal of malformed bytes.
  */
class DistinctSetSpec extends AnyFunSuite {

  /** Empty, short, '\0'-bearing, multibyte (3- and 4-byte UTF-8) and
    * over-1 KB values; the long ones share a prefix and differ at the end.
    */
  private val value: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    4 -> Gen.alphaNumStr.map(_.take(12)),
    2 -> Gen.listOf(Gen.oneOf('a', 'b', '\u0000')).map(_.take(8).mkString),
    2 -> Gen.listOfN(3, Gen.oneOf(Gen.choose(0x4e00, 0x9fff), Gen.choose(0x1f600, 0x1f64f)))
      .map(_.map(cp => new String(Character.toChars(cp))).mkString),
    1 -> Gen.zip(Gen.choose(1025, 3000), Gen.alphaNumStr.map(_.take(4)))
      .map { case (n, tail) => "L" * n + tail })

  /** Sizes on both sides of the first rehash boundaries (4, 8, 16, …
    * values) and well past them.
    */
  private val sizes = Seq(0, 1, 3, 4, 5, 7, 8, 9, 16, 17, 100, 257, 1000, 4000)

  /** `k` generated values plus a third of them again, shuffled: the
    * adds a set sees, duplicates included.
    */
  private def adds(k: Int, seed: Long): Seq[String] = {
    val xs = Gen.listOfN(k, value)(Gen.Parameters.default, Seed(seed)).get
    new Random(seed).shuffle(xs ++ xs.take(k / 3))
  }

  private def build(vs: Seq[String]): DistinctSet = {
    val s = DistinctSet.empty
    vs.foreach(v => s.add(UTF8String.fromString(v)))
    s
  }

  private def strings(s: DistinctSet): Set[String] = {
    val vs = s.values.map(_.toString).toSeq
    assert(vs.size == s.size && vs.distinct.size == vs.size)
    vs.toSet
  }

  private def hashSet(vs: Iterable[String]): mutable.HashSet[UTF8String] =
    mutable.HashSet.from(vs.map(UTF8String.fromString))

  /** A frame written the way stored sketches were written before
    * [[DistinctSet]]: `java.nio.ByteBuffer`, big-endian.
    */
  private def storedFrame(vs: Seq[String]): Array[Byte] = {
    val bytes = vs.map(_.getBytes(UTF_8))
    val bb = ByteBuffer.allocate(4 + bytes.map(4 + _.length).sum)
    bb.putInt(vs.size)
    bytes.foreach { b => bb.putInt(b.length); bb.put(b) }
    bb.array()
  }

  test("add matches the Set model across rehash boundaries; the header count is the size") {
    for ((k, i) <- sizes.zipWithIndex) {
      val vs = adds(k, 100L + i)
      val s = build(vs)
      assert(strings(s) == vs.toSet, s"k=$k")
      assert(s.isEmpty == vs.isEmpty)
      val bytes = s.serialize
      assert(SketchWire.count(bytes) == s.size, s"k=$k")
      val back = DistinctSet.fromWire(bytes)
      assert(strings(back) == vs.toSet, s"k=$k")
      assert(back.serialize.sameElements(bytes), s"k=$k: re-serialize changed the frame")
    }
  }

  test("union matches the Set model in both size orders and only reads the other side") {
    for ((ka, i) <- sizes.zipWithIndex; kb <- Seq(0, 5, 300)) {
      val a = adds(ka, 200L + i)
      val b = adds(kb, 300L + i)
      val want = a.toSet ++ b
      val (aSet, bSet) = (build(a), build(b))
      val aUb = build(a).union(bSet)
      assert(strings(aUb) == want, s"$ka ∪ $kb")
      assert(strings(build(b).union(aSet)) == want, s"$kb ∪ $ka")
      assert(strings(aSet) == a.toSet && strings(bSet) == b.toSet, "union wrote to its argument")
      assert(SketchWire.count(aUb.serialize) == want.size)
    }
  }

  test("serialize → mergeWire round trips into empty and non-empty sets") {
    for ((k, i) <- sizes.zipWithIndex) {
      val a = adds(k, 400L + i)
      val b = adds(sizes(sizes.size - 1 - i), 500L + i)
      val frame = build(b).serialize
      assert(strings(DistinctSet.empty.mergeWire(frame)) == b.toSet)
      val merged = build(a).mergeWire(frame)
      assert(strings(merged) == a.toSet ++ b)
      assert(strings(merged.mergeWire(frame)) == a.toSet ++ b, "merging a frame twice")
      assert(SketchWire.count(merged.serialize) == merged.size)
    }
  }

  test("serialize writes the frame byte for byte: big-endian count, then [len][bytes]") {
    val s = build(Seq("ab", "", "ab", "é"))
    assert(s.serialize.toSeq == Seq[Byte](
      0, 0, 0, 3,
      0, 0, 0, 2, 'a', 'b',
      0, 0, 0, 0,
      0, 0, 0, 2, 0xc3.toByte, 0xa9.toByte))
    assert(DistinctSet.empty.serialize.toSeq == Seq[Byte](0, 0, 0, 0))
  }

  test("wire compatibility: HashSet-writer frames decode through DistinctSet and back") {
    for ((k, i) <- sizes.zipWithIndex) {
      val model = adds(k, 600L + i).toSet
      val fromHashSet = SketchWire.serialize(hashSet(model))
      assert(strings(DistinctSet.fromWire(fromHashSet)) == model, s"k=$k")
      val fromDistinct = build(model.toSeq).serialize
      assert(SketchWire.mergeInto(mutable.HashSet.empty, fromDistinct).map(_.toString) == model,
        s"k=$k")
      assert(SketchWire.count(fromHashSet) == model.size)
      assert(SketchWire.count(fromDistinct) == model.size)
      assert(fromHashSet.length == fromDistinct.length, "same values, same frame size")
    }
  }

  test("wire compatibility: stored frames (ByteBuffer writer) decode through both readers") {
    val vs = Seq("", "a\u0000b", "\u0000", "長字", "x" * 1500, "u1")
    val frame = storedFrame(vs)
    assert(strings(DistinctSet.fromWire(frame)) == vs.toSet)
    assert(SketchWire.mergeInto(mutable.HashSet.empty, frame).map(_.toString) == vs.toSet)
    assert(SketchWire.count(frame) == vs.size)
    assert(build(vs).serialize.sameElements(frame), "insertion order is kept byte for byte")
  }

  private def int(v: Int): Seq[Byte] = ByteBuffer.allocate(4).putInt(v).array().toSeq
  private def bytes(parts: Seq[Byte]*): Array[Byte] = parts.flatten.toArray
  private val ab = int(2) ++ Seq[Byte]('a', 'b')

  private val malformed: Seq[(String, Array[Byte])] = Seq(
    "null" -> null,
    "3 bytes" -> Array[Byte](0, 0, 1),
    "negative count" -> bytes(int(-1)),
    "truncated length field" -> bytes(int(1), Seq[Byte](0, 0)),
    "truncated value" -> bytes(int(1), int(10), Seq[Byte]('a', 'b', 'c')),
    "negative length" -> bytes(int(1), int(-5), Seq[Byte]('a')),
    "missing frame" -> bytes(int(2), ab),
    "trailing byte" -> bytes(int(1), ab, Seq[Byte](7)),
    "trailing frame" -> bytes(int(1), ab, ab),
    "count past the bytes" -> bytes(int(Int.MaxValue), ab))

  test("malformed frames fail loudly in every reader, with IllegalArgumentException") {
    val readers: Seq[(String, Array[Byte] => Any)] = Seq(
      "DistinctSet.fromWire" -> (b => DistinctSet.fromWire(b)),
      "DistinctSet.mergeWire" -> (b => build(Seq("a", "ab")).mergeWire(b)),
      "SketchWire.mergeInto" -> (b => SketchWire.mergeInto(hashSet(Seq("a")), b)))
    for ((what, b) <- malformed; (reader, read) <- readers) {
      val e = intercept[IllegalArgumentException](read(b))
      assert(e.getMessage.startsWith("not a graft sketch: "), s"$what via $reader: ${e.getMessage}")
    }
  }

  test("SketchWire.count rejects a header that cannot be one") {
    for ((what, b) <- malformed.take(3)) {
      val e = intercept[IllegalArgumentException](SketchWire.count(b))
      assert(e.getMessage.startsWith("not a graft sketch: "), what)
    }
  }

  test("presizing trusts the header count only as far as the bytes could hold it") {
    val lying = bytes(int(Int.MaxValue), ab)
    assert(SketchWire.sizeHint(lying) == lying.length / 4)
    assert(SketchWire.sizeHint(storedFrame(Seq("a", "b"))) == 2)
  }

  test("a frame past the JVM array limit fails with a clear error") {
    assert(SketchWire.checkedLength(SketchWire.MaxBytes.toLong) == SketchWire.MaxBytes)
    val e = intercept[IllegalStateException](
      SketchWire.checkedLength(Int.MaxValue.toLong + 1))
    assert(e.getMessage.contains("graft sketch too large"), e.getMessage)
  }
}
