package graft.delta.dv

import java.nio.{ByteBuffer, ByteOrder}

import scala.jdk.CollectionConverters._

import org.roaringbitmap.{BitmapContainer, RoaringBitmap, RunContainer}

/** A set of 64-bit row positions as an array of 32-bit Roaring bitmaps
  * (`org.roaringbitmap`, which Spark already ships), one per bucket: `v`
  * lives in bucket `v >>> 32` as the unsigned 32-bit value `v.toInt`.
  * This is delta-spark's layout, so a probe is an array index plus the
  * library's `contains`.
  *
  * (De)serialization is the "portable" format the Delta protocol requires
  * in deletion vectors (PROTOCOL.md "Deletion Vectors"), little-endian:
  * magic `1681511377` (int32) ‖ bucket count (int64) ‖ for each bucket,
  * its key (uint32) ‖ its 32-bit bitmap in the public RoaringFormatSpec.
  * The writer emits every bucket `0..n-1`, empty interior ones included,
  * as delta-spark does. The reader takes any non-negative, strictly
  * increasing keys below [[RoaringBitmapArray.MaxBuckets]] and leaves
  * gaps empty: the jar's `Roaring64NavigableMap.serializePortable` skips
  * empty buckets.
  *
  * Output is run-free (cookie 12346, array and bitmap containers only).
  * Values enter through `add`, which never run-compresses, and
  * `serialize` turns any run container back into an array or bitmap
  * first: a foreign writer's, or the full container `or` makes in
  * `union`.
  *
  * The library trusts the bytes it reads. Two checks on bitmaps read from
  * outside the program stay here:
  *  - every run must end inside the 16-bit container space. The library
  *    accepts a run `[65000, +1000]` and reports 1001 values, of which
  *    536 fit: the rest would wrap onto other row positions and shade
  *    the wrong rows;
  *  - a bitmap container's header cardinality must match its bits. The
  *    library reports the header's count, and a shade whose cardinality
  *    equals a file's row count drops the whole file.
  */
final class RoaringBitmapArray private (private var buckets: Array[RoaringBitmap]) {

  def add(value: Long): Unit = {
    require(value >= 0, s"negative value $value")
    bucket((value >>> 32).toInt).add(value.toInt)
  }

  /** A negative `value` has a bucket past any array, so it is absent. */
  def contains(value: Long): Boolean = {
    val high = value >>> 32
    high < buckets.length && buckets(high.toInt).contains(value.toInt)
  }

  def cardinality: Long = buckets.iterator.map(_.getLongCardinality).sum

  /** All values in ascending order. */
  def values: Iterator[Long] =
    buckets.iterator.zipWithIndex.flatMap { case (bm, high) =>
      bm.iterator.asScala.map(v => (high.toLong << 32) | Integer.toUnsignedLong(v))
    }

  def isEmpty: Boolean = buckets.forall(_.isEmpty)

  /** In-place union. */
  def union(other: RoaringBitmapArray): Unit =
    other.buckets.indices.foreach(i => bucket(i).or(other.buckets(i)))

  def serialize(): Array[Byte] = {
    buckets.foreach(_.removeRunCompression())
    val bb = ByteBuffer
      .allocate(4 + 8 + buckets.iterator.map(4 + _.serializedSizeInBytes).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(RoaringBitmapArray.PortableMagic).putLong(buckets.length.toLong)
    buckets.indices.foreach { key => bb.putInt(key); buckets(key).serialize(bb) }
    bb.array()
  }

  /** Bucket `i`, growing the array with empty buckets up to it. */
  private def bucket(i: Int): RoaringBitmap = {
    require(i < RoaringBitmapArray.MaxBuckets, s"bitmap bucket $i holds row " +
      s"positions past 2^40; at most ${RoaringBitmapArray.MaxBuckets} buckets")
    if (i >= buckets.length)
      buckets ++= Array.fill(i + 1 - buckets.length)(new RoaringBitmap)
    buckets(i)
  }
}

object RoaringBitmapArray {

  /** Magic number of the PORTABLE RoaringBitmapArray format (the only
    * format the Delta protocol allows in deletion vectors). */
  val PortableMagic = 1681511377

  /** Buckets a set may hold: row positions below 2^40, a trillion rows
    * per data file. Gaps below a key are filled with empty bitmaps, so
    * without a bound a 24-byte inline DV (no CRC) naming one far key
    * would allocate millions of them. */
  val MaxBuckets = 256

  def apply(values: Long*): RoaringBitmapArray = fromUnsorted(values.toArray)

  /** Sorting first makes every `add` an append to its container.
    * Duplicates collapse. */
  def fromUnsorted(values: Array[Long]): RoaringBitmapArray = {
    val out = empty()
    values.sorted.foreach(out.add)
    out
  }

  def empty(): RoaringBitmapArray = new RoaringBitmapArray(Array.empty)

  def deserialize(bytes: Array[Byte]): RoaringBitmapArray = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == PortableMagic,
      s"unsupported deletion-vector bitmap magic $magic " +
        s"(expected portable $PortableMagic)")
    val n = bb.getLong
    require(n >= 0 && n <= Int.MaxValue, s"absurd bitmap count $n")
    val out = empty()
    var last = -1
    (0 until n.toInt).foreach { _ =>
      val key = bb.getInt
      require(key > last, s"bitmap bucket key $key after $last: keys must be " +
        "non-negative and increasing")
      val bm = new RoaringBitmap
      // reads from the buffer's position without advancing it
      bm.deserialize(bb)
      bb.position(bb.position() + bm.serializedSizeInBytes)
      validate(bm)
      out.bucket(key)
      out.buckets(key) = bm
      last = key
    }
    out
  }

  /** The two checks the class scaladoc names, over every container. */
  private def validate(bm: RoaringBitmap): Unit = {
    val p = bm.getContainerPointer
    while (p.getContainer != null) {
      p.getContainer match {
        case r: RunContainer =>
          (0 until r.numberOfRuns).foreach { i =>
            val (start, end) = (r.getValue(i).toInt, r.getValue(i) + r.getLength(i))
            require(end <= 0xffff, s"corrupt run container: run [$start, $end] " +
              "exceeds the 16-bit value space")
          }
        case b: BitmapContainer =>
          val held = b.andCardinality(b)
          require(held == b.getCardinality,
            s"bitmap container held $held values, header said ${b.getCardinality}")
        case _ =>
      }
      p.advance()
    }
  }
}
