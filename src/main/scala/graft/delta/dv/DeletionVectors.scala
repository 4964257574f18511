package graft.delta.dv

import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.delta.DeletionVectorDescriptor

/** Resolution and I/O for deletion-vector bitmaps (PROTOCOL.md "Deletion
  * Vectors").
  *
  * A descriptor locates its bitmap one of three ways:
  *  - `storageType = "i"` — the portable-serialized bitmap itself, Z85
  *    inline in `pathOrInlineDv` (`sizeInBytes` = true byte length);
  *  - `storageType = "u"` — `pathOrInlineDv` is `<randomPrefix><z85-uuid>`
  *    (the uuid is always the last 20 chars) naming the file
  *    `<tableRoot>/<prefix>/deletion_vector_<uuid>.bin`;
  *  - `storageType = "p"` — `pathOrInlineDv` is an absolute file path.
  *
  * On-disk framing: the file starts with a format-version byte (1); each
  * stored DV sits at its descriptor's `offset` as
  * `[dataSize: 4-byte big-endian][bitmap bytes][CRC-32 of the bitmap
  * bytes: 4-byte big-endian]`, with `dataSize == sizeInBytes`.
  */
object DeletionVectors {

  val FormatVersion: Byte = 1

  /** Whether the bitmap lives in a file (storage types "u" and "p"),
    * not inline in the descriptor. */
  def isOnDisk(dv: DeletionVectorDescriptor): Boolean =
    dv.storageType == "u" || dv.storageType == "p"

  /** Absolute path of an on-disk DV (storage types "u" and "p"). */
  def absolutePath(dv: DeletionVectorDescriptor, tablePath: Path): Path =
    dv.storageType match {
      case "u" =>
        val encoded = dv.pathOrInlineDv
        require(encoded.length >= 20, s"malformed uuid DV path '$encoded'")
        val prefix = encoded.dropRight(20)
        val uuid = Z85.decodeUuid(encoded.takeRight(20))
        val name = s"deletion_vector_$uuid.bin"
        if (prefix.isEmpty) new Path(tablePath, name)
        else new Path(new Path(tablePath, prefix), name)
      case "p" => new Path(dv.pathOrInlineDv)
      case other =>
        throw new IllegalArgumentException(
          s"deletion vector storage type '$other' has no path")
    }

  /** Materialize a descriptor's bitmap, verifying size and checksum for
    * the on-disk forms. */
  def readBitmap(dv: DeletionVectorDescriptor, tablePath: Path,
                 conf: Configuration): RoaringBitmapArray = dv.storageType match {
    case "i" =>
      RoaringBitmapArray.deserialize(
        Z85.decode(dv.pathOrInlineDv, dv.sizeInBytes))
    case "u" | "p" =>
      val path = absolutePath(dv, tablePath)
      val fs = path.getFileSystem(conf)
      val in = fs.open(path)
      try {
        val offset = dv.offset.getOrElse(0)
        in.seek(offset.toLong)
        val declared = in.readInt() // big-endian via DataInputStream
        require(declared == dv.sizeInBytes,
          s"DV at $path offset $offset declares $declared bytes, " +
            s"descriptor says ${dv.sizeInBytes}")
        val data = new Array[Byte](declared)
        in.readFully(data)
        val expectedCrc = in.readInt()
        val crc = new CRC32()
        crc.update(data)
        require(crc.getValue.toInt == expectedCrc,
          s"DV at $path offset $offset failed its CRC-32 check")
        RoaringBitmapArray.deserialize(data)
      } finally in.close()
    case other =>
      throw new IllegalArgumentException(
        s"unsupported deletion vector storage type '$other'")
  }

  /** Write one or more bitmaps into a single relative-path DV file under
    * `tablePath`, returning the descriptors (storage type "u"). Used by
    * tests and fixture generation — the write-side counterpart of
    * [[readBitmap]], framing exactly what the read path verifies. */
  def writeDvFile(tablePath: Path, conf: Configuration,
                  bitmaps: Seq[RoaringBitmapArray],
                  prefix: String = ""): Seq[DeletionVectorDescriptor] = {
    val uuid = java.util.UUID.randomUUID()
    val encodedPath = prefix + Z85.encodeUuid(uuid)
    val name = s"deletion_vector_$uuid.bin"
    val dir = if (prefix.isEmpty) tablePath else new Path(tablePath, prefix)
    val path = new Path(dir, name)
    val fs = path.getFileSystem(conf)
    val out = fs.create(path, false)
    val descriptors = Seq.newBuilder[DeletionVectorDescriptor]
    try {
      out.writeByte(FormatVersion.toInt)
      var offset = 1
      bitmaps.foreach { bm =>
        val data = bm.serialize()
        out.writeInt(data.length) // big-endian
        out.write(data)
        val crc = new CRC32()
        crc.update(data)
        out.writeInt(crc.getValue.toInt)
        descriptors += DeletionVectorDescriptor(
          storageType = "u",
          pathOrInlineDv = encodedPath,
          offset = Some(offset),
          sizeInBytes = data.length,
          cardinality = bm.cardinality)
        offset += 4 + data.length + 4
      }
    } finally out.close()
    descriptors.result()
  }

  /** An inline descriptor for a bitmap (storage type "i"). */
  def inline(bm: RoaringBitmapArray): DeletionVectorDescriptor = {
    val data = bm.serialize()
    DeletionVectorDescriptor(
      storageType = "i",
      pathOrInlineDv = Z85.encode(data),
      offset = None,
      sizeInBytes = data.length,
      cardinality = bm.cardinality)
  }
}
