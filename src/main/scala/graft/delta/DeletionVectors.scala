package graft.delta

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.roaringbitmap.RoaringBitmap

/** Delta deletion vectors (PROTOCOL.md#deletion-vectors): per-file
  * roaring bitmaps of deleted physical row indices. This module is both
  * sides — serialization/deserialization of the 64-bit
  * RoaringBitmapArray in its portable form, z85 codec, and the on-disk
  * DV file layout — because the reference is read-only AND rejects DV
  * tables outright (README.md:39-46); supporting them end to end is the
  * one protocol feature that exceeds parity.
  *
  * Layout (all per PROTOCOL.md):
  *  - descriptor: `{storageType: u|i|p, pathOrInlineDv, offset?,
  *    sizeInBytes, cardinality}`
  *  - DV file ("u"/"p"): version byte 1, then per DV at `offset`:
  *    [size: int32 BE][data][crc32(data): int32 BE]
  *  - data: [magic 1681511377: int32 LE][nBitmaps: int64 LE][per 32-bit
  *    key bucket: standard portable RoaringBitmap], a 64-bit value `v`
  *    living in bucket `v >>> 32` at low word `v & 0xFFFFFFFF`
  *  - "u": pathOrInlineDv = optional prefix + z85-encoded UUID (last 20
  *    chars), file `<prefix>/deletion_vector_<uuid>.bin` under the table
  *  - "i": pathOrInlineDv = z85-encoded data itself
  */
final case class DeletionVectorDescriptor(
    storageType: String,
    pathOrInlineDv: String,
    offset: Option[Int],
    sizeInBytes: Int,
    cardinality: Long)

object DeletionVectors {

  val Magic = 1681511377

  // ---- z85 (ZeroMQ base85): 4 bytes <-> 5 chars, big-endian groups ----

  private val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      ".-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Decode: Array[Int] = {
    val a = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
    a
  }

  def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, "z85 needs a multiple of 4 bytes")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = 0L
      (0 until 4).foreach(j => v = (v << 8) | (bytes(i + j) & 0xFFL))
      val chunk = new Array[Char](5)
      (4 to 0 by -1).foreach { j => chunk(j) = Z85Alphabet((v % 85).toInt); v /= 85 }
      sb.appendAll(chunk)
      i += 4
    }
    sb.toString
  }

  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, "z85 needs a multiple of 5 chars")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      (0 until 5).foreach { j =>
        val c = s.charAt(i + j).toInt
        val d = if (c < 128) Z85Decode(c) else -1
        require(d >= 0, s"bad z85 char '${s.charAt(i + j)}'")
        v = v * 85 + d
      }
      (3 to 0 by -1).foreach { j => out(i / 5 * 4 + j) = (v & 0xFF).toByte; v >>= 8 }
      i += 5
    }
    out
  }

  def uuidToBytes(u: java.util.UUID): Array[Byte] = {
    val b = ByteBuffer.allocate(16)
    b.putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits)
    b.array()
  }

  def bytesToUuid(b: Array[Byte]): java.util.UUID = {
    val bb = ByteBuffer.wrap(b)
    new java.util.UUID(bb.getLong, bb.getLong)
  }

  // ---- 64-bit RoaringBitmapArray, portable form ----

  /** Serialize 64-bit row indices (any order, duplicates collapse) to
    * the portable DV data (magic + bitmap array) plus the resulting
    * cardinality.
    */
  def serializeData(rowIndexes: Iterator[Long]): (Array[Byte], Long) = {
    val bits = new RowIndexBitmap
    rowIndexes.foreach(bits.add)
    (bits.serialize(), bits.cardinality)
  }

  /** All 64-bit row indices in the DV data, ascending. */
  def deserializeData(data: Array[Byte]): Array[Long] = {
    val out = Array.newBuilder[Long]
    RowIndexBitmap.deserialize(data).foreach(out += _)
    out.result()
  }

  // ---- DV file IO ----

  def dvFileName(uuid: java.util.UUID): String = s"deletion_vector_$uuid.bin"

  /** Table-root-relative path of a DV descriptor's file, when it has
    * one: "u" always, "p" only when the absolute path lies under the
    * table root. The single source of the prefix/uuid naming convention
    * — [[read]] and vacuum both resolve through here.
    */
  def relativeFilePath(
      dv: DeletionVectorDescriptor, tablePath: String): Option[String] =
    dv.storageType match {
      case "u" =>
        val enc = dv.pathOrInlineDv
        val (prefix, u) = enc.splitAt(enc.length - 20)
        val name = dvFileName(bytesToUuid(z85Decode(u)))
        Some(if (prefix.isEmpty) name else s"$prefix/$name")
      case "p" =>
        // compare URI path components (scheme/spelling-insensitive):
        // a raw string prefix test would miss 'file:/t/x' vs '/t/x' and
        // let vacuum delete a live DV file
        val basePath = new Path(tablePath).toUri.getPath.stripSuffix("/") + "/"
        val p = new Path(dv.pathOrInlineDv).toUri.getPath
        if (p.startsWith(basePath)) Some(p.stripPrefix(basePath)) else None
      case _ => None
    }

  /** Descriptor for freshly-built DV data: tiny bitmaps inline into the
    * action itself (storageType "i", z85 of the zero-padded bytes —
    * `sizeInBytes` trims the padding on read), larger ones go to a
    * "u"-style bin file. Trickle deletes at scale would otherwise mint
    * one filesystem object per touched file per commit.
    */
  def descriptorFor(
      spark: SparkSession, tablePath: String,
      data: Array[Byte], cardinality: Long,
      inlineMaxBytes: Int = 512): DeletionVectorDescriptor =
    if (data.length <= inlineMaxBytes) {
      val padded =
        if (data.length % 4 == 0) data
        else data ++ new Array[Byte](4 - data.length % 4)
      DeletionVectorDescriptor("i", z85Encode(padded),
        offset = None, sizeInBytes = data.length, cardinality = cardinality)
    } else write(spark, tablePath, data, cardinality)

  /** Write one DV into a fresh "u"-style file at the table root; returns
    * the descriptor to embed in the add action.
    */
  def write(
      spark: SparkSession, tablePath: String,
      data: Array[Byte], cardinality: Long): DeletionVectorDescriptor = {
    val uuid = java.util.UUID.randomUUID()
    val file = new Path(tablePath.stripSuffix("/"), dvFileName(uuid))
    val fs = file.getFileSystem(spark.sessionState.newHadoopConf())
    val crc = new CRC32
    crc.update(data)
    val bb = ByteBuffer.allocate(1 + 4 + data.length + 4) // big-endian
    bb.put(1.toByte).putInt(data.length).put(data).putInt(crc.getValue.toInt)
    val out = fs.create(file, false)
    try out.write(bb.array()) finally out.close()
    DeletionVectorDescriptor("u", z85Encode(uuidToBytes(uuid)),
      offset = Some(1), sizeInBytes = data.length, cardinality = cardinality)
  }

  /** Load the DV data bytes for a descriptor (file or inline forms). */
  def read(
      spark: SparkSession, tablePath: String,
      dv: DeletionVectorDescriptor): Array[Byte] = dv.storageType match {
    case "i" =>
      val raw = z85Decode(dv.pathOrInlineDv)
      // sizeInBytes trims the z85 4-byte-block padding; descriptors
      // that predate the field (sizeInBytes 0) pass through whole
      if (dv.sizeInBytes > 0 && dv.sizeInBytes < raw.length)
        raw.take(dv.sizeInBytes)
      else raw
    case "u" | "p" =>
      val file = relativeFilePath(dv, tablePath) match {
        case Some(rel) => new Path(tablePath.stripSuffix("/"), rel)
        case None => new Path(dv.pathOrInlineDv) // "p" outside the root
      }
      val fs = file.getFileSystem(spark.sessionState.newHadoopConf())
      val in = fs.open(file)
      try {
        val off = dv.offset.getOrElse(1)
        in.seek(off.toLong)
        val szBuf = new Array[Byte](4)
        in.readFully(szBuf)
        val size = ByteBuffer.wrap(szBuf).getInt
        require(size == dv.sizeInBytes,
          s"DV size mismatch: file says $size, descriptor ${dv.sizeInBytes}")
        val data = new Array[Byte](size)
        in.readFully(data)
        val crcBuf = new Array[Byte](4)
        in.readFully(crcBuf)
        val crc = new CRC32
        crc.update(data)
        require(ByteBuffer.wrap(crcBuf).getInt == crc.getValue.toInt,
          "DV checksum mismatch")
        data
      } finally in.close()
    case other =>
      throw new DeltaProtocolError(s"Unknown DV storage type '$other'")
  }
}

/** A set of 64-bit physical row indices in the DV data layout: one 32-bit
  * roaring bitmap per high word, index = high word. The deserialized
  * form every DV consumer probes or merges — the scan's [[DvMask]] and
  * the DML bitmap pass — without expanding it into indices.
  */
final class RowIndexBitmap private (private var buckets: Array[RoaringBitmap]) {

  def this() = this(Array.empty[RoaringBitmap])

  private def bucket(hi: Int): RoaringBitmap = {
    if (hi >= buckets.length)
      buckets = Array.tabulate(hi + 1)(i =>
        if (i < buckets.length) buckets(i) else new RoaringBitmap)
    buckets(hi)
  }

  def add(v: Long): Unit = {
    require(v >= 0, s"negative row index $v")
    bucket((v >>> 32).toInt).add(v.toInt)
  }

  def contains(v: Long): Boolean = {
    val hi = (v >>> 32).toInt
    hi >= 0 && hi < buckets.length && buckets(hi).contains(v.toInt)
  }

  /** In-place union. */
  def or(other: RowIndexBitmap): Unit =
    other.buckets.indices.foreach(i => bucket(i).or(other.buckets(i)))

  def cardinality: Long = buckets.map(_.getLongCardinality).sum

  def foreach(f: Long => Unit): Unit =
    buckets.indices.foreach { hi =>
      val key = hi.toLong << 32
      buckets(hi).forEach(new org.roaringbitmap.IntConsumer {
        def accept(v: Int): Unit = f(key | (v & 0xFFFFFFFFL))
      })
    }

  /** The portable DV data: magic, bucket count, then buckets 0..max,
    * empties included, as the format requires.
    */
  def serialize(): Array[Byte] = {
    buckets.foreach(_.runOptimize())
    val size = 4 + 8 + buckets.map(_.serializedSizeInBytes()).sum
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(DeletionVectors.Magic)
    bb.putLong(buckets.length.toLong)
    buckets.foreach(_.serialize(bb))
    bb.array()
  }
}

object RowIndexBitmap {

  def deserialize(data: Array[Byte]): RowIndexBitmap = {
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == DeletionVectors.Magic, s"bad DV magic $magic")
    val n = bb.getLong
    new RowIndexBitmap(Array.fill(n.toInt) {
      val rb = new RoaringBitmap
      rb.deserialize(bb)
      // deserialize(ByteBuffer) does not advance the buffer position
      bb.position(bb.position() + rb.serializedSizeInBytes())
      rb
    })
  }
}
