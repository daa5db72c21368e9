package graft.kernel

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32

import org.apache.hadoop.fs.Path

/**
 * Deletion-vector decoding per the public Delta protocol spec
 * ("Deletion Vector Format" in delta-io PROTOCOL.md; descriptor shape
 * mirrored from `crates/core/src/kernel/models/actions.rs:883-913`):
 *
 *  - descriptor storageType `u` = relative file (pathOrInlineDv is
 *    `<prefix><z85 uuid>`), `i` = inline z85 bytes, `p` = absolute path;
 *  - on-disk file: version byte 1, then per-DV `[int32 BE size][data]
 *    [int32 BE crc32(data)]` with `offset` pointing at the size field;
 *  - data: int32 LE magic 1681511377, then a 64-bit RoaringBitmapArray:
 *    int64 LE bitmap count, then per 32-bit key a standard-format
 *    serialized RoaringBitmap (RoaringFormatSpec: cookies 12346/12347,
 *    array/bitset/run containers).
 *
 * The decoder returns deleted row indexes; [[serializeRoaring]] writes the
 * same format (array/bitset containers) for DV-table fixtures and tests.
 */
object DeletionVectors {

  val MAGIC = 1681511377

  private val Z85_CHARS =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val z85Decode: Array[Int] = {
    val d = Array.fill(128)(-1)
    Z85_CHARS.zipWithIndex.foreach { case (c, i) => d(c.toInt) = i }
    d
  }

  def z85ToBytes(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"z85 length must be a multiple of 5: ${s.length}")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      (0 until 5).foreach { j =>
        val c = s.charAt(i + j)
        val d = if (c < 128) z85Decode(c.toInt) else -1
        require(d >= 0, s"invalid z85 char '$c'")
        v = v * 85 + d
      }
      // a group decoding above 2^32-1 is not valid z85 — truncating to the
      // low 32 bits would silently resolve a corrupt descriptor to a wrong
      // (or colliding) DV path, the class this module fails loudly on
      require(v <= 0xFFFFFFFFL,
        s"invalid z85 group '${s.substring(i, i + 5)}' (decodes above 2^32-1)")
      val o = i / 5 * 4
      out(o) = ((v >>> 24) & 0xFF).toByte
      out(o + 1) = ((v >>> 16) & 0xFF).toByte
      out(o + 2) = ((v >>> 8) & 0xFF).toByte
      out(o + 3) = (v & 0xFF).toByte
      i += 5
    }
    out
  }

  def bytesToZ85(b: Array[Byte]): String = {
    require(b.length % 4 == 0)
    val sb = new StringBuilder
    var i = 0
    while (i < b.length) {
      var v = ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
        ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
      val chunk = new Array[Char](5)
      (4 to 0 by -1).foreach { j => chunk(j) = Z85_CHARS((v % 85).toInt); v /= 85 }
      sb.appendAll(chunk)
      i += 4
    }
    sb.toString
  }

  /** Absolute storage location of a descriptor, if not inline. */
  def dvPath(tablePath: Path, dv: DeletionVectorDescriptor): Option[Path] =
    dv.storageType match {
      case "p" => Some(new Path(dv.pathOrInlineDv))
      case "u" =>
        val s = dv.pathOrInlineDv
        val prefix = s.dropRight(20)
        val uuidBytes = z85ToBytes(s.takeRight(20))
        val bb = ByteBuffer.wrap(uuidBytes)
        val uuid = new java.util.UUID(bb.getLong, bb.getLong)
        val name = s"deletion_vector_$uuid.bin"
        Some(if (prefix.isEmpty) new Path(tablePath, name)
        else new Path(new Path(tablePath, prefix), name))
      case _ => None
    }

  /** Rel path of DV blob `p` under `tableUri`, or None when the blob lives
    * outside the table tree (a VACUUM listing never yields it — nothing to
    * protect or delete by rel there). Pure URI logic, safe inside executor
    * tasks. URI.relativize returns its input UNCHANGED on a scheme or
    * authority mismatch, so a scheme-qualified absolute descriptor
    * ('p' storage, foreign writers) over a scheme-less table path must be
    * rebased first — an unmatchable "rel" key would silently drop a LIVE
    * blob from VACUUM's protection set and the blob would be deleted. */
  def relDvPath(tableUri: java.net.URI, p: Path): Option[String] = {
    val pu = p.toUri
    val (base, target) = (tableUri.getScheme, pu.getScheme) match {
      case (null, s) if s != null =>
        (new java.net.URI(s, pu.getAuthority, tableUri.getPath, null, null), pu)
      case (s, null) if s != null =>
        (tableUri,
          new java.net.URI(s, tableUri.getAuthority, pu.getPath, null, null))
      case _ => (tableUri, pu)
    }
    val rel = base.relativize(target).getPath
    if (rel.isEmpty || rel.startsWith("/")) None else Some(rel)
  }

  /** Deleted row indexes of one descriptor (sorted ascending). */
  def read(tablePath: Path, dv: DeletionVectorDescriptor,
           conf: org.apache.hadoop.conf.Configuration): Array[Long] =
    decodeRoaringArray(readBytes(tablePath, dv, conf))

  /** The descriptor's magic-prefixed roaring data, still compressed —
    * what scan-side masking broadcasts (KBs per file, not positions). */
  def readBytes(tablePath: Path, dv: DeletionVectorDescriptor,
                conf: org.apache.hadoop.conf.Configuration): Array[Byte] = {
    val data: Array[Byte] = dv.storageType match {
      case "i" => z85ToBytes(dv.pathOrInlineDv)
      case "u" | "p" =>
        val p = dvPath(tablePath, dv).get
        val fs = p.getFileSystem(conf)
        val in = fs.open(p)
        try {
          val offset = dv.offset.getOrElse(1) // past the version byte
          in.seek(offset.toLong)
          val size = in.readInt() // BE length
          require(size == dv.sizeInBytes,
            s"DV size mismatch: file says $size, descriptor says ${dv.sizeInBytes}")
          val buf = new Array[Byte](size)
          in.readFully(buf)
          val crcStored = in.readInt()
          val crc = new CRC32; crc.update(buf)
          require(crcStored == crc.getValue.toInt,
            s"DV checksum mismatch in $p at offset $offset")
          buf
        } finally in.close()
      case other => throw new IllegalArgumentException(s"Unknown DV storageType: $other")
    }
    data
  }

  /** Decode magic-prefixed 64-bit RoaringBitmapArray data → sorted indexes.
    * Portable format (delta-spark RoaringBitmapArray): i64 bitmap count,
    * then PER BITMAP an i32 high-32 key followed by a standard-format
    * 32-bit roaring bitmap — keys are sparse, not sequential. */
  def decodeRoaringArray(data: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == MAGIC, s"Bad DV magic: $magic")
    val nBitmaps = bb.getLong
    val out = Array.newBuilder[Long]
    // downstream consumers (DvWriter.unionSorted, mask binary search) rely
    // on ascending order; the spec guarantees ascending high-keys and
    // in-container order, so a foreign blob violating it must fail loudly
    // here rather than silently corrupt a union
    var last = Long.MinValue
    (0L until nBitmaps).foreach { _ =>
      val high = bb.getInt.toLong
      val values = decodeRoaring32(bb)
      values.foreach { v =>
        val pos = (high << 32) | (v & 0xFFFFFFFFL)
        require(pos > last,
          s"DV blob positions not strictly ascending: $pos after $last " +
            "(non-conformant RoaringBitmapArray serialization)")
        last = pos
        out += pos
      }
    }
    out.result()
  }

  private val SERIAL_COOKIE_NO_RUN = 12346
  private val SERIAL_COOKIE = 12347
  private val NO_OFFSET_THRESHOLD = 4

  /** One 32-bit roaring bitmap in CONTAINER form: `keys16(i)` is the
    * container key, `containers(i)` one of
    *  - `Array[Char]`  — sorted array container (chars = unsigned 16-bit),
    *  - `Array[Long]`  — 1024-word bitset container,
    *  - `Array[Int]`   — run container, each `(start << 16) | len`, sorted.
    * Kept compressed so membership never materializes positions. */
  private def decodeContainers32(bb: ByteBuffer): (Array[Int], Array[AnyRef]) = {
    val cookie = bb.getInt
    val (nContainers, runBitmap): (Int, Array[Byte]) =
      if ((cookie & 0xFFFF) == SERIAL_COOKIE) {
        val n = (cookie >>> 16) + 1
        val bytes = new Array[Byte]((n + 7) / 8)
        bb.get(bytes)
        (n, bytes)
      } else if (cookie == SERIAL_COOKIE_NO_RUN) {
        (bb.getInt, null)
      } else throw new IllegalArgumentException(s"Bad roaring cookie: $cookie")

    def isRun(i: Int): Boolean =
      runBitmap != null && ((runBitmap(i / 8) & (1 << (i % 8))) != 0)

    val keys = new Array[Int](nContainers)
    val cards = new Array[Int](nContainers)
    (0 until nContainers).foreach { i =>
      keys(i) = bb.getShort & 0xFFFF
      cards(i) = (bb.getShort & 0xFFFF) + 1
    }
    // offset header present for no-run cookie or many containers
    if (runBitmap == null || nContainers >= NO_OFFSET_THRESHOLD)
      (0 until nContainers).foreach(_ => bb.getInt)

    val containers = new Array[AnyRef](nContainers)
    (0 until nContainers).foreach { i =>
      if (isRun(i)) {
        val nRuns = bb.getShort & 0xFFFF
        val runs = new Array[Int](nRuns)
        var j = 0
        while (j < nRuns) {
          val start = bb.getShort & 0xFFFF
          val len = bb.getShort & 0xFFFF
          runs(j) = (start << 16) | len
          j += 1
        }
        containers(i) = runs
      } else if (cards(i) > 4096) { // bitset container: 1024 × int64
        val words = new Array[Long](1024)
        var w = 0
        while (w < 1024) { words(w) = bb.getLong; w += 1 }
        containers(i) = words
      } else {
        val arr = new Array[Char](cards(i))
        var j = 0
        while (j < arr.length) { arr(j) = (bb.getShort & 0xFFFF).toChar; j += 1 }
        containers(i) = arr
      }
    }
    // within-container conformance, validated HERE so the membership path
    // inherits the same refusal the flatten path gets from its ascending-
    // positions require: binary search over an unsorted array container or
    // unsorted/overlapping runs would silently answer false for genuinely
    // deleted positions — resurrected rows, the exact fail-open this
    // module's contract forbids
    (0 until nContainers).foreach { i =>
      containers(i) match {
        case arr: Array[Char] =>
          var j = 1
          while (j < arr.length) {
            require(arr(j) > arr(j - 1),
              s"DV blob array container ${keys(i)} not strictly ascending " +
                s"(non-conformant RoaringBitmapArray serialization)")
            j += 1
          }
        case runs: Array[Int] =>
          var prevEnd = -1
          runs.foreach { r =>
            val start = r >>> 16; val end = start + (r & 0xFFFF)
            require(start > prevEnd && end <= 0xFFFF,
              s"DV blob run container ${keys(i)} unsorted/overlapping/" +
                s"overflowing (run $start..$end after $prevEnd)")
            prevEnd = end
          }
        case _ => // bitset containers carry no ordering to violate
      }
    }
    (keys, containers)
  }

  /** Decode one standard-format 32-bit roaring bitmap from `bb` (LE),
    * advancing the buffer. Returns unsigned int values as Ints. */
  private def decodeRoaring32(bb: ByteBuffer): Array[Int] = {
    val (keys, containers) = decodeContainers32(bb)
    val out = Array.newBuilder[Int]
    keys.indices.foreach { i =>
      val base = keys(i) << 16
      containers(i) match {
        case runs: Array[Int] => runs.foreach { r =>
          val start = r >>> 16; val len = r & 0xFFFF
          (start to start + len).foreach(v => out += (base | v))
        }
        case words: Array[Long] => words.indices.foreach { w =>
          var word = words(w)
          while (word != 0) {
            val bit = java.lang.Long.numberOfTrailingZeros(word)
            out += (base | (w * 64 + bit))
            word &= word - 1
          }
        }
        case arr: Array[Char] => arr.foreach(v => out += (base | v.toInt))
      }
    }
    out.result()
  }

  /** Membership over the CONTAINER form — the scan-predicate working set
    * stays roaring-compressed (an array container costs 2 bytes/position
    * instead of the 8 of a flattened Array[Long]; bitset containers 8 KB
    * per dense 65 536-range; run containers O(runs)). A 50M-row mask that
    * flattened to 400 MB of long[] PER TASK stays at its compressed size. */
  final class RoaringMembership private[DeletionVectors] (
      containerKeys: Array[Long], // (high32 << 16) | key16, sorted == pos >>> 16
      containers: Array[AnyRef]) extends Serializable {

    def contains(pos: Long): Boolean = {
      val idx = java.util.Arrays.binarySearch(containerKeys, pos >>> 16)
      if (idx < 0) return false
      val low = (pos & 0xFFFFL).toInt
      containers(idx) match {
        case arr: Array[Char] =>
          java.util.Arrays.binarySearch(arr, low.toChar) >= 0
        case words: Array[Long] =>
          ((words(low >>> 6) >>> (low & 63)) & 1L) == 1L
        case runs: Array[Int] =>
          // find the last run with start <= low
          var lo = 0; var hi = runs.length - 1; var cand = -1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if ((runs(mid) >>> 16) <= low) { cand = mid; lo = mid + 1 }
            else hi = mid - 1
          }
          cand >= 0 && low <= (runs(cand) >>> 16) + (runs(cand) & 0xFFFF)
      }
    }
  }

  /** Decode a portable RoaringBitmapArray blob into its membership form
    * (container keys validated ascending — binary search relies on it). */
  def decodeRoaringMembership(data: Array[Byte]): RoaringMembership = {
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == MAGIC, s"Bad DV magic: $magic")
    val nBitmaps = bb.getLong
    val keyB = Array.newBuilder[Long]
    val conB = Array.newBuilder[AnyRef]
    var lastKey = Long.MinValue
    (0L until nBitmaps).foreach { _ =>
      val high = bb.getInt.toLong
      val (keys, containers) = decodeContainers32(bb)
      keys.indices.foreach { i =>
        val gk = (high << 16) | keys(i).toLong
        require(gk > lastKey,
          s"DV blob container keys not strictly ascending: $gk after $lastKey")
        lastKey = gk
        keyB += gk
        conB += containers(i)
      }
    }
    new RoaringMembership(keyB.result(), conB.result())
  }

  // ---- writer (fixtures/tests; array + bitset containers, no runs) ----

  /** Serialize sorted row indexes as magic-prefixed RoaringBitmapArray
    * (portable format: each present high-32 key prefixes its bitmap — the
    * layout delta-spark reads; sparse highs are simply absent). */
  def encodeRoaringArray(values: Array[Long]): Array[Byte] = {
    val byHigh = values.sorted.groupBy(_ >>> 32).toSeq.sortBy(_._1)
    val parts = byHigh.map { case (h, vs) =>
      (h, serializeRoaring32(vs.map(v => (v & 0xFFFFFFFFL).toInt)))
    }
    val total = 4 + 8 + parts.map(4 + _._2.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(MAGIC)
    bb.putLong(parts.size.toLong)
    parts.foreach { case (h, p) => bb.putInt(h.toInt); bb.put(p) }
    bb.array()
  }

  private def serializeRoaring32(values: Array[Int]): Array[Byte] = {
    val byKey = values.groupBy(v => v >>> 16).toSeq.sortBy(_._1)
    val n = byKey.size
    val containers = byKey.map { case (_, vs) =>
      if (vs.length > 4096) { // bitset
        val words = new Array[Long](1024)
        vs.foreach { v => val low = v & 0xFFFF; words(low / 64) |= (1L << (low % 64)) }
        val b = ByteBuffer.allocate(8192).order(ByteOrder.LITTLE_ENDIAN)
        words.foreach(b.putLong)
        b.array()
      } else {
        val b = ByteBuffer.allocate(vs.length * 2).order(ByteOrder.LITTLE_ENDIAN)
        vs.foreach(v => b.putShort((v & 0xFFFF).toShort))
        b.array()
      }
    }
    val size = 4 + 4 + n * 4 + n * 4 + containers.map(_.length).sum
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(SERIAL_COOKIE_NO_RUN)
    bb.putInt(n)
    byKey.foreach { case (k, vs) =>
      bb.putShort((k & 0xFFFF).toShort)
      bb.putShort(((vs.length - 1) & 0xFFFF).toShort)
    }
    var off = 4 + 4 + n * 4 + n * 4
    containers.foreach { c => bb.putInt(off); off += c.length }
    containers.foreach(bb.put)
    bb.array()
  }

  /** Write a DV file (version byte + one entry) and return its descriptor
    * (storageType `u`) — the write half of DV-based DELETE
    * ([[graft.ops.DvWriter]]) and the fixture builder for tests. */
  def writeDvFile(tablePath: Path, values: Array[Long],
                  conf: org.apache.hadoop.conf.Configuration): DeletionVectorDescriptor = {
    val data = encodeRoaringArray(values)
    val uuid = java.util.UUID.randomUUID()
    val bb = ByteBuffer.allocate(16)
    bb.putLong(uuid.getMostSignificantBits)
    bb.putLong(uuid.getLeastSignificantBits)
    val z85uuid = bytesToZ85(bb.array())
    val p = new Path(tablePath, s"deletion_vector_$uuid.bin")
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try {
      out.writeByte(1) // format version
      out.writeInt(data.length) // BE
      out.write(data)
      val crc = new CRC32; crc.update(data)
      out.writeInt(crc.getValue.toInt) // BE
    } finally out.close()
    DeletionVectorDescriptor("u", z85uuid, Some(1), data.length, values.length.toLong)
  }
}
