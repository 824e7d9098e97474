package graft.sources

import java.nio.ByteBuffer
import java.nio.ByteOrder.{BIG_ENDIAN, LITTLE_ENDIAN}

/** F14c: Delta Lake DELETION VECTORS — the modern Delta row-level
  * delete mechanism (delta.io PROTOCOL.md "Deletion Vectors"): an
  * `add` action may carry a `deletionVector` descriptor whose payload
  * is a 64-bit RoaringBitmapArray in the cross-language "portable"
  * format (RoaringFormatSpec): u64 LE bucket count, then per bucket a
  * u32 LE high-32-bits key and a standard 32-bit Roaring bitmap —
  * array, bitmap, AND run containers all honored, both cookie forms
  * (12346 no-run / 12347 with run-flag bitset). The house decoder
  * reads bytes the CANONICAL RoaringBitmap library writes (spec
  * cross-validated) — the JPEG-vs-JDK posture applied to a bitmap
  * codec.
  *
  * Storage forms honored: `u` (z85-encoded UUID →
  * `deletion_vector_<uuid>.bin` under the table root, the production
  * form), `p` (absolute path), `i` (inline: z85 of magic+bitmap).
  * On-disk DV files: 1-byte version (1), then one or more DVs back to
  * back, each at its descriptor's `offset`: a BE i32 dataSize, the
  * data (LE i32 magic 1681511377 + portable bitmap), then a BE i32
  * CRC-32 of the data — size, magic, and checksum all
  * verified loudly (stated interpretation of the wrapper; the BITMAP
  * bytes themselves are pinned against the canonical library).
  *
  * WRITE path (r10): [[encodePortable64]] is the house encoder of the
  * same portable format (no-run form — byte-identical to the canonical
  * library's own no-run serialization, spec-pinned), consumed by
  * `DeltaLog.markDeleted` — the one DV write step behind
  * `DeltaLog.deleteWithDv` and merge-on-read `DeltaWrite.merge` — to
  * mark rows deleted instead of rewriting files.
  */
object DeletionVectors {

  val Magic = 1681511377

  private val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      ".-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Rev: Array[Int] = {
    val r = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => r(c.toInt) = i }
    r
  }

  /** Z85 decode (ZeroMQ spec 32/Z85): 5 chars → 4 bytes, big-endian. */
  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"z85 length ${s.length} not a multiple of 5")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Rev(c.toInt) else -1
        require(d >= 0, s"invalid z85 character '$c'")
        v = v * 85 + d
        j += 1
      }
      val o = i / 5 * 4
      out(o) = (v >>> 24).toByte; out(o + 1) = (v >>> 16).toByte
      out(o + 2) = (v >>> 8).toByte; out(o + 3) = v.toByte
      i += 5
    }
    out
  }

  /** Z85 encode — the writer side of [[z85Decode]]. */
  def z85Encode(b: Array[Byte]): String = {
    require(b.length % 4 == 0, s"z85 input ${b.length} not a multiple of 4")
    val sb = new StringBuilder(b.length / 4 * 5)
    var i = 0
    while (i < b.length) {
      var v = ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
        ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
      val chunk = new Array[Char](5)
      var j = 4
      while (j >= 0) { chunk(j) = Z85Alphabet((v % 85).toInt); v /= 85; j -= 1 }
      sb.appendAll(chunk)
      i += 4
    }
    sb.toString
  }

  /** UUID for a `u` descriptor's z85 payload (16 bytes → canonical). */
  def z85Uuid(payload: String): java.util.UUID = {
    val b = z85Decode(payload)
    require(b.length == 16, s"uuid payload is ${b.length} bytes, want 16")
    val buf = ByteBuffer.wrap(b)
    new java.util.UUID(buf.getLong, buf.getLong)
  }

  /** Positions from portable 64-bit RoaringBitmapArray bytes. */
  def decodePortable64(b: Array[Byte]): Array[Long] = {
    val buf = ByteBuffer.wrap(b).order(LITTLE_ENDIAN)
    val nBuckets = buf.getLong
    require(nBuckets >= 0 && nBuckets <= (1 << 20),
      s"implausible bucket count $nBuckets")
    val out = Array.newBuilder[Long]
    var bk = 0L
    while (bk < nBuckets) {
      val high = (buf.getInt.toLong & 0xffffffffL) << 32
      decodeRoaring32(buf, v => out += (high | (v.toLong & 0xffffffffL)))
      bk += 1
    }
    out.result()
  }

  /** One standard 32-bit Roaring bitmap read off `buf` (little-endian,
    * positioned at the cookie); emits each value through `sink`.
    */
  private def decodeRoaring32(buf: ByteBuffer, sink: Int => Unit): Unit = {
    val cookie = buf.getInt
    val hasRun = (cookie & 0xffff) == 12347
    val size =
      if (hasRun) (cookie >>> 16) + 1
      else {
        require(cookie == 12346, s"bad roaring cookie $cookie")
        buf.getInt
      }
    require(size >= 0 && size <= 65536, s"implausible container count $size")
    val runFlags =
      if (hasRun) {
        val fb = new Array[Byte]((size + 7) / 8)
        buf.get(fb)
        fb
      } else null
    def isRun(i: Int): Boolean =
      runFlags != null && (runFlags(i / 8) & (1 << (i % 8))) != 0
    val keys = new Array[Int](size)
    val cards = new Array[Int](size)
    var i = 0
    while (i < size) {
      keys(i) = buf.getShort & 0xffff
      cards(i) = (buf.getShort & 0xffff) + 1
      i += 1
    }
    // offset headers present unless (run-format && size < 4)
    if (runFlags == null || size >= 4) buf.position(buf.position() + 4 * size)
    i = 0
    while (i < size) {
      val base = keys(i) << 16
      if (isRun(i)) {
        val nRuns = buf.getShort & 0xffff
        var r = 0
        while (r < nRuns) {
          val start = buf.getShort & 0xffff
          val len = buf.getShort & 0xffff
          var v = start
          while (v <= start + len) { sink(base | v); v += 1 }
          r += 1
        }
      } else if (cards(i) <= 4096) {
        var k = 0
        while (k < cards(i)) { sink(base | (buf.getShort & 0xffff)); k += 1 }
      } else {
        // bitmap container: 1024 u64 words
        var w = 0
        while (w < 1024) {
          var word = buf.getLong
          val wordBase = base | (w << 6)
          while (word != 0) {
            val bit = java.lang.Long.numberOfTrailingZeros(word)
            sink(wordBase | bit)
            word &= word - 1
          }
          w += 1
        }
      }
      i += 1
    }
  }

  /** One DV from a DV FILE's bytes at (offset, sizeInBytes): verifies
    * the version byte, the BE size, the LE magic, and the CRC-32.
    */
  def decodeAt(file: Array[Byte], offset: Int, sizeInBytes: Int): Array[Long] = {
    require(file.length >= 1 && file(0) == 1,
      s"DV file version ${if (file.length >= 1) file(0) else -1}, want 1")
    require(offset >= 1 && offset + 4 + sizeInBytes + 4 <= file.length,
      s"DV slot [$offset, +$sizeInBytes] outside file of ${file.length}")
    val sz = ByteBuffer.wrap(file, offset, 4).order(BIG_ENDIAN).getInt
    require(sz == sizeInBytes,
      s"DV dataSize $sz != descriptor sizeInBytes $sizeInBytes")
    val data = java.util.Arrays.copyOfRange(file, offset + 4, offset + 4 + sz)
    val crcStored = ByteBuffer.wrap(file, offset + 4 + sz, 4)
      .order(BIG_ENDIAN).getInt
    val crc = new java.util.zip.CRC32
    crc.update(data)
    require(crc.getValue.toInt == crcStored, "DV CRC-32 mismatch")
    decodeData(data)
  }

  /** magic + portable bitmap (a DV file slot's data, or an inline
    * payload after z85 decode).
    */
  def decodeData(data: Array[Byte]): Array[Long] = {
    require(data.length >= 4, "DV data truncated")
    val magic = ByteBuffer.wrap(data, 0, 4).order(LITTLE_ENDIAN).getInt
    require(magic == Magic, s"DV magic $magic, want $Magic")
    decodePortable64(java.util.Arrays.copyOfRange(data, 4, data.length))
  }

  /** ENCODE a sorted distinct position set as a portable 64-bit
    * RoaringBitmapArray (r10 — the DV WRITE path): u64 LE bucket
    * count, then per high-32-bits bucket a standard 32-bit Roaring
    * bitmap in the no-run-container form (cookie 12346; array
    * containers ≤ 4096 values, bitmap containers above — the encoder
    * never needs runs, and the canonical library reads both forms).
    * Inverse of [[decodePortable64]]; the spec pins the bytes against
    * the canonical RoaringBitmap library's own deserializer.
    */
  def encodePortable64(positions: Array[Long]): Array[Byte] = {
    var i = 1
    while (i < positions.length) {
      require(positions(i - 1) < positions(i),
        "positions must be sorted strictly ascending")
      i += 1
    }
    require(positions.isEmpty || positions.head >= 0, "negative position")
    // group by high 32 bits, preserving order
    val buckets = scala.collection.mutable.LinkedHashMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[Int]]
    positions.foreach { p =>
      buckets.getOrElseUpdate((p >>> 32).toInt,
        new scala.collection.mutable.ArrayBuffer[Int]) += (p & 0xffffffffL).toInt
    }
    val bos = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >>> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v); le16(v >>> 16) }
    def le64(v: Long): Unit = { le32(v.toInt); le32((v >>> 32).toInt) }
    le64(buckets.size.toLong)
    buckets.foreach { case (high, lows) =>
      le32(high)
      // one standard 32-bit roaring bitmap, no-run cookie form
      val containers = scala.collection.mutable.LinkedHashMap
        .empty[Int, scala.collection.mutable.ArrayBuffer[Int]]
      lows.foreach { v =>
        containers.getOrElseUpdate(v >>> 16,
          new scala.collection.mutable.ArrayBuffer[Int]) += (v & 0xffff)
      }
      val size = containers.size
      le32(12346) // SERIAL_COOKIE_NO_RUNCONTAINER
      le32(size)
      containers.foreach { case (key, vals) =>
        le16(key); le16(vals.size - 1)
      }
      // offset headers: byte position of each container's data counted
      // from the bitmap's cookie
      var at = 4 + 4 + 4 * size + 4 * size
      containers.foreach { case (_, vals) =>
        le32(at)
        at += (if (vals.size <= 4096) 2 * vals.size else 8192)
      }
      containers.foreach { case (_, vals) =>
        if (vals.size <= 4096) vals.foreach(le16)
        else {
          val words = new Array[Long](1024)
          vals.foreach(v => words(v >>> 6) |= (1L << (v & 63)))
          words.foreach(le64)
        }
      }
    }
    bos.toByteArray
  }

  /** Writer side (fixtures/tests): wrap portable-bitmap bytes as a
    * single-DV file — version byte, BE size, data, BE CRC-32. Returns
    * (fileBytes, offset, sizeInBytes) for the descriptor.
    */
  def dvFileBytes(bitmapPortable: Array[Byte]): (Array[Byte], Int, Int) = {
    val (file, Seq((offset, size))) = dvFileBytes(Seq(bitmapPortable))
    (file, offset, size)
  }

  /** Multi-DV form: one DV file holding every bitmap in turn (version
    * byte, then per DV its BE size, data and BE CRC-32). Returns the
    * file bytes and each DV's (offset, sizeInBytes).
    */
  def dvFileBytes(bitmaps: Seq[Array[Byte]]): (Array[Byte], Seq[(Int, Int)]) = {
    val datas = bitmaps.map(b => ByteBuffer.allocate(4 + b.length)
      .order(LITTLE_ENDIAN).putInt(Magic).put(b).array())
    val out = ByteBuffer.allocate(1 + datas.map(4 + _.length + 4).sum).order(BIG_ENDIAN)
    out.put(1.toByte)
    val slots = datas.map { data =>
      val crc = new java.util.zip.CRC32
      crc.update(data)
      val offset = out.position()
      out.putInt(data.length).put(data).putInt(crc.getValue.toInt)
      (offset, data.length)
    }
    (out.array(), slots)
  }
}
