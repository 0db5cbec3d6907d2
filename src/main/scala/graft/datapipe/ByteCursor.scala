package graft.datapipe

import java.nio.charset.StandardCharsets.US_ASCII

/** A bounds-checked cursor over one untrusted payload: the byte layer
  * every binary walker in [[TrainingOps]] reads through, so none of them
  * re-derives integer assembly or bounds arithmetic inline.
  *
  *   - A NULL payload reads as empty, so a NULL cell walks to the same
  *     rows as an empty one.
  *   - Absolute reads (`u8`, `le`, `be`, `ascii`) take an offset and a
  *     width; sequential reads (`skip`, `varint`, `zigzag`) advance `pos`.
  *   - Offsets and widths are `Long`, and [[fits]] compares them without
  *     adding, so a declared length near 2^63 cannot wrap into a bogus
  *     in-bounds read.
  *   - A read past the end throws the preallocated, stackless
  *     [[ByteCursor.Truncated]]; each walker turns it into its own
  *     truncation verdict in one `catch`. A walker whose ladder puts
  *     another verdict ahead of truncation tests [[fits]] first.
  *
  * The companion holds the matching writers for the synthetic fixture
  * builders.
  */
final class ByteCursor(payload: Array[Byte]) {
  val bytes: Array[Byte] = if (payload == null) Array.emptyByteArray else payload
  val length: Int = bytes.length
  /** Position of the sequential reads. */
  var pos: Int = 0

  /** True when `k` bytes starting at `off` lie inside the payload. */
  def fits(off: Long, k: Long): Boolean = off >= 0 && k >= 0 && off <= length - k

  /** `off` as an index once `k` bytes there are known to fit. */
  def need(off: Long, k: Long): Int =
    if (fits(off, k)) off.toInt else throw ByteCursor.Truncated

  def u8(off: Long): Int = bytes(need(off, 1)) & 0xff

  /** Unsigned `k`-byte little-endian integer at `off` (k <= 8). */
  def le(off: Long, k: Int): Long = {
    val i = need(off, k)
    var v = 0L; var j = k - 1
    while (j >= 0) { v = (v << 8) | (bytes(i + j) & 0xffL); j -= 1 }
    v
  }

  /** Unsigned `k`-byte big-endian integer at `off` (k <= 8). */
  def be(off: Long, k: Int): Long = {
    val i = need(off, k)
    var v = 0L; var j = 0
    while (j < k) { v = (v << 8) | (bytes(i + j) & 0xffL); j += 1 }
    v
  }

  def ascii(off: Long, k: Int): String = new String(bytes, need(off, k), k, US_ASCII)

  /** The ASCII text of the `k`-byte field at `off`, up to its first NUL. */
  def asciiz(off: Long, k: Int): String = {
    val i = need(off, k)
    var e = i
    while (e < i + k && bytes(e) != 0) e += 1
    new String(bytes, i, e - i, US_ASCII)
  }

  /** True when the bytes at `off` spell `magic` (one char per byte);
    * false, never [[ByteCursor.Truncated]], when they would not fit.
    */
  def has(off: Long, magic: String): Boolean =
    fits(off, magic.length) && {
      var j = 0
      while (j < magic.length && bytes(off.toInt + j) == magic.charAt(j).toByte) j += 1
      j == magic.length
    }

  def skip(k: Long): Unit = pos = need(pos, k) + k.toInt

  /** LEB128 varint at `pos`: 7-bit groups, least significant first, the
    * high bit meaning "more". Ten groups hold 64 bits; an eleventh
    * throws [[ByteCursor.Overlong]].
    */
  def varint(): Long = {
    var v = 0L; var shift = 0
    while (true) {
      val g = u8(pos); pos += 1
      if (shift > 63) throw ByteCursor.Overlong
      v |= (g & 0x7fL) << shift
      if ((g & 0x80) == 0) return v
      shift += 7
    }
    v
  }

  /** Avro's signed long: a zigzag-folded [[varint]]. */
  def zigzag(): Long = { val z = varint(); (z >>> 1) ^ -(z & 1L) }
}

object ByteCursor {
  /** Stackless: walkers raise these per payload, as control flow. */
  final class Fault(what: String) extends RuntimeException(what, null, false, false)
  val Truncated = new Fault("read past the end of the payload")
  val Overlong = new Fault("varint longer than ten 7-bit groups")

  /** `v` as `k` little-endian bytes; past 8 bytes the sign repeats. */
  def le(v: Long, k: Int): Array[Byte] = {
    val b = new Array[Byte](k)
    var x = v; var i = 0
    while (i < k) { b(i) = x.toByte; x >>= 8; i += 1 }
    b
  }

  /** `v` as `k` big-endian bytes; past 8 bytes the sign repeats. */
  def be(v: Long, k: Int): Array[Byte] = le(v, k).reverse

  /** Overwrite `k` bytes at `off` with `v` in the given byte order. */
  def put(b: Array[Byte], off: Int, v: Long, k: Int, bigEndian: Boolean): Unit =
    System.arraycopy(if (bigEndian) be(v, k) else le(v, k), 0, b, off, k)

  /** `v` as a LEB128 varint (unsigned: a negative `v` takes ten groups). */
  def varint(v: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(10)
    var x = v
    while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
    out.write(x.toInt)
    out.toByteArray
  }

  /** `v` as Avro's zigzag-folded varint. */
  def zigzag(v: Long): Array[Byte] = varint((v << 1) ^ (v >> 63))
}
