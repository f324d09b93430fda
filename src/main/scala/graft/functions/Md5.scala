package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** The engine's one md5, and the readings of it the hash contract uses.
  *
  * DuckDB's `md5()` is the reference's only hash, so every native
  * function that must match the oracle bit for bit reads the same
  * digest the same ways: raw bytes, lowercase hex (what `md5()` returns),
  * and a big-endian unsigned 32-bit word = the 8 hex digits at byte
  * offset `off` parsed base-16 (`substr(md5(s), 2·off+1, 8)` as an
  * integer).
  *
  * One digest per thread (`MessageDigest` is not thread-safe, and
  * `getInstance` per token would dominate the hot loops). A loop over a
  * row's tokens fetches it once with [[digest]] and calls its
  * `digest(bytes)` per token; `digest` resets the instance after each
  * result.
  */
object Md5 {
  private val local = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  private val HexDigits = "0123456789abcdef".toCharArray

  /** This thread's digest, reset. Do not hold it across a call to
    * [[bytes]], [[hex]] or `word32(String)`, which reuse it. */
  def digest(): MessageDigest = {
    val md = local.get()
    md.reset()
    md
  }

  def bytes(in: Array[Byte]): Array[Byte] = digest().digest(in)

  /** Lowercase hex of md5(in) — DuckDB's `md5()` text. */
  def hex(in: Array[Byte]): String = {
    val d = bytes(in)
    val cs = new Array[Char](2 * d.length)
    var i = 0
    while (i < d.length) {
      cs(2 * i) = HexDigits((d(i) >> 4) & 0xF)
      cs(2 * i + 1) = HexDigits(d(i) & 0xF)
      i += 1
    }
    new String(cs)
  }

  def hex(s: String): String = hex(s.getBytes(UTF_8))

  /** Big-endian unsigned 32-bit word of digest `d` at byte `off`. */
  def word32(d: Array[Byte], off: Int): Long =
    ((d(off) & 0xFFL) << 24) | ((d(off + 1) & 0xFFL) << 16) |
      ((d(off + 2) & 0xFFL) << 8) | (d(off + 3) & 0xFFL)

  /** The first 8 hex digits of md5(s) as an unsigned integer. */
  def word32(s: String): Long = word32(bytes(s.getBytes(UTF_8)), 0)

  /** A 32-bit word as the 8 lowercase hex digits it was read from. */
  def hex32(v: Long): String = {
    val cs = new Array[Char](8)
    var j = 0
    while (j < 8) {
      cs(j) = HexDigits(((v >>> (28 - 4 * j)) & 0xF).toInt)
      j += 1
    }
    new String(cs)
  }
}
