package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** BUILT-IN-ONLY column forms of [[graft.dedup.Hashing.md5Lower64]]-
  * derived hashes (the q85 `bucketCol` hex-parse trick, generalized):
  * Spark's `md5` returns the lowercase hex digest, and each nibble is
  * recovered with `instr('0123456789abcdef', substring(hex, p, 1)) - 1`.
  *
  * NOT the hot-path form. The r10 measurement (PERF_NOTES.md
  * "Round-10 HLL hot-path hash") showed this 3–4× SLOWER than the Scala UDF it was
  * meant to replace — Spark's `Md5` expression instantiates a fresh
  * commons-codec MessageDigest per call and renders hex that this then
  * re-parses — and the native [[Md5LowerLong]] expression beats both.
  * Retained because it is the only formulation expressible in PURE
  * Spark SQL against a stock session (no extensions jar) — the same
  * role the oracle SQLs' `md5_number_lower` plays on the DuckDB side —
  * and Md5ColsSpec pins it bit-identical to the JVM hash.
  *
  * Bit layout (verified against DuckDB experimentally in Hashing's
  * scaladoc): `md5_number_lower` = little-endian uint64 of digest
  * bytes 8..15, i.e. byte 8 is the LEAST significant. Byte j of the
  * digest occupies 1-indexed hex chars 2j+1 and 2j+2. All assemblies
  * below are arranged so no intermediate exceeds Long.MaxValue — ANSI
  * mode is ON and an overflow would throw, not wrap.
  */
object Md5Cols {

  private val Hex = "0123456789abcdef"

  /** SQL fragment: value (0..15) of the 1-indexed `p`-th hex char. */
  private def nib(hx: String, p: Int): String =
    s"(instr('$Hex', substring($hx, $p, 1)) - 1)"

  /** SQL fragment: digest byte `j` (0-indexed, 0..255) as an INT. */
  private def byteJ(hx: String, j: Int): String =
    s"(${nib(hx, 2 * j + 1)} * 16 + ${nib(hx, 2 * j + 2)})"

  /** `md5Lower64(s) >>> 11` — the 53-bit hash family (HLL registers,
    * reproducible-shuffle keys). Low 11 bits dropped = byte 8 gone and
    * byte 9 halved three times; bytes 10..15 shift down 11 bits each,
    * i.e. weight 2^(8(j-8)-11). Max value < 2^53 — overflow-free.
    * `hx` must reference a lowercase-hex md5 digest column. */
  def lower53Expr(hx: String): String =
    s"CAST(${byteJ(hx, 9)} AS BIGINT) div 8" +
      s" + ${byteJ(hx, 10)} * 32L" +
      s" + ${byteJ(hx, 11)} * 8192L" +
      s" + ${byteJ(hx, 12)} * 2097152L" +
      s" + ${byteJ(hx, 13)} * 536870912L" +
      s" + ${byteJ(hx, 14)} * 137438953472L" +
      s" + ${byteJ(hx, 15)} * 35184372088832L"

  def lower53(hx: String): Column = expr(lower53Expr(hx))

  /** [[lower53]] with the digest bound ONCE via a single-element
    * higher-order `transform` — `inner` is hashed exactly one time per
    * row even after projection collapse inlines the expression 14
    * ways. Use on per-token hot paths where recomputing md5 per nibble
    * reference would dominate. */
  def lower53Bound(inner: String): Column = expr(
    s"transform(array(md5(cast(($inner) as binary))), hx -> ${lower53Expr("hx")})[0]")

  /** `md5Lower64(s) & Long.MaxValue` — the 63-bit KMV key hash: bytes
    * 8..14 at weight 2^(8(j-8)), byte 15 with its sign bit masked at
    * 2^56. Max = 2^63 - 1 exactly — overflow-free under ANSI. */
  def lower63(hx: String): Column = expr(
    s"${byteJ(hx, 8)} + ${byteJ(hx, 9)} * 256L" +
      s" + ${byteJ(hx, 10)} * 65536L" +
      s" + ${byteJ(hx, 11)} * 16777216L" +
      s" + ${byteJ(hx, 12)} * 4294967296L" +
      s" + ${byteJ(hx, 13)} * 1099511627776L" +
      s" + ${byteJ(hx, 14)} * 281474976710656L" +
      s" + (${byteJ(hx, 15)} % 128) * 72057594037927936L")

  /** `md5Lower64(s) & (2^bits - 1)` for bits ≤ 16 — the count-min
    * bucket slice: byte 8 plus however much of byte 9 the width needs.
    * (Wider masks would just add bytes; the CMS width is 2^10.) */
  def lowBits(hx: String, bits: Int): Column = {
    require(bits >= 1 && bits <= 16, s"lowBits supports 1..16, got $bits")
    if (bits <= 8) expr(s"${byteJ(hx, 8)} % ${1 << bits}")
    else expr(s"${byteJ(hx, 8)} + (${byteJ(hx, 9)} % ${1 << (bits - 8)}) * 256")
  }
}
