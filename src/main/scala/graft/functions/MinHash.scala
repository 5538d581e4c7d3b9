package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass MinHash signature computation over a PORTABLE hash spec.
  *
  * The spec is deliberately reproducible from plain SQL in any engine
  * with an md5 function (the driver's DuckDB oracle recomputes it):
  *
  *  - tokens   = the shared Unicode token spec of [[Tokens]] over the
  *               lowercased text: Han/Hiragana/Katakana chars as
  *               single-char tokens, other letter/digit runs as words
  *               (DuckDB side: regexp_extract_all with
  *               [[Tokens.TokenPatternRe2]])
  *  - shingles = k-token runs joined by a single space (one shingle of all
  *               tokens when fewer than k)
  *  - base(s)  = first 15 hex chars of md5(shingle) as a 60-bit integer
  *  - h_i(s)   = (a_i * base + b_i) mod (2^61 - 1), with (a_i, b_i) from
  *               splitmix64 (see [[coeffA]]/[[coeffB]])
  *  - sig[i]   = min over shingles of h_i
  *
  * The declarative (`transform`/`array_min`) formulation would re-run the
  * tokenizer inside interpreted lambdas — this expression does one
  * tokenize pass, one md5 per shingle, and numHashes modular-affine
  * minima, inside whole-stage codegen.
  */
object MinHashFunctions {

  /** Mersenne prime modulus of the universal-hash family. */
  val M61: Long = (1L << 61) - 1

  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Multiplier of hash i: in [1, M61-1]. */
  def coeffA(i: Int): Long =
    java.lang.Long.remainderUnsigned(splitmix64(2L * i), M61 - 1) + 1

  /** Offset of hash i: in [0, M61-1]. */
  def coeffB(i: Int): Long =
    java.lang.Long.remainderUnsigned(splitmix64(2L * i + 1), M61)

  /** (a * b) mod M61 for a, b < 2^61 without overflow: split the 122-bit
    * product at bit 61; x mod (2^61-1) = (hi + lo) mod (2^61-1).
    */
  @inline private def mulModM61(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var s = (lo & M61) + ((hi << 3) | (lo >>> 61))
    while (s >= M61) s -= M61
    s
  }

  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  private def coeffs(n: Int): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent(n, k =>
      (Array.tabulate(k)(coeffA), Array.tabulate(k)(coeffB)))

  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** First 60 bits of md5(s): equals parsing the first 15 hex chars. */
  def md5Base60(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var be = 0L
    var i = 0
    while (i < 8) { be = (be << 8) | (d(i) & 0xFFL); i += 1 }
    be >>> 4
  }

  /** MinHash signature of lowercased Unicode-token `k`-shingles (token
    * spec: [[Tokens]]).
    */
  def minhashSignature(u: UTF8String, numHashes: Int, k: Int): ArrayData = {
    val text = u.toString.toLowerCase(java.util.Locale.ROOT)
    val chars = text.toCharArray
    val spans = Tokens.tokenSpans(chars)
    val nWords = spans.size
    val nShingles = math.max(1, nWords - k + 1)
    val (as, bs) = coeffs(numHashes)

    val mins = Array.fill(numHashes)(Long.MaxValue)
    val sb = new java.lang.StringBuilder(64)
    var s = 0
    while (s < nShingles) {
      sb.setLength(0)
      var w = s
      val wEnd = math.min(s + k, nWords)
      while (w < wEnd) {
        if (w > s) sb.append(' ')
        sb.append(chars, spans.starts(w), spans.ends(w) - spans.starts(w))
        w += 1
      }
      val base = md5Base60(sb.toString)
      var j = 0
      while (j < numHashes) {
        var v = mulModM61(as(j), base) + bs(j)
        if (v >= M61) v -= M61
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      s += 1
    }
    new GenericArrayData(mins.map(l => l: Any))
  }
}

object MinHash {
  /** Column API (uses the registered function; see GraftFunctions). */
  def signature(text: Column, numHashes: Int = 64, k: Int = 3): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_minhash_signature", text, lit(numHashes), lit(k))
  }
}
