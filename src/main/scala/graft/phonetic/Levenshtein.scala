package graft.phonetic

import org.apache.spark.unsafe.types.UTF8String

/** Levenshtein distance over characters, equal to Spark's
  * `UTF8String.levenshteinDistance` (the built-in `levenshtein`), on
  * per-thread buffers: a call allocates nothing once the buffers have
  * grown to the longest input seen.
  *
  * Spark counts a character as the UTF-8 sequence whose length
  * `UTF8String.numBytesForFirstByte` gives its first byte, and two
  * characters are equal when their bytes are. Here each such sequence is
  * packed into one Int (its bytes, big-endian), so equal sequences give
  * equal Ints and the distance is the textbook two-row one over Ints.
  */
object Levenshtein {

  private final class Workspace {
    var a = new Array[Int](32)
    var b = new Array[Int](32)
    var prev = new Array[Int](33)
    var cur = new Array[Int](33)
  }
  private val workspace = ThreadLocal.withInitial(() => new Workspace)

  /** `a.levenshteinDistance(b)`. */
  def distance(a: UTF8String, b: UTF8String): Int = {
    val ws = workspace.get()
    val n = unitsOf(a, ws, first = true)
    val m = unitsOf(b, ws, first = false)
    distance(ws, n, m)
  }

  /** `UTF8String.fromString(a).levenshteinDistance(UTF8String.fromString(b))`
    * without the conversion: the characters are the code points, and a
    * lone surrogate is '?' as in the UTF-8 encoder.
    */
  def distance(a: String, b: String): Int = {
    val ws = workspace.get()
    val n = unitsOf(a, ws, first = true)
    val m = unitsOf(b, ws, first = false)
    distance(ws, n, m)
  }

  private def buffer(ws: Workspace, first: Boolean, n: Int): Array[Int] = {
    if (first) {
      if (ws.a.length < n) ws.a = new Array[Int](math.max(n, 2 * ws.a.length))
      ws.a
    } else {
      if (ws.b.length < n) ws.b = new Array[Int](math.max(n, 2 * ws.b.length))
      ws.b
    }
  }

  private def unitsOf(s: UTF8String, ws: Workspace, first: Boolean): Int = {
    val bytes = s.numBytes
    val out = buffer(ws, first, bytes)
    var n = 0
    var i = 0
    while (i < bytes) {
      val len = UTF8String.numBytesForFirstByte(s.getByte(i))
      val end = math.min(i + len, bytes)
      var packed = 0
      while (i < end) { packed = (packed << 8) | (s.getByte(i) & 0xFF); i += 1 }
      out(n) = packed
      n += 1
    }
    n
  }

  private def unitsOf(s: String, ws: Workspace, first: Boolean): Int = {
    val out = buffer(ws, first, s.length)
    var n = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out(n) = if (cp >= Character.MIN_SURROGATE && cp <= Character.MAX_SURROGATE) '?' else cp
      n += 1
      i += Character.charCount(cp)
    }
    n
  }

  private def distance(ws: Workspace, n0: Int, m0: Int): Int = {
    if (n0 == 0) return m0
    if (m0 == 0) return n0
    // the shorter sequence indexes the rows
    val swapped = n0 > m0
    val s = if (swapped) ws.b else ws.a
    val t = if (swapped) ws.a else ws.b
    val n = math.min(n0, m0)
    val m = math.max(n0, m0)
    if (ws.prev.length <= n) {
      ws.prev = new Array[Int](2 * (n + 1))
      ws.cur = new Array[Int](2 * (n + 1))
    }
    var p = ws.prev
    var d = ws.cur
    var i = 0
    while (i <= n) { p(i) = i; i += 1 }
    var j = 0
    while (j < m) {
      val tj = t(j)
      d(0) = j + 1
      i = 0
      while (i < n) {
        val cost = if (s(i) == tj) 0 else 1
        d(i + 1) = math.min(math.min(d(i) + 1, p(i + 1) + 1), p(i) + cost)
        i += 1
      }
      val swap = p; p = d; d = swap
      j += 1
    }
    p(n)
  }
}
