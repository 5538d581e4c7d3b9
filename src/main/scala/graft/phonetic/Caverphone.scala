package graft.phonetic

/** The rewrite buffer both Caverphones run their chains on: the lowercase
  * letters of the input, rewritten in place. Every rewrite of the chains
  * keeps the text's length or shortens it, so each is one left-to-right
  * pass that writes behind where it reads, with `String.replace`'s
  * semantics (non-overlapping, left to right, replacements not rescanned).
  * One buffer per thread; a call allocates only its code.
  */
private[phonetic] final class CaverphoneText {
  private var chars = new Array[Char](32)
  private var len = 0

  /** Load the chars of `s.toLowerCase(Locale.ROOT)` for which
    * `Character.isLowerCase` holds (ref: helper.rs:70-75). Case mapping is
    * per code point; only a capital sigma's lowercase depends on its
    * context (final ς), so a string with one takes the String path.
    */
  def load(s: String): this.type = {
    len = 0
    if (chars.length < s.length) chars = new Array[Char](math.max(s.length, 2 * chars.length))
    if (s.indexOf('\u03A3') >= 0) {
      val lower = s.toLowerCase(java.util.Locale.ROOT)
      var i = 0
      while (i < lower.length) { keepIfLower(lower.charAt(i)); i += 1 }
    } else {
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c < 0x80) {
          if (c >= 'a' && c <= 'z') keepIfLower(c)
          else if (c >= 'A' && c <= 'Z') keepIfLower((c + 32).toChar)
          i += 1
        } else {
          val cp = s.codePointAt(i)
          // İ lowercases to i + U+0307; the mark is not lowercase
          val lower = if (cp == 0x130) 'i'.toInt else Character.toLowerCase(cp)
          if (lower < 0x10000) keepIfLower(lower.toChar)
          i += Character.charCount(cp)
        }
      }
    }
    this
  }

  private def keepIfLower(c: Char): Unit =
    if (Character.isLowerCase(c)) {
      if (len == chars.length) chars = java.util.Arrays.copyOf(chars, 2 * len)
      chars(len) = c
      len += 1
    }

  private def matchesAt(i: Int, p: String): Boolean =
    i >= 0 && i + p.length <= len && {
      var k = 0
      while (k < p.length && chars(i + k) == p.charAt(k)) k += 1
      k == p.length
    }

  /** Writes `to` over `[at, at + cut)`, shifting the tail left. */
  private def splice(at: Int, cut: Int, to: String): Unit = {
    to.getChars(0, to.length, chars, at)
    System.arraycopy(chars, at + cut, chars, at + to.length, len - at - cut)
    len -= cut - to.length
  }

  def replaceStart(p: String, to: String): this.type = {
    if (matchesAt(0, p)) splice(0, p.length, to)
    this
  }

  def replaceEnd(p: String, to: String): this.type = {
    if (matchesAt(len - p.length, p)) splice(len - p.length, p.length, to)
    this
  }

  /** First index `>= from` where `p` matches, or -1. */
  private def find(p: String, from: Int): Int = {
    val first = p.charAt(0)
    var i = from
    while (i <= len - p.length && !(chars(i) == first && matchesAt(i, p))) i += 1
    if (i <= len - p.length) i else -1
  }

  /** `String.replace(p, to)`; `to` is never longer than `p`. */
  def replace(p: String, to: String): this.type = {
    var r = find(p, 0)
    if (r < 0) return this
    var w = r
    while (r < len) {
      if (matchesAt(r, p)) {
        to.getChars(0, to.length, chars, w)
        w += to.length
        r += p.length
      } else {
        chars(w) = chars(r)
        w += 1
        r += 1
      }
    }
    len = w
    this
  }

  def replace(c: Char, to: Char): this.type = {
    var i = 0
    while (i < len) { if (chars(i) == c) chars(i) = to; i += 1 }
    this
  }

  /** Collapse runs of chars from `set` into a single uppercase char
    * (ref: helper.rs:23-45).
    */
  def compactToUpper(set: String): this.type = {
    var previous: Char = 0
    var hasPrev = false
    var w = 0
    var r = 0
    while (r < len) {
      val ch = chars(r)
      if (set.indexOf(ch.toInt) >= 0) {
        if (!hasPrev || previous != ch) {
          chars(w) = Character.toUpperCase(ch)
          w += 1
          previous = ch
          hasPrev = true
        }
      } else {
        chars(w) = ch
        w += 1
        hasPrev = false
      }
      r += 1
    }
    len = w
    this
  }

  def vowelsTo3(): this.type = {
    var i = 0
    while (i < len) { if (CaverphoneText.isVowel(chars(i))) chars(i) = '3'; i += 1 }
    this
  }

  def firstVowelToA(): this.type = {
    if (len > 0 && CaverphoneText.isVowel(chars(0))) chars(0) = 'A'
    this
  }

  /** The text padded with `padding` and cut to its length. */
  def code(padding: String): String = {
    val n = padding.length
    if (len >= n) new String(chars, 0, n)
    else {
      padding.getChars(len, n, chars, len)
      new String(chars, 0, n)
    }
  }
}

private[phonetic] object CaverphoneText {
  def isVowel(c: Char): Boolean =
    c == 'a' || c == 'e' || c == 'i' || c == 'o' || c == 'u'

  private val perThread = ThreadLocal.withInitial(() => new CaverphoneText)

  def of(s: String): CaverphoneText = perThread.get().load(s)
}

/** Caverphone 1 and 2 (David Hood, University of Otago), commons-codec
  * semantics (ref: /root/reference/src/caverphone.rs:38-140 and :156-274).
  *
  * Both are ordered literal-rewrite chains — order-sensitive, ported
  * rule-for-rule. V1 emits exactly 6 chars, V2 exactly 10, '1'-padded.
  */
object Caverphone1 extends PhoneticEncoder {
  override def encode(s: String): String = {
    if (s.isEmpty) return "111111"
    val t = CaverphoneText.of(s)
    t.replaceStart("cough", "cou2f")
    t.replaceStart("rough", "rou2f")
    t.replaceStart("tough", "tou2f")
    t.replaceStart("enough", "enou2f")
    t.replaceStart("gn", "2n")
    t.replaceEnd("mb", "m2")
    t.replace("cq", "2q")
    t.replace("ci", "si").replace("ce", "se").replace("cy", "sy")
    t.replace("tch", "2ch")
    t.replace('c', 'k').replace('q', 'k').replace('x', 'k')
    t.replace('v', 'f')
    t.replace("dg", "2g")
    t.replace("tio", "sio").replace("tia", "sia")
    t.replace('d', 't')
    t.replace("ph", "fh")
    t.replace('b', 'p')
    t.replace("sh", "s2")
    t.replace('z', 's')
    t.firstVowelToA()
    t.vowelsTo3()
    t.replace("3gh3", "3kh3")
    t.replace("gh", "22")
    t.replace('g', 'k')
    t.compactToUpper("stpkfmn")
    t.replace("w3", "W3").replace("wy", "Wy")
    t.replace("wh3", "Wh3").replace("why", "Why")
    t.replace("w", "2")
    t.replaceStart("h", "A")
    t.replace("h", "2")
    t.replace("r3", "R3").replace("ry", "Ry").replace("r", "2")
    t.replace("l3", "L3").replace("ly", "Ly").replace("l", "2")
    t.replace("j", "y")
    t.replace("y3", "Y3").replace("y", "2")
    t.replace("2", "").replace("3", "")
    t.code("111111")
  }
}

object Caverphone2 extends PhoneticEncoder {
  override def encode(s: String): String = {
    if (s.isEmpty) return "1111111111"
    val t = CaverphoneText.of(s)
    t.replaceEnd("e", "")
    t.replaceStart("cough", "cou2f")
    t.replaceStart("rough", "rou2f")
    t.replaceStart("tough", "tou2f")
    t.replaceStart("enough", "enou2f")
    t.replaceStart("trough", "trou2f")
    t.replaceStart("gn", "2n")
    t.replaceEnd("mb", "m2")
    t.replace("cq", "2q")
    t.replace("ci", "si").replace("ce", "se").replace("cy", "sy")
    t.replace("tch", "2ch")
    t.replace('c', 'k').replace('q', 'k').replace('x', 'k')
    t.replace('v', 'f')
    t.replace("dg", "2g")
    t.replace("tio", "sio").replace("tia", "sia")
    t.replace('d', 't')
    t.replace("ph", "fh")
    t.replace('b', 'p')
    t.replace("sh", "s2")
    t.replace('z', 's')
    t.firstVowelToA()
    t.vowelsTo3()
    t.replace("j", "y")
    t.replaceStart("y3", "Y3")
    t.replaceStart("y", "A")
    t.replace("y", "3")
    t.replace("3gh3", "3kh3")
    t.replace("gh", "22")
    t.replace('g', 'k')
    t.compactToUpper("stpkfmn")
    t.replace("w3", "W3")
    t.replace("wh3", "Wh3")
    t.replaceEnd("w", "3")
    t.replace("w", "2")
    t.replaceStart("h", "A")
    t.replace("h", "2")
    t.replace("r3", "R3")
    t.replaceEnd("r", "3")
    t.replace("r", "2")
    t.replace("l3", "L3")
    t.replaceEnd("l", "3")
    t.replace("l", "2")
    t.replace("2", "")
    t.replaceEnd("3", "A")
    t.replace("3", "")
    t.code("1111111111")
  }
}
