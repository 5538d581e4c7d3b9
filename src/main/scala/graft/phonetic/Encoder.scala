package graft.phonetic

/** A phonetic algorithm: deterministic, total transform of a string into a
  * phonetic code used as a record-linkage blocking key.
  *
  * Mirrors the reference API surface (`/root/reference/src/lib.rs:180-232`):
  * every algorithm provides `encode`, and `isEncodedEquals` defaults to
  * equality of the codes (MatchRatingApproach overrides it with a rating
  * procedure).
  */
trait PhoneticEncoder extends Serializable {
  def encode(s: String): String

  def isEncodedEquals(first: String, second: String): Boolean =
    encode(first) == encode(second)
}

/** Soundex-family addition: positional overlap count of the two encodings
  * (`/root/reference/src/lib.rs:248-311`). 0 = no similarity; for 4-char
  * Soundex max is 4; RefinedSoundex difference can exceed 4.
  */
trait SoundexCommons extends PhoneticEncoder {
  def difference(value1: String, value2: String): Int = {
    val a = encode(value1)
    val b = encode(value2)
    if (a.isEmpty || b.isEmpty) 0
    else {
      var i = 0
      var n = 0
      val len = math.min(a.length, b.length)
      while (i < len) {
        if (a.charAt(i) == b.charAt(i)) n += 1
        i += 1
      }
      n
    }
  }
}

private[phonetic] object SoundexUtils {
  /** Keep alphabetic chars only, uppercased (`/root/reference/src/lib.rs:234-242`).
    * Uppercasing is per code point, as Rust's `char::to_uppercase`, which
    * yields a sequence: [[CaseFold.appendUpper]] writes one char for an
    * ASCII letter and the full mapping otherwise (ß→SS), into one builder.
    */
  def soundexClean(value: String): String = {
    val sb = new java.lang.StringBuilder(value.length)
    var i = 0
    while (i < value.length) {
      val c = value.charAt(i)
      if (c < 0x80) {
        if (c >= 'a' && c <= 'z') sb.append((c - 32).toChar)
        else if (c >= 'A' && c <= 'Z') sb.append(c)
        i += 1
      } else {
        val cp = value.codePointAt(i)
        if (Character.isLetter(cp)) CaseFold.appendUpper(sb, cp)
        i += Character.charCount(cp)
      }
    }
    sb.toString
  }
}

/** Case mapping per code point with exactly the results of
  * `String.toUpperCase(Locale.ROOT)`, without its per-call copy. The root
  * locale maps each code point independently, and a code point's full
  * uppercase is `Character.toUpperCase` unless it expands to several chars
  * (102 BMP code points: ß, ŉ, ﬁ, ᾳ, ...). Those are found once per JVM
  * and take the String path.
  */
private[phonetic] object CaseFold {
  private val upperExpanding: java.util.BitSet = {
    val b = new java.util.BitSet(0x10000)
    var c = 0x80
    while (c < 0x10000) {
      if (String.valueOf(c.toChar).toUpperCase(java.util.Locale.ROOT).length != 1)
        b.set(c)
      c += 1
    }
    b
  }

  /** Whether `cp`'s uppercase is several chars; only BMP ones are. */
  def upperExpands(cp: Int): Boolean = cp < 0x10000 && upperExpanding.get(cp)

  /** Appends the full uppercase of code point `cp`. */
  def appendUpper(sb: java.lang.StringBuilder, cp: Int): Unit =
    if (cp < 0x80) sb.append((if (cp >= 'a' && cp <= 'z') cp - 32 else cp).toChar)
    else if (upperExpands(cp))
      sb.append(String.valueOf(cp.toChar).toUpperCase(java.util.Locale.ROOT))
    else sb.appendCodePoint(Character.toUpperCase(cp))

  def isAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length && s.charAt(i) < 0x80) i += 1
    i == s.length
  }
}

/** A reusable char buffer holding a string uppercased as by
  * `toUpperCase(Locale.ROOT)`, for encoders that scan the uppercase word
  * by index: loading it copies no String.
  */
private[phonetic] final class UpperChars {
  var chars = new Array[Char](32)
  var length = 0

  private def ensure(n: Int): Unit =
    if (chars.length < n) chars = java.util.Arrays.copyOf(chars, math.max(n, 2 * chars.length))

  def load(s: String): this.type = {
    length = 0
    ensure(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x80) {
        chars(length) = if (c >= 'a' && c <= 'z') (c - 32).toChar else c
        length += 1
        i += 1
      } else {
        val cp = s.codePointAt(i)
        if (CaseFold.upperExpands(cp)) {
          val u = String.valueOf(cp.toChar).toUpperCase(java.util.Locale.ROOT)
          ensure(length + u.length + s.length - i)
          u.getChars(0, u.length, chars, length)
          length += u.length
        } else length += Character.toChars(Character.toUpperCase(cp), chars, length)
        i += Character.charCount(cp)
      }
    }
    this
  }

  /** Drops the first char. */
  def dropFirst(): Unit = {
    System.arraycopy(chars, 1, chars, 0, length - 1)
    length -= 1
  }
}
