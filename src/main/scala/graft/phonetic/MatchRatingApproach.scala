package graft.phonetic

/** Match Rating Approach codex (Western Airlines 1977), commons-codec
  * semantics (ref: /root/reference/src/match_rating_approach.rs:85-228).
  *
  * `encode`: uppercase; strip `-&'.,` + whitespace; fold 60 accented chars;
  * drop non-first vowels; collapse doubled consonants; if len>6 keep
  * first3+last3. `isEncodedEquals` overrides the default with the MRA
  * similarity-rating procedure (the pipeline's pairwise comparator).
  */
object MatchRatingApproach extends PhoneticEncoder {

  // Parallel accent-folding arrays (ref: match_rating_approach.rs:23-40).
  private val Unicode =
    "ÀàÈèÌìÒòÙù" +
      "ÁáÉéÍíÓóÚú" +
      "ÝýÂâÊêÎîÔô" +
      "ÛûŶŷÃãÕõÑñ" +
      "ÄäËëÏïÖöÜü" +
      "ŸÿÅåÇçŐőŰű"

  private val PlainAscii =
    "AaEeIiOoUuAaEeIiOoUuYyAaEeIiOoUuYyAaOoNnAaEeIiOoUuYyAaCcOoUu"

  private val CharsToTrim = "-&'.,"

  private def isTrimChar(c: Char): Boolean =
    CharsToTrim.indexOf(c.toInt) >= 0

  private def foldAccent(c: Char): Char = {
    val i = Unicode.indexOf(c.toInt)
    if (i >= 0) PlainAscii.charAt(i) else c
  }

  /** Code points of `value`, uppercased as `toUpperCase(Locale.ROOT)`
    * would, with `-&'.,` and whitespace dropped and accents folded; each
    * cleaned char is appended to `out`, or with `dropVowels` only those
    * that `removeVowels` keeps at their index in the cleaned sequence.
    * ASCII takes no case-mapping call; other code points go through
    * [[CaseFold.appendUpper]], whose output may be longer (ß → SS).
    */
  private def cleanInto(value: String, scratch: java.lang.StringBuilder,
      out: java.lang.StringBuilder, dropVowels: Boolean): Unit = {
    var n = 0
    var i = 0
    while (i < value.length) {
      val c = value.charAt(i)
      if (c < 0x80) {
        val u = if (c >= 'a' && c <= 'z') (c - 32).toChar else c
        if (!isTrimChar(u) && !Character.isWhitespace(u)) {
          if (!dropVowels || keptByRemoveVowels(u, n)) out.append(u)
          n += 1
        }
        i += 1
      } else {
        val cp = value.codePointAt(i)
        scratch.setLength(0)
        CaseFold.appendUpper(scratch, cp)
        var k = 0
        while (k < scratch.length) {
          val u = scratch.charAt(k)
          if (!isTrimChar(u) && !Character.isWhitespace(u)) {
            val f = foldAccent(u)
            if (!dropVowels || keptByRemoveVowels(f, n)) out.append(f)
            n += 1
          }
          k += 1
        }
        i += Character.charCount(cp)
      }
    }
  }

  private[phonetic] def cleanName(value: String): String = {
    val sb = new java.lang.StringBuilder(value.length)
    cleanInto(value, new java.lang.StringBuilder(4), sb, dropVowels = false)
    sb.toString
  }

  private def isVowel(c: Char): Boolean = {
    val lc = Character.toLowerCase(c)
    lc == 'a' || lc == 'e' || lc == 'i' || lc == 'o' || lc == 'u'
  }

  /** `removeVowels` keeps the char at index `i` of its input. */
  @inline private def keptByRemoveVowels(c: Char, i: Int): Boolean =
    (i == 0 || !isVowel(c)) && !isTrimChar(c) && !Character.isWhitespace(c)

  private[phonetic] def removeVowels(value: String): String = {
    val sb = new java.lang.StringBuilder(value.length)
    var i = 0
    while (i < value.length) {
      val c = value.charAt(i)
      if (keptByRemoveVowels(c, i)) sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Uppercases `in` (as `toUpperCase(Locale.ROOT)`) into `up`, then
    * writes it to `out` with every run of an identical non-vowel A-Z
    * letter collapsed pairwise: the 21 consonant pairs of
    * match_rating_approach.rs:42-64, where the reference's repeated
    * `String::replace("XX","X")` is non-overlapping, so "BBB" -> "BB".
    */
  private def collapseDoubles(in: java.lang.StringBuilder,
      up: java.lang.StringBuilder, out: java.lang.StringBuilder): Unit = {
    up.setLength(0)
    var i = 0
    while (i < in.length) {
      val cp = Character.codePointAt(in, i)
      CaseFold.appendUpper(up, cp)
      i += Character.charCount(cp)
    }
    out.setLength(0)
    i = 0
    while (i < up.length) {
      val c = up.charAt(i)
      out.append(c)
      if (c >= 'A' && c <= 'Z' && !isVowel(c) && i + 1 < up.length &&
          up.charAt(i + 1) == c) i += 1
      i += 1
    }
  }

  private[phonetic] def removeDoubleConsonants(value: String): String = {
    val out = new java.lang.StringBuilder(value.length)
    collapseDoubles(new java.lang.StringBuilder(value), new java.lang.StringBuilder, out)
    out.toString
  }

  private[phonetic] def firstThreeLastThree(value: String): String =
    if (value.length > 6)
      value.substring(0, 3) + value.substring(value.length - 3)
    else value

  private[phonetic] def minimumRating(sumLength: Int): Int =
    if (sumLength <= 4) 5
    else if (sumLength <= 7) 4
    else if (sumLength <= 11) 3
    else if (sumLength == 12) 2
    else 1

  /** Simultaneous left-to-right and right-to-left blanking of positionally
    * equal chars; rating = 6 - len(longer residue)
    * (ref: match_rating_approach.rs:150-185).
    */
  private[phonetic] def leftRightRating(name1: String, name2: String): Int = {
    val n1 = name1.toCharArray
    val n2 = name2.toCharArray
    val n1last = n1.length - 1
    val n2last = n2.length - 1
    var i = 0
    var break = false
    while (i < n1.length && !break) {
      if (i > n2last) break = true
      else {
        if (n1(i) == n2(i)) { n1(i) = ' '; n2(i) = ' ' }
        if (n1(n1last - i) == n2(n2last - i)) {
          n1(n1last - i) = ' '
          n2(n2last - i) = ' '
        }
        i += 1
      }
    }
    val r1 = n1.count(_ != ' ')
    val r2 = n2.count(_ != ' ')
    val longer = math.max(r1, r2)
    math.abs(6 - longer)
  }

  private def trimmedLenIsOne(s: String): Boolean = {
    // Reference checks the UTF-8 *byte* length == 1 (Rust &str::len).
    val t = s.trim
    t.length == 1 && t.charAt(0) < 0x80
  }

  /** Per-thread builders for [[encode]]: the case-mapping scratch, the
    * cleaned name without vowels, its uppercase, and the code.
    */
  private final class Workspace {
    val scratch = new java.lang.StringBuilder(4)
    val kept = new java.lang.StringBuilder(32)
    val up = new java.lang.StringBuilder(32)
    val code = new java.lang.StringBuilder(32)
  }
  private val workspace = ThreadLocal.withInitial(() => new Workspace)

  /** `firstThreeLastThree(removeDoubleConsonants(removeVowels(cleanName(value))))`
    * in one pass over `value` and one over the kept chars, on reused
    * builders: the only allocation is the code itself.
    */
  override def encode(value: String): String = {
    val t = value.trim
    if (t.isEmpty || trimmedLenIsOne(value)) return ""
    val ws = workspace.get()
    val kept = ws.kept
    kept.setLength(0)
    cleanInto(value, ws.scratch, kept, dropVowels = true)
    val code = ws.code
    collapseDoubles(kept, ws.up, code)
    // firstThreeLastThree
    if (code.length > 6) code.delete(3, code.length - 3)
    code.toString
  }

  override def isEncodedEquals(first: String, second: String): Boolean = {
    if (first.trim.isEmpty || second.trim.isEmpty) return false
    if (trimmedLenIsOne(first) || trimmedLenIsOne(second)) return false
    if (first == second) return true

    val name1 = encode(first)
    val name2 = encode(second)
    if (math.abs(name1.length - name2.length) >= 3) return false

    val minRating = minimumRating(name1.length + name2.length)
    leftRightRating(name1, name2) >= minRating
  }

  /** [[isEncodedEquals]] with pre-computed MRA codes: identical semantics
    * (raw-string guards first, then length guard, rating threshold on the
    * codes) but zero encode work — the streaming linkage state caches each
    * member's code so a comparison never re-encodes.
    */
  def isEncodedEqualsCoded(first: String, firstCode: String,
      second: String, secondCode: String): Boolean = {
    if (first.trim.isEmpty || second.trim.isEmpty) return false
    if (trimmedLenIsOne(first) || trimmedLenIsOne(second)) return false
    if (first == second) return true
    if (math.abs(firstCode.length - secondCode.length) >= 3) return false
    leftRightRating(firstCode, secondCode) >=
      minimumRating(firstCode.length + secondCode.length)
  }

  /** (rating, isMatch) with shared encodes — one pass for both features.
    * Semantics identical to [[rating]] + [[isEncodedEquals]]: guard
    * failures rate -1 and never match; identical raw strings always match
    * (ref: match_rating_approach.rs:211-213) but still rate normally.
    */
  def ratingAndMatch(first: String, second: String): (Int, Boolean) = {
    if (first.trim.isEmpty || second.trim.isEmpty) return (-1, false)
    if (trimmedLenIsOne(first) || trimmedLenIsOne(second)) return (-1, false)
    val name1 = encode(first)
    val name2 = encode(second)
    if (math.abs(name1.length - name2.length) >= 3)
      return (-1, first == second)
    val r = leftRightRating(name1, name2)
    (r, first == second || r >= minimumRating(name1.length + name2.length))
  }

  /** Rating as an Int feature for pair scoring (6 best, guard-failures -1). */
  def rating(first: String, second: String): Int = {
    if (first.trim.isEmpty || second.trim.isEmpty) return -1
    if (trimmedLenIsOne(first) || trimmedLenIsOne(second)) return -1
    val name1 = encode(first)
    val name2 = encode(second)
    if (math.abs(name1.length - name2.length) >= 3) return -1
    leftRightRating(name1, name2)
  }
}
