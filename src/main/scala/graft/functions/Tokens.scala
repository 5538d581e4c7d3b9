package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** The shared PORTABLE Unicode token spec for MinHash / SimHash / text
  * analysis.
  *
  * Tokens over the lowercased text are:
  *  - each Han / Hiragana / Katakana codepoint as its OWN single-char token
  *    (the char-unigram fallback for unsegmented scripts: k-word shingling
  *    then operates over characters, so near-identical CJK documents still
  *    share most shingles while distinct ones don't), and
  *  - maximal runs of all other Unicode letters (`\p{L}`) and decimal
  *    digits (`\p{Nd}`) as word tokens (Cyrillic, Greek, Hangul, accented
  *    Latin ... are space-segmented scripts, so word runs are right there).
  *
  * The round-2 spec was ASCII `[a-z0-9]+`: any document with no ASCII
  * alphanumerics produced zero words, fell to the single empty shingle and
  * collided with EVERY other such document — a mass-false-near-dup data
  * loss hazard on a multilingual corpus. The reference is scrupulously
  * char-space aware by contrast (/root/reference/src/helper.rs:84-197);
  * this spec restores that discipline while staying recomputable from
  * plain SQL: [[TokenPatternRe2]] is the equivalent RE2 regex the driver's
  * DuckDB oracle runs, and [[TokenPatternJava]] the java.util.regex
  * equivalent the property suite cross-checks the scanner against.
  */
object Tokens {

  /** RE2 form (DuckDB `regexp_extract_all`): CJK single chars, then
    * letter/digit runs excluding CJK. `[^\P{L}\p{Han}...]` is "letter AND
    * not Han/Hiragana/Katakana" (RE2 has no class subtraction).
    */
  val TokenPatternRe2: String =
    "[\\p{Han}\\p{Hiragana}\\p{Katakana}]|" +
      "(?:[^\\P{L}\\p{Han}\\p{Hiragana}\\p{Katakana}]|\\p{Nd})+"

  /** java.util.regex form of the same pattern (scripts need the Is
    * prefix); used by tests to pin the hand-rolled scanner to the spec.
    */
  val TokenPatternJava: String =
    "[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}]|" +
      "(?:[^\\P{L}\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}]|\\p{Nd})+"

  /** Is the codepoint a single-char token (unsegmented-script char)? */
  @inline def isCjk(cp: Int): Boolean =
    cp >= 0x2E80 && { // cheapest pre-filter: all three scripts start at/after U+2E80
      val s = Character.UnicodeScript.of(cp)
      s == Character.UnicodeScript.HAN ||
      s == Character.UnicodeScript.HIRAGANA ||
      s == Character.UnicodeScript.KATAKANA
    }

  /** Parallel token start / end (exclusive) char offsets plus count — a
    * primitive-array span list, so shingle builders copy slices without
    * per-token String (or boxed Integer) allocation. Codepoint-aware:
    * supplementary-plane letters extend runs, supplementary Han ideographs
    * become 2-char single tokens.
    */
  final class Spans(capacityHint: Int) {
    var starts: Array[Int] = new Array[Int](math.max(8, capacityHint))
    var ends: Array[Int] = new Array[Int](starts.length)
    var size: Int = 0
    def add(s: Int, e: Int): Unit = {
      if (size == starts.length) {
        starts = java.util.Arrays.copyOf(starts, size * 2)
        ends = java.util.Arrays.copyOf(ends, size * 2)
      }
      starts(size) = s; ends(size) = e; size += 1
    }
  }

  /** Token spans over an already-lowercased char array. */
  def tokenSpans(chars: Array[Char]): Spans = {
    val spans = new Spans(chars.length / 6 + 4)
    var i = 0
    var runStart = -1
    @inline def closeRun(at: Int): Unit =
      if (runStart >= 0) { spans.add(runStart, at); runStart = -1 }
    while (i < chars.length) {
      val c = chars(i)
      if (c < 128) {
        // post-lowercase ASCII: word chars are exactly [a-z0-9]
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
          if (runStart < 0) runStart = i
        } else closeRun(i)
        i += 1
      } else {
        val cp =
          if (Character.isHighSurrogate(c) && i + 1 < chars.length &&
            Character.isLowSurrogate(chars(i + 1)))
            Character.toCodePoint(c, chars(i + 1))
          else c.toInt
        val w = Character.charCount(cp)
        if (isCjk(cp)) {
          closeRun(i)
          spans.add(i, i + w)
        } else if (Character.isLetter(cp) || Character.isDigit(cp)) {
          if (runStart < 0) runStart = i
        } else closeRun(i)
        i += w
      }
    }
    closeRun(chars.length)
    spans
  }

  /** Tokens of a raw (not yet lowercased) string — the scalar form of the
    * spec, shared by `graft_tokens` and the test suites.
    */
  def tokens(text: String): Array[String] = {
    val chars = text.toLowerCase(java.util.Locale.ROOT).toCharArray
    val spans = tokenSpans(chars)
    val out = new Array[String](spans.size)
    var i = 0
    while (i < out.length) {
      out(i) = new String(chars, spans.starts(i), spans.ends(i) - spans.starts(i))
      i += 1
    }
    out
  }

  /** Expression entry point (UTF8String in/out) for codegen. */
  def tokensArray(u: UTF8String): GenericArrayData =
    new GenericArrayData(
      tokens(u.toString).map(UTF8String.fromString(_): Any))
}
