package graft.phonetic.bm

import java.util.Locale

import scala.collection.immutable.SortedSet
import scala.collection.mutable

import graft.phonetic.PhoneticEncoder

/** Beider-Morse Phonetic Matching (BMPM), re-expressed from the behavior of
  * the reference (ref: /root/reference/src/beider_morse/, rphonetic v3.0.6,
  * itself a port of Apache commons-codec 1.15). Three phases:
  *
  *   1. language guessing: ordered accept/reject regex rules over the
  *      lowercased name intersect/subtract a language set
  *      (ref: src/beider_morse/lang.rs:44-64);
  *   2. main rules (`{name}_rules_{lang|any}`): per-position longest-defined
  *      (file-order, first match wins) pattern+context rewrite producing a
  *      phoneme *set* with per-phoneme language restrictions, capped at
  *      `maxPhonemes` (ref: src/beider_morse/engine.rs:84-121,:62-80);
  *   3. two final-rule passes (common, then language-specific exact|approx)
  *      re-encode each phoneme and merge language sets of textual duplicates
  *      (ref: src/beider_morse/engine.rs:134-184,:302-303).
  *
  * Rule tables are the Apache commons-codec 1.15 BM resource files, shipped
  * under `resources/bm/` and parsed once per JVM (see [[BmConfig]]) — the
  * Spark analogue of the reference's parse-once builder
  * (ref: src/beider_morse/mod.rs:168-199).
  */
sealed abstract class NameType(val code: String)
object NameType {
  case object Ashkenazi extends NameType("ash")
  case object Generic extends NameType("gen")
  case object Sephardic extends NameType("sep")
  val all: Seq[NameType] = Seq(Ashkenazi, Generic, Sephardic)
  def parse(s: String): NameType = all.find(_.code == s).getOrElse(
    throw new IllegalArgumentException(s"Unknown NameType $s"))
}

/** Exposed rule types; `rules` is internal (main-pass tables). */
sealed abstract class RuleType(val code: String)
object RuleType {
  case object Approx extends RuleType("approx")
  case object Exact extends RuleType("exact")
  def parse(s: String): RuleType =
    Seq(Approx, Exact).find(_.code == s).getOrElse(
      throw new IllegalArgumentException(s"Unknown RuleType $s"))
}

/** A set of candidate languages (ref: src/beider_morse/languages.rs:13-100).
  * `AnyLanguage` is the identity for restrict, `NoLanguages` the absorbing
  * element; an explicit empty `SomeLanguages` is also "empty" (it arises
  * from intersections).
  */
sealed trait LanguageSet {
  def isEmpty: Boolean
  def isSingleton: Boolean
  def restrictTo(other: LanguageSet): LanguageSet
  def merge(other: LanguageSet): LanguageSet
  def anyOf: Option[String]
}
object LanguageSet {
  case object AnyLanguage extends LanguageSet {
    def isEmpty = false
    def isSingleton = false
    def restrictTo(other: LanguageSet): LanguageSet = other match {
      case AnyLanguage => this
      case NoLanguages => other
      case _           => other
    }
    def merge(other: LanguageSet): LanguageSet = other match {
      case AnyLanguage => other
      case _           => this
    }
    def anyOf: Option[String] = None
  }
  case object NoLanguages extends LanguageSet {
    def isEmpty = true
    def isSingleton = false
    def restrictTo(other: LanguageSet): LanguageSet = other match {
      case AnyLanguage => this
      case NoLanguages => other
      case _           => this
    }
    def merge(other: LanguageSet): LanguageSet = other match {
      case AnyLanguage => other
      case NoLanguages => this
      case _           => other
    }
    def anyOf: Option[String] = None
  }
  final case class SomeLanguages(langs: SortedSet[String]) extends LanguageSet {
    def isEmpty: Boolean = langs.isEmpty
    def isSingleton: Boolean = langs.size == 1
    def restrictTo(other: LanguageSet): LanguageSet = other match {
      case AnyLanguage          => this
      case NoLanguages          => other
      case SomeLanguages(other2) => SomeLanguages(langs.intersect(other2))
    }
    def merge(other: LanguageSet): LanguageSet = other match {
      case AnyLanguage          => other
      case NoLanguages          => this
      case SomeLanguages(other2) => SomeLanguages(langs.union(other2))
    }
    def anyOf: Option[String] = langs.headOption
  }
  /** Mirrors Rust `From<Vec<&str>>`: always SomeLanguages. */
  def of(langs: Iterable[String]): LanguageSet =
    SomeLanguages(SortedSet.from(langs))
  /** Mirrors Rust `From<BTreeSet<String>>`: empty becomes NoLanguages. */
  def fromSet(langs: SortedSet[String]): LanguageSet =
    if (langs.isEmpty) NoLanguages else SomeLanguages(langs)
}

/** Global language-name interner: every language set inside the engine is
  * a Long bitmask (`&` = restrict, `|` = merge, 0 = no languages,
  * -1 = any). ~21 distinct languages exist across the three name types, so
  * 64 bits is ample; semantics match the reference's set algebra exactly
  * (restrict/merge/isEmpty table in src/beider_morse/languages.rs:42-84
  * maps 1:1 onto mask ops with Any = all-ones, NoLanguages = 0).
  */
private[bm] object LangBits {
  val Any: Long = -1L
  val None: Long = 0L

  private val index = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val names = new java.util.concurrent.CopyOnWriteArrayList[String]()

  def bitOf(name: String): Int =
    index.computeIfAbsent(name, { n =>
      names.synchronized {
        names.add(n)
        val i = names.size - 1
        require(i < 64, "more than 64 distinct BM languages")
        Integer.valueOf(i)
      }
    }).intValue()

  def maskOf(langs: Iterable[String]): Long = {
    var m = 0L
    langs.foreach(l => m |= (1L << bitOf(l)))
    m
  }

  def maskOfSet(ls: LanguageSet): Long = ls match {
    case LanguageSet.AnyLanguage        => Any
    case LanguageSet.NoLanguages        => None
    case LanguageSet.SomeLanguages(s)   => maskOf(s)
  }

  def namesOf(mask: Long): SortedSet[String] = {
    var m = SortedSet.empty[String]
    var i = 0
    val n = names.size
    while (i < n) {
      if ((mask & (1L << i)) != 0) m += names.get(i)
      i += 1
    }
    m
  }

  def isSingleton(mask: Long): Boolean =
    mask != Any && java.lang.Long.bitCount(mask) == 1

  def singletonName(mask: Long): String =
    names.get(java.lang.Long.numberOfTrailingZeros(mask))
}

/** Input viewed as code points, so pattern/context matching is in char
  * space like the reference's `CharSequence` (ref: src/helper.rs:84-197).
  */
/** Mutable, reusable code-point view: rule matching is in code-point
  * space; `reset*` refills the buffer in place so the per-encode hot path
  * (one view per phoneme per final-rule pass) allocates nothing.
  */
private[bm] final class CodePoints private (var cps: Array[Int],
    var length: Int) {

  def this(s: String) = {
    this(new Array[Int](math.max(s.length, 8)), 0)
    resetFromString(s)
  }

  private def ensure(n: Int): Unit =
    if (cps.length < n) cps = new Array[Int](math.max(n, cps.length * 2))

  def resetFromString(s: String): CodePoints = {
    ensure(s.length)
    length = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      cps(length) = cp
      length += 1
      i += Character.charCount(cp)
    }
    this
  }

  def resetFromChars(a: Array[Char], from: Int, until: Int): CodePoints = {
    ensure(until - from)
    length = 0
    var i = from
    while (i < until) {
      val cp = Character.codePointAt(a, i, until)
      cps(length) = cp
      length += 1
      i += Character.charCount(cp)
    }
    this
  }
}

/** Context matcher over a code-point range. The eight literal fast paths
  * mirror the reference's `OptimizedRegex`
  * (ref: src/beider_morse/regex_optim.rs:9-158); anything else is a
  * [[CpSequence]] with `java.util.regex`'s `find()` semantics (Rust
  * `Regex::is_match`).
  */
private[bm] sealed trait ContextMatcher {
  def matches(input: CodePoints, from: Int, until: Int): Boolean
}
private[bm] object ContextMatcher {
  case object AllStrings extends ContextMatcher {
    def matches(input: CodePoints, from: Int, until: Int) = true
  }
  case object IsEmpty extends ContextMatcher {
    def matches(input: CodePoints, from: Int, until: Int): Boolean = from == until
  }
  final case class EqualsStr(pat: Array[Int]) extends ContextMatcher {
    def matches(input: CodePoints, from: Int, until: Int): Boolean = {
      if (until - from != pat.length) return false
      var i = 0
      while (i < pat.length) { if (input.cps(from + i) != pat(i)) return false; i += 1 }
      true
    }
  }
  final case class StartsWith(pat: Array[Int]) extends ContextMatcher {
    def matches(input: CodePoints, from: Int, until: Int): Boolean = {
      if (until - from < pat.length) return false
      var i = 0
      while (i < pat.length) { if (input.cps(from + i) != pat(i)) return false; i += 1 }
      true
    }
  }
  final case class EndsWith(pat: Array[Int]) extends ContextMatcher {
    def matches(input: CodePoints, from: Int, until: Int): Boolean = {
      if (until - from < pat.length) return false
      var i = 0
      val off = until - pat.length
      while (i < pat.length) { if (input.cps(off + i) != pat(i)) return false; i += 1 }
      true
    }
  }
  final case class EqualsChar(list: String, shouldMatch: Boolean) extends ContextMatcher {
    def matches(input: CodePoints, from: Int, until: Int): Boolean =
      until - from == 1 && (list.indexOf(input.cps(from)) >= 0) == shouldMatch
  }
  final case class StartsWithChar(list: String, shouldMatch: Boolean) extends ContextMatcher {
    def matches(input: CodePoints, from: Int, until: Int): Boolean =
      until - from >= 1 && (list.indexOf(input.cps(from)) >= 0) == shouldMatch
  }
  final case class EndsWithChar(list: String, shouldMatch: Boolean) extends ContextMatcher {
    def matches(input: CodePoints, from: Int, until: Int): Boolean =
      until - from >= 1 && (list.indexOf(input.cps(until - 1)) >= 0) == shouldMatch
  }
  final case class Sequence(seq: CpSequence) extends ContextMatcher {
    def matches(input: CodePoints, from: Int, until: Int): Boolean =
      seq.find(input.cps, from, until)
  }

  private def cpsOf(s: String): Array[Int] = s.codePoints().toArray

  /** The literal fast-path classifier
    * (ref: src/beider_morse/regex_optim.rs:98-158); None falls back to
    * a [[CpSequence]].
    */
  def optimize(regex: String): Option[ContextMatcher] = {
    val startsWith = regex.startsWith("^")
    val endsWith = regex.endsWith("$")
    val content = (startsWith, endsWith) match {
      case (false, false) => regex
      case (true, false)  => regex.substring(1)
      case (false, true)  => regex.substring(0, regex.length - 1)
      case (true, true)   => regex.substring(1, regex.length - 1)
    }
    val boxes = regex.contains('[')
    if (!boxes) {
      if (startsWith && endsWith) {
        if (content.isEmpty) Some(IsEmpty) else Some(EqualsStr(cpsOf(content)))
      } else if ((startsWith || endsWith) && content.isEmpty) {
        Some(AllStrings)
      } else if (startsWith) {
        Some(StartsWith(cpsOf(content)))
      } else if (endsWith) {
        Some(EndsWith(cpsOf(content)))
      } else None
    } else {
      if (content.startsWith("[") && content.endsWith("]")) {
        var inner = content.substring(1, content.length - 1)
        if (!inner.contains('[')) {
          val negate = inner.startsWith("^")
          if (negate) inner = inner.substring(1)
          val shouldMatch = !negate
          if (startsWith && endsWith) Some(EqualsChar(inner, shouldMatch))
          else if (startsWith) Some(StartsWithChar(inner, shouldMatch))
          else if (endsWith) Some(EndsWithChar(inner, shouldMatch))
          else None
        } else None
      } else None
    }
  }

  def compile(regex: String): ContextMatcher =
    optimize(regex).getOrElse(Sequence(CpSequence.parse(regex)))
}

/** A regex of the rule files that is not a literal fast path: an optional
  * `^`, then literals and `[...]` / `[^...]` classes of one code point
  * each, then an optional `$` (10 rule contexts and 31 language rules are
  * of this shape). `find` gives `java.util.regex.Matcher.find()`'s answer
  * on the code points `[from, until)`, whose `$` also matches before a
  * final line terminator.
  */
private[bm] final class CpSequence(members: Array[String],
    negated: Array[Boolean], anchoredStart: Boolean, anchoredEnd: Boolean) {
  private val k = members.length
  // the code point of each literal element, -1 for a class
  private val literal = Array.tabulate(k)(e =>
    if (!negated(e) && members(e).codePointCount(0, members(e).length) == 1)
      members(e).codePointAt(0) else -1)

  private def matchesAt(cps: Array[Int], start: Int): Boolean = {
    var e = 0
    while (e < k && {
      val c = cps(start + e)
      if (literal(e) >= 0) c == literal(e)
      else (members(e).indexOf(c) >= 0) != negated(e)
    }) e += 1
    e == k
  }

  /** Whether `$` matches at `p` in `[from, until)`: at the end, before a
    * final line terminator, or before a final CR LF (`Pattern`'s Dollar
    * without MULTILINE or UNIX_LINES).
    */
  private def dollarAt(cps: Array[Int], from: Int, until: Int, p: Int): Boolean =
    if (p == until) true
    else if (p == until - 1) {
      val c = cps(p)
      if (c == '\n') !(p - 1 >= from && cps(p - 1) == '\r')
      else c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'
    } else p == until - 2 && p >= from && cps(p) == '\r' && cps(p + 1) == '\n'

  def find(cps: Array[Int], from: Int, until: Int): Boolean =
    if (anchoredStart)
      from + k <= until && matchesAt(cps, from) &&
        (!anchoredEnd || dollarAt(cps, from, until, from + k))
    else if (anchoredEnd) {
      var p = until
      var found = false
      while (!found && p >= until - 2 && p - k >= from) {
        found = dollarAt(cps, from, until, p) && matchesAt(cps, p - k)
        p -= 1
      }
      found
    } else {
      var start = from
      while (start + k <= until && !matchesAt(cps, start)) start += 1
      start + k <= until
    }
}

private[bm] object CpSequence {
  private val Special = "\\[](){}|.*+?^$-"

  /** Parses `regex`; a rule file with any other regex syntax fails to
    * load.
    */
  def parse(regex: String): CpSequence = {
    def unsupported = throw new IllegalStateException(s"unsupported BM regex: $regex")
    val anchoredStart = regex.startsWith("^")
    val anchoredEnd = regex.endsWith("$") && regex.length > (if (anchoredStart) 1 else 0)
    val body = regex.substring(if (anchoredStart) 1 else 0,
      regex.length - (if (anchoredEnd) 1 else 0))
    val members = Array.newBuilder[String]
    val negated = Array.newBuilder[Boolean]
    var i = 0
    while (i < body.length) {
      if (body.charAt(i) == '[') {
        val close = body.indexOf(']', i)
        if (close < 0) unsupported
        val neg = close > i + 1 && body.charAt(i + 1) == '^'
        val set = body.substring(if (neg) i + 2 else i + 1, close)
        if (set.isEmpty || set.exists(c => Special.indexOf(c) >= 0)) unsupported
        members += set
        negated += neg
        i = close + 1
      } else {
        val cp = body.codePointAt(i)
        if (Special.indexOf(cp) >= 0) unsupported
        members += new String(Character.toChars(cp))
        negated += false
        i += Character.charCount(cp)
      }
    }
    new CpSequence(members.result(), negated.result(), anchoredStart, anchoredEnd)
  }
}

/** One replacement alternative of a rule: phoneme text plus the languages
  * it is valid for, as a [[LangBits]] mask
  * (ref: src/beider_morse/rule.rs:79-151).
  */
private[bm] final case class BmPhoneme(text: String, langMask: Long) {
  val chars: Array[Char] = text.toCharArray
}

/** One rewrite rule: `pattern` at position, regex contexts on both sides,
  * alternatives applied as a set-product
  * (ref: src/beider_morse/rule.rs:360-394).
  */
private[bm] final class BmRule(
    val pattern: Array[Int],
    val leftContext: ContextMatcher,
    val rightContext: ContextMatcher,
    val phonemes: Array[BmPhoneme]) {

  def patternLength: Int = pattern.length

  // most contexts are empty: skip their (megamorphic) matcher call
  private val anyRight = rightContext == ContextMatcher.AllStrings
  private val anyLeft = leftContext == ContextMatcher.AllStrings

  /** Pattern, then right context, then left context — the reference's
    * evaluation order (ref: src/beider_morse/rule.rs:371-385).
    */
  def matches(input: CodePoints, index: Int): Boolean = {
    val ipl = index + pattern.length
    if (ipl > input.length) return false
    var i = 0
    while (i < pattern.length) {
      if (input.cps(index + i) != pattern(i)) return false
      i += 1
    }
    (anyRight || rightContext.matches(input, ipl, input.length)) &&
      (anyLeft || leftContext.matches(input, 0, index))
  }
}

/** Rules for one (nameType, ruleType, language), bucketed by first pattern
  * code point; bucket order is file order (first match wins)
  * (ref: src/beider_morse/rule.rs:214-304). The buckets sit in an array
  * indexed by code point minus the smallest key, so a lookup is two
  * compares and a load.
  */
private[bm] final class RuleBuckets(buckets: Map[Int, scala.collection.Seq[BmRule]]) {
  private val base = if (buckets.isEmpty) 0 else buckets.keys.min
  private val table: Array[Array[BmRule]] = {
    val t = Array.fill(if (buckets.isEmpty) 0 else buckets.keys.max - base + 1)(RuleBuckets.none)
    buckets.foreach { case (cp, rules) => t(cp - base) = rules.toArray }
    t
  }
  def get(cp: Int): Array[BmRule] = {
    val i = cp - base
    if (i >= 0 && i < table.length) table(i) else RuleBuckets.none
  }
  def isEmpty: Boolean = table.isEmpty

  /** The first rule of `input(index)`'s bucket that matches there, or
    * null.
    */
  def firstMatch(input: CodePoints, index: Int): BmRule = {
    val bucket = get(input.cps(index))
    var b = 0
    while (b < bucket.length && !bucket(b).matches(input, index)) b += 1
    if (b < bucket.length) bucket(b) else null
  }
}
private[bm] object RuleBuckets {
  private val none: Array[BmRule] = Array.empty
}

/** Matcher for a language-guessing pattern. Most of the ~200 rules per
  * name type are literal fragments with optional `^`/`$` anchors (`ault$`,
  * `^tz`, `eau`), matched with `String` methods on the lowercased name; the
  * rest are [[CpSequence]]s over its code points. Semantics mirror
  * `Regex::is_match` = find-anywhere.
  */
private[bm] sealed trait LangMatcher {
  def matches(input: String, cps: CodePoints): Boolean
}
private[bm] object LangMatcher {
  final case class Contains(lit: String) extends LangMatcher {
    def matches(input: String, cps: CodePoints): Boolean = input.contains(lit)
  }
  final case class Prefix(lit: String) extends LangMatcher {
    def matches(input: String, cps: CodePoints): Boolean = input.startsWith(lit)
  }
  final case class Suffix(lit: String) extends LangMatcher {
    def matches(input: String, cps: CodePoints): Boolean = input.endsWith(lit)
  }
  final case class Exact(lit: String) extends LangMatcher {
    def matches(input: String, cps: CodePoints): Boolean = input == lit
  }
  final case class Sequence(seq: CpSequence) extends LangMatcher {
    def matches(input: String, cps: CodePoints): Boolean =
      seq.find(cps.cps, 0, cps.length)
  }

  private def isLiteral(s: String): Boolean =
    s.forall(c => !"\\[](){}|.*+?^$".contains(c))

  def compile(pattern: String): LangMatcher = {
    val anchoredStart = pattern.startsWith("^")
    val anchoredEnd = pattern.endsWith("$")
    val body = pattern.substring(
      if (anchoredStart) 1 else 0,
      pattern.length - (if (anchoredEnd) 1 else 0))
    if (body.nonEmpty && isLiteral(body)) {
      (anchoredStart, anchoredEnd) match {
        case (true, true)   => Exact(body)
        case (true, false)  => Prefix(body)
        case (false, true)  => Suffix(body)
        case (false, false) => Contains(body)
      }
    } else Sequence(CpSequence.parse(pattern))
  }
}

/** One language-guessing rule (ref: src/beider_morse/lang.rs:12-34). */
private[bm] final case class LangRule(
    matcher: LangMatcher, langMask: Long, acceptOnMatch: Boolean)

/** Language guesser for one name type
  * (ref: src/beider_morse/lang.rs:36-64).
  */
private[bm] final class BmLang(
    allLanguages: SortedSet[String], rules: Array[LangRule]) {
  private val allMask = LangBits.maskOf(allLanguages)

  /** Empty result maps to the any-language mask, mirroring the reference's
    * NoLanguages -> Any fallback (ref: src/beider_morse/lang.rs:58-63).
    */
  def guessMask(input: String): Long = {
    val lower = input.toLowerCase(Locale.ROOT)
    val cps = BeiderMorse.Workspace.tl.get().cpsLang.resetFromString(lower)
    var langs = allMask
    var i = 0
    while (i < rules.length) {
      val rule = rules(i)
      if (rule.matcher.matches(lower, cps)) {
        langs =
          if (rule.acceptOnMatch) langs & rule.langMask
          else langs & ~rule.langMask
      }
      i += 1
    }
    if (langs == 0L) LangBits.Any else langs
  }

  def guessLanguages(input: String): LanguageSet = {
    val m = guessMask(input)
    if (m == LangBits.Any) LanguageSet.AnyLanguage
    else LanguageSet.SomeLanguages(LangBits.namesOf(m))
  }
}

/** Parses the commons-codec BM resource files. Line grammar mirrors the
  * reference's nom parsers (ref: /root/reference/src/rules_parser.rs):
  * quadruplet `"p" "l" "r" "ph"`, `#include name`, `//` line comments,
  * `／* ... *／` multiline comments, blank lines.
  */
private[bm] object BmParser {

  private def readResource(name: String): Option[Seq[String]] = {
    val in = getClass.getResourceAsStream(s"/bm/$name.txt")
    if (in == null) None
    else {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try Some(src.getLines().map(_.stripSuffix("\r")).toVector)
      finally src.close()
    }
  }

  private def isBlankOrComment(line: String): Boolean = {
    val t = line.dropWhile(c => c == ' ' || c == '\t')
    t.isEmpty || t.startsWith("//")
  }

  /** Folds multiline comments away, yielding the content lines. */
  private def contentLines(name: String, lines: Seq[String]): Seq[String] = {
    val out = Vector.newBuilder[String]
    var inComment = false
    lines.foreach { line =>
      if (inComment) {
        val idx = line.indexOf("*/")
        if (idx >= 0) inComment = false
      } else if (line.startsWith("/*")) {
        if (!line.contains("*/")) inComment = true
      } else if (!isBlankOrComment(line)) {
        out += line
      }
    }
    if (inComment) fail(name, "unterminated multiline comment")
    out.result()
  }

  private def fail(name: String, msg: String): Nothing =
    throw new IllegalStateException(s"BM rules $name: $msg")

  /** Scans `"a" "b" "c" "d"` with 1+ spaces/tabs between parts, optional
    * trailing spaces / `//` comment.
    */
  private def parseQuadruplet(name: String, line: String): Array[String] = {
    val parts = new Array[String](4)
    var i = 0
    var p = 0
    while (p < 4) {
      if (i >= line.length || line.charAt(i) != '"')
        fail(name, s"bad quadruplet: $line")
      // `"\""` parses to the two-char content `\"` (the reference's
      // alt(tag("\\\""), take_until("\"")), ref: src/rules_parser.rs:69-73)
      if (i + 3 < line.length && line.charAt(i + 1) == '\\' &&
          line.charAt(i + 2) == '"' && line.charAt(i + 3) == '"') {
        parts(p) = line.substring(i + 1, i + 3)
        i = i + 4
      } else {
        val end = line.indexOf('"', i + 1)
        if (end < 0) fail(name, s"unterminated part: $line")
        parts(p) = line.substring(i + 1, end)
        i = end + 1
      }
      p += 1
      if (p < 4) {
        val start = i
        while (i < line.length && (line.charAt(i) == ' ' || line.charAt(i) == '\t')) i += 1
        if (i == start) fail(name, s"missing separator: $line")
      }
    }
    val rest = line.substring(i)
    if (!isBlankOrComment(rest)) fail(name, s"trailing junk: $line")
    parts
  }

  /** `text` or `text[lang1+lang2]`
    * (ref: src/beider_morse/rule.rs:164-185).
    */
  private def parsePhoneme(s: String): BmPhoneme = {
    val idx = s.indexOf('[')
    if (idx >= 0) {
      if (!s.endsWith("]"))
        throw new IllegalStateException(s"Phoneme $s has '[' but no trailing ']'")
      val text = s.substring(0, idx)
      val langs = s.substring(idx + 1, s.length - 1).split("\\+", -1)
      BmPhoneme(text, LangBits.maskOf(langs.toSeq))
    } else BmPhoneme(s, LangBits.Any)
  }

  /** `(a|b|c)` alternative list; a leading/trailing `|` adds an extra empty
    * phoneme, and Rust split keeps trailing empties — both preserved
    * (ref: src/beider_morse/rule.rs:187-212).
    */
  private def parsePhonemeExpr(s: String): IndexedSeq[BmPhoneme] = {
    if (s.startsWith("(")) {
      if (!s.endsWith(")"))
        throw new IllegalStateException(s"Wrong phoneme rule $s")
      val inner = s.substring(1, s.length - 1)
      val phs = inner.split("\\|", -1).toIndexedSeq.map(parsePhoneme)
      if (inner.startsWith("|") || inner.endsWith("|"))
        phs :+ BmPhoneme("", LangBits.Any)
      else phs
    } else IndexedSeq(parsePhoneme(s))
  }

  /** Parses one rules file (recursively resolving `#include`). Matches the
    * reference's include semantics exactly: the included file's buckets
    * *replace* same-keyed buckets accumulated so far (BTreeMap::extend,
    * ref: src/beider_morse/rule.rs:269-285), then later quadruplets append.
    * In practice includes sit before any same-bucket rules.
    */
  def parseRuleFile(name: String): mutable.LinkedHashMap[Int, mutable.ArrayBuffer[BmRule]] = {
    val lines = readResource(name).getOrElse(fail(name, "missing resource"))
    val result = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[BmRule]]
    contentLines(name, lines).foreach { line =>
      if (line.startsWith("\"")) {
        val q = parseQuadruplet(name, line)
        val pattern = q(0).codePoints().toArray
        val left = ContextMatcher.compile(q(1) + "$")
        val right = ContextMatcher.compile("^" + q(2))
        val phonemes = parsePhonemeExpr(q(3)).toArray
        val rule = new BmRule(pattern, left, right, phonemes)
        result.getOrElseUpdate(pattern(0), mutable.ArrayBuffer.empty) += rule
      } else if (line.startsWith("#include ")) {
        val inc = line.substring("#include ".length)
          .takeWhile(c => c.isLetterOrDigit || c == '-' || c == '_')
        val included = parseRuleFile(inc)
        included.foreach { case (k, v) => result.put(k, v) }
      } else fail(name, s"can't parse line: $line")
    }
    result
  }

  def parseRules(name: String): RuleBuckets =
    new RuleBuckets(parseRuleFile(name).toMap)

  /** `{nt}_lang.txt`: `pattern lang1+lang2 true|false` per line
    * (ref: src/beider_morse/lang.rs:93-151).
    */
  def parseLang(nameType: NameType, allLanguages: SortedSet[String]): BmLang = {
    val name = s"${nameType.code}_lang"
    val lines = readResource(name).getOrElse(fail(name, "missing resource"))
    val rules = contentLines(name, lines).map { line =>
      val noComment = {
        val idx = line.indexOf("//")
        if (idx >= 0) line.substring(0, idx) else line
      }.replaceAll("[ \t]+$", "")
      val fields = noComment.split(" ")
      if (fields.length != 3) fail(name, s"bad lang rule: $line")
      val accept = fields(2) match {
        case "true"  => true
        case "false" => false
        case other   => fail(name, s"not a boolean: $other")
      }
      LangRule(LangMatcher.compile(fields(0)),
        LangBits.maskOf(fields(1).split("\\+", -1).toSeq), accept)
    }
    new BmLang(allLanguages, rules.toArray)
  }

  /** `{nt}_languages.txt`: one language per line
    * (ref: src/beider_morse/languages.rs:164-205).
    */
  def parseLanguages(nameType: NameType): SortedSet[String] = {
    val name = s"${nameType.code}_languages"
    val lines = readResource(name).getOrElse(fail(name, "missing resource"))
    SortedSet.from(contentLines(name, lines).map(_.trim))
  }
}

/** Growable char arena backing one [[PhonemeSet]]: phoneme texts live as
  * (offset, length) ranges in `chars`, so the set-product hot path copies
  * primitive chars instead of allocating a String (+ backing array) per
  * candidate phoneme. Cleared and reused per encode via the engine's
  * thread-local workspace.
  */
private[bm] final class PhonemeArena {
  var chars = new Array[Char](1024)
  var len = 0
  def clear(): Unit = len = 0
  def ensure(extra: Int): Unit =
    if (len + extra > chars.length)
      chars = java.util.Arrays.copyOf(chars,
        math.max(len + extra, chars.length * 2))
}

/** Mutable sorted set of (phoneme text, languages) over a [[PhonemeArena]]
  * — stands in for the reference's `BTreeSet<Phoneme>` (Ord on text only;
  * set-insert keeps the first languages on text collision,
  * ref: src/beider_morse/engine.rs:34-81). Sizes are <= maxPhonemes (~20),
  * where a sorted array beats a tree on both allocation and cache
  * behavior — this sits on the per-row hot path of the Spark expression.
  *
  * Insert protocol: `stage*` writes the candidate text at the arena tip
  * (NOT yet committed), `commitStaged*` binary-searches the existing
  * entries and either advances the arena tip (new entry) or abandons the
  * staged chars (duplicate) — zero garbage either way.
  */
private[bm] final class PhonemeSet(val arena: PhonemeArena,
    initialCapacity: Int) {
  private var offs = new Array[Int](math.max(initialCapacity, 4))
  private var lens = new Array[Int](offs.length)
  private var langs = new Array[Long](offs.length)
  var size: Int = 0

  /** Reset the set AND its arena (1:1 ownership). */
  def clearAll(): Unit = { size = 0; arena.clear() }

  def textOff(i: Int): Int = offs(i)
  def textLen(i: Int): Int = lens(i)
  def langAt(i: Int): Long = langs(i)
  def textAt(i: Int): String = new String(arena.chars, offs(i), lens(i))

  /** Stage `src[so, so+sl)` followed by `suffix` at the arena tip; returns
    * the staged length.
    */
  def stage(src: Array[Char], so: Int, sl: Int, suffix: Array[Char]): Int = {
    val n = sl + suffix.length
    arena.ensure(n)
    System.arraycopy(src, so, arena.chars, arena.len, sl)
    System.arraycopy(suffix, 0, arena.chars, arena.len + sl, suffix.length)
    n
  }

  /** Stage `src[so, so+sl)` followed by code points `cps[from, until)`. */
  def stageCps(src: Array[Char], so: Int, sl: Int, cps: CodePoints,
      from: Int, until: Int): Int = {
    // worst case 2 chars per code point
    arena.ensure(sl + (until - from) * 2)
    System.arraycopy(src, so, arena.chars, arena.len, sl)
    var w = arena.len + sl
    var i = from
    while (i < until) {
      w += Character.toChars(cps.cps(i), arena.chars, w)
      i += 1
    }
    w - arena.len
  }

  /** Index if present, else -(insertionPoint)-1, comparing against the
    * staged range [arena.len, arena.len + n). Ordering is the reference's
    * `Phoneme::cmp`: code point by code point, then length
    * (ref: src/beider_morse/rule.rs:91-105) — output order and uniqueness
    * both hang off it.
    */
  private def indexOfStaged(n: Int): Int = {
    var lo = 0
    var hi = size - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = PhonemeSet.compareRange(
        arena.chars, offs(mid), lens(mid), arena.chars, arena.len, n)
      if (c < 0) lo = mid + 1
      else if (c > 0) hi = mid - 1
      else return mid
    }
    -(lo + 1)
  }

  private def insertAt(ip: Int, off: Int, n: Int, lang: Long): Unit = {
    if (size == offs.length) {
      offs = java.util.Arrays.copyOf(offs, size * 2)
      lens = java.util.Arrays.copyOf(lens, size * 2)
      langs = java.util.Arrays.copyOf(langs, size * 2)
    }
    var k = size
    while (k > ip) {
      offs(k) = offs(k - 1)
      lens(k) = lens(k - 1)
      langs(k) = langs(k - 1)
      k -= 1
    }
    offs(ip) = off
    lens(ip) = n
    langs(ip) = lang
    size += 1
  }

  /** BTreeSet::insert semantics: existing (Ord-equal) element wins. */
  def commitStagedIfAbsent(n: Int, lang: Long): Unit = {
    val i = indexOfStaged(n)
    if (i < 0) {
      insertAt(-i - 1, arena.len, n, lang)
      arena.len += n
    }
  }

  /** Final-rule merge: on text collision the existing languages merge with
    * `mergeLangs` (the pre-final-rule phoneme's languages,
    * ref: src/beider_morse/engine.rs:171-180).
    */
  def commitStagedOrMergeWith(n: Int, lang: Long, mergeLangs: Long): Unit = {
    val i = indexOfStaged(n)
    if (i >= 0) langs(i) = langs(i) | mergeLangs
    else {
      insertAt(-i - 1, arena.len, n, lang)
      arena.len += n
    }
  }

  /** Inserts the empty phoneme (the seed of a pass). */
  def insertEmpty(lang: Long): Unit = commitStagedIfAbsent(0, lang)

  def makeString: String = {
    if (size == 0) return ""
    var total = size - 1
    var i = 0
    while (i < size) { total += lens(i); i += 1 }
    val sb = new java.lang.StringBuilder(total)
    i = 0
    while (i < size) {
      if (i > 0) sb.append('|')
      sb.append(arena.chars, offs(i), lens(i))
      i += 1
    }
    sb.toString
  }
}

private[bm] object PhonemeSet {
  /** Code-point-wise compare of two char ranges, then remaining UTF-16
    * length — identical ordering to the previous String-based
    * `compareText` (and the reference's `Phoneme::cmp`).
    */
  def compareRange(a: Array[Char], ao: Int, al: Int,
      b: Array[Char], bo: Int, bl: Int): Int = {
    val k = java.util.Arrays.mismatch(a, ao, ao + al, b, bo, bo + bl)
    if (k < 0) 0
    else if (k == al || k == bl) Integer.compare(al, bl)
    else {
      val x = a(ao + k)
      val y = b(bo + k)
      // outside surrogates, and not after a high one, a char is its code
      // point
      if (!Character.isSurrogate(x) && !Character.isSurrogate(y) &&
          (k == 0 || !Character.isHighSurrogate(a(ao + k - 1)))) x - y
      else compareCodePoints(a, ao, al, b, bo, bl)
    }
  }

  private def compareCodePoints(a: Array[Char], ao: Int, al: Int,
      b: Array[Char], bo: Int, bl: Int): Int = {
    var i = ao
    var j = bo
    val aEnd = ao + al
    val bEnd = bo + bl
    while (i < aEnd && j < bEnd) {
      val ca = Character.codePointAt(a, i, aEnd)
      val cb = Character.codePointAt(b, j, bEnd)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(aEnd - i, bEnd - j)
  }

  val NoChars: Array[Char] = Array.empty
}

/** All parsed BM configuration, loaded once per JVM from classpath
  * resources (the Spark-executor analogue of the reference's
  * `ConfigFiles`, ref: src/beider_morse/mod.rs:177-199).
  */
final class BmConfig private (
    private[bm] val langs: Map[NameType, BmLang],
    private[bm] val rules: Map[(NameType, String, String), RuleBuckets]) {
  private[bm] def rulesFor(nt: NameType, rt: String, lang: String): RuleBuckets =
    rules.getOrElse((nt, rt, lang), rules((nt, rt, "any")))
}

object BmConfig {
  private val RULES = "rules"
  lazy val default: BmConfig = {
    val langsB = Map.newBuilder[NameType, BmLang]
    val rulesB = Map.newBuilder[(NameType, String, String), RuleBuckets]
    NameType.all.foreach { nt =>
      val languages = BmParser.parseLanguages(nt)
      langsB += nt -> BmParser.parseLang(nt, languages)
      Seq(RuleType.Approx.code, RuleType.Exact.code, RULES).foreach { rt =>
        languages.foreach { lang =>
          rulesB += (nt, rt, lang) -> BmParser.parseRules(s"${nt.code}_${rt}_$lang")
        }
        if (rt != RULES)
          rulesB += (nt, rt, "common") -> BmParser.parseRules(s"${nt.code}_${rt}_common")
      }
    }
    new BmConfig(langsB.result(), rulesB.result())
  }
}

/** The phonetic engine (ref: src/beider_morse/engine.rs:123-307). */
final class BeiderMorse(
    nameType: NameType = NameType.Generic,
    ruleType: RuleType = RuleType.Approx,
    concat: Boolean = true,
    maxPhonemes: Int = BeiderMorse.DefaultMaxPhonemes,
    config: BmConfig = BmConfig.default) extends PhoneticEncoder {

  import BeiderMorse._

  private val lang = config.langs(nameType)

  private val finalRulesCommon = config.rulesFor(nameType, ruleType.code, "common")

  /** Main-pass and language-specific final rules per language name,
    * resolved once per language instead of per encode.
    */
  private val rulesByLang =
    new java.util.concurrent.ConcurrentHashMap[String, (RuleBuckets, RuleBuckets)]()

  private def rulesOf(l: String): (RuleBuckets, RuleBuckets) =
    rulesByLang.computeIfAbsent(l, l =>
      (config.rulesFor(nameType, "rules", l), config.rulesFor(nameType, ruleType.code, l)))

  /** Each name prefix with `prefix + " "`, in iteration order. */
  private val prefixes = prefixesFor(nameType).toArray.map(p => (p, p + " "))

  /** `out` must be cleared and own a different arena than `in`. */
  private def applyRule(in: PhonemeSet,
      alternatives: Array[BmPhoneme], out: PhonemeSet): Unit = {
    val srcChars = in.arena.chars
    var i = 0
    var break = false
    while (i < in.size && !break) {
      val so = in.textOff(i)
      val sl = in.textLen(i)
      val leftLangs = in.langAt(i)
      var r = 0
      while (r < alternatives.length && !break) {
        val right = alternatives(r)
        val languages = leftLangs & right.langMask
        if (languages != 0L) {
          if (out.size < maxPhonemes) {
            val n = out.stage(srcChars, so, sl, right.chars)
            out.commitStagedIfAbsent(n, languages)
          }
          if (out.size >= maxPhonemes) break = true
        }
        r += 1
      }
      i += 1
    }
  }

  /** Append code points `cps[from, until)` to every phoneme of `in` into
    * `out` (the final-rule unmatched-run passthrough,
    * ref src/beider_morse/engine.rs:163-166).
    */
  private def appendRun(in: PhonemeSet, cps: CodePoints, from: Int,
      until: Int, out: PhonemeSet): Unit = {
    val srcChars = in.arena.chars
    var i = 0
    while (i < in.size) {
      val n = out.stageCps(srcChars, in.textOff(i), in.textLen(i),
        cps, from, until)
      out.commitStagedIfAbsent(n, in.langAt(i))
      i += 1
    }
  }

  /** Re-encodes every phoneme of `phonemes` through `finalRules` into
    * `out`; `subA`/`subB` are scratch sets (distinct arenas) ping-ponged
    * per phoneme.
    */
  private def applyFinalRules(phonemes: PhonemeSet, finalRules: RuleBuckets,
      out: PhonemeSet, subA: PhonemeSet, subB: PhonemeSet,
      phonemeCps: CodePoints): PhonemeSet = {
    if (finalRules.isEmpty) return phonemes
    out.clearAll()
    var p = 0
    while (p < phonemes.size) {
      val origLangs = phonemes.langAt(p)
      val input = phonemeCps.resetFromChars(phonemes.arena.chars,
        phonemes.textOff(p), phonemes.textOff(p) + phonemes.textLen(p))
      var sub = subA
      var spare = subB
      sub.clearAll()
      sub.insertEmpty(origLangs)
      val len = input.length
      var i = 0
      var matched = if (len > 0) finalRules.firstMatch(input, 0) else null
      while (i < len) {
        if (matched != null) {
          spare.clearAll()
          applyRule(sub, matched.phonemes, spare)
          val t = sub; sub = spare; spare = t
          i += matched.patternLength
          matched = if (i < len) finalRules.firstMatch(input, i) else null
        } else {
          // unmatched chars pass through in final-rule passes (only);
          // batch the whole unmatched run into one append — identical to
          // per-char appends (append never interacts with the phoneme cap).
          // The rule that ends the run is the next position's match.
          var j = i + 1
          while (j < len && { matched = finalRules.firstMatch(input, j); matched == null }) j += 1
          spare.clearAll()
          appendRun(sub, input, i, j, spare)
          val t = sub; sub = spare; spare = t
          i = j
        }
      }
      var s = 0
      val subChars = sub.arena.chars
      while (s < sub.size) {
        val n = out.stage(subChars, sub.textOff(s), sub.textLen(s), PhonemeSet.NoChars)
        out.commitStagedOrMergeWith(n, sub.langAt(s), origLangs)
        s += 1
      }
      p += 1
    }
    out
  }

  def encode(input: String): String = {
    val mask = lang.guessMask(input)
    encodeWithMask(input,
      if (LangBits.isSingleton(mask)) LangBits.singletonName(mask) else "any",
      mask)
  }

  def encodeWithLanguages(input: String, languages: LanguageSet): String =
    encodeWithMask(input,
      if (languages.isSingleton) languages.anyOf.get else "any",
      LangBits.maskOfSet(languages))

  private def encodeWithMask(input0: String, l: String,
      seedMask: Long): String = {
    val (rules, finalRules2) = rulesOf(l)

    val input = input0.toLowerCase(Locale.ROOT).replace('-', ' ')

    if (nameType == NameType.Generic) {
      if (input.startsWith("d'")) {
        val remainder = input.substring(2)
        val combined = "d" + remainder
        return "(" + encode(remainder) + ")-(" + encode(combined) + ")"
      }
      var p = 0
      while (p < prefixes.length) {
        val (prefix, prefixAndSpace) = prefixes(p)
        if (input.startsWith(prefixAndSpace)) {
          val remainder = input.substring(prefixAndSpace.length)
          val combined = prefix + remainder
          return "(" + encode(remainder) + ")-(" + encode(combined) + ")"
        }
        p += 1
      }
    }

    val finalInput =
      if (nameType == NameType.Generic && !hasWhitespace(input)) {
        // one word or none: the split, filter and join below give `input`
        if (!concat && input.isEmpty) return ""
        input
      } else {
        val words = BeiderMorse.Whitespace.split(input).filter(_.nonEmpty)

        if (!concat && words.length != 1)
          return words.map(encode).mkString("-")

        val words2 = words.iterator
          .map { w =>
            if (nameType == NameType.Sephardic) w.split("'", -1).last else w
          }
          .filter(w =>
            nameType == NameType.Generic || !prefixesFor(nameType).contains(w))
          .toArray

        if (concat) words2.mkString(" ")
        else words(0)
      }

    // thread-local arena workspace: the whole encode allocates no
    // per-candidate Strings — phoneme texts live in reused char arenas
    // until the single makeString at the end (the set-product previously
    // built 10-50 KB of short-lived strings per encode)
    val ws = Workspace.tl.get()
    var builder = ws.set0
    var spare = ws.set1
    builder.clearAll()
    builder.insertEmpty(seedMask)
    val cps = ws.cpsMain.resetFromString(finalInput)
    var i = 0
    val end = cps.length
    while (i < end) {
      val matched = rules.firstMatch(cps, i)
      if (matched != null) {
        spare.clearAll()
        applyRule(builder, matched.phonemes, spare)
        val t = builder; builder = spare; spare = t
        i += matched.patternLength
      } else {
        // unmatched chars are dropped in the main pass:
        // ref src/beider_morse/engine.rs:98-120 (nothing appended)
        i += 1
      }
    }

    // final passes: out + two scratch sets, all on arenas distinct from
    // the pass input's
    val r1 = applyFinalRules(builder, finalRulesCommon, ws.set2, spare, ws.set3,
      ws.cpsPhoneme)
    val (out2, sA) =
      if (r1 eq ws.set2) {
        (if (builder eq ws.set0) ws.set0 else ws.set1, spare)
      } else (ws.set2, spare)
    val r2 = applyFinalRules(r1, finalRules2, out2, sA, ws.set3,
      ws.cpsPhoneme)

    r2.makeString
  }
}

object BeiderMorse {
  val DefaultMaxPhonemes = 20

  /** Per-thread arena workspace shared by all engine instances: four
    * phoneme sets (main-pass ping-pong + final-pass out/scratch) and two
    * reusable code-point views. Safe under the generic-prefix recursion:
    * inner `encode` calls complete before the outer call first touches
    * the workspace (the prefix branch returns early).
    */
  private[bm] object Workspace {
    final class Ws {
      val set0 = new PhonemeSet(new PhonemeArena, 24)
      val set1 = new PhonemeSet(new PhonemeArena, 24)
      val set2 = new PhonemeSet(new PhonemeArena, 24)
      val set3 = new PhonemeSet(new PhonemeArena, 24)
      val cpsMain = new CodePoints("")
      val cpsPhoneme = new CodePoints("")
      val cpsLang = new CodePoints("")
    }
    val tl: ThreadLocal[Ws] = ThreadLocal.withInitial(() => new Ws)
  }

  // precompiled: String.split(regex) recompiles multi-char patterns per call
  private[bm] val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** Name prefixes encoded both with and without
    * (ref: src/beider_morse/engine.rs:11-32); iteration order is the
    * BTreeSet (sorted) order.
    */
  private val Prefixes: Map[NameType, SortedSet[String]] = Map(
    NameType.Ashkenazi -> SortedSet("bar", "ben", "da", "de", "van", "von"),
    NameType.Generic -> SortedSet("da", "dal", "de", "del", "dela", "de la",
      "della", "des", "di", "do", "dos", "du", "van", "von"),
    NameType.Sephardic -> SortedSet("al", "el", "da", "dal", "de", "del",
      "dela", "de la", "della", "des", "di", "do", "dos", "du", "van", "von"))

  private def prefixesFor(nt: NameType): SortedSet[String] = Prefixes(nt)

  /** Whether `s` holds a char of `\s`, the separator of [[Whitespace]]. */
  private def hasWhitespace(s: String): Boolean = {
    var i = 0
    while (i < s.length && {
      val c = s.charAt(i)
      !(c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' || c == '\r')
    }) i += 1
    i < s.length
  }

  /** Default encoder: gen / approx / concat / 20 phonemes
    * (ref: src/beider_morse/mod.rs:298-312).
    */
  lazy val default: BeiderMorse = new BeiderMorse()

  /** Splits an encoded value into flat blocking codes: `|` alternatives,
    * prefix groups `(a|b)-(c|d)` and non-concat word joins all flatten.
    */
  def splitCodes(encoded: String): Array[String] = {
    def isSeparator(c: Char) = c == '|' || c == '(' || c == ')' || c == '-'
    var count = 0
    var i = 0
    while (i < encoded.length) {
      while (i < encoded.length && isSeparator(encoded.charAt(i))) i += 1
      if (i < encoded.length) count += 1
      while (i < encoded.length && !isSeparator(encoded.charAt(i))) i += 1
    }
    val out = new Array[String](count)
    count = 0
    i = 0
    while (i < encoded.length) {
      while (i < encoded.length && isSeparator(encoded.charAt(i))) i += 1
      val start = i
      while (i < encoded.length && !isSeparator(encoded.charAt(i))) i += 1
      if (i > start) { out(count) = encoded.substring(start, i); count += 1 }
    }
    out
  }

  /** Guessed languages of a name, sorted and '|'-joined; "any" when no
    * rule narrows the set, "" when rules contradict
    * (ref: /root/reference/src/beider_morse/lang.rs:44-64).
    */
  def guessLanguages(input: String, nameType: NameType): String =
    BmConfig.default.langs(nameType).guessLanguages(input) match {
      case LanguageSet.AnyLanguage => "any"
      case LanguageSet.NoLanguages => ""
      case LanguageSet.SomeLanguages(s) => s.mkString("|")
    }
}
