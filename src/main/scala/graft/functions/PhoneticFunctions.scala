package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

import graft.phonetic._

/** Static UTF8String-level entry points for the phonetic Catalyst
  * expressions. Generated code calls these directly (the object compiles to
  * static forwarders), keeping the expressions inside whole-stage codegen.
  * A row costs one UTF8String -> String conversion per input and one
  * String -> UTF8String per output, plus the output array or struct of the
  * array- and struct-valued functions; encoders are resolved once per
  * length or option set, never built per row.
  */
object PhoneticFunctions {

  @inline private def out(s: String): UTF8String = UTF8String.fromString(s)

  def soundex(u: UTF8String): UTF8String = out(Soundex.default.encode(u.toString))

  def soundexGenealogy(u: UTF8String): UTF8String =
    out(Soundex.genealogy.encode(u.toString))

  def soundexSimplified(u: UTF8String): UTF8String =
    out(Soundex.simplified.encode(u.toString))

  /** Custom-mapping Soundex (ref: /root/reference/src/soundex.rs:117-125);
    * encoder instances are cached per mapping string (the mapping is a
    * plan-time literal, so one entry per distinct mapping in the plan).
    */
  private val customSoundex =
    new java.util.concurrent.ConcurrentHashMap[String, Soundex]()

  def soundexMapping(u: UTF8String, mapping: UTF8String): UTF8String = {
    val enc = customSoundex.computeIfAbsent(mapping.toString, Soundex.fromMapping)
    out(enc.encode(u.toString))
  }

  /** ref: /root/reference/src/double_metaphone.rs:208-216 */
  def doubleMetaphoneEqual(a: UTF8String, b: UTF8String,
      alternate: Boolean): Boolean =
    DoubleMetaphone.default.isDoubleMetaphoneEqual(a.toString, b.toString,
      alternate)

  def refinedSoundex(u: UTF8String): UTF8String =
    out(RefinedSoundex.default.encode(u.toString))

  /** Encoders for the non-default lengths in a plan, one per length (the
    * length is a plan-time literal).
    */
  private val metaphones =
    new java.util.concurrent.ConcurrentHashMap[Integer, Metaphone]()
  private val doubleMetaphones =
    new java.util.concurrent.ConcurrentHashMap[Integer, DoubleMetaphone]()
  private val phonexes =
    new java.util.concurrent.ConcurrentHashMap[Integer, Phonex]()

  private def metaphoneOf(maxLen: Int): Metaphone =
    if (maxLen <= 0) Metaphone.unbounded
    else if (maxLen == 4) Metaphone.default
    else metaphones.computeIfAbsent(maxLen, l => Metaphone(Some(l.intValue)))

  def metaphone(u: UTF8String, maxLen: Int): UTF8String =
    out(metaphoneOf(maxLen).encode(u.toString))

  def doubleMetaphone(u: UTF8String, maxLen: Int): ArrayData = {
    val dm =
      if (maxLen <= 0) DoubleMetaphone.unbounded
      else if (maxLen == 4) DoubleMetaphone.default
      else doubleMetaphones.computeIfAbsent(maxLen,
        l => DoubleMetaphone(Some(l.intValue)))
    val r = dm.doubleMetaphone(u.toString)
    new GenericArrayData(Array[Any](out(r.primary), out(r.alternate)))
  }

  def doubleMetaphonePrimary(u: UTF8String): UTF8String =
    out(DoubleMetaphone.default.encode(u.toString))

  def doubleMetaphoneAlternate(u: UTF8String): UTF8String =
    out(DoubleMetaphone.default.encodeAlternate(u.toString))

  def nysiis(u: UTF8String, strict: Boolean): UTF8String =
    out((if (strict) Nysiis.default else Nysiis.nonStrict).encode(u.toString))

  def phonex(u: UTF8String, maxLen: Int): UTF8String = {
    val px =
      if (maxLen == 4) Phonex.default
      else phonexes.computeIfAbsent(maxLen, l => Phonex(l.intValue))
    out(px.encode(u.toString))
  }

  def cologne(u: UTF8String): UTF8String = out(Cologne.encode(u.toString))

  def caverphone1(u: UTF8String): UTF8String =
    out(Caverphone1.encode(u.toString))

  def caverphone2(u: UTF8String): UTF8String =
    out(Caverphone2.encode(u.toString))

  def mraEncode(u: UTF8String): UTF8String =
    out(MatchRatingApproach.encode(u.toString))

  def mraMatch(a: UTF8String, b: UTF8String): Boolean =
    MatchRatingApproach.isEncodedEquals(a.toString, b.toString)

  def mraRating(a: UTF8String, b: UTF8String): Int =
    MatchRatingApproach.rating(a.toString, b.toString)

  private def outArray(codes: Array[String]): ArrayData = {
    val arr = new Array[Any](codes.length)
    var i = 0
    while (i < codes.length) { arr(i) = out(codes(i)); i += 1 }
    new GenericArrayData(arr)
  }

  def dmSoundex(u: UTF8String): ArrayData =
    outArray(DaitchMokotoff.default.codes(u.toString, branching = true))

  def dmEncode(u: UTF8String): UTF8String =
    out(DaitchMokotoff.default.encode(u.toString))

  def soundexDifference(a: UTF8String, b: UTF8String): Int =
    Soundex.default.difference(a.toString, b.toString)

  def refinedSoundexDifference(a: UTF8String, b: UTF8String): Int =
    RefinedSoundex.default.difference(a.toString, b.toString)

  def jaroWinkler(a: UTF8String, b: UTF8String): Double =
    JaroWinkler.similarity(a.toString, b.toString)

  /** All pairwise scoring features in ONE pass — strings converted once,
    * MRA encodes shared between rating and match decision, Levenshtein on
    * the raw UTF8Strings' characters ([[Levenshtein]], equal to Spark's).
    * Returns struct(jaro_winkler, lev, mra_match,
    * mra_rating, metaphone_eq, soundex_diff); whole-stage codegen's
    * subexpression elimination keeps it evaluated once per row even when
    * all six fields are projected.
    */
  def scoreFeatures(ua: UTF8String, ub: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val a = ua.toString
    val b = ub.toString
    val jw = JaroWinkler.similarity(a, b)
    val lev = Levenshtein.distance(ua, ub)
    val (mraRating, mraMatch) = MatchRatingApproach.ratingAndMatch(a, b)
    // unbounded codes: 4-char truncation collides far too often to be a
    // transitive-closure edge (distinct long names sharing a code prefix)
    val mpEq = Metaphone.unbounded.encode(a) == Metaphone.unbounded.encode(b)
    val sxDiff = Soundex.default.difference(a, b)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](jw, lev, mraMatch, mraRating, mpEq, sxDiff))
  }

  /** Cache of Beider-Morse engines keyed by options; rule tables themselves
    * are parsed once per JVM in [[graft.phonetic.bm.BmConfig.default]].
    */
  private val bmEngines =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Boolean, Int), bm.BeiderMorse]()

  private def bmEngine(nameType: String, ruleType: String, concat: Boolean,
      maxPhonemes: Int): bm.BeiderMorse =
    bmEngines.computeIfAbsent((nameType, ruleType, concat, maxPhonemes), { k =>
      new bm.BeiderMorse(bm.NameType.parse(k._1), bm.RuleType.parse(k._2),
        k._3, k._4)
    })

  def beiderMorse(u: UTF8String, nameType: UTF8String, ruleType: UTF8String,
      concat: Boolean, maxPhonemes: Int): UTF8String =
    out(bmEngine(nameType.toString, ruleType.toString, concat, maxPhonemes)
      .encode(u.toString))

  def bmCodes(u: UTF8String, nameType: UTF8String, ruleType: UTF8String,
      concat: Boolean, maxPhonemes: Int): ArrayData = {
    val raw = bmEngine(nameType.toString, ruleType.toString, concat, maxPhonemes)
      .encode(u.toString)
    outArray(bm.BeiderMorse.splitCodes(raw))
  }

  /** Language guessing as a queryable column
    * (ref: /root/reference/src/beider_morse/lang.rs:44-64).
    */
  def bmGuessLang(u: UTF8String, nameType: UTF8String): UTF8String =
    out(bm.BeiderMorse.guessLanguages(u.toString,
      bm.NameType.parse(nameType.toString)))

  /** Language-set cache for `encode_with_languages`; the csv is a
    * plan-time literal so there is one entry per distinct restriction.
    */
  private val bmLangSets =
    new java.util.concurrent.ConcurrentHashMap[String, bm.LanguageSet]()

  /** `encode_with_languages`
    * (ref: /root/reference/src/beider_morse/mod.rs:275-277).
    */
  def bmEncodeWithLangs(u: UTF8String, nameType: UTF8String,
      ruleType: UTF8String, concat: Boolean, maxPhonemes: Int,
      languagesCsv: UTF8String): UTF8String = {
    val langs = bmLangSets.computeIfAbsent(languagesCsv.toString, csv =>
      bm.LanguageSet.of(
        csv.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq))
    out(bmEngine(nameType.toString, ruleType.toString, concat, maxPhonemes)
      .encodeWithLanguages(u.toString, langs))
  }
}
