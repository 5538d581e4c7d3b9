package graft.phonetic

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PhoneticFunctions
import graft.phonetic.bm.{BeiderMorse, NameType, RuleType}

/** Pins every phonetic kernel's output: one sha256 per variant over a
  * seeded corpus, against the checked-in `phonetic_pin.sha256`. The corpus
  * mixes the fixture names, synthetic names, Latin-1 accents, punctuation
  * and whitespace, and arbitrary Unicode (supplementary planes, case
  * mappings that change length, titlecase letters, a word-final capital
  * sigma). A kernel rewrite must leave every line unchanged.
  */
class PhoneticPinSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Strings with casing or length traps, and the rule-table edge cases
    * (generic/sephardic prefixes, the DM "ţ" byte-length pattern).
    */
  private val specials: Seq[String] = Seq(
    "", " ", "a", "A", "ß", "ŉ", "ﬁ", "İ", "ǅ", "Σ", "ΟΔΥΣΣΕΥΣ", "ΣΑΣ ΑΣ",
    "ΑΣ.", "Σ", "straße", "ŉoel", "ﬁnch", "İstanbul", "ǅukić", "ǈubljana",
    "d'angelo", "D'Artagnan", "de la cruz", "van der berg", "della robbia",
    "al-sayed", "el'bar", "bar-on", "ţamas", "ŢAMAŞ", "MacDonald", "Knight",
    "Schmidt", "Tchaikovsky", "Wright", "Phillips", "Xavier", "Czerny",
    "Gnagy", "McHugh", "Thompson", "Ghislaine", "Mueller", "Müller",
    "Ça va", "Ñuñez", "O'Brien-Smith", "  leading", "trailing  ", "tab\tsep",
    "nul\u0000char", "﻿bom", "zw‍j", "𝐀𝐁𝐂", "a𝐀b", "日本語", "😀smile")

  private val onsets = Array("b", "br", "c", "ch", "d", "f", "g", "gh", "h",
    "j", "k", "kl", "l", "m", "n", "p", "ph", "r", "s", "sch", "sh", "st",
    "t", "th", "v", "w", "y", "z", "ts", "tch", "dg", "wr", "kn", "mb")
  private val vowels = Array("a", "e", "i", "o", "u", "y", "ai", "ie", "ou",
    "ee", "é", "ö", "ü", "ä")

  private def synthetic(r: SplittableRandom): String = {
    val sb = new StringBuilder
    val target = 2 + r.nextInt(12)
    while (sb.length < target) {
      sb ++= onsets(r.nextInt(onsets.length))
      sb ++= vowels(r.nextInt(vowels.length))
    }
    val s = sb.toString
    r.nextInt(4) match {
      case 0 => s.capitalize
      case 1 => s.toUpperCase(java.util.Locale.ROOT)
      case _ => s
    }
  }

  private def fromAlphabet(r: SplittableRandom, alphabet: String,
      maxLen: Int): String = {
    val n = r.nextInt(maxLen + 1)
    val sb = new StringBuilder
    (0 until n).foreach(_ => sb += alphabet.charAt(r.nextInt(alphabet.length)))
    sb.toString
  }

  private val latin1 = ('A' to 'Z').mkString + ('a' to 'z').mkString +
    (0xC0 to 0xFF).map(_.toChar).mkString + " -'.,&"
  private val printable = (0x20 to 0x7E).map(_.toChar).mkString + "\t\n"

  private def arbitrary(r: SplittableRandom): String = {
    val sb = new java.lang.StringBuilder
    val n = r.nextInt(16)
    (0 until n).foreach { _ =>
      val cp = r.nextInt(8) match {
        case 0 => r.nextInt(0x10FFFF + 1)
        case 1 => 0x0300 + r.nextInt(0x70)
        case 2 => 0x1D400 + r.nextInt(0x100)
        case 3 => 0x0370 + r.nextInt(0x90)
        case 4 => "ßŉﬁİǅΣςıẞ".codePointAt(r.nextInt(9))
        case 5 => 0x100 + r.nextInt(0x180)
        case _ => 'A' + r.nextInt('z' - 'A' + 1)
      }
      if (!(cp >= 0xD800 && cp <= 0xDFFF)) sb.appendCodePoint(cp)
    }
    sb.toString
  }

  private lazy val corpus: Vector[String] = {
    val r = new SplittableRandom(20261019L)
    val fixtures = (graft.pipeline.NameFixtures.families.flatten ++
      graft.pipeline.NameFixtures.positives.flatMap(p => Seq(p._1, p._2)) ++
      graft.pipeline.NameFixtures.negatives.flatMap(p => Seq(p._1, p._2))).distinct
    (specials ++ fixtures ++
      Vector.fill(2500)(synthetic(r)) ++
      Vector.fill(1500)(fromAlphabet(r, latin1, 14)) ++
      Vector.fill(500)(fromAlphabet(r, printable, 14)) ++
      Vector.fill(1500)(arbitrary(r))).toVector
  }

  /** Each input's partner for the pairwise variants: its neighbour (close
    * variants sit together among the fixtures) or a far string.
    */
  private def partner(i: Int): String =
    if (i % 2 == 0) corpus((i + 1) % corpus.size)
    else corpus((i * 7 + 3) % corpus.size)

  private def joined(xs: Iterable[String]): String = xs.mkString("\u0001")

  private def bits(d: Double): String =
    java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  private val bmBlocking = new BeiderMorse(maxPhonemes = 4)

  private val unary: Seq[(String, String => String)] = Seq(
    "soundex" -> Soundex.default.encode,
    "soundex_genealogy" -> Soundex.genealogy.encode,
    "soundex_simplified" -> Soundex.simplified.encode,
    "soundex_mapping" -> Soundex.fromMapping("01230120022455012623010202").encode,
    "refined_soundex" -> RefinedSoundex.default.encode,
    "metaphone4" -> Metaphone.default.encode,
    "metaphone6" -> Metaphone(Some(6)).encode,
    "metaphone_unbounded" -> Metaphone.unbounded.encode,
    "double_metaphone4" -> { s =>
      val d = DoubleMetaphone.default.doubleMetaphone(s); d.primary + "," + d.alternate
    },
    "double_metaphone6" -> { s =>
      val d = DoubleMetaphone(Some(6)).doubleMetaphone(s); d.primary + "," + d.alternate
    },
    "double_metaphone_unbounded" -> { s =>
      val d = DoubleMetaphone.unbounded.doubleMetaphone(s); d.primary + "," + d.alternate
    },
    "nysiis_strict" -> Nysiis.default.encode,
    "nysiis" -> Nysiis.nonStrict.encode,
    "phonex4" -> Phonex.default.encode,
    "phonex8" -> Phonex(8).encode,
    "cologne" -> Cologne.encode,
    "caverphone1" -> Caverphone1.encode,
    "caverphone2" -> Caverphone2.encode,
    "mra_encode" -> MatchRatingApproach.encode,
    "dm_branching" -> (s => joined(DaitchMokotoff.default.innerSoundex(s, branching = true))),
    "dm_encode" -> DaitchMokotoff.default.encode,
    "bm_gen_approx_20" -> BeiderMorse.default.encode,
    "bm_gen_exact_20" -> new BeiderMorse(ruleType = RuleType.Exact).encode,
    "bm_ash_approx_20" -> new BeiderMorse(nameType = NameType.Ashkenazi).encode,
    "bm_sep_approx_20" -> new BeiderMorse(nameType = NameType.Sephardic).encode,
    "bm_gen_approx_20_words" -> new BeiderMorse(concat = false).encode,
    "bm_blocking_4" -> bmBlocking.encode,
    "bm_codes_20" -> (s => joined(PhoneticFunctions.bmCodes(UTF8String.fromString(s),
      UTF8String.fromString("gen"), UTF8String.fromString("approx"), true, 20)
      .toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString))),
    "bm_codes_4" -> (s => joined(BeiderMorse.splitCodes(bmBlocking.encode(s)))),
    "bm_guess_lang_gen" -> (s => BeiderMorse.guessLanguages(s, NameType.Generic)),
    "bm_guess_lang_ash" -> (s => BeiderMorse.guessLanguages(s, NameType.Ashkenazi)),
    "bm_guess_lang_sep" -> (s => BeiderMorse.guessLanguages(s, NameType.Sephardic)))

  private val binary: Seq[(String, (String, String) => String)] = Seq(
    "score_features" -> { (a, b) =>
      val r = PhoneticFunctions.scoreFeatures(UTF8String.fromString(a),
        UTF8String.fromString(b))
      Seq(bits(r.getDouble(0)), r.getInt(1), r.getBoolean(2), r.getInt(3),
        r.getBoolean(4), r.getInt(5)).mkString(",")
    },
    "soundex_difference" -> ((a, b) => Soundex.default.difference(a, b).toString),
    "refined_soundex_difference" ->
      ((a, b) => RefinedSoundex.default.difference(a, b).toString),
    "mra_match" -> ((a, b) => MatchRatingApproach.isEncodedEquals(a, b).toString),
    "mra_rating" -> ((a, b) => MatchRatingApproach.rating(a, b).toString),
    "jaro_winkler" -> ((a, b) => bits(JaroWinkler.similarity(a, b))),
    "double_metaphone_equal" -> ((a, b) =>
      DoubleMetaphone.default.isDoubleMetaphoneEqual(a, b, alternate = true).toString),
    "cluster_match" -> ((a, b) => graft.pipeline.Scoring.clusterMatch(a, b).toString))

  private def rendered: String = {
    val c = corpus
    (Seq(s"corpus\t${c.size}\t${sha256(joined(c))}") ++
      unary.map { case (name, f) => s"$name\t${sha256(joined(c.map(f)))}" } ++
      binary.map { case (name, f) =>
        s"$name\t${sha256(joined(c.indices.map(i => f(c(i), partner(i)))))}"
      }).mkString("", "\n", "\n")
  }

  test("every phonetic kernel's output matches the pinned hashes") {
    val golden = new String(
      getClass.getResourceAsStream("/phonetic_pin.sha256").readAllBytes(),
      StandardCharsets.UTF_8)
    val actual = rendered
    if (actual != golden) {
      val out = Paths.get("target", "phonetic_pin.sha256.actual")
      Files.createDirectories(out.getParent)
      Files.write(out, actual.getBytes(StandardCharsets.UTF_8))
      val changed = actual.linesIterator.toSet.diff(golden.linesIterator.toSet)
        .map(_.takeWhile(_ != '\t'))
      fail(s"phonetic pin mismatch in ${changed.mkString(", ")}; " +
        s"current hashes written to $out")
    }
  }
}
