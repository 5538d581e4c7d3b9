package graft.phonetic

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.functions.PhoneticFunctions

/** Property tests promised in SURVEY.md §5: determinism, output charset
  * closure, code-length invariants, and the Daitch-Mokotoff
  * encode-is-first-branch containment.
  */
class PhoneticPropertiesSpec extends AnyFunSuite {

  /** Seeded sampling loop over a generator (the scalatest-scalacheck
    * bridge is not in the offline dependency cache).
    */
  private def forAll[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(42L)
    (0 until n).foreach { _ =>
      f(gen.pureApply(params, seed))
      seed = seed.next
    }
  }

  private def forAll2[A](gen: Gen[A], n: Int = 300)(f: (A, A) => Unit): Unit = {
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(7L)
    (0 until n).foreach { _ =>
      val a = gen.pureApply(params, seed); seed = seed.next
      val b = gen.pureApply(params, seed); seed = seed.next
      f(a, b)
    }
  }

  private val nameGen: Gen[String] = Gen.oneOf(
    Gen.alphaStr.map(_.take(24)),
    Gen.asciiPrintableStr.map(_.take(24)),
    Gen.listOf(Gen.oneOf(
      Gen.alphaChar, Gen.oneOf('ä', 'ö', 'ü', 'ß', 'ç', 'ñ', 'é', '\'', '-', ' ')))
      .map(_.mkString.take(24)))

  private val encoders: Seq[(String, String => String)] = Seq(
    "soundex" -> Soundex.default.encode,
    "refined" -> RefinedSoundex.default.encode,
    "metaphone" -> Metaphone.default.encode,
    "dm_primary" -> DoubleMetaphone.default.encode,
    "nysiis" -> Nysiis.default.encode,
    "phonex" -> Phonex.default.encode,
    "cologne" -> Cologne.encode,
    "caverphone1" -> Caverphone1.encode,
    "caverphone2" -> Caverphone2.encode,
    "mra" -> MatchRatingApproach.encode,
    "daitch_mokotoff" -> DaitchMokotoff.default.encode)

  /** Arbitrary Unicode incl. supplementary-plane codepoints, combining
    * marks, controls, and casing special-cases — the totality domain.
    */
  private val unicodeGen: Gen[String] = {
    val anyCp = Gen.chooseNum(0x20, 0x10FFFF)
      .retryUntil(cp => !(cp >= 0xD800 && cp <= 0xDFFF), 100)
    val cp = Gen.oneOf(
      anyCp,
      Gen.chooseNum(0x0300, 0x036F), // combining marks
      Gen.chooseNum(0x1D400, 0x1D4FF), // math alphanumerics (non-BMP letters)
      Gen.chooseNum(0x1F300, 0x1F6FF), // emoji
      Gen.chooseNum(0x20000, 0x2A6DF), // Han ext-B
      Gen.oneOf(0x0130, 0x0131, 0x03C2, 0xFB01, 0x200D, 0xFEFF, 0x0000,
        0x0009, 0x00DF, 0x1E9E, 0x0149, 0x03A3), // İ ı ς ﬁ zwj bom nul tab ß ẞ ŉ Σ
      Gen.chooseNum('A'.toInt, 'z'.toInt))
    val s = Gen.listOf(cp).map(cps =>
      new String(cps.take(24).flatMap(Character.toChars(_)).toArray))
    // a word-final capital sigma lowercases to ς, elsewhere to σ
    Gen.oneOf(s, s.map(_ + "ΟΣ"), s.map(_ + "ΑΣ b"))
  }

  test("every encoder is total and deterministic on arbitrary Unicode") {
    // the repo deliberately diverges from the reference's panics (e.g.
    // Soundex on unmapped chars): every encoder must return a value — not
    // throw — on ANY string, including supplementary-plane codepoints and
    // combining marks. This pins that totality contract.
    val bm = graft.phonetic.bm.BeiderMorse.default
    val bmBlocking = new graft.phonetic.bm.BeiderMorse(maxPhonemes = 4)
    val (gen, approx) = (UTF8String.fromString("gen"), UTF8String.fromString("approx"))
    forAll(unicodeGen, n = 400) { s =>
      encoders.foreach { case (name, enc) =>
        val out =
          try enc(s)
          catch {
            case e: Throwable =>
              fail(s"$name threw on '${s.map(c => f"\\u${c.toInt}%04x").mkString}': $e")
          }
        assert(out == enc(s), s"$name not deterministic on '$s'")
      }
      assert(bm.encode(s) == bm.encode(s))
      assert(bmBlocking.encode(s) == bmBlocking.encode(s))
      val u = UTF8String.fromString(s)
      val codes = PhoneticFunctions.bmCodes(u, gen, approx, true, 20)
      assert(codes == PhoneticFunctions.bmCodes(u, gen, approx, true, 20))
      assert(graft.phonetic.bm.BeiderMorse.guessLanguages(s,
        graft.phonetic.bm.NameType.Generic) ==
        graft.phonetic.bm.BeiderMorse.guessLanguages(s,
          graft.phonetic.bm.NameType.Generic))
      // comparators are total too
      MatchRatingApproach.isEncodedEquals(s, s.reverse)
      JaroWinkler.similarity(s, s.reverse)
      Soundex.default.difference(s, s.reverse)
      RefinedSoundex.default.difference(s, s.reverse)
      DoubleMetaphone.default.isDoubleMetaphoneEqual(s, s.reverse, alternate = false)
    }
    forAll2(unicodeGen, n = 400) { (a, b) =>
      val (ua, ub) = (UTF8String.fromString(a), UTF8String.fromString(b))
      assert(PhoneticFunctions.scoreFeatures(ua, ub) == PhoneticFunctions.scoreFeatures(ua, ub),
        s"scoreFeatures not deterministic on '$a', '$b'")
    }
  }

  test("every encoder is deterministic and total") {
    forAll(nameGen) { s =>
      encoders.foreach { case (name, enc) =>
        assert(enc(s) == enc(s), s"$name not deterministic on '$s'")
      }
      val bmEnc = graft.phonetic.bm.BeiderMorse.default
      assert(bmEnc.encode(s) == bmEnc.encode(s))
    }
  }

  test("fixed-length codes pad to their exact lengths") {
    forAll(nameGen) { s =>
      val sx = Soundex.default.encode(s)
      assert(sx.isEmpty || sx.length == 4, s"soundex '$s' -> '$sx'")
      assert(Caverphone1.encode(s).length == 6)
      assert(Caverphone2.encode(s).length == 10)
      val px = Phonex.default.encode(s)
      assert(px.length == 4, s"phonex '$s' -> '$px'")
      val dm = DaitchMokotoff.default.encode(s)
      assert(dm.isEmpty || dm.length == 6, s"dm '$s' -> '$dm'")
      assert(MatchRatingApproach.encode(s).length <= 6)
      assert(Metaphone.default.encode(s).length <= 4)
    }
  }

  test("output charsets are closed") {
    forAll(nameGen) { s =>
      assert(Cologne.encode(s).forall(_.isDigit))
      assert(DaitchMokotoff.default.encode(s).forall(_.isDigit))
      val sx = Soundex.default.encode(s)
      assert(sx.isEmpty ||
        (sx.charAt(0).isLetter && sx.drop(1).forall(_.isDigit)), sx)
      assert(Caverphone2.encode(s).forall(c => c.isLetterOrDigit))
    }
  }

  test("DM non-branching code is one of the branching codes") {
    forAll(nameGen) { s =>
      val single = DaitchMokotoff.default.encode(s)
      val branches = DaitchMokotoff.default.innerSoundex(s, branching = true)
      if (single.nonEmpty) assert(branches.contains(single),
        s"'$s': $single not in ${branches.mkString("|")}")
    }
  }

  test("double metaphone primary equals first element of the pair") {
    forAll(nameGen) { s =>
      val r = DoubleMetaphone.default.doubleMetaphone(s)
      assert(DoubleMetaphone.default.encode(s) == r.primary)
      assert(DoubleMetaphone.default.encodeAlternate(s) == r.alternate)
    }
  }

  test("MRA match is symmetric; rating bounded by 6") {
    forAll2(nameGen) { (a, b) =>
      assert(MatchRatingApproach.isEncodedEquals(a, b) ==
        MatchRatingApproach.isEncodedEquals(b, a))
      val r = MatchRatingApproach.rating(a, b)
      assert(r >= -1 && r <= 6)
    }
  }

  test("Jaro-Winkler is symmetric, in [0,1], and 1 iff equal-ish") {
    forAll2(nameGen) { (a, b) =>
      val s1 = JaroWinkler.similarity(a, b)
      assert(s1 == JaroWinkler.similarity(b, a))
      assert(s1 >= 0.0 && s1 <= 1.0)
      if (a.nonEmpty) assert(JaroWinkler.similarity(a, a) == 1.0)
    }
  }
}
