package graft.functions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper

/** Every function compiles to a direct static call inside whole-stage
  * codegen, and generated and interpreted evaluation agree on every call
  * form of [[FunctionSurfacePinSpec.forms]].
  */
class EvaluationPathsSpec extends AnyFunSuite {
  import FunctionSurfacePinSpec.forms

  /** The static call each function's generated code must contain. */
  private val calls: Map[String, String] = {
    val p = "graft.functions.PhoneticFunctions."
    Map(
      "graft_soundex" -> s"${p}soundex(",
      "graft_soundex_genealogy" -> s"${p}soundexGenealogy(",
      "graft_soundex_simplified" -> s"${p}soundexSimplified(",
      "graft_soundex_mapping" -> s"${p}soundexMapping(",
      "graft_refined_soundex" -> s"${p}refinedSoundex(",
      "graft_metaphone" -> s"${p}metaphone(",
      "graft_double_metaphone" -> s"${p}doubleMetaphone(",
      "graft_double_metaphone_primary" -> s"${p}doubleMetaphonePrimary(",
      "graft_double_metaphone_alternate" -> s"${p}doubleMetaphoneAlternate(",
      "graft_nysiis" -> s"${p}nysiis(",
      "graft_phonex" -> s"${p}phonex(",
      "graft_cologne" -> s"${p}cologne(",
      "graft_caverphone1" -> s"${p}caverphone1(",
      "graft_caverphone2" -> s"${p}caverphone2(",
      "graft_mra_encode" -> s"${p}mraEncode(",
      "graft_mra_match" -> s"${p}mraMatch(",
      "graft_mra_rating" -> s"${p}mraRating(",
      "graft_double_metaphone_equal" -> s"${p}doubleMetaphoneEqual(",
      "graft_bm_guess_lang" -> s"${p}bmGuessLang(",
      "graft_bm_encode_langs" -> s"${p}bmEncodeWithLangs(",
      "graft_dm_soundex" -> s"${p}dmSoundex(",
      "graft_dm_encode" -> s"${p}dmEncode(",
      "graft_soundex_difference" -> s"${p}soundexDifference(",
      "graft_refined_soundex_difference" -> s"${p}refinedSoundexDifference(",
      "graft_jaro_winkler" -> s"${p}jaroWinkler(",
      "graft_score_features" -> s"${p}scoreFeatures(",
      "graft_beider_morse" -> s"${p}beiderMorse(",
      "graft_bm_codes" -> s"${p}bmCodes(",
      "graft_cosine" -> "graft.functions.CosineFunctions.cosine(",
      "graft_lsh_signatures" -> "graft.functions.LshFunctions.signatures(",
      "graft_langid" -> "graft.ops.TextAnalysis.langIdUtf8(",
      "graft_langid_scored" -> "graft.ops.TextAnalysis.langIdScored(",
      "graft_tokens" -> "graft.functions.Tokens.tokensArray(",
      "graft_minhash_signature" ->
        "graft.functions.MinHashFunctions.minhashSignature(",
      "graft_bpe_count" -> "graft.functions.BpeFunctions.countTokens(",
      "graft_bpe_encode" -> "graft.functions.BpeFunctions.encode(")
  }

  /** A session whose rows are really evaluated (no constant folding, no
    * local-relation shortcut), with the given evaluation settings.
    */
  private def session(codegen: Boolean): SparkSession = {
    val s = SparkSessionTestWrapper.spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConstantFolding," +
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    s.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
    s.conf.set("spark.sql.codegen.factoryMode",
      if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    s.conf.set("spark.sql.codegen.fallback", (!codegen).toString)
    GraftFunctions.register(s)
    s
  }
  private lazy val compiled = session(codegen = true)
  private lazy val interpreted = session(codegen = false)

  /** Null, empty, ASCII, Latin-1, Latin Extended and supplementary-plane
    * strings, each paired with another; vectors of the dimension the LSH
    * forms take.
    */
  private val strings = Seq(null, "", "Washington", "Smith", "O'Brien-Smythe",
    "Müller", "Ørsted Æbeltoft", "Müller-Łódź", "ſtraße",
    "𝒜lice 😀 and the Σ", "the quick brown fox and the dog")

  private def table(s: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("a", StringType), StructField("b", StringType),
      StructField("v", ArrayType(DoubleType, containsNull = false)),
      StructField("f", ArrayType(FloatType, containsNull = false))))
    val rows = strings.zipWithIndex.map { case (a, i) =>
      val b = strings((i + 3) % strings.length)
      val v = if (a == null) null else Seq(0.5 * i, -1.0, 0.25, i.toDouble)
      val f = if (a == null) null else v.map(_.toFloat)
      Row(a, b, v, f)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  test("generated code calls each function's static method directly") {
    forms.foreach { form =>
      val name = form.takeWhile(_ != '(')
      val code = codegenString(
        table(compiled).selectExpr(form).queryExecution.executedPlan)
      assert(code.contains("WholeStageCodegen"), form)
      assert(code.contains(calls(name)), s"$form: no ${calls(name)}\n$code")
    }
    assert(forms.map(_.takeWhile(_ != '(')).toSet == calls.keySet)
  }

  test("generated and interpreted evaluation agree on every call form") {
    forms.foreach { form =>
      val got = table(compiled).selectExpr(form).collect().toSeq
      val want = table(interpreted).selectExpr(form).collect().toSeq
      assert(got == want, form)
      assert(got.length == strings.length, form)
    }
  }

  test("Scoring.score evaluates the fused features once per row") {
    val s = compiled
    import s.implicits._
    val pairs = Seq((1L, 2L, "smith", "smyth"), (3L, 4L, "jon", "john"))
      .toDF("src", "dst", "token_a", "token_b")
    val code = codegenString(
      graft.pipeline.Scoring.score(pairs).queryExecution.executedPlan)
    assert("scoreFeatures\\(".r.findAllIn(code).length == 1, code)
  }
}
