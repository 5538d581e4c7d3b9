package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

import graft.phonetic.{Soundex, bm}

/** Registration + Column API for the phonetic Catalyst expressions.
  *
  * Register once per session (`GraftFunctions.register(spark)`) — or via
  * `spark.sql.extensions=graft.functions.GraftExtensions` — then use either
  * the Column helpers below or SQL (`SELECT graft_soundex(name) ...`).
  */
object GraftFunctions {

  /** A plan-time option argument: its documented name, how its literal is
    * read, its default (None when every call must pass it) and a check
    * that throws an IllegalArgumentException on a value the function
    * cannot run with.
    */
  final case class Opt(name: String, read: Any => Any, default: Option[Any],
      check: Any => Unit = _ => ()) {

    /** The option's value in a call. It must be a non-null foldable
      * literal that passes `check`; anything else fails analysis with a
      * clear message instead of failing, or silently evaluating against no
      * input row, once rows arrive.
      */
    def value(e: Expression): Any = {
      if (!e.foldable)
        throw new IllegalArgumentException(
          s"option argument '$name' must be a literal, got: ${e.sql}")
      val v = e.eval()
      if (v == null)
        throw new IllegalArgumentException(
          s"option argument '$name' must not be NULL")
      val x =
        try read(v)
        catch {
          case _: ClassCastException =>
            throw new IllegalArgumentException(
              s"option argument '$name' has the wrong type, got: ${e.sql}")
        }
      try check(x)
      catch {
        case err: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"option argument '$name' is invalid: ${err.getMessage}")
      }
      x
    }

    def required: Opt = copy(default = None)
  }

  private def int(name: String, default: Option[Int] = None): Opt =
    Opt(name, _.asInstanceOf[Number].intValue(), default)
  private def bool(name: String, default: Option[Boolean] = None): Opt =
    Opt(name, _.asInstanceOf[Boolean], default)
  private def str(name: String, default: Option[String] = None): Opt =
    Opt(name, _.toString, default)

  /** One SQL function: `args` column arguments, then `options`, of which
    * those with a default come last and may be left off from the end.
    * `build` makes the expression from the columns and the option values.
    */
  final case class Fn(name: String, args: Int, options: Seq[Opt],
      usage: String, build: (Seq[Expression], Seq[Any]) => Expression) {

    def apply(exprs: Seq[Expression]): Expression = {
      val passed = exprs.length - args
      if (passed < options.count(_.default.isEmpty) || passed > options.length)
        throw new IllegalArgumentException(
          s"$name: invalid number of arguments (${exprs.length})")
      build(exprs.take(args), options.zipWithIndex.map { case (o, i) =>
        if (i < passed) o.value(exprs(args + i)) else o.default.get
      })
    }
  }

  /** A function served by [[StringCall]]: the static `target.method` over
    * `args` string columns and the option values.
    */
  private def call(name: String, target: String, method: String,
      dataType: DataType, args: Int, options: Opt*)(usage: String): Fn =
    Fn(name, args, options, usage,
      (cs, os) => StringCall(name, target, method, dataType, cs, os))

  private val Phonetic = "graft.functions.PhoneticFunctions"
  private val Codes = ArrayType(StringType, containsNull = false)

  private val maxLen = int("maxLen", Some(4))
  private val nameType = str("nameType", Some("gen"))
    .copy(check = v => bm.NameType.parse(v.toString))
  private val ruleType = str("ruleType", Some("approx"))
    .copy(check = v => bm.RuleType.parse(v.toString))
  private val concat = bool("concat", Some(true))
  private val maxPhonemes = int("maxPhonemes", Some(20))
  private val bmOptions = Seq(nameType, ruleType, concat, maxPhonemes)

  /** Every registered function, one row each. */
  val builders: Seq[Fn] = Seq(
    call("graft_soundex", Phonetic, "soundex", StringType, 1)(
      "graft_soundex(str) - American Soundex (commons-codec semantics incl. H/W rule)"),
    call("graft_soundex_genealogy", Phonetic, "soundexGenealogy", StringType, 1)(
      "graft_soundex_genealogy(str) - Soundex with the genealogy.com mapping"),
    call("graft_soundex_simplified", Phonetic, "soundexSimplified", StringType, 1)(
      "graft_soundex_simplified(str) - Soundex without the H/W special case"),
    call("graft_soundex_mapping", Phonetic, "soundexMapping", StringType, 1,
      str("mapping").copy(check = m => Soundex.fromMapping(m.toString)))(
      "graft_soundex_mapping(str, mapping) - Soundex with a custom 26-char mapping literal"),
    call("graft_refined_soundex", Phonetic, "refinedSoundex", StringType, 1)(
      "graft_refined_soundex(str) - Refined Soundex"),
    call("graft_metaphone", Phonetic, "metaphone", StringType, 1, maxLen)(
      "graft_metaphone(str[, maxLen]) - Metaphone; maxLen<=0 for unbounded"),
    call("graft_double_metaphone", Phonetic, "doubleMetaphone", Codes, 1, maxLen)(
      "graft_double_metaphone(str[, maxLen]) - array(primary, alternate)"),
    call("graft_double_metaphone_primary", Phonetic, "doubleMetaphonePrimary",
      StringType, 1)("graft_double_metaphone_primary(str)"),
    call("graft_double_metaphone_alternate", Phonetic,
      "doubleMetaphoneAlternate", StringType, 1)(
      "graft_double_metaphone_alternate(str)"),
    call("graft_nysiis", Phonetic, "nysiis", StringType, 1,
      bool("strict", Some(true)))("graft_nysiis(str[, strict]) - NYSIIS"),
    call("graft_phonex", Phonetic, "phonex", StringType, 1,
      maxLen.copy(check = l =>
        require(l.asInstanceOf[Int] >= 0, "maxLen must not be negative")))(
      "graft_phonex(str[, maxLen]) - Phonex"),
    call("graft_cologne", Phonetic, "cologne", StringType, 1)(
      "graft_cologne(str) - Koelner Phonetik"),
    call("graft_caverphone1", Phonetic, "caverphone1", StringType, 1)(
      "graft_caverphone1(str) - Caverphone 1 (6 chars)"),
    call("graft_caverphone2", Phonetic, "caverphone2", StringType, 1)(
      "graft_caverphone2(str) - Caverphone 2 (10 chars)"),
    call("graft_mra_encode", Phonetic, "mraEncode", StringType, 1)(
      "graft_mra_encode(str) - Match Rating Approach codex"),
    call("graft_mra_match", Phonetic, "mraMatch", BooleanType, 2)(
      "graft_mra_match(a, b) - MRA similarity-rating match decision"),
    call("graft_mra_rating", Phonetic, "mraRating", IntegerType, 2)(
      "graft_mra_rating(a, b) - MRA rating (6 best, -1 guard failure)"),
    call("graft_double_metaphone_equal", Phonetic, "doubleMetaphoneEqual",
      BooleanType, 2, bool("alternate", Some(false)))(
      "graft_double_metaphone_equal(a, b[, alternate]) - compare primary " +
        "(or alternate) double-metaphone codes"),
    call("graft_bm_guess_lang", Phonetic, "bmGuessLang", StringType, 1,
      nameType)("graft_bm_guess_lang(str[, nameType]) - Beider-Morse guessed " +
      "languages, sorted and '|'-joined ('any' when unrestricted)"),
    call("graft_bm_encode_langs", Phonetic, "bmEncodeWithLangs", StringType, 1,
      bmOptions.map(_.required) :+ str("languagesCsv"): _*)(
      "graft_bm_encode_langs(str, nameType, ruleType, concat, maxPhonemes, " +
        "languagesCsv) - Beider-Morse encode restricted to a language set"),
    call("graft_dm_soundex", Phonetic, "dmSoundex", Codes, 1)(
      "graft_dm_soundex(str) - Daitch-Mokotoff branching codes as array"),
    call("graft_dm_encode", Phonetic, "dmEncode", StringType, 1)(
      "graft_dm_encode(str) - Daitch-Mokotoff single (non-branching) code"),
    call("graft_soundex_difference", Phonetic, "soundexDifference",
      IntegerType, 2)(
      "graft_soundex_difference(a, b) - positional overlap of soundex codes (0-4)"),
    call("graft_refined_soundex_difference", Phonetic,
      "refinedSoundexDifference", IntegerType, 2)(
      "graft_refined_soundex_difference(a, b)"),
    call("graft_jaro_winkler", Phonetic, "jaroWinkler", DoubleType, 2)(
      "graft_jaro_winkler(a, b) - Jaro-Winkler similarity in [0,1]"),
    // every feature of graft.pipeline.Scoring in one evaluation (strings
    // converted once, MRA encodes shared)
    call("graft_score_features", Phonetic, "scoreFeatures", StructType(Seq(
      StructField("jaro_winkler", DoubleType, nullable = false),
      StructField("lev", IntegerType, nullable = false),
      StructField("mra_match", BooleanType, nullable = false),
      StructField("mra_rating", IntegerType, nullable = false),
      StructField("metaphone_eq", BooleanType, nullable = false),
      StructField("soundex_diff", IntegerType, nullable = false))), 2)(
      "graft_score_features(a, b) - struct of all pairwise scoring " +
        "features computed in one pass"),
    call("graft_beider_morse", Phonetic, "beiderMorse", StringType, 1,
      bmOptions: _*)(
      "graft_beider_morse(str[, nameType, ruleType, concat, maxPhonemes]) - " +
        "Beider-Morse encoding, '|'-joined variants"),
    call("graft_bm_codes", Phonetic, "bmCodes", Codes, 1, bmOptions: _*)(
      "graft_bm_codes(str[, nameType, ruleType, concat, maxPhonemes]) - " +
        "Beider-Morse variants flattened to array<string> for explode()"),
    Fn("graft_cosine", 2, Nil,
      "graft_cosine(a, b) - cosine similarity of two numeric arrays " +
        "(single-pass, codegen'd)",
      (cs, _) => CosineExpr(cs(0), cs(1))),
    Fn("graft_lsh_signatures", 1,
      Seq(int("dim"), int("nPlanes"), int("bands"), int("seedBase")),
      "graft_lsh_signatures(vec, dim, nPlanes, bands, seedBase) - " +
        "array of per-band random-hyperplane LSH signatures (single pass); " +
        "vec must have exactly dim elements",
      (cs, os) => LshSignaturesExpr(cs.head, os(0).asInstanceOf[Int],
        os(1).asInstanceOf[Int], os(2).asInstanceOf[Int],
        os(3).asInstanceOf[Int])),
    // the single-expression form of TextAnalysis.langIdCol (bit-identical,
    // parity-pinned in OpsSpec)
    call("graft_langid", "graft.ops.TextAnalysis", "langIdUtf8", StringType,
      1, int("minHits", Some(1)))(
      "graft_langid(text[, minHits]) - stopword-signature language ID " +
        "(single-pass form of TextAnalysis.langIdCol); guesses with fewer " +
        "than minHits signature hits map to 'und'"),
    call("graft_langid_scored", "graft.ops.TextAnalysis", "langIdScored",
      StructType(Seq(
        StructField("lang", StringType, nullable = false),
        StructField("hits", IntegerType, nullable = false))),
      1, int("minHits", Some(1)))(
      "graft_langid_scored(text[, minHits]) - struct(lang, hits): floored " +
        "language guess plus raw best-signature hit count"),
    call("graft_tokens", "graft.functions.Tokens", "tokensArray", Codes, 1)(
      "graft_tokens(text) - portable Unicode tokens (CJK chars single, " +
        "other letter/digit runs as words) of the lowercased text"),
    call("graft_minhash_signature", "graft.functions.MinHashFunctions",
      "minhashSignature", ArrayType(LongType, containsNull = false), 1,
      int("numHashes", Some(64)), int("k", Some(3)))(
      "graft_minhash_signature(text[, numHashes[, k]]) - MinHash signature of word k-shingles"),
    // the merges text becomes one BpeModel per plan copy
    call("graft_bpe_count", "graft.functions.BpeFunctions", "countTokens",
      IntegerType, 1, str("merges"))(
      "graft_bpe_count(text, merges) - learned-BPE subword token count; " +
        "merges is the newline-joined table from Bpe.mergesAsString"),
    call("graft_bpe_encode", "graft.functions.BpeFunctions", "encode", Codes,
      1, str("merges"))(
      "graft_bpe_encode(text, merges) - learned-BPE subword token stream " +
        "as array<string>")
  )

  /** Registries this object has already populated, keyed on registry
    * identity (weak, so dropped sessions can be collected). Skipping on a
    * seen REGISTRY — not on any pre-existing binding of the name — means a
    * stale or third-party temp function with a graft_* name gets replaced
    * on first registration instead of silently shadowing the library.
    */
  private val registeredRegistries =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[AnyRef, java.lang.Boolean]())

  /** Idempotent per-session registration: the first call on a session
    * (re)binds every graft_* function; repeat calls are no-ops (no
    * "replaced a previously registered function" log spam).
    *
    * The whole check-and-bind runs under the map's lock and the registry is
    * marked registered only AFTER every function is bound, so a concurrent
    * second `register()` cannot return while the first is still mid-way
    * through the builders loop (which would let that thread's next
    * `call_function` fail with an undefined-function error).
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registeredRegistries.synchronized {
      if (!registeredRegistries.containsKey(registry)) {
        builders.foreach(f =>
          registry.createOrReplaceTempFunction(f.name, f.apply, "built-in"))
        registeredRegistries.put(registry, java.lang.Boolean.TRUE)
      }
    }
  }

  // ---- Column API (requires register(spark) on the active session) ----
  def graftSoundex(c: Column): Column = call_function("graft_soundex", c)
  def graftRefinedSoundex(c: Column): Column =
    call_function("graft_refined_soundex", c)
  def graftMetaphone(c: Column): Column = call_function("graft_metaphone", c)
  def graftDoubleMetaphone(c: Column): Column =
    call_function("graft_double_metaphone", c)
  def graftNysiis(c: Column): Column = call_function("graft_nysiis", c)
  def graftPhonex(c: Column): Column = call_function("graft_phonex", c)
  def graftCologne(c: Column): Column = call_function("graft_cologne", c)
  def graftCaverphone1(c: Column): Column = call_function("graft_caverphone1", c)
  def graftCaverphone2(c: Column): Column = call_function("graft_caverphone2", c)
  def graftMraEncode(c: Column): Column = call_function("graft_mra_encode", c)
  def graftMraMatch(a: Column, b: Column): Column =
    call_function("graft_mra_match", a, b)
  def graftMraRating(a: Column, b: Column): Column =
    call_function("graft_mra_rating", a, b)
  def graftDmSoundex(c: Column): Column = call_function("graft_dm_soundex", c)
  def graftBeiderMorse(c: Column): Column =
    call_function("graft_beider_morse", c)
  def graftBmCodes(c: Column): Column = call_function("graft_bm_codes", c)
  def graftDmEncode(c: Column): Column = call_function("graft_dm_encode", c)
  def graftSoundexDifference(a: Column, b: Column): Column =
    call_function("graft_soundex_difference", a, b)
  def graftJaroWinkler(a: Column, b: Column): Column =
    call_function("graft_jaro_winkler", a, b)
  def graftScoreFeatures(a: Column, b: Column): Column =
    call_function("graft_score_features", a, b)
  def graftLangId(c: Column): Column = call_function("graft_langid", c)
  def graftLangIdScored(c: Column): Column =
    call_function("graft_langid_scored", c)
  def graftTokens(c: Column): Column = call_function("graft_tokens", c)
  def graftCosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)
  def graftMinhashSignature(c: Column): Column =
    call_function("graft_minhash_signature", c)
}

/** `spark.sql.extensions`-pluggable registration. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { f =>
      ext.injectFunction(
        (FunctionIdentifier(f.name),
          new ExpressionInfo("graft.functions.GraftFunctions", null, f.name,
            f.usage, "", "", "", "", "", "", "built-in"),
          f.apply))
    }
  }
}
