package graft.driver

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.goldens.Goldens

/** The phonetic encoders and comparators on the reference's OWN golden
  * test vectors ([[Goldens]], ported from the reference's test fixtures).
  * Each oracle is a VALUES-literal table of the reference-expected outputs,
  * so a driver hash match proves bit-exactness against the reference per
  * operator, through an independent engine (DuckDB).
  */
object GoldenQueries {

  /** Golden-fixture DataFrames ride a SINGLE-partition RDD, not a
    * LocalRelation: `Seq.toDF` parallelizes to defaultParallelism tasks
    * (32 near-empty tasks per sub-hundred-row fixture — pure scheduling
    * overhead), and a deterministic projection over a LocalRelation is
    * additionally folded DRIVER-side by ConvertToLocalRelation, so the
    * encoder expressions would not even run as a distributed job. One
    * task per fixture, encoders on executors (same rows either way).
    */
  private def tokensDf(s: SparkSession, tokens: Seq[String]): DataFrame = {
    import s.implicits._
    tokens.toDF("token").coalesce(1)
  }

  private def pairsDf(s: SparkSession, pairs: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    pairs.toDF("token_a", "token_b").coalesce(1)
  }

  /** The graft SQL function `name` on a column, with literal options. */
  private def fn(name: String, options: Any*): Column => Column =
    c => call_function(name, c +: options.map(lit): _*)

  /** A golden query whose output columns, and its oracle's VALUES columns,
    * are `cols`: the union of `parts`, each an input table and one
    * expression per column.
    */
  private def golden(name: String, vectors: Seq[Product], cols: String*)(
      parts: SparkSession => Seq[(DataFrame, Seq[Column])]): DriverQuery =
    DriverQuery(name, Goldens.valuesSql(cols, vectors)) { (s, _) =>
      parts(s).map { case (in, exprs) =>
        in.select(exprs.zip(cols).map { case (e, c) => e.as(c) }: _*)
      }.reduce(_.union(_))
    }

  /** Vectors `(options..., token, code)`: the tokens of each option set,
    * encoded by `function` with those options.
    */
  private def encoded(name: String, vectors: Seq[Product], function: String,
      cols: String*): DriverQuery =
    golden(name, vectors, cols: _*)(s =>
      vectors.groupBy(_.productIterator.toSeq.dropRight(2)).toSeq
        .sortBy(_._1.mkString("(", ",", ")"))
        .map { case (options, rows) =>
          val tokens = rows.map(r => r.productElement(r.productArity - 2).toString)
          tokensDf(s, tokens) ->
            (options.map(lit) :+ col("token") :+ fn(function, options: _*)(col("token")))
        })

  /** Vectors `(variant, token, code)`: each variant's tokens, encoded by
    * its own encoder.
    */
  private def variants(name: String, vectors: Seq[(String, String, String)])(
      encoders: (String, Column => Column)*): DriverQuery =
    golden(name, vectors, "variant", "token", "code")(s =>
      encoders.map { case (variant, encode) =>
        tokensDf(s, vectors.filter(_._1 == variant).map(_._2)) ->
          Seq(lit(variant), col("token"), encode(col("token")))
      })

  /** Vectors `(token_a, token_b, expected)`: each pair compared. */
  private def compared(name: String, vectors: Seq[(String, String, Any)],
      out: String)(compare: (Column, Column) => Column): DriverQuery =
    golden(name, vectors, "token_a", "token_b", out)(s => Seq(
      pairsDf(s, vectors.map(r => (r._1, r._2))) ->
        Seq(col("token_a"), col("token_b"), compare(col("token_a"), col("token_b")))))

  val queries: Seq[DriverQuery] = Seq(
    encoded("q_soundex", Goldens.soundex, "graft_soundex", "token", "code"),
    variants("q_soundex_variants", Goldens.soundexVariants)(
      "genealogy" -> fn("graft_soundex_genealogy"),
      "simplified" -> fn("graft_soundex_simplified"),
      "custom" -> fn("graft_soundex_mapping", Goldens.soundexCustomMapping)),
    encoded("q_refined_soundex", Goldens.refinedSoundex, "graft_refined_soundex",
      "token", "code"),
    encoded("q_cologne", Goldens.cologne, "graft_cologne", "token", "code"),
    encoded("q_caverphone1", Goldens.caverphone1, "graft_caverphone1", "token", "code"),
    encoded("q_caverphone2", Goldens.caverphone2, "graft_caverphone2", "token", "code"),
    variants("q_metaphone", Goldens.metaphone)(
      "len4" -> fn("graft_metaphone", 4),
      "len6" -> fn("graft_metaphone", 6),
      "unbounded" -> fn("graft_metaphone", 0)),
    golden("q_double_metaphone", Goldens.doubleMetaphone,
      "token", "code_primary", "code_alternate")(s => Seq(
      tokensDf(s, Goldens.doubleMetaphone.map(_._1)) ->
        Seq(col("token"), fn("graft_double_metaphone_primary")(col("token")),
          fn("graft_double_metaphone_alternate")(col("token"))))),
    {
      val alternates = Seq(false, true)
      def of(alt: Boolean) = Goldens.dmEqual.filter(_._3 == alt)
      golden("q_double_metaphone_equal", alternates.flatMap(of),
        "token_a", "token_b", "alternate", "dm_equal")(s => alternates.map { alt =>
        pairsDf(s, of(alt).map(r => (r._1, r._2))) ->
          Seq(col("token_a"), col("token_b"), lit(alt),
            call_function("graft_double_metaphone_equal",
              col("token_a"), col("token_b"), lit(alt)))
      })
    },
    variants("q_nysiis", Goldens.nysiis)(
      "strict" -> fn("graft_nysiis", true),
      "lax" -> fn("graft_nysiis", false)),
    encoded("q_phonex", Goldens.phonex, "graft_phonex", "token", "code"),
    encoded("q_mra_encode", Goldens.mraEncode, "graft_mra_encode", "token", "code"),
    golden("q_dm_soundex", Goldens.dmSoundex, "token", "code")(s => Seq(
      tokensDf(s, Goldens.dmSoundex.map(_._1)) ->
        Seq(col("token"), concat_ws("|", fn("graft_dm_soundex")(col("token")))))),
    encoded("q_dm_encode", Goldens.dmEncode, "graft_dm_encode", "token", "code"),
    encoded("q_beider_morse", Goldens.beiderMorse, "graft_beider_morse",
      "name_type", "rule_type", "concat_words", "max_phonemes", "token", "code"),
    encoded("q_bm_lang_restricted", Goldens.bmLangRestricted, "graft_bm_encode_langs",
      "name_type", "rule_type", "concat_words", "max_phonemes", "languages",
      "token", "code"),
    encoded("q_bm_guess_lang", Goldens.bmGuessLang, "graft_bm_guess_lang",
      "token", "langs"),
    compared("q_mra_match_pairs", Goldens.mraPairs, "mra_match")(graftMraMatch),
    compared("q_soundex_difference", Goldens.soundexDifference, "diff")(
      graftSoundexDifference),
    compared("q_refined_soundex_difference", Goldens.refinedSoundexDifference,
      "diff")((a, b) => call_function("graft_refined_soundex_difference", a, b)),
    // the oracle recomputes with DuckDB's own jaro_winkler_similarity —
    // engine-independent agreement on the standard definition
    DriverQuery("q_jaro_winkler",
      "SELECT token_a, token_b, " +
        "round(jaro_winkler_similarity(token_a, token_b), 6) AS jw FROM " +
        Goldens.valuesTable(Seq("token_a", "token_b"), Goldens.jaroWinklerPairs)) {
      (s, _) =>
        pairsDf(s, Goldens.jaroWinklerPairs)
          .select(col("token_a"), col("token_b"),
            round(graftJaroWinkler(col("token_a"), col("token_b")), 6).as("jw"))
    })
}
