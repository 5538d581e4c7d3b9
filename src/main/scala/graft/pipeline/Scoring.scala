package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Pairwise scoring of candidate pairs.
  *
  * Feature columns, all fields of the one codegen'd `graft_score_features`
  * call (no UDFs): Jaro-Winkler, Levenshtein ([[graft.phonetic.Levenshtein]]),
  * the MRA similarity-rating decision + rating, Metaphone equality, Soundex
  * difference. The edge decision replicates the reference comparators:
  * identical tokens, an MRA match (match_rating_approach.rs:202-228), or
  * Metaphone code equality (`is_encoded_equals`, lib.rs:226-231).
  */
object Scoring {

  def score(pairs: DataFrame): DataFrame = {
    val a = col("token_a")
    val b = col("token_b")
    // one fused expression per pair: token strings converted once, MRA
    // encodes shared; whole-stage codegen's subexpression elimination
    // evaluates the struct once even though six fields are extracted
    val f = graftScoreFeatures(a, b)
    pairs
      .withColumn("jaro_winkler", f.getField("jaro_winkler"))
      .withColumn("lev", f.getField("lev"))
      .withColumn("mra_match", f.getField("mra_match"))
      .withColumn("mra_rating", f.getField("mra_rating"))
      .withColumn("metaphone_eq", f.getField("metaphone_eq"))
      .withColumn("soundex_diff", f.getField("soundex_diff"))
  }

  /** Jaro-Winkler corroboration threshold for MRA in the *clustering*
    * criterion (see [[edges]]).
    */
  val MraJwGate = 0.85

  /** MRA edges additionally need ONE of: strong JW, a tight edit
    * distance, or a prefix containment (diminutives: sam/samuel,
    * tom/tomasz) capped at a 2x length ratio — MRA's first3+last3
    * truncation happily rates a 4-char name against an 11-char one
    * (kora vs korarorapep: codes KR vs KRRP, rating 4 = minimum 4), so
    * unbounded prefix containment would chain short names into long ones.
    * Calibrated on the fixture families vs 32k synthetic entities
    * (tools/MergeDiagnose): keeps all 41 real-name families transitively
    * connected while cutting cross-entity MRA edges in the dense
    * synthetic name space by 94% — MRA+JW-0.85 alone rates far too
    * leniently to be a transitive-closure edge at scale (it chained 18
    * entities into one 450-file cluster at 800k files).
    */
  val MraJwStrong = 0.90
  val MraLevLoose = 2
  val MraPrefixMinLen = 3
  val MraPrefixMaxRatio = 2

  /** Pairwise match decision — the reference comparators' semantics
    * (exact, MRA `is_encoded_equals`, Metaphone `is_encoded_equals`).
    * This is what the labeled-pair F1 is measured on.
    */
  def matchDecision(scored: DataFrame): DataFrame =
    scored.withColumn("is_match",
      col("token_a") === col("token_b") ||
        col("mra_match") || col("metaphone_eq"))

  /** Clustering edges (src < dst). Stricter than [[matchDecision]]: MRA
    * alone rates too leniently to survive transitive closure (it happily
    * matches Ailbert/Auerbach), so as a cluster edge it must be
    * corroborated by Jaro-Winkler >= [[MraJwGate]] AND one of strong JW /
    * tight Levenshtein / prefix containment (see [[MraJwStrong]]).
    * Metaphone equality is a true equivalence relation, so it is
    * closure-safe as-is.
    */
  def edges(scored: DataFrame): DataFrame = {
    val a = col("token_a")
    val b = col("token_b")
    val prefixPair =
      least(length(a), length(b)) >= MraPrefixMinLen &&
        greatest(length(a), length(b)) <=
          least(length(a), length(b)) * MraPrefixMaxRatio &&
        (a.startsWith(b) || b.startsWith(a))
    scored
      .where(
        a === b ||
          col("metaphone_eq") ||
          (col("mra_match") && col("jaro_winkler") >= MraJwGate &&
            (col("jaro_winkler") >= MraJwStrong ||
              col("lev") <= MraLevLoose || prefixPair)))
      .select("src", "dst")
      .dropDuplicates("src", "dst")
  }

  /** Scalar form of the strong-JW / tight-lev / bounded-prefix clause
    * (identical to the Column form in [[edges]]; lev is the same distance
    * the fused expression computes, without converting to UTF8String).
    */
  private def corroboration(a: String, b: String, jw: Double): Boolean = {
    def lev: Int = graft.phonetic.Levenshtein.distance(a, b)
    def prefixPair: Boolean =
      math.min(a.length, b.length) >= MraPrefixMinLen &&
        math.max(a.length, b.length) <=
          math.min(a.length, b.length) * MraPrefixMaxRatio &&
        (a.startsWith(b) || b.startsWith(a))
    jw >= MraJwStrong || lev <= MraLevLoose || prefixPair
  }

  private def mraCorroborated(a: String, b: String): Boolean =
    graft.phonetic.MatchRatingApproach.isEncodedEquals(a, b) && {
      val jw = graft.phonetic.JaroWinkler.similarity(a, b)
      jw >= MraJwGate && corroboration(a, b, jw)
    }

  def clusterMatch(a: String, b: String): Boolean =
    a == b ||
      graft.phonetic.Metaphone.unbounded.encode(a) ==
        graft.phonetic.Metaphone.unbounded.encode(b) ||
      mraCorroborated(a, b)

  /** [[clusterMatch]] with pre-computed unbounded-Metaphone and MRA codes
    * — identical decision, zero encode work. The streaming linkage state
    * stores each member's codes and each arrival's codes are computed once
    * in the (codegen'd) key projection, so a comparison is string
    * equality + rating + Jaro-Winkler only.
    */
  def clusterMatchCoded(a: String, aMeta: String, aMra: String,
      b: String, bMeta: String, bMra: String): Boolean =
    a == b || aMeta == bMeta ||
      (graft.phonetic.MatchRatingApproach
        .isEncodedEqualsCoded(a, aMra, b, bMra) && {
        val jw = graft.phonetic.JaroWinkler.similarity(a, b)
        jw >= MraJwGate && corroboration(a, b, jw)
      })
}
