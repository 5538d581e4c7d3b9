package graft.functions

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper

/** Pins the SQL surface of every registered function against the
  * checked-in `function_surface.txt`: the names [[GraftExtensions]]
  * injects, and for every call form (each arity, default and non-default
  * options) the output column name, result type, nullability on nullable
  * columns and on literals, determinism, the analyzed expression's text
  * (expression ids stripped), whether the optimizer folds the call on
  * literal arguments, the value on those literals, and the arity error.
  * A change to any of them must show up as a change to that file.
  */
class FunctionSurfacePinSpec extends AnyFunSuite {
  import FunctionSurfacePinSpec.forms

  private lazy val spark = SparkSessionTestWrapper.spark

  /** The same call with every column replaced by a literal. */
  private def onLiterals(form: String): String =
    Seq("a" -> "'The Washington and the Müller'", "b" -> "'Smyth'",
      "v" -> "array(0.5D, -1.0D, 0.25D, 2.0D)",
      "f" -> ("array(CAST(0.5 AS FLOAT), CAST(-1 AS FLOAT), " +
        "CAST(0.25 AS FLOAT), CAST(2 AS FLOAT))"))
      .foldLeft(form) { case (f, (c, l)) =>
        f.replaceAll(s"(?<=[(, ])$c(?=[,)])", l)
      }

  private def clean(s: String): String =
    s.replace("\n", "\\n").replace("\t", "\\t")

  private def show(v: Any): String = v match {
    case null => "NULL"
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ", ", "]")
    case r: Row => r.toSeq.map(show).mkString("{", ", ", "}")
    case x => x.toString
  }

  private def describe(form: String): String = {
    val schema = StructType(Seq(
      StructField("a", StringType), StructField("b", StringType),
      StructField("v", ArrayType(DoubleType, containsNull = false)),
      StructField("f", ArrayType(FloatType, containsNull = false))))
    val df = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), schema).selectExpr(form)
    val field = df.schema.head
    val analyzed = df.queryExecution.analyzed.asInstanceOf[Project]
      .projectList.head.asInstanceOf[Alias].child
    val lits = spark.range(1).selectExpr(onLiterals(form))
    val folded = lits.queryExecution.optimizedPlan match {
      case Project(Seq(Alias(_: Literal, _)), _) => true
      case _ => false
    }
    val value = show(lits.head().get(0))
    val arity = {
      val name = form.takeWhile(_ != '(')
      val e = intercept[Exception](
        spark.sql(s"SELECT $name(1, 2, 3, 4, 5, 6, 7)").collect())
      e.getMessage.linesIterator.next()
    }
    Seq(form, field.name, field.dataType.catalogString,
      s"nullable=${field.nullable}/${lits.schema.head.nullable}",
      s"deterministic=${analyzed.deterministic}",
      analyzed.toString.replaceAll("#\\d+", ""),
      s"folded=$folded", value, arity).map(clean).mkString("\t")
  }

  /** The name of every function injected by [[GraftExtensions]]. */
  private def injected: Seq[String] = {
    assert(spark.sparkContext.isLocal)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions()(_))
        .getOrCreate()
      s2.catalog.listFunctions().collect().toSeq
        .map(_.name).filter(_.startsWith("graft_")).sorted.distinct
        .map(n => s"function\t$n")
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("every function's SQL surface matches the pinned file") {
    GraftFunctions.register(spark)
    val actual = (injected ++ forms.map(describe)).mkString("", "\n", "\n")
    val golden = Option(getClass.getResourceAsStream("/function_surface.txt"))
      .map(in => new String(in.readAllBytes(), StandardCharsets.UTF_8))
      .getOrElse("")
    if (actual != golden) {
      val out = Paths.get("target", "function_surface.txt.actual")
      Files.createDirectories(out.getParent)
      Files.write(out, actual.getBytes(StandardCharsets.UTF_8))
      fail(s"function surface mismatch; current surface written to $out")
    }
  }
}

object FunctionSurfacePinSpec {
  private val Merges = "t h\\nth e\\na b"

  /** Every function in every arity, with default and non-default
    * options: call forms over columns `a`, `b` (strings), `v`
    * (array<double>) and `f` (array<float>).
    */
  val forms: Seq[String] = Seq(
    "graft_soundex(a)",
    "graft_soundex_genealogy(a)",
    "graft_soundex_simplified(a)",
    "graft_soundex_mapping(a, '01360240043788015936020505')",
    "graft_soundex_mapping(a, '0123012-0224550126230-1202')",
    "graft_refined_soundex(a)",
    "graft_metaphone(a)",
    "graft_metaphone(a, 4)",
    "graft_metaphone(a, 0)",
    "graft_metaphone(a, 6)",
    "graft_double_metaphone(a)",
    "graft_double_metaphone(a, 0)",
    "graft_double_metaphone(a, 6)",
    "graft_double_metaphone_primary(a)",
    "graft_double_metaphone_alternate(a)",
    "graft_nysiis(a)",
    "graft_nysiis(a, true)",
    "graft_nysiis(a, false)",
    "graft_phonex(a)",
    "graft_phonex(a, 6)",
    "graft_cologne(a)",
    "graft_caverphone1(a)",
    "graft_caverphone2(a)",
    "graft_mra_encode(a)",
    "graft_mra_match(a, b)",
    "graft_mra_rating(a, b)",
    "graft_double_metaphone_equal(a, b)",
    "graft_double_metaphone_equal(a, b, true)",
    "graft_double_metaphone_equal(a, b, false)",
    "graft_bm_guess_lang(a)",
    "graft_bm_guess_lang(a, 'ash')",
    "graft_bm_encode_langs(a, 'gen', 'exact', true, 20, 'italian')",
    "graft_bm_encode_langs(a, 'ash', 'approx', false, 5, 'german,russian')",
    "graft_dm_soundex(a)",
    "graft_dm_encode(a)",
    "graft_soundex_difference(a, b)",
    "graft_refined_soundex_difference(a, b)",
    "graft_jaro_winkler(a, b)",
    "graft_score_features(a, b)",
    "graft_beider_morse(a)",
    "graft_beider_morse(a, 'sep')",
    "graft_beider_morse(a, 'gen', 'exact')",
    "graft_beider_morse(a, 'gen', 'exact', false)",
    "graft_beider_morse(a, 'ash', 'approx', true, 5)",
    "graft_bm_codes(a)",
    "graft_bm_codes(a, 'sep')",
    "graft_bm_codes(a, 'gen', 'exact')",
    "graft_bm_codes(a, 'gen', 'exact', false)",
    "graft_bm_codes(a, 'ash', 'approx', true, 5)",
    "graft_cosine(v, v)",
    "graft_cosine(f, f)",
    "graft_lsh_signatures(v, 4, 3, 2, 7)",
    "graft_lsh_signatures(f, 4, 5, 3, 11)",
    "graft_langid(a)",
    "graft_langid(a, 2)",
    "graft_langid_scored(a)",
    "graft_langid_scored(a, 2)",
    "graft_tokens(a)",
    "graft_minhash_signature(a)",
    "graft_minhash_signature(a, 16)",
    "graft_minhash_signature(a, 16, 2)",
    s"graft_bpe_count(a, '$Merges')",
    s"graft_bpe_encode(a, '$Merges')")
}
