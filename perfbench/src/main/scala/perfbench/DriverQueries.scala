package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** The driver queries, for the per-layer numbers of a traced run: every
  * `SparkEntry.queries` query over the project's scale-0.01 test tables
  * (`perfbench/testdata/sf0.01`), once cold (each query's first execution
  * in the JVM, with its code generation, JIT and class loading) and then
  * warm, one span per query. Each result is collected in full, and a query
  * whose row count differs from its DuckDB oracle's on those tables
  * (`oracle_rows.tsv` beside them) counts as failed.
  */
object DriverQueries {

  /** Query families: which part of the library each query exercises. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "tpch" -> Seq("q1_agg", "q_join_agg", "q_topk_orders", "q_filter_project",
      "q_window_events"),
    "text" -> Seq("q_dedup_exact", "q_token_stats", "q_subword_stats", "q_bpe_stats",
      "q_lang_dist", "q_fingerprint", "q_langid", "q_langid_scored", "q_quality",
      "q_ngram_jaccard"),
    "goldens" -> Seq("q_soundex", "q_soundex_variants", "q_refined_soundex", "q_cologne",
      "q_caverphone1", "q_caverphone2", "q_metaphone", "q_double_metaphone",
      "q_double_metaphone_equal", "q_nysiis", "q_phonex", "q_mra_encode", "q_dm_soundex",
      "q_dm_encode", "q_beider_morse", "q_bm_lang_restricted", "q_bm_guess_lang",
      "q_mra_match_pairs", "q_soundex_difference", "q_refined_soundex_difference",
      "q_jaro_winkler"),
    "dedup" -> Seq("q_minhash_dedup", "q_neardup_clusters", "q_simhash", "q_embedding_dedup"),
    "ann" -> Seq("q_ann_brute", "q_ann_lsh", "q_ann_lsh_mp", "q_ann_ivf"),
    "multimodal" -> Seq("q_multimodal_features"),
    "streaming" -> Seq("q_streaming_dedup", "q_streaming_neardup", "q_streaming_linkage"),
    "pipeline" -> Seq("q_checkpoint_lineage", "q_cc_resume", "q_linkage_clusters"))

  private val familyOf: Map[String, String] =
    Families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap

  /** Run the passes; their per-layer metrics, to be read once the listener
    * bus has drained.
    */
  def apply(run: Run): () => Map[String, Double] = {
    val spark = run.spark
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    run.check("every driver query belongs to one family") {
      all.map(_._1).toSet == familyOf.keySet && familyOf.size == Families.map(_._2.size).sum
    }
    // the smoke run keeps the first query of each family
    val queries =
      if (run.smoke) all.filter { case (q, _) => Families.exists(_._2.head == q) }
      else all
    val dir = run.tables
    val oracle = oracleRows(dir)
    run.check("every driver query has an oracle row count")(oracle.keySet == familyOf.keySet)
    // with `corrupt`, the first query's expected row count is off by one
    val expected = if (run.corrupt) oracle.updatedWith(queries.head._1)(_.map(_ + 1)) else oracle

    def pass(tag: String): Double = queries.map { case (name, fn) =>
      val (got, dt) = Stats.time(run.tracer.span(s"$tag/${familyOf(name)}/$name") {
        run.op(s"$tag $name")(fn(spark, dir.getPath).collect().length)
      })
      got.foreach { n =>
        run.check(s"$tag $name: $n rows, as its oracle")(expected.get(name).contains(n))
      }
      dt
    }.sum

    pass("q.cold")
    val warm = run.repeatFor(min = 1, System.nanoTime())(i => pass(s"q.w$i"))
    () => layers(run, warm.indices.map(i => s"q.w$i"))
  }

  /** Query name -> row count of its DuckDB oracle on the tables in `dir`. */
  private def oracleRows(dir: File): Map[String, Int] =
    Files.readAllLines(new File(dir, "oracle_rows.tsv").toPath, StandardCharsets.UTF_8)
      .asScala.filter(_.nonEmpty).map { line =>
        val Array(q, n) = line.split('\t')
        q -> n.toInt
      }.toMap

  private def layers(run: Run, warmTags: Seq[String]): Map[String, Double] = {
    val t = run.tracer
    def under(prefix: String)(n: String) = n.startsWith(prefix)
    def walls(prefix: String): Double =
      t.spanNames.filter(under(prefix)).map(t.wall).sum
    val perFamily = Families.flatMap { case (f, _) =>
      def warmMed(g: String => Double) = Stats.median(warmTags.map(g))
      Seq(
        s"queries.$f.cold_s" -> walls(s"q.cold/$f/"),
        s"queries.$f.warm_s" -> warmMed(w => walls(s"$w/$f/")),
        s"queries.$f.jobs" -> warmMed(w => t.work(under(s"$w/$f/")).jobs.toDouble),
        s"queries.$f.tasks" -> warmMed(w => t.work(under(s"$w/$f/")).tasks.toDouble),
        s"queries.$f.codegen_compile_s" ->
          t.spanNames.filter(under(s"q.cold/$f/")).map(t.compileS).sum)
    }
    val batches = t.microBatches
    perFamily.toMap ++ Map(
      "streaming.batches" -> batches.size.toDouble / (1 + warmTags.size),
      "streaming.batch_ms" -> (if (batches.isEmpty) 0.0 else Stats.median(batches.map(_.toDouble))))
  }
}
