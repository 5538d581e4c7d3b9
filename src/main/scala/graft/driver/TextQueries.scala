package graft.driver

import org.apache.spark.sql.functions._

import graft.driver.DriverQuery.table
import graft.goldens.Goldens
import graft.ops.{Bpe, Dedup, TextAnalysis}

/** Text-analysis queries over `documents`, recomputed by DuckDB. */
object TextQueries {

  /** The language-ID oracles, built from the SAME stopword table the Spark
    * heuristic uses ([[TextAnalysis.StopwordSignatures]]) so the two cannot
    * drift. `sql` gets the per-language hit-count columns over the padded
    * text `p`, the greatest hit count, and the guess: NULL for no text,
    * 'und' where the given floor test holds, else the language with the
    * most hits. Its tie-break mirrors Spark's `greatest` over (hits, lang)
    * structs: maximum hits, then lexicographically greatest language.
    */
  private def langIdOracleSql(
      sql: (String, String, String => String) => String): String = {
    val sigs = TextAnalysis.StopwordSignatures.toSeq.sortBy(_._1)
    val scoreCols = sigs.map { case (lang, words) =>
      words.map(w => s"(len(string_split(p, ${Goldens.sqlStr(w)}))-1)")
        .mkString(" + ") + s" AS $lang"
    }
    val langs = sigs.map(_._1)
    val g = s"greatest(${langs.mkString(",")})"
    val cases = langs.sorted.reverse.dropRight(1)
      .map(l => s"WHEN $l = $g THEN '$l'").mkString(" ")
    val fallback = langs.sorted.head
    def guess(undetermined: String): String =
      s"""CASE WHEN no_text THEN NULL
         |    WHEN $undetermined THEN 'und' $cases
         |    ELSE '$fallback' END AS lang_guess""".stripMargin
    sql(scoreCols.mkString(",\n  "), g, guess)
  }

  val queries: Seq[DriverQuery] = Seq(
    DriverQuery("q_dedup_exact",
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
        |  count(*) AS cnt
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      table(s, dir, "documents")
        .groupBy(TextAnalysis.fingerprintCol(col("text")).as("fp"))
        .agg(count(lit(1)).as("cnt"))
    },
    DriverQuery("q_token_stats",
      """SELECT doc_id, length(text) AS n_chars,
        |  len(regexp_split_to_array(text, '\s+')) AS n_tokens
        |FROM documents""".stripMargin) { (s, dir) =>
      table(s, dir, "documents")
        .select(
          col("doc_id"),
          length(col("text")).as("n_chars"),
          TextAnalysis.tokenCountCol(col("text")).as("n_tokens"))
    },
    DriverQuery("q_subword_stats",
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))
        |    AS n_subwords
        |FROM documents""".stripMargin) { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.subwordCountCol(col("text")).as("n_subwords"))
    },
    {
      // merge budget (train stops earlier if no pair repeats)
      val merges = 200
      // Determinism pin: expected token counts and boundary tokens recomputed
      // driver-side from the SAME pure train/encode functions over the same
      // corpus literals, so the distributed path (Spark word-frequency
      // aggregation + codegen'd `graft_bpe_count`/`graft_bpe_encode`) must
      // reproduce the scalar path row-for-row.
      DriverQuery("q_bpe_stats", {
        val wf = Bpe.pureWordFrequencies(Bpe.demoCorpus.map(_._2))
        val ranks = Bpe.parseMerges(Bpe.mergesAsString(Bpe.train(wf, merges)))
        val rows = Bpe.demoCorpus.map { case (id, text) =>
          val toks = Bpe.encode(text, ranks)
          (id, toks.length, toks.head, toks.last)
        }
        Goldens.valuesSql(
          Seq("doc_id", "n_bpe_tokens", "first_token", "last_token"), rows)
      }) { (s, _) =>
        // corpus-trained BPE: distributed word-freq agg + driver merge loop,
        // encode/count through the codegen'd expressions
        import s.implicits._
        // RDD-backed so the expressions run on executors (a literal
        // LocalRelation would be folded driver-side and measure nothing)
        val docs = s.sparkContext.parallelize(Bpe.demoCorpus, 2)
          .toDF("doc_id", "text")
        val mergeTable = Bpe.mergesAsString(
          Bpe.trainFromCorpus(docs, "text", numMerges = merges))
        // encode ONCE per row into a column, then pick ends — two
        // independent graft_bpe_encode instances would each re-tokenize
        // the document (and CollapseProject keeps the non-cheap alias
        // materialized, so this stays a single evaluation)
        docs.select(col("doc_id"),
          call_function("graft_bpe_count", col("text"), lit(mergeTable))
            .as("n_bpe_tokens"),
          call_function("graft_bpe_encode", col("text"), lit(mergeTable))
            .as("toks"))
          .select(col("doc_id"), col("n_bpe_tokens"),
            element_at(col("toks"), 1).as("first_token"),
            element_at(col("toks"), -1).as("last_token"))
      }
    },
    DriverQuery("q_lang_dist",
      "SELECT lang, count(*) AS cnt FROM documents GROUP BY lang") { (s, dir) =>
      table(s, dir, "documents").groupBy("lang")
        .agg(count(lit(1)).as("cnt"))
    },
    DriverQuery("q_fingerprint",
      """SELECT doc_id,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin) { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprintCol(col("text")).as("fp"))
    },
    DriverQuery("q_langid", langIdOracleSql { (scoreCols, g, guess) =>
      s"""WITH padded AS (SELECT ' ' || lower(text) || ' ' AS p FROM documents),
         |scores AS (SELECT p IS NULL AS no_text,
         |  $scoreCols FROM padded)
         |SELECT lang_guess, count(*) AS cnt FROM (
         |  SELECT ${guess(s"$g <= 0")}
         |  FROM scores) GROUP BY 1""".stripMargin
    }) { (s, dir) =>
      table(s, dir, "documents")
        .groupBy(TextAnalysis.langIdFastCol(col("text")).as("lang_guess"))
        .agg(count(lit(1)).as("cnt"))
    },
    {
      // confidence floor 2: a single stopword hit is noise at corpus scale
      val minHits = 2
      DriverQuery("q_langid_scored", langIdOracleSql { (scoreCols, g, guess) =>
        s"""WITH padded AS (
           |  SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
           |scores AS (SELECT doc_id, p IS NULL AS no_text,
           |  $scoreCols FROM padded)
           |SELECT doc_id,
           |  ${guess(s"$g < $minHits")},
           |  CASE WHEN no_text THEN NULL ELSE $g END AS lang_hits
           |FROM scores""".stripMargin
      }) { (s, dir) =>
        table(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.langIdScoredFastCol(col("text"), minHits = minHits).as("s"))
          .select(col("doc_id"), col("s.lang").as("lang_guess"),
            col("s.hits").as("lang_hits"))
      }
    },
    DriverQuery("q_quality",
      """WITH f AS (SELECT doc_id,
        |  length(text)::DOUBLE AS n_chars,
        |  len(regexp_split_to_array(text, '\s+'))::DOUBLE AS n_tokens,
        |  round(length(regexp_replace(text, '[^!?.,;:]', '', 'g'))::DOUBLE
        |    / greatest(length(text)::DOUBLE, 1.0), 6) AS punct_ratio,
        |  round(length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE
        |    / greatest(length(text)::DOUBLE, 1.0), 6) AS upper_ratio
        |  FROM documents)
        |SELECT doc_id, n_chars, n_tokens, punct_ratio,
        |  round(CASE WHEN n_chars < 10 THEN 0.0
        |    ELSE 1.0 - least(1.0, punct_ratio * 5) * 0.3
        |             - least(1.0, upper_ratio * 3) * 0.2 END, 6)
        |    AS quality_score
        |FROM f""".stripMargin) { (s, dir) =>
      TextAnalysis.qualityFeatures(table(s, dir, "documents"), "text")
        .select("doc_id", "n_chars", "n_tokens", "punct_ratio",
          "quality_score")
    },
    {
      // pairs at most `window` ids apart in one language, over each text's
      // first `snippet` chars
      val (window, snippet) = (5, 200)
      DriverQuery("q_ngram_jaccard",
        s"""WITH g AS (
           |  SELECT doc_id, lang,
           |    list_distinct(list_transform(
           |      range(1, greatest(length(text[1:$snippet])-1, 2)),
           |      i -> text[1:$snippet][i:i+2])) AS grams
           |  FROM documents)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  round(CASE
           |    WHEN len(list_distinct(list_concat(a.grams, b.grams))) = 0
           |      THEN 0.0
           |    ELSE len(list_intersect(a.grams, b.grams))::DOUBLE
           |         / len(list_distinct(list_concat(a.grams, b.grams)))
           |    END, 6) AS jaccard
           |FROM g a JOIN g b ON a.lang = b.lang
           |  AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= $window""".stripMargin) {
        (s, dir) =>
          // the id-window (id_b - id_a <= window) is IN the equi-key, not a
          // post-join filter: ids are bucketed by floor(id / (window+1)) and
          // the left side is exploded to (bucket, bucket+1), so every qualifying
          // pair matches exactly one (lang, bucket) key and the join never
          // enumerates the O(n^2/|langs|) lang-only pairs — key cardinality
          // scales with n.
          val docs = table(s, dir, "documents")
            .select(col("doc_id"), col("lang"),
              substring(col("text"), 1, snippet).as("snippet"))
          val bkt = floor(col("doc_id") / (window + 1))
          val a = docs.select(col("doc_id").as("id_a"), col("lang"),
            col("snippet").as("text_a"),
            explode(array(bkt, bkt + 1)).as("bucket"))
          val b = docs.select(col("doc_id").as("id_b"), col("lang"),
            col("snippet").as("text_b"), bkt.as("bucket"))
          a.join(b, Seq("lang", "bucket"))
            .where(col("id_a") < col("id_b") && (col("id_b") - col("id_a")) <= window)
            .select(col("id_a"), col("id_b"),
              Dedup.ngramJaccard(col("text_a"), col("text_b")).as("jaccard"))
      }
    })
}
