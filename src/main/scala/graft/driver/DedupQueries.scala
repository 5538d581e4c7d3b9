package graft.driver

import org.apache.spark.sql.functions._

import graft.driver.DriverQuery.table
import graft.ops.Dedup

/** Near-duplicate detection over `documents` and `embeddings`, recomputed
  * by DuckDB from the same hash specs, literals and thresholds. */
object DedupQueries {

  /** MinHash signature length, its bands and the est-Jaccard threshold of
    * every MinHash driver query (batch and streaming) and its oracle.
    */
  private[graft] val NumHashes = 32
  private[graft] val Bands = 8
  private[graft] val MinJaccard = 0.5

  /** DuckDB MinHash pair oracle over the documents of `docsFrom`: it
    * recomputes the portable md5-based spec of
    * [[graft.functions.MinHashFunctions]] (same tokens, shingles, base hash
    * and (a,b) coefficients) over all pairs, then applies the same band test
    * and est-Jaccard threshold as the queries. `docsFrom` is `documents`
    * for the batch op; for the streaming op it is a VALUES literal of the
    * streaming fixture with batch and event-time columns, and
    * `streamingTtl` is its state TTL.
    *
    * Streaming rules are the EXACT declarative mirror of
    * [[graft.streaming.StreamingDedup.nearDupCandidates]]'s per-(band,
    * bucket) state machine: per-row watermark = max prior-batch event
    * time (delay 0); late rows contribute nothing; a member m links to
    * a later arrival v iff some band's bucket they share kept m's
    * membership ALIVE through every batch n in (m.batch, v.batch] —
    * i.e. no n where wm_n > max(ts of non-late co-bucketed rows in
    * batches < n) + TTL (that inequality is exactly the read-time /
    * timeout eviction, and rows of an already-dead bucket incarnation
    * can never mask a break because their ts + TTL is below the
    * watermark at their own death). Same-batch co-bucketed pairs always
    * link (the earlier fixture row is in `members` when the later one
    * processes). The implementation buckets by xxhash64(slice); the
    * oracle compares slices directly — identical partitioning absent a
    * 64-bit hash collision inside a fixture.
    */
  private[graft] def minhashPairsOracleSql(
      docsFrom: String, streamingTtl: Option[Long]): String = {
    import graft.functions.MinHashFunctions.{coeffA, coeffB, M61}
    val rows = NumHashes / Bands
    val bcol = if (streamingTtl.isDefined) ", batch, ts, wm" else ""
    val sigTerms = (0 until NumHashes).map(i =>
      s"list_min(list_transform(hv, h -> ((${coeffA(i)}::HUGEINT * h + " +
        s"${coeffB(i)}) % $M61)::BIGINT))")
      .mkString("[\n  ", ",\n  ", "\n  ]")
    def bandCheck(x: String, y: String): String =
      (0 until Bands).map(b =>
        s"($x[${b * rows + 1}:${b * rows + rows}] = " +
          s"$y[${b * rows + 1}:${b * rows + rows}])").mkString("(", " OR ", ")")
    val agree = s"len(list_filter(range(1, ${NumHashes + 1}), " +
      s"i -> sa[i] = sb[i]))::DOUBLE / $NumHashes"
    val srcCtes =
      if (streamingTtl.isEmpty) ""
      else
        s"""docsrc AS (SELECT * FROM $docsFrom),
           |wms AS (SELECT d.*,
           |    coalesce((SELECT max(p.ts) FROM docsrc p
           |      WHERE p.batch < d.batch), -9223372036854775807) AS wm
           |  FROM docsrc d),
           |bwm AS (SELECT batch, max(wm) AS wm FROM wms GROUP BY batch),
           |""".stripMargin
    val src = if (streamingTtl.isDefined) "(SELECT * FROM wms WHERE ts >= wm)" else docsFrom
    val shared =
      s"""${srcCtes}docs AS (SELECT doc_id$bcol,
         |    regexp_extract_all(lower(text),
         |      '${graft.functions.Tokens.TokenPatternRe2}') AS words
         |  FROM $src),
         |sh AS (SELECT doc_id$bcol,
         |    CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
         |    ELSE list_transform(range(0, len(words)-2),
         |      i -> array_to_string(words[i+1:i+3], ' ')) END AS shingles
         |  FROM docs),
         |hs AS (SELECT doc_id$bcol, list_transform(shingles,
         |    s -> ('0x' || substring(md5(s), 1, 15))::BIGINT) AS hv FROM sh),
         |sig AS (SELECT doc_id$bcol, $sigTerms AS sg FROM hs)""".stripMargin
    streamingTtl match {
      case None =>
        s"""WITH $shared,
           |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    a.sg AS sa, b.sg AS sb
           |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
           |SELECT id_a, id_b, round($agree, 6) AS est_jaccard
           |FROM cand WHERE ${bandCheck("sa", "sb")}
           |  AND round($agree, 6) >= $MinJaccard""".stripMargin
      case Some(ttl) =>
        val bandedSel = (0 until Bands).map(b =>
          s"SELECT doc_id, batch, ts, sg, $b AS band, " +
            s"sg[${b * rows + 1}:${b * rows + rows}] AS bkt FROM sig")
          .mkString("\nUNION ALL\n")
        s"""WITH $shared,
           |banded AS ($bandedSel),
           |pairs AS (SELECT m.doc_id AS id_m, v.doc_id AS id_v,
           |    m.sg AS sa, v.sg AS sb, m.batch AS mb, v.batch AS vb,
           |    m.band AS band, m.bkt AS bkt
           |  FROM banded m JOIN banded v
           |    ON m.band = v.band AND m.bkt = v.bkt
           |   AND m.doc_id <> v.doc_id
           |   AND (m.batch < v.batch
           |     OR (m.batch = v.batch AND m.doc_id < v.doc_id)))
           |SELECT DISTINCT least(id_m, id_v) AS id_a,
           |  greatest(id_m, id_v) AS id_b,
           |  round($agree, 6) AS est_jaccard
           |FROM pairs c
           |WHERE round($agree, 6) >= $MinJaccard
           |  AND NOT EXISTS (SELECT 1 FROM bwm n
           |    WHERE n.batch > c.mb AND n.batch <= c.vb
           |      AND n.wm > (SELECT max(r.ts) FROM banded r
           |        WHERE r.band = c.band AND r.bkt = c.bkt
           |          AND r.batch < n.batch) + $ttl)""".stripMargin
    }
  }

  /** DuckDB SimHash oracle: same md5-60-bit token-hash spec and per-bit
    * majority vote as [[Dedup.simhash]].
    */
  private def simhashOracleSql: String = {
    val n = Dedup.SimhashBits
    val votes = (0 until n).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(",\n  ")
    val assemble = (0 until n).map(b =>
      s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (SELECT doc_id,
       |    unnest(regexp_extract_all(lower(text),
       |      '${graft.functions.Tokens.TokenPatternRe2}')) AS tok
       |  FROM documents),
       |hs AS (SELECT doc_id,
       |    ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM toks),
       |votes AS (SELECT doc_id, $votes FROM hs GROUP BY doc_id)
       |SELECT doc_id AS id, ($assemble)::BIGINT AS simhash FROM votes""".stripMargin
  }

  /** DuckDB oracle for `q_neardup_clusters`: the MinHash pair oracle's
    * edges, transitively closed with a recursive CTE (undirected label
    * propagation — each doc's cluster_id is the min doc_id reachable
    * through near-dup edges, exactly what min-label CC converges to),
    * then the same representative rule (longest text, ties to lowest id;
    * null text ranks as -1) recomputed relationally.
    */
  private def nearDupClustersOracleSql: String =
    s"""WITH RECURSIVE
       |pairs AS (${minhashPairsOracleSql("documents", None).replace("\n", "\n  ")}),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
       |labels AS (SELECT id AS doc_id, min(lab) AS cluster_id
       |  FROM reach GROUP BY id),
       |ranked AS (SELECT l.doc_id, l.cluster_id,
       |    coalesce(length(d.text), -1) AS tlen
       |  FROM labels l JOIN documents d USING (doc_id)),
       |mx AS (SELECT cluster_id, max(tlen) AS mlen
       |  FROM ranked GROUP BY cluster_id),
       |rep AS (SELECT r.cluster_id, min(r.doc_id) AS rep_id
       |  FROM ranked r JOIN mx USING (cluster_id)
       |  WHERE r.tlen = mx.mlen GROUP BY r.cluster_id)
       |SELECT r.doc_id AS id, r.cluster_id,
       |  (r.doc_id = rep.rep_id) AS keep
       |FROM ranked r JOIN rep USING (cluster_id)""".stripMargin

  val queries: Seq[DriverQuery] = Seq(
    DriverQuery("q_minhash_dedup", minhashPairsOracleSql("documents", None)) { (s, dir) =>
      Dedup.minhashCandidates(
        table(s, dir, "documents"), "doc_id", "text",
        numHashes = NumHashes, bands = Bands)
        .where(col("est_jaccard") >= MinJaccard)
    },
    // fuzzy dedup end-to-end: MinHash edges -> connected components ->
    // one representative per group (longest text, lowest id) — the
    // training-corpus dedup resolution, not just pair detection
    DriverQuery("q_neardup_clusters", nearDupClustersOracleSql) { (s, dir) =>
      Dedup.nearDupClusters(table(s, dir, "documents"), "doc_id", "text",
        numHashes = NumHashes, bands = Bands, threshold = MinJaccard)
    },
    DriverQuery("q_simhash", simhashOracleSql) { (s, dir) =>
      Dedup.simhash(table(s, dir, "documents"), "doc_id", "text")
    },
    {
      // Banded embedding LSH with an exact-cosine verify: the same per-band
      // plane literals, bucket join and threshold as the query. The test
      // embeddings are near-random (max pairwise cosine ~0.48); a 0.3
      // threshold exercises the banded-LSH + exact-verify path with real
      // output. 8 bands x 2^6 signatures = 512 effective buckets.
      val (nPlanes, bands, minCosine) = (6, 8, 0.3)
      DriverQuery("q_embedding_dedup",
        s"""WITH ${AnnQueries.bandedSql(nPlanes, bands)},
           |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
           |    round(list_cosine_similarity(a.embedding::DOUBLE[],
           |      b.embedding::DOUBLE[]), 6) AS cos_sim
           |  FROM banded a JOIN banded b
           |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id)
           |SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= $minCosine""".stripMargin) {
        (s, dir) =>
          Dedup.embeddingNearDups(
            table(s, dir, "embeddings"), "vec_id", "embedding",
            dim = AnnQueries.Dim, nPlanes = nPlanes, bands = bands, minCosine = minCosine)
      }
    })
}
