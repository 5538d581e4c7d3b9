package graft.driver

import org.apache.spark.sql.functions._

import graft.driver.DriverQuery.table
import graft.ops.SimilaritySearch

/** Top-k nearest neighbours among `embeddings` by brute force, banded LSH
  * (plain and multi-probe) and IVF-Flat, each recomputed by DuckDB. */
object AnnQueries {

  /** The embeddings' width, the neighbours kept per query, and the query
    * vectors: those with an id below `QueryIds`.
    */
  private[driver] val Dim = 64
  private val K = 10
  private val QueryIds = 5

  /** `0.0 + embedding[1] * sign + ...` — [[SimilaritySearch.lshSignature]]'s
    * projection on plane `p` of band `seed`: the SAME plane literals the
    * Spark plan folds in, in the same sequential left fold.
    */
  private def planeProjection(seed: Int, p: Int): String =
    (0 until Dim).map(d =>
      s"embedding[${d + 1}]::DOUBLE * " +
        s"${SimilaritySearch.planeSign(seed, p, d)}").mkString("0.0 + ", " + ", "")

  /** A band signature: bit `p` set where projection `p` is positive. */
  private def signBits(nPlanes: Int)(projection: Int => String): String =
    (0 until nPlanes).map(p =>
      s"(CASE WHEN ${projection(p)} > 0 THEN ${1L << p} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** `sigs` (one signature column `s<b>` per band) and `banded` (one row
    * per vector and band) over `embeddings`.
    */
  private[driver] def bandedSql(nPlanes: Int, bands: Int): String = {
    val sigCols = (0 until bands).map(b =>
      signBits(nPlanes)(p => s"(${planeProjection(b, p)})") + s" AS s$b")
      .mkString(",\n  ")
    s"""sigs AS (SELECT vec_id, embedding, $sigCols FROM embeddings),
       |banded AS (${bandUnion(bands)})""".stripMargin
  }

  private def bandUnion(bands: Int): String =
    (0 until bands).map(b =>
      s"SELECT vec_id, embedding, $b AS band, s$b AS sig FROM sigs")
      .mkString("\nUNION ALL\n")

  /** Every oracle's last step: rank each query's `scored` candidates by
    * cosine, ties to the lower id, and keep the top k.
    */
  private val topK: String =
    s"""ranked AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, cos_sim, rank FROM ranked
       |WHERE rank <= $K""".stripMargin

  /** The LSH oracles after their query buckets `q`: the distinct vectors
    * sharing a band bucket with a query, their cosine, and the top k.
    */
  private val bucketTopK: String =
    s"""cand AS (SELECT DISTINCT query_id, banded.vec_id,
       |    banded.embedding AS vemb, qvec
       |  FROM banded JOIN q USING (band, sig)
       |  WHERE banded.vec_id <> query_id),
       |scored AS (SELECT query_id, vec_id,
       |    round(list_cosine_similarity(vemb::DOUBLE[],
       |      qvec::DOUBLE[]), 6) AS cos_sim
       |  FROM cand),
       |$topK""".stripMargin

  val queries: Seq[DriverQuery] = Seq(
    DriverQuery("q_ann_brute",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
         |  FROM embeddings WHERE vec_id < $QueryIds),
         |scored AS (
         |  SELECT query_id, vec_id,
         |    round(list_cosine_similarity(embedding::DOUBLE[], qvec), 6)
         |      AS cos_sim
         |  FROM embeddings CROSS JOIN q WHERE vec_id <> query_id),
         |$topK""".stripMargin) { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      SimilaritySearch.bruteForceTopK(emb, emb.where(col("vec_id") < QueryIds), "vec_id", "embedding",
        k = K)
    },
    {
      val (nPlanes, bands) = (8, 4)
      DriverQuery("q_ann_lsh",
        s"""WITH ${bandedSql(nPlanes, bands)},
           |q AS (SELECT vec_id AS query_id, embedding AS qvec, band, sig
           |  FROM banded WHERE vec_id < $QueryIds),
           |$bucketTopK""".stripMargin) { (s, dir) =>
        val emb = table(s, dir, "embeddings")
        SimilaritySearch.lshTopK(emb, emb.where(col("vec_id") < QueryIds), "vec_id", "embedding",
          dim = Dim, k = K, nPlanes = nPlanes, bands = bands)
      }
    },
    {
      // Multi-probe: the data side hashes every vector to ONE bucket per band
      // (as `q_ann_lsh`); the query side adds, per band, the `probes`
      // single-bit-flip signatures with the smallest |projection| margin (ties
      // on the exact double broken by plane index — the same (margin, mask)
      // ordering the Spark plan's array_sort uses). Recall bought at zero
      // data-side explode growth.
      val (nPlanes, bands, probes) = (8, 4, 2)
      DriverQuery("q_ann_lsh_mp", {
        val projCols = (for (b <- 0 until bands; p <- 0 until nPlanes)
          yield s"(${planeProjection(b, p)}) AS pr${b}_$p")
          .mkString(",\n  ")
        val sigCols = (0 until bands)
          .map(b => signBits(nPlanes)(p => s"pr${b}_$p") + s" AS s$b")
          .mkString(",\n  ")
        val flipSel = (for (b <- 0 until bands; p <- 0 until nPlanes) yield
          s"SELECT vec_id, embedding, $b AS band, abs(pr${b}_$p) AS margin, " +
            s"$p AS p, xor(s$b, ${1L << p}) AS sig FROM sigs WHERE vec_id < $QueryIds")
          .mkString("\nUNION ALL\n")
        s"""WITH projs AS (SELECT vec_id, embedding, $projCols FROM embeddings),
           |sigs AS (SELECT *, $sigCols FROM projs),
           |banded AS (${bandUnion(bands)}),
           |flips AS (SELECT *, row_number() OVER (PARTITION BY vec_id, band
           |    ORDER BY margin, p) AS rk FROM ($flipSel)),
           |q AS (SELECT vec_id AS query_id, embedding AS qvec, band, sig
           |    FROM banded WHERE vec_id < $QueryIds
           |  UNION ALL
           |  SELECT vec_id AS query_id, embedding AS qvec, band, sig
           |    FROM flips WHERE rk <= $probes),
           |$bucketTopK""".stripMargin
      }) { (s, dir) =>
        val emb = table(s, dir, "embeddings")
        SimilaritySearch.lshTopK(emb, emb.where(col("vec_id") < QueryIds), "vec_id", "embedding",
          dim = Dim, k = K, nPlanes = nPlanes, bands = bands, probes = probes)
      }
    },
    {
      // IVF-Flat: the `nCentroids` lowest-id vectors are the centroids,
      // inlined as plan-time literals (shuffle-free list assignment); each
      // vector joins the list of its argmax-cosine centroid, ties to the
      // lowest cid; each query probes its `nProbe` nearest lists — the
      // partition-pruned scale path (nProbe = nCentroids is exact). The oracle
      // mirrors `SimilaritySearch.ivfTopK` step for step.
      val (nCentroids, nProbe) = (16, 4)
      DriverQuery("q_ann_ivf",
        s"""WITH cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
           |  FROM embeddings ORDER BY vec_id LIMIT $nCentroids),
           |assign AS (SELECT e.vec_id, e.embedding AS emb, c.cid,
           |    round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec),
           |      6) AS ccos
           |  FROM embeddings e CROSS JOIN cent c),
           |ranked_assign AS (SELECT vec_id, emb, cid, row_number() OVER
           |    (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
           |  FROM assign),
           |lists AS (SELECT vec_id, emb, cid AS list_id
           |  FROM ranked_assign WHERE crank = 1),
           |qprobe AS (SELECT vec_id AS query_id, emb AS qemb,
           |    cid AS list_id
           |  FROM ranked_assign WHERE vec_id < $QueryIds AND crank <= $nProbe),
           |scored AS (SELECT q.query_id, l.vec_id,
           |    round(list_cosine_similarity(l.emb::DOUBLE[],
           |      q.qemb::DOUBLE[]), 6) AS cos_sim
           |  FROM lists l JOIN qprobe q ON l.list_id = q.list_id
           |  WHERE l.vec_id <> q.query_id),
           |$topK""".stripMargin) { (s, dir) =>
        val emb = table(s, dir, "embeddings")
        SimilaritySearch.ivfTopK(emb, emb.where(col("vec_id") < QueryIds), "vec_id", "embedding",
          k = K, nCentroids = nCentroids, nProbe = nProbe)
      }
    })
}
