package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.driver._
import graft.functions.GraftFunctions
import graft.pipeline.RepoFiles
import graft.streaming.StreamingDriverQueries

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` exposes one entry per implemented operator (SURVEY.md §2 plus
  * the training-data ops), and `oracleSql` the DuckDB SQL that recomputes
  * each one's result independently. Both are read from the [[DriverQuery]]
  * rows of the families below, where each query is defined once, beside
  * its oracle.
  */
object SparkEntry {

  /** The driver queries by family: which part of the library each one
    * exercises.
    */
  val families: Seq[(String, Seq[DriverQuery])] = Seq(
    "tpch" -> TpchQueries.queries,
    "text" -> TextQueries.queries,
    "goldens" -> GoldenQueries.queries,
    "dedup" -> DedupQueries.queries,
    "ann" -> AnnQueries.queries,
    "multimodal" -> MultimodalQueries.queries,
    "streaming" -> StreamingDriverQueries.queries,
    "pipeline" -> PipelineQueries.queries)

  private def all: Seq[DriverQuery] = families.flatMap(_._2)

  /** Flagship: the record-linkage pipeline end-to-end on a synthesized
    * repo-file table (north rule shape); driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val files = RepoFiles.generate(spark, nFiles = 500, seed = 42L)
    PipelineQueries.inMemoryClusters(spark, files, 500)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
  }

  /** Each query registers the graft SQL functions on the session it is
    * given first: a driver's session (as in `Verify`) never does.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { q =>
      q.name -> { (s: SparkSession, dir: String) =>
        GraftFunctions.register(s)
        q.run(s, dir)
      }
    }.toMap

  /** DuckDB-equivalent SQL for the hash-compared queries. */
  def oracleSql: Map[String, String] = all.map(q => q.name -> q.oracleSql).toMap
}
