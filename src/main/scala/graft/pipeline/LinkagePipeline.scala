package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.TableIO

/** The record-linkage pipeline (north rule): read repo-file table ->
  * tokenize -> phonetic blocking keys (exploded multi-code) -> salted/
  * capped candidate pairs -> batch pairwise scoring -> edges -> transitive
  * closure -> (file_id, cluster_id), every stage checkpointed through
  * [[TableIO]] so a killed job resumes from the last committed snapshot.
  *
  * The per-row `content_sha` (sha2-256 of content) is carried from the
  * input to the final output; `shaInvariantHolds` proves no row was
  * corrupted or dropped across the stages.
  */
final class LinkagePipeline(spark: SparkSession, io: TableIO) {

  /** Run (or resume) the full pipeline over `files`
    * (file_id, repo, path, commit, lang, content[, content_sha]).
    * Returns (file_id, repo, path, commit, lang, content_sha, cluster_id).
    */
  def run(files: DataFrame): DataFrame =
    new LinkagePipeline.Stages(spark, files, LinkagePipeline.Durable(io))
      .resolved

  /** Per-row sha256(content) equality between pipeline output and input. */
  def shaInvariantHolds(files: DataFrame, resolved: DataFrame): Boolean = {
    val expected = files
      .select(col("file_id"),
        sha2(col("content"), 256).as("expected_sha"))
    val mismatches = resolved
      .join(expected, Seq("file_id"), "full")
      .where(
        col("content_sha").isNull || col("expected_sha").isNull ||
          col("content_sha") =!= col("expected_sha"))
      .limit(1)
      .count()
    mismatches == 0
  }
}

/** The one definition of the linkage stage chain:
  * input -> tokens -> blocking_keys -> candidate_pairs -> scored_pairs ->
  * edges -> clusters -> resolved. A [[Materialization]] policy decides how
  * stages are held; the stage bodies are the same under both.
  *
  * Callers by policy:
  *   - [[Durable]]: `LinkagePipeline.run` (and through it perfbench's
  *     `linkage` workload).
  *   - [[InMemory]]: `SparkEntry.entry` and the driver queries
  *     `q_linkage_clusters` and `q_cc_resume` (`driver.PipelineQueries`),
  *     `ScalingBench`'s pipeline leg and `tools.ClusterAudit`.
  */
object LinkagePipeline {

  sealed trait Materialization

  /** Every stage is a [[TableIO]] stage: committed under `io`'s root when
    * first computed, read back from parquet downstream, and resumed
    * instead of recomputed while its committed copy is not stale. The
    * closure snapshots its loop every 8 rounds.
    */
  final case class Durable(io: TableIO) extends Materialization

  /** No stage is written. Only inputs a stage reads twice are
    * `localCheckpoint`ed: the tokenize output (pruneCommon's
    * document-frequency branch and its pruning join) and the blocking
    * keys (candidatePairs' sizing and pairing branches). `fileCount` is
    * the number of input files, pruneCommon's document-frequency base.
    *
    * `localCheckpoint` storage is not reliable: its blocks live on the
    * executors with their lineage cut, so a lost executor fails the job
    * instead of recomputing.
    */
  final case class InMemory(fileCount: Long) extends Materialization

  /** One run of the chain over `files`
    * (file_id, repo, path, commit, lang, content[, content_sha]). Each
    * stage is computed when it is first read, so a caller that reads
    * `edges` never runs the closure. A stage forces its upstreams before
    * itself: a durable upstream recomputed as stale changes its commit
    * token, which then marks this stage stale too.
    */
  final class Stages(
      spark: SparkSession, files: DataFrame, policy: Materialization) {

    graft.functions.GraftFunctions.register(spark)

    private def stage(name: String, upstream: Seq[String] = Nil,
        partitionBy: Seq[String] = Nil)(body: => DataFrame): DataFrame =
      policy match {
        case Durable(io) => io.stage(name, upstream, partitionBy)(body)
        case InMemory(_) => body
      }

    lazy val input: DataFrame = stage("input") {
      if (files.columns.contains("content_sha")) files
      else files.withColumn("content_sha", sha2(col("content"), 256))
    }

    lazy val tokens: DataFrame = {
      val in = input
      stage("tokens", Seq("input")) {
        val (t, fileCount) = policy match {
          // the input stage's commit manifest records its row count
          case Durable(io) => (Tokenizer.tokenize(in),
            io.committedRows("input").getOrElse(-1L))
          case InMemory(n) => (Tokenizer.tokenize(in).localCheckpoint(), n)
        }
        Tokenizer.pruneCommon(t, knownFileCount = fileCount)
      }
    }

    lazy val blockingKeys: DataFrame = {
      val t = tokens
      stage("blocking_keys", Seq("tokens"))(Blocking.blockingKeys(t))
    }

    lazy val candidatePairs: DataFrame = {
      val keys = blockingKeys
      stage("candidate_pairs", Seq("blocking_keys")) {
        Blocking.candidatePairs(keys,
          materializeKeys = policy.isInstanceOf[InMemory])
      }
    }

    lazy val scoredPairs: DataFrame = {
      val pairs = candidatePairs
      stage("scored_pairs", Seq("candidate_pairs"))(Scoring.score(pairs))
    }

    lazy val edges: DataFrame = {
      val scored = scoredPairs
      stage("edges", Seq("scored_pairs"))(Scoring.edges(scored))
    }

    lazy val clusters: DataFrame = {
      val (e, in) = (edges, input)
      stage("clusters", Seq("edges", "input")) {
        // Durable: a loop snapshot every 8 rounds, stamped with the edges
        // stage's opaque commit token (equality of tokens is immune to
        // clock skew between writer hosts), so a mid-closure kill resumes
        // from the newest snapshot and a snapshot of a since-recomputed
        // edge set is discarded instead of silently resumed
        val (durable, lineageToken) = policy match {
          case Durable(io) =>
            (Some((io, 8)), io.committedToken("edges").getOrElse(""))
          case InMemory(_) => (None, "")
        }
        ConnectedComponents.run(spark, in.select("file_id"), e,
          durable = durable, lineageToken = lineageToken)
      }
    }

    // Durable output partitioned by lang (low cardinality): consumers of
    // one language's slice get storage-level partition pruning
    lazy val resolved: DataFrame = {
      val (c, in) = (clusters, input)
      stage("resolved", Seq("clusters", "input"), partitionBy = Seq("lang")) {
        in.select("file_id", "repo", "path", "commit", "lang", "content_sha")
          .join(c, "file_id")
      }
    }
  }
}
