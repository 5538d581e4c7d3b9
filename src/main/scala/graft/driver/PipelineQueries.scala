package graft.driver

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.driver.DriverQuery.withScratchDir
import graft.goldens.Goldens
import graft.io.TableIO
import graft.pipeline.{ConnectedComponents, LinkagePipeline, NameFixtures, RepoFiles, Tokenizer}
import graft.pipeline.LinkagePipeline.InMemory

/** The record-linkage pipeline and its durable layer (TableIO commit and
  * resume, connected components resumed mid-closure) on generated files. */
object PipelineQueries {

  private val LinkageFiles = 1000

  /** The generated table of `LinkageFiles` files the linkage queries
    * cluster. Its partition count
    * is scale-adaptive: ~250 rows per task keeps each task's work above its
    * scheduling overhead (a 1000-row fixture otherwise fans into
    * defaultParallelism near-empty tasks at EVERY narrow stage derived
    * from it), while any fixture >= 250 x defaultParallelism rows gets
    * the full core count — so nothing changes at real scale.
    */
  private def linkageFiles(s: SparkSession): DataFrame =
    RepoFiles.generate(s, nFiles = LinkageFiles, seed = 42L,
      partitions = math.max(1L, math.min(
        s.sparkContext.defaultParallelism.toLong, LinkageFiles / 250L)).toInt)

  /** The in-memory chain's clusters of `files`. The closure has run when
    * `clusters` returns, and its result reads only its own labels, so the
    * tokenize checkpoint (which the tokens stage reads) and the keys
    * checkpoint (which the edges read; it cuts the tokens from their plan)
    * are released here instead of piling up in a long-lived session.
    */
  private[graft] def inMemoryClusters(spark: SparkSession, files: DataFrame,
      fileCount: Long): DataFrame = {
    val stages = new LinkagePipeline.Stages(spark, files, InMemory(fileCount))
    val clusters = stages.clusters
    Seq(stages.tokens, stages.edges).foreach(ConnectedComponents.release)
    clusters
  }

  /** Ground truth for the linkage clusters: the generator assigns file i
    * to entity family i mod F, so a PERFECT clustering has exactly one
    * cluster per family with cluster_id = min file_id = family index.
    * This is the strongest check a clustering can get — the driver row
    * only hash-matches if the pipeline resolves every entity exactly.
    */
  private def linkageOracleSql: String = {
    val nFiles = LinkageFiles.toLong
    val f = NameFixtures.families.length
    val rows = (0 until f).map { fam =>
      (fam.toLong, (nFiles - fam + f - 1) / f, 1L)
    }
    Goldens.valuesSql(Seq("cluster_id", "cluster_size", "n_families"), rows)
  }

  /** Clusters of `labels` with their sizes and the number of entity
    * families each holds.
    */
  private def clusterStats(labels: DataFrame, files: DataFrame): DataFrame =
    labels
      .join(files.select("file_id", "entity_id"), "file_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"),
        countDistinct("entity_id").as("n_families"))

  val queries: Seq[DriverQuery] = Seq(
    {
      val (nFiles, cols) = (200, Seq("stage", "rows", "resume_consistent"))
      // deterministic stage row counts of the seed-42 generator;
      // resume_consistent asserts the second TableIO saw committed
      // manifests with identical counts
      DriverQuery("q_checkpoint_lineage",
        Goldens.valuesSql(cols, Seq(("input", nFiles, true), ("tokens", 449, true)))) {
        (s, _) =>
          import s.implicits._
          // the result rows are local values, so the committed stages, which
          // are single-use fixture state, can go when the query returns
          withScratchDir("graft_ckpt") { dir =>
            val io1 = new TableIO(s, dir.toString)
            // 4 partitions for a 200-row fixture: the stage commits otherwise
            // write 32 near-empty parquet files each (generation is per-row
            // deterministic, so row counts are partition-independent)
            val files = RepoFiles.generate(s, nFiles = nFiles, seed = 42L,
              partitions = 4)
            val input = io1.stage("input") { files }
            io1.stage("tokens", upstream = Seq("input")) {
              Tokenizer.tokenize(input)
            }
            // first-run row counts come from the commit manifests (observe()'d
            // during the write — the lineage metadata exists so downstreams
            // never re-scan committed data for a cardinality); the CONSISTENCY
            // check below still re-counts through the fresh TableIO, so the
            // manifest-vs-recount comparison is part of what the oracle pins
            val r1 = Seq(
              "input" -> io1.committedRows("input").getOrElse(-1L),
              "tokens" -> io1.committedRows("tokens").getOrElse(-1L))
            // fresh TableIO over the same root: both stages must resume from
            // the committed snapshots (manifest present, same row counts)
            val io2 = new TableIO(s, dir.toString)
            val resumed = Seq(
              ("input", io2.isCommitted("input"), io2.read("input").count()),
              ("tokens", io2.isCommitted("tokens"), io2.read("tokens").count()))
            r1.zip(resumed).map { case ((st, n), (_, committed, n2)) =>
              (st, n, committed && n == n2)
            }.toDF(cols: _*)
          }
      }
    },
    // Durable-CC kill-and-resume: run the closure loop capped at 1 round
    // with a snapshot every round (leaves cc_round_1 committed — the "killed
    // driver" state), then a FRESH TableIO resumes the loop mid-closure from
    // that snapshot and finishes. The perfect-clustering oracle only matches
    // if the resumed run converges to exactly the clusters an uninterrupted
    // run produces.
    DriverQuery("q_cc_resume", linkageOracleSql) { (s, _) =>
      // the snapshots are single-use fixture state: the tree goes when the
      // query returns, so repeated runs (Verify + Bench pass-pairs) don't
      // pile up temp directories
      withScratchDir("graft_cc_resume") { dir =>
        // everything this query localCheckpoints except its result: released
        // on every exit path
        var checkpoints = Seq.empty[DataFrame]
        try {
          val files = linkageFiles(s)
          val stages = new LinkagePipeline.Stages(s, files, InMemory(LinkageFiles))
          val edges = stages.edges
            .localCheckpoint() // one edge materialization shared by both runs
          // the tokens stage reads the tokenize checkpoint, which the edges'
          // plan no longer does
          checkpoints = Seq(stages.tokens, stages.edges, edges)
          val io1 = new TableIO(s, dir.toString)
          val (_, iterKilled) = ConnectedComponents.runCounted(
            s, files.select("file_id"), edges, maxIterations = 1,
            durable = Some((io1, 1)), lineageToken = "edges-fixture-v1")
          require(iterKilled == 1 && io1.isCommitted("cc_round_1"),
            "phase 1 must stop mid-closure with a committed snapshot")
          val io2 = new TableIO(s, dir.toString) // fresh driver, same root
          val labels = ConnectedComponents.run(
            s, files.select("file_id"), edges,
            durable = Some((io2, 1)), lineageToken = "edges-fixture-v1")
          checkpoints :+= labels
          clusterStats(labels, files)
            // eager: materialize the (tiny) cluster table BEFORE the
            // snapshot root is deleted out from under the plan
            .localCheckpoint()
        } finally checkpoints.foreach(ConnectedComponents.release)
      }
    },
    // the same perfect-clustering ground truth as `q_cc_resume`, from the
    // uninterrupted in-memory chain
    DriverQuery("q_linkage_clusters", linkageOracleSql) { (s, _) =>
      val files = linkageFiles(s)
      clusterStats(inMemoryClusters(s, files, LinkageFiles), files)
    })
}
