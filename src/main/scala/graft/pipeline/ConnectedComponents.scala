package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Transitive closure via min-label propagation with pointer jumping.
  *
  * Each round does two things:
  *   1. neighbor propagation — the *frontier* (vertices whose label changed
  *      last round) offers its label across the big static edge table (the
  *      north rule's "iterative large-to-small hash join": AQE broadcasts
  *      the frontier once it shrinks under the threshold);
  *   2. pointer jumping (path halving) — every vertex re-reads the label of
  *      its current label vertex, so label chains collapse geometrically.
  *
  * Propagation alone needs O(diameter) rounds; with halving the loop
  * converges in O(log diameter) — the property that matters when
  * sorted-neighborhood chains make long thin components at 10^12 rows.
  *
  * Each round localCheckpoints its labels to cut lineage, so the plan
  * stays the same size however many rounds run. A round's checkpoint is
  * unpersisted once the next round or a durable snapshot supersedes it,
  * and the edge table's on return, so a call leaves only its result's
  * checkpoint persisted.
  *
  * Restart story, two tiers: by default a driver restart resumes from the
  * last pipeline-stage checkpoint (TableIO) and replays the whole loop —
  * localCheckpoint blocks live in executor memory, so a lost executor
  * mid-loop also forces that replay. Passing `durable` writes a
  * (labels + frontier) snapshot through TableIO every k rounds and resumes
  * the LOOP from the newest committed snapshot, making the 10^12-row run
  * restartable mid-closure; completed runs clean their snapshots up.
  * A snapshot is a parquet stage of (file_id, cluster_id, in_frontier).
  */
object ConnectedComponents {

  private def snapshotStage(i: Int): String = s"cc_round_$i"

  /** The lineage token recorded in a committed loop snapshot's manifest
    * metadata.
    */
  private def recordedToken(io: graft.io.TableIO, stage: String): String =
    io.manifest(stage).flatMap(_.metadata.get("lineage")).getOrElse("")

  /** The resume decision: newest committed snapshot with a matching
    * lineage stamp, else invalidate all snapshots.
    */
  private def resumableSnapshot(
      durable: Option[(graft.io.TableIO, Int)],
      maxIterations: Int,
      lineageToken: String): Option[(graft.io.TableIO, Int)] =
    durable.flatMap { case (io, _) =>
      val committed =
        (1 to maxIterations).filter(i => io.isCommitted(snapshotStage(i)))
      committed.lastOption.flatMap { i =>
        if (recordedToken(io, snapshotStage(i)) == lineageToken) Some((io, i))
        else {
          committed.foreach(j => io.invalidate(snapshotStage(j)))
          None
        }
      }
    }

  private def dropSupersededSnapshots(io: graft.io.TableIO, upto: Int): Unit =
    (1 until upto).foreach(i =>
      if (io.isCommitted(snapshotStage(i))) io.invalidate(snapshotStage(i)))

  /** Unpersist the RDD behind a localCheckpointed Dataset. Spark logs a
    * warning that its lineage cannot be recomputed: nothing reads it
    * again, so that is intended.
    */
  private def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  private def dropAllSnapshots(io: graft.io.TableIO, maxIterations: Int): Unit =
    (1 to maxIterations).foreach(i =>
      if (io.isCommitted(snapshotStage(i))) io.invalidate(snapshotStage(i)))

  /** edges(src, dst) + vertices(file_id) -> (file_id, cluster_id).
    *
    * Endpoints ⊆ vertices: the output labels exactly the ids in
    * `vertices`. An edge endpoint missing from `vertices` gets no label
    * and carries no label between components.
    */
  def run(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      maxIterations: Int = 50,
      durable: Option[(graft.io.TableIO, Int)] = None,
      lineageToken: String = "",
      canonicalEdges: Boolean = false): DataFrame =
    runCounted(spark, vertices, edges, maxIterations, durable,
      lineageToken, canonicalEdges)._1

  /** [[run]] plus the number of rounds executed — lets tests pin the
    * O(log diameter) convergence property of pointer jumping.
    *
    * @param durable optional (TableIO, k): commit a durable loop snapshot
    *   every k rounds and resume from the newest committed one.
    * @param lineageToken fingerprint of the INPUT graph (e.g. the edges
    *   stage manifest's opaque `commit_token`). Snapshots are stamped with it;
    *   a snapshot whose stamp differs from the current token was computed
    *   against a different graph (upstream recomputed, or a shared TableIO
    *   root reused with new data) and is discarded instead of resumed —
    *   resuming it would silently restore labels from the old graph.
    * @param canonicalEdges the caller guarantees `edges` is already
    *   DISTINCT with src < dst (both internal producers — Scoring.edges
    *   and the banded minhash pairs — are). The two orientations of a
    *   distinct canonical set are disjoint and each distinct, so the
    *   undirected edge table needs no dedup shuffle; min-label
    *   propagation is additionally idempotent under duplicate edges, so
    *   this flag can never change the result, only drop an exchange.
    */
  def runCounted(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      maxIterations: Int = 50,
      durable: Option[(graft.io.TableIO, Int)] = None,
      lineageToken: String = "",
      canonicalEdges: Boolean = false): (DataFrame, Int) = {
    // undirected: both orientations, deduped (unless provably canonical)
    val bi0 = edges
      .select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val biEdges = (if (canonicalEdges) bi0 else bi0.dropDuplicates("src", "dst"))
      .localCheckpoint()

    val initial = vertices
      .select(col("file_id"), col("file_id").as("cluster_id"))
      .localCheckpoint()
    var labels = initial
    var frontier = labels
    var iter = 0

    // the localCheckpoint `labels` reads, if any: released as soon as a
    // newer round or a snapshot replaces it
    var labelsCheckpoint: Option[DataFrame] = Some(initial)
    def supersede(by: Option[DataFrame]): Unit = {
      labelsCheckpoint.foreach(release)
      labelsCheckpoint = by
    }

    // resume the loop from the newest committed durable snapshot — but
    // only if it was computed against THIS graph (lineage stamp matches);
    // stale snapshots (upstream recomputed under the same root) are
    // invalidated and the loop starts from round 0
    resumableSnapshot(durable, maxIterations, lineageToken).foreach {
      case (io, i) =>
        val snap = io.read(snapshotStage(i))
        labels = snap.select("file_id", "cluster_id")
        frontier = snap.where(col("in_frontier"))
          .select("file_id", "cluster_id")
        iter = i
        supersede(None)
    }

    var done = false
    while (!done && iter < maxIterations) {
      // 1. frontier labels flow to neighbors (big edges x small frontier),
      // combined map-side per neighbor. Each vertex's own label rides the
      // SAME aggregation as a self-message (flagged), so the candidate
      // label AND the old label come out of one exchange — the previous
      // shape paid a second join (labels x msgMin) per round for the same
      // information. Exactly one self row per vertex exists, so
      // max(self ? cid : null) reconstructs the old label and min(cid)
      // over {old label} u {messages} is the propagation minimum.
      val msgs = biEdges
        .join(frontier, biEdges("src") === frontier("file_id"))
        .select(biEdges("dst").as("file_id"), col("cluster_id").as("cid"),
          lit(false).as("is_self"))
        // fresh attribute ids: shares lineage with labels (round 1), and
        // self-join attribute resolution chokes on duplicate expr ids
        .toDF("file_id", "cid", "is_self")
      val candidate = labels
        .toDF("file_id", "cluster_id")
        .select(col("file_id"), col("cluster_id").as("cid"),
          lit(true).as("is_self"))
        .union(msgs)
        .groupBy("file_id")
        .agg(min("cid").as("cand_cid"),
          max(when(col("is_self"), col("cid"))).as("old_cid"))
        // no self row: an endpoint missing from `vertices` (see run)
        .where(col("old_cid").isNotNull)

      // 2. pointer jumping: take the label of my label's vertex.
      // Parents side carries ONLY non-root vertices (cand_cid < file_id):
      // labels never increase (candidate = min of own id and messages), so
      // a root parent would contribute p_cid == p_id == the child's
      // cand_cid — identical to the join miss the coalesce below already
      // handles. Exact-equivalent output, and the jump join stops
      // shuffling the (large, growing-as-we-converge) root fraction of
      // the vertex set every round.
      val parents = candidate
        .where(col("cand_cid") =!= col("file_id"))
        .select(col("file_id").as("p_id"), col("cand_cid").as("p_cid"))
      // changed-count collected DURING the one materialization job via
      // observe() — no separate convergence-check pass over the labels
      // (at 10^12 vertices that second scan per round is a real cost)
      val obs = org.apache.spark.sql.Observation(
        s"cc_changed_${iter}_${System.nanoTime()}")
      val next = candidate.as("c")
        .join(parents, col("c.cand_cid") === col("p_id"), "left")
        .select(col("c.file_id"),
          coalesce(col("p_cid"), col("c.cand_cid")).as("cluster_id"),
          (coalesce(col("p_cid"), col("c.cand_cid")) =!= col("c.old_cid"))
            .as("changed"))
        .observe(obs, count(when(col("changed"), 1)).as("changed_n"))
        .localCheckpoint() // ONE materialization per round

      done = obs.get("changed_n").asInstanceOf[Long] == 0L
      supersede(Some(next))
      labels = next.select("file_id", "cluster_id")
      frontier = next.where(col("changed")).select("file_id", "cluster_id")
      iter += 1

      // durable snapshot every k rounds: labels + frontier membership in
      // one committed stage (atomic rename). Reading labels/frontier back
      // from the committed store both cuts lineage to DISK (not executor
      // memory) and makes this round bit-identical to a restarted one.
      durable.foreach { case (io, k) =>
        if (!done && iter % k == 0) {
          val snap = io.stage(snapshotStage(iter),
            metadata = Map("lineage" -> lineageToken)) {
            next.select(col("file_id"), col("cluster_id"),
              col("changed").as("in_frontier"))
          }
          labels = snap.select("file_id", "cluster_id")
          frontier = snap.where(col("in_frontier"))
            .select("file_id", "cluster_id")
          supersede(None)
          // older snapshots are superseded — drop them so storage stays
          // bounded at one snapshot regardless of round count
          dropSupersededSnapshots(io, iter)
        }
      }
    }
    // completed: loop snapshots are scratch state, not results — clean up
    if (done) durable.foreach { case (io, _) =>
      dropAllSnapshots(io, maxIterations)
    }
    release(biEdges)
    (labels, iter)
  }
}
