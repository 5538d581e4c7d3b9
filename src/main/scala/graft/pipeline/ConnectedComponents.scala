package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Transitive closure via min-label propagation with pointer jumping.
  *
  * Contraction comes first, once per call. The edges are restricted to
  * endpoints present in `vertices`, then each partition runs a local
  * union-find over its own edges and emits a star forest: one edge from
  * each local component's least id to every other vertex of it. The
  * forests of all partitions have the same components as the input, and
  * at most as many edges; they have far fewer where a partition holds
  * many edges of one component. Their union, in both orientations, is
  * the loop's static edge table (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC 2014).
  *
  * Each round then does two things:
  *   1. neighbor propagation — the *frontier* (vertices whose label changed
  *      last round) offers its label across the static edge table (the
  *      north rule's "iterative large-to-small hash join": AQE broadcasts
  *      the frontier once it shrinks under the threshold);
  *   2. pointer jumping — every vertex takes the label its candidate
  *      label's vertex held at the start of the round, so label chains
  *      collapse geometrically.
  * A fresh call's first round starts from every vertex labelled by its
  * own id, so it needs neither join: a message is an edge's source id,
  * and every label is a root.
  *
  * Propagation alone needs O(diameter) rounds; with jumping a component
  * of diameter d converges in O(log d) rounds, plus the round that sees
  * no change — the property that matters when sorted-neighborhood chains
  * make long thin components at 10^12 rows. Contraction keeps the bound:
  * a star at most doubles a distance (two leaves are two hops apart),
  * and it shortens every path that runs through one partition's edges.
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
  * The star forest depends on how the edges are partitioned, so a resumed
  * call may contract into a different one than the killed call did: it
  * takes the snapshot's labels with every vertex in the frontier, which
  * is correct for any forest with the same components, and costs one
  * full propagation round.
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

  /** Unpersist the RDD behind every localCheckpointed Dataset that
    * `checkpointed` reads. Spark logs a warning that their lineage cannot
    * be recomputed: nothing reads them again, so that is intended.
    */
  private[graft] def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  private def dropAllSnapshots(io: graft.io.TableIO, maxIterations: Int): Unit =
    (1 to maxIterations).foreach(i =>
      if (io.isCommitted(snapshotStage(i))) io.invalidate(snapshotStage(i)))

  /** Union-find over one partition's edges. For every vertex the
    * partition touches that is not the root of its local component, emits
    * (root, v) and (v, root); the root is the component's least id.
    */
  private def starForest(pairs: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new mutable.LongMap[Long]()
    def find(x: Long): Long = { // with path halving
      var v = x
      var p = parent.getOrElseUpdate(v, v)
      while (p != v) {
        val gp = parent(p)
        parent(v) = gp
        v = gp
        p = parent(v)
      }
      v
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.iterator.flatMap { v =>
      val r = find(v)
      if (r == v) Iterator.empty else Iterator((r, v), (v, r))
    }
  }

  /** The loop's undirected edge table: the edges whose endpoints are both
    * in `vertices`, contracted partition by partition into a star forest
    * with the same components, in both orientations.
    */
  private def contractedEdges(
      spark: SparkSession, vertices: DataFrame, edges: DataFrame): DataFrame = {
    import spark.implicits._
    val idType = vertices.schema("file_id").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"vertex ids must be integral, got $idType")
    val ids = vertices.select(col("file_id").as("vid"))
    edges
      .join(ids, col("src") === col("vid"), "left_semi")
      .join(ids, col("dst") === col("vid"), "left_semi")
      .select(col("src").cast(LongType), col("dst").cast(LongType))
      .as[(Long, Long)]
      .mapPartitions(starForest)
      .toDF("src", "dst")
      .select(col("src").cast(idType), col("dst").cast(idType))
  }

  /** edges(src, dst) + vertices(file_id) -> (file_id, cluster_id).
    *
    * Endpoints ⊆ vertices: the output labels exactly the ids in
    * `vertices`. An edge endpoint missing from `vertices` gets no label
    * and carries no label between components. Ids must be integral
    * (Byte, Short, Int or Long); the labels have the type of
    * `vertices("file_id")`.
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
    * @param canonicalEdges has no effect. The union-find of the
    *   contraction absorbs duplicate and reversed edges, so the edge
    *   table is never deduplicated. The parameter stays only for source
    *   compatibility with existing callers.
    */
  def runCounted(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      maxIterations: Int = 50,
      durable: Option[(graft.io.TableIO, Int)] = None,
      lineageToken: String = "",
      canonicalEdges: Boolean = false): (DataFrame, Int) = {
    val biEdges = contractedEdges(spark, vertices, edges).localCheckpoint()

    // a fresh call starts with every vertex labelled by its own id, and
    // `identity` says so: that round needs neither the frontier join (a
    // message is an edge's src) nor the jump (every label is a root)
    var labels = vertices.select(col("file_id"), col("file_id").as("cluster_id"))
    var frontier = labels
    var identity = true
    var iter = 0

    // the localCheckpoint `labels` reads, if any: released as soon as a
    // newer round or a snapshot replaces it
    var labelsCheckpoint: Option[DataFrame] = None
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
        // the snapshot's frontier belongs to the forest of the killed
        // call, which this call's partitioning may not reproduce: every
        // label re-enters the frontier
        labels = io.read(snapshotStage(i)).select("file_id", "cluster_id")
        frontier = labels
        identity = false
        iter = i
    }

    var done = false
    while (!done && iter < maxIterations) {
      // 1. frontier labels flow to neighbors (static edges x frontier),
      // combined map-side per neighbor. Each vertex's own label rides the
      // SAME aggregation as a self-message (flagged), so the candidate
      // label AND the old label come out of one exchange — the previous
      // shape paid a second join (labels x msgMin) per round for the same
      // information. Exactly one self row per vertex exists, so
      // max(self ? cid : null) reconstructs the old label and min(cid)
      // over {old label} u {messages} is the propagation minimum.
      val msgs =
        if (identity) biEdges.select(col("dst").as("file_id"),
          col("src").as("cid"), lit(false).as("is_self"))
        else biEdges
          .join(frontier, biEdges("src") === frontier("file_id"))
          .select(biEdges("dst").as("file_id"), col("cluster_id").as("cid"),
            lit(false).as("is_self"))
          // fresh attribute ids: self-join attribute resolution chokes on
          // duplicate expr ids
          .toDF("file_id", "cid", "is_self")
      val candidate = labels
        .toDF("file_id", "cluster_id")
        .select(col("file_id"), col("cluster_id").as("cid"),
          lit(true).as("is_self"))
        .union(msgs)
        .groupBy("file_id")
        .agg(min("cid").as("cand_cid"),
          max(when(col("is_self"), col("cid"))).as("old_cid"))
        // no old label: a null vertex id
        .where(col("old_cid").isNotNull)

      // 2. pointer jumping: take the label that my candidate label's
      // vertex held at the start of this round. Reading the materialized
      // `labels` keeps the round to one aggregation: a self-join of
      // `candidate` is planned as two (its jump side infers a not-null
      // filter the other side lacks, so the shuffle is not reused). A
      // label never exceeds its vertex's id, so the jump never raises a
      // label, and the hop length still doubles every round. Roots
      // (label == id) are left out: a join miss keeps cand_cid, which is
      // what a root would contribute.
      val jumped =
        if (identity) candidate.withColumn("p_cid", lit(null))
        else candidate.join(
          labels.toDF("p_id", "p_cid").where(col("p_cid") =!= col("p_id")),
          col("cand_cid") === col("p_id"), "left")
      // changed-count collected DURING the one materialization job via
      // observe() — no separate convergence-check pass over the labels
      // (at 10^12 vertices that second scan per round is a real cost)
      val obs = org.apache.spark.sql.Observation(
        s"cc_changed_${iter}_${System.nanoTime()}")
      val next = jumped
        .select(col("file_id"),
          coalesce(col("p_cid"), col("cand_cid")).as("cluster_id"),
          (coalesce(col("p_cid"), col("cand_cid")) =!= col("old_cid"))
            .as("changed"))
        .observe(obs, count(when(col("changed"), 1)).as("changed_n"))
        .localCheckpoint() // ONE materialization per round

      done = obs.get("changed_n").asInstanceOf[Long] == 0L
      supersede(Some(next))
      identity = false
      labels = next.select("file_id", "cluster_id")
      frontier = next.where(col("changed")).select("file_id", "cluster_id")
      iter += 1

      // durable snapshot every k rounds: labels + frontier membership in
      // one committed stage (atomic rename). Reading labels/frontier back
      // from the committed store cuts lineage to DISK (not executor
      // memory); this call's forest is unchanged, so its frontier holds.
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
