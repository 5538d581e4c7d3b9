package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper

/** Graph-shape unit tests for the frontier-based min-label propagation. */
class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark

  private def cluster(
      vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents
      .run(spark, vertices.toDF("file_id"), edges.toDF("src", "dst"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
  }

  test("chain collapses to min label") {
    val got = cluster(0L to 5L, Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(got.values.toSet === Set(0L))
  }

  test("star collapses regardless of orientation") {
    val got = cluster(0L to 4L, Seq((1L, 0L), (0L, 2L), (3L, 0L), (0L, 4L)))
    assert(got.values.toSet === Set(0L))
  }

  test("disjoint components keep distinct labels; isolated vertices stay") {
    val got = cluster(0L to 6L,
      Seq((0L, 1L), (1L, 2L), (3L, 4L))) // 5, 6 isolated
    assert(got(0L) === 0L && got(1L) === 0L && got(2L) === 0L)
    assert(got(3L) === 3L && got(4L) === 3L)
    assert(got(5L) === 5L && got(6L) === 6L)
  }

  test("long path needs multiple frontier rounds (diameter > 2)") {
    val n = 33L
    val got = cluster(0L to n, (0L until n).map(i => (i + 1, i)))
    assert(got.values.toSet === Set(0L))
    assert(got.size === n + 1)
  }

  test("min label wins even when it enters from the high end") {
    // component {5,6,7} plus vertex 1 attached at the far end
    val got = cluster(Seq(1L, 5L, 6L, 7L), Seq((5L, 6L), (6L, 7L), (7L, 1L)))
    assert(got.values.toSet === Set(1L))
  }

  test("durable snapshots: killed mid-loop run resumes and matches a fresh run") {
    import spark.implicits._
    val n = 512L
    val vertices = (0L until n).toDF("file_id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")

    val freshClusters = ConnectedComponents.run(spark, vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val dir = java.nio.file.Files.createTempDirectory("graft-cc").toString
    val io = new graft.io.TableIO(spark, dir)
    // "kill" the job mid-closure: cap at 4 rounds with a snapshot every 2 —
    // the 512-path needs ~10, so this run stops with a committed round-4
    // snapshot and an UNfinished labeling
    val (partial, itersPartial) = ConnectedComponents.runCounted(
      spark, vertices, edges, maxIterations = 4, durable = Some((io, 2)))
    assert(itersPartial == 4)
    assert(io.isCommitted("cc_round_4"), "mid-loop snapshot must be committed")
    assert(!io.isCommitted("cc_round_2"), "superseded snapshot must be pruned")
    assert(partial.collect().map(_.getLong(1)).toSet.size > 1,
      "4 rounds must NOT be enough — otherwise this test kills nothing")

    // restart: a fresh invocation over the same TableIO root must resume
    // from round 4 (not replay from round 0) and converge to the same
    // clusters as the uninterrupted run
    val (resumed, itersTotal) = ConnectedComponents.runCounted(
      spark, vertices, edges, durable = Some((io, 2)))
    val resumedClusters = resumed.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumedClusters == freshClusters)
    assert(itersTotal > 4, "resumed run continues the loop counter")
    assert(itersTotal <= 14, s"resume must not replay from scratch: $itersTotal")
    // completion cleans up the scratch snapshots
    assert((1 to 50).forall(i => !io.isCommitted(s"cc_round_$i")),
      "completed run must remove its loop snapshots")
  }

  test("stale snapshots (lineage-token mismatch) are discarded, not resumed") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-lin").toString
    val io = new graft.io.TableIO(spark, dir)

    // first run against graph A: one big path; killed mid-loop so a
    // committed round-4 snapshot (stamped "graph-A") remains on disk
    val n = 512L
    val verticesA = (0L until n).toDF("file_id")
    val edgesA = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    ConnectedComponents.runCounted(spark, verticesA, edgesA,
      maxIterations = 4, durable = Some((io, 2)), lineageToken = "graph-A")
    assert(io.isCommitted("cc_round_4"))

    // second run against graph B under the SAME root: two components.
    // Resuming graph A's labels would merge everything into cluster 0 —
    // the stale snapshot must be discarded instead.
    val verticesB = (0L until 8L).toDF("file_id")
    val edgesB = Seq((0L, 1L), (1L, 2L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val (labels, _) = ConnectedComponents.runCounted(spark, verticesB, edgesB,
      durable = Some((io, 2)), lineageToken = "graph-B")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L))
    assert((1 to 50).forall(i => !io.isCommitted(s"cc_round_$i")),
      "completed run must remove its loop snapshots")
  }

  test("random graphs match a union-find reference (12 seeded shapes)") {
    // independent oracle: driver-side union-find with min-label
    // normalization; catches any propagation/jump bug (including the
    // non-root parents filter) on arbitrary topologies, not just the
    // hand-picked shapes above
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // min-label normalization: every root is already the min of its
      // component because union always points the larger root at the
      // smaller
      (0 until n).map(v => v.toLong -> find(v).toLong).toMap
    }
    (0 until 12).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 8 + rnd.nextInt(40)
      val nEdges = rnd.nextInt(2 * n)
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val expected = unionFind(n, edges)
      val got = cluster(0L until n.toLong, edges)
      assert(got == expected, s"seed=$seed n=$n edges=$edges")
    }
  }

  test("small- and large-graph loops agree (labels AND round counts)") {
    import spark.implicits._
    // the same seeded random topologies through BOTH physical loops:
    // smallGraphMaxEdges=0 forces the DataFrame loop, the default runs
    // the fixed-partitioner RDD loop — identical algorithm, so labels
    // and round counts must match exactly
    (0 until 6).foreach { seed =>
      val rnd = new scala.util.Random(100 + seed)
      val n = 8 + rnd.nextInt(60)
      val edges = Seq.fill(rnd.nextInt(2 * n))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val vdf = (0L until n.toLong).toDF("file_id")
      val edf = edges.toDF("src", "dst")
      val (small, roundsSmall) =
        ConnectedComponents.runCounted(spark, vdf, edf)
      val (large, roundsLarge) = ConnectedComponents.runCounted(
        spark, vdf, edf, smallGraphMaxEdges = 0L)
      assert(roundsSmall == roundsLarge, s"seed=$seed")
      assert(
        small.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
          large.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
        s"seed=$seed n=$n edges=$edges")
    }
  }

  test("edge endpoints missing from vertices are dropped the same way by both loops") {
    import spark.implicits._
    // 9 is not a vertex: it bridges {0,1} and {2,3} only through itself
    val vdf = Seq(0L, 1L, 2L, 3L, 4L).toDF("file_id")
    val edf = Seq((0L, 1L), (1L, 9L), (9L, 2L), (2L, 3L)).toDF("src", "dst")
    def labels(smallGraphMaxEdges: Long): Map[Long, Long] =
      ConnectedComponents.run(spark, vdf, edf,
        smallGraphMaxEdges = smallGraphMaxEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 4L)
    assert(labels(0L) === expected)
    assert(labels(ConnectedComponents.SmallGraphMaxEdges) === expected)
  }

  test("small-graph loop leaves only its result persisted") {
    import spark.implicits._
    val sc = spark.sparkContext
    val vertices = (0L until 512L).toDF("file_id")
    val edges = (0L until 511L).map(i => (i, i + 1)).toDF("src", "dst")
    val io = new graft.io.TableIO(spark,
      java.nio.file.Files.createTempDirectory("graft-cc-persist").toString)
    // a killed run and its resume: initial labels, edges, every round and
    // the keyed snapshot copies of both runs are persisted along the way
    val runs = Seq(4, 50).map { maxIterations =>
      val before = sc.getPersistentRDDs.keySet
      val (labels, _) = ConnectedComponents.runCounted(spark, vertices,
        edges, maxIterations = maxIterations, durable = Some((io, 2)))
      val left = sc.getPersistentRDDs.keySet.diff(before)
      (labels.collect().map(_.getLong(1)).toSet, left.size)
    }
    assert(runs.last._1 === Set(0L))
    // the edge table's localCheckpoint (taken before the loop) + the
    // result the returned labels read
    runs.foreach { case (_, left) => assert(left <= 2, s"$left RDDs left") }
  }

  test("pointer jumping converges in O(log diameter) rounds") {
    import spark.implicits._
    // 512-vertex path: plain propagation would need ~512 rounds
    val n = 512L
    val (labels, rounds) = ConnectedComponents.runCounted(
      spark,
      (0L until n).toDF("file_id"),
      (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst"))
    assert(labels.collect().map(_.getLong(1)).toSet === Set(0L))
    // log2(512) = 9; propagation + halving + the final no-change round
    assert(rounds <= 14, s"expected O(log d) rounds, got $rounds")
  }
}
