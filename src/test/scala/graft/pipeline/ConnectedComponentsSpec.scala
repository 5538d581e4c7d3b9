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

    val (fresh, freshRounds) = ConnectedComponents.runCounted(spark, vertices, edges)
    val freshClusters = fresh.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(freshRounds > 2, s"the 512-path must need several rounds: $freshRounds")

    // "kill" the job after every round k the fresh run needed but its
    // last, with a snapshot every round
    (1 until freshRounds).foreach { k =>
      val dir = java.nio.file.Files.createTempDirectory("graft-cc").toString
      val io = new graft.io.TableIO(spark, dir)
      val (_, itersPartial) = ConnectedComponents.runCounted(
        spark, vertices, edges, maxIterations = k, durable = Some((io, 1)))
      assert(itersPartial == k)
      // a completed run drops its snapshots, so a committed one shows the
      // loop was cut before it saw a round without changes
      assert(io.isCommitted(s"cc_round_$k"), s"round-$k snapshot must be committed")
      assert(k == 1 || !io.isCommitted(s"cc_round_${k - 1}"),
        "superseded snapshot must be pruned")

      // restart: a fresh invocation over the same root must resume from
      // round k (not replay from round 0) and converge to the same
      // clusters as the uninterrupted run
      val (resumed, itersTotal) = ConnectedComponents.runCounted(spark,
        vertices, edges, durable = Some((new graft.io.TableIO(spark, dir), 1)))
      val resumedClusters = resumed.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(resumedClusters == freshClusters, s"killed after round $k")
      assert(itersTotal > k, "resumed run continues the loop counter")
      assert(itersTotal <= 14, s"resume must not replay from scratch: $itersTotal")
      // completion cleans up the scratch snapshots
      val leftover = new java.io.File(dir).list().filter(_.contains("cc_round_"))
      assert(leftover.isEmpty, s"killed after round $k: ${leftover.mkString(", ")}")
    }
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

  test("random graphs match a union-find reference") {
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
    def randomGraph(seed: Int, maxExtra: Int): (Int, Seq[(Long, Long)]) = {
      val rnd = new scala.util.Random(seed)
      val n = 8 + rnd.nextInt(maxExtra)
      val edges = Seq.fill(rnd.nextInt(2 * n))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      (n, edges)
    }
    // seeds 0-11 with up to 47 vertices, seeds 100-105 with up to 67
    val shapes = (0 until 12).map(randomGraph(_, 40)) ++
      (100 until 106).map(randomGraph(_, 60))
    shapes.zipWithIndex.foreach { case ((n, edges), i) =>
      val expected = unionFind(n, edges)
      val got = cluster(0L until n.toLong, edges)
      assert(got == expected, s"shape=$i n=$n edges=$edges")
    }

    // 32-bit vertex and edge ids: same labels, and the ids keep their type
    import spark.implicits._
    val (n, edges) = shapes.last
    val got = ConnectedComponents
      .run(spark, (0 until n).toDF("file_id"),
        edges.map { case (a, b) => (a.toInt, b.toInt) }.toDF("src", "dst"))
      .collect().map(r => r.getInt(0).toLong -> r.getInt(1).toLong).toMap
    assert(got == unionFind(n, edges), s"IntegerType ids n=$n edges=$edges")
  }

  test("edge endpoints missing from vertices are dropped") {
    import spark.implicits._
    // 9 is not a vertex: it bridges {0,1} and {2,3} only through itself
    val vdf = Seq(0L, 1L, 2L, 3L, 4L).toDF("file_id")
    val edf = Seq((0L, 1L), (1L, 9L), (9L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = ConnectedComponents.run(spark, vdf, edf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 4L))
  }

  test("a materialized call leaves at most its result persisted") {
    import spark.implicits._
    val n = 512L
    val vertices = (0L until n).toDF("file_id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val sc = spark.sparkContext
    val io = new graft.io.TableIO(spark,
      java.nio.file.Files.createTempDirectory("graft-cc-leak").toString)
    // plain, and with durable snapshots replacing some rounds' checkpoints
    Seq(None, Some((io, 2))).foreach { durable =>
      val before = sc.getPersistentRDDs.keySet
      val (labels, rounds) =
        ConnectedComponents.runCounted(spark, vertices, edges, durable = durable)
      assert(labels.collect().map(_.getLong(1)).toSet === Set(0L))
      val left = sc.getPersistentRDDs.keySet -- before
      assert(rounds > 2)
      assert(left.size <= 1,
        s"$rounds rounds (durable = ${durable.isDefined}) left ${left.size} RDDs persisted")
    }
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
