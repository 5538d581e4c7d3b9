package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.TableIO
import graft.pipeline._

/** Workload `linkage`: the record-linkage pipeline over generated repo
  * files, read from parquet written at set-up. The cold run is the first
  * in the JVM and reads the seed's files; the warm runs read the files of
  * a held-out seed derived from it, so both seeds' outputs get checked.
  * Every pipeline run gets a fresh TableIO root, so no run resumes
  * another's stages.
  *
  * Untraced runs call `LinkagePipeline.run`. Traced runs add runs that
  * drive the same stages through the layers' public functions, one span
  * per stage, and take the closure's round count from
  * `ConnectedComponents.runCounted`. Every run on the held-out input must
  * commit the same stage manifests (rows, files, upstream stages, schema)
  * as the first untraced one, so the staged copy of the pipeline cannot
  * drift from `LinkagePipeline.run` unnoticed.
  */
object Linkage {

  /** Input size. The edge count stays well above
    * `ConnectedComponents.SmallGraphMaxEdges`, so the closure runs the
    * DataFrame loop it runs at scale, not the small-graph loop.
    */
  val InputFiles = 50000L
  val SmokeFiles = 1500L
  val MinF1 = 0.99

  /** Span name of each stage -> its TableIO stage name. */
  val Stages: Seq[(String, String)] = Seq(
    "input" -> "input",
    "tokenizer" -> "tokens",
    "blocking.keys" -> "blocking_keys",
    "blocking.pairs" -> "candidate_pairs",
    "scoring.score" -> "scored_pairs",
    "scoring.edges" -> "edges",
    "cc" -> "clusters",
    "resolve" -> "resolved")

  def apply(run: Run): Outcome = {
    val spark = run.spark
    val n = if (run.smoke) SmokeFiles else InputFiles

    // set-up, Run.SetUps times: generate the seed's files and write them to
    // parquet; then, untimed, the held-out seed's files
    val inputs = (1 to Run.SetUps).map(k => run.freshDir(s"input$k"))
    val setups = inputs.map(dir => write(run, n, run.seed, dir))
    inputs.init.foreach(run.deleteTree)
    val heldOutDir = run.freshDir("input-held-out")
    write(run, n, heldOutSeed(run.seed), heldOutDir)
    val columns = Seq("file_id", "repo", "path", "commit", "lang", "content").map(col)
    val truth = spark.read.parquet(inputs.last.getPath)
    val heldOutTruth = spark.read.parquet(heldOutDir.getPath)
    val heldOutBytes = parquetBytes(heldOutDir)

    val shapes = mutable.ArrayBuffer.empty[(String, Map[String, Manifest])]
    val reps = mutable.ArrayBuffer.empty[Rep]

    /** One pipeline run on a fresh root: its wall and CPU seconds, then
      * (untimed) the isolation check and the stage manifests; `inspect`
      * sees the output before the root is deleted.
      */
    def pipeline(tag: String, in: DataFrame, traced: Boolean)(
        inspect: DataFrame => Unit): (Double, Double) = {
      val root = run.freshDir(s"tableio-$tag")
      val io = new TableIO(spark, root.getPath)
      val started = Instant.now()
      val (out, wall, cpu) = run.timed {
        run.op(s"pipeline $tag") {
          if (traced) stagedRun(run, io, in, tag) else (new LinkagePipeline(spark, io).run(in), 0)
        }
      }
      out.foreach { case (resolved, rounds) =>
        val manifests = manifestsOf(root)
        run.check(s"$tag: every stage committed after the run started") {
          manifests.nonEmpty && manifests.forall(m => !m.committedAt.isBefore(started))
        }
        run.check(s"$tag: the ${Stages.size} stages committed") {
          manifests.map(_.stage).sorted == Stages.map(_._2).sorted
        }
        shapes += tag -> manifests.map(m => m.stage -> m).toMap
        if (traced) reps += Rep(tag, wall, rounds,
          Stages.map { case (_, st) => st -> manifests.find(_.stage == st).fold(0L)(_.rows) }.toMap,
          manifests.map(_.bytes).sum)
        inspect(resolved)
      }
      run.deleteTree(root)
      (wall, cpu)
    }

    // cold: the first pipeline run in this JVM, on the seed's input
    var f1 = 0.0
    val (cold, _) = pipeline("cold", truth.select(columns: _*), traced = false) { resolved =>
      f1 = checkQuality(run, "seed", truth, resolved)
    }

    // warm: runs on the held-out seed's input; the first one is checked
    var heldOutF1 = 0.0
    val warmStart = System.nanoTime()
    val warm = mutable.ArrayBuffer.empty[(Double, Double)]
    run.repeatFor(min = 1, warmStart) { i =>
      val t = pipeline(s"w$i", heldOutTruth.select(columns: _*), traced = false) { resolved =>
        if (i == 0) heldOutF1 = checkQuality(run, "held-out seed", heldOutTruth, resolved)
      }
      warm += t
      t._1
    }

    // traced: the staged pipeline on the same input
    if (run.trace) run.repeatFor(min = 2, System.nanoTime()) { i =>
      pipeline(s"r$i", heldOutTruth.select(columns: _*), traced = true)(_ => ())._1
    }
    // every run on the held-out input against the first (untraced) one
    val heldOut = shapes.filter(_._1 != "cold")
      .map { case (tag, ms) => tag -> ms.view.mapValues(_.shape).toMap }
    heldOut.drop(1).foreach { case (tag, ms) =>
      run.check(s"$tag: stage manifests match ${heldOut.head._1}'s")(ms == heldOut.head._2)
    }
    def rowsOf(tag: String): Seq[Long] = shapes.find(_._1 == tag).toSeq
      .flatMap(ms => Stages.map { case (_, st) => ms._2.get(st).fold(-1L)(_.rows) })

    Outcome(
      endToEnd = Map(
        "setup_s" -> Stats.median(setups),
        "cold_s" -> cold,
        "warm_s" -> Stats.median(warm.map(_._1).toSeq),
        "warm_cpu_s" -> Stats.median(warm.map(_._2).toSeq)),
      layers = () => layers(run, reps.toList, heldOutBytes),
      info = Map(
        "files" -> n,
        "setup_runs" -> setups,
        "warm_runs" -> warm.map(_._1).toSeq,
        "pairwise_f1" -> f1,
        "held_out_pairwise_f1" -> heldOutF1,
        "seed_rows" -> rowsOf("cold"),
        "held_out_rows" -> rowsOf("w0")) ++
        reps.map(r => s"traced_${r.tag}_s" -> r.wall))
  }

  def heldOutSeed(seed: Long): Long = seed ^ 0x5DEECE66DL

  /** Generate `n` files for `seed` into `dir`; the wall time in seconds. */
  private def write(run: Run, n: Long, seed: Long, dir: File): Double =
    Stats.time {
      RepoFiles.generate(run.spark, n, seed, run.cores)
        .write.mode("overwrite").parquet(dir.getPath)
    }._2

  /** The sha invariant and pairwise F1 against the generated entities;
    * returns the F1. With `corrupt` the expected content of one file is
    * altered, which the invariant must catch.
    */
  private def checkQuality(run: Run, what: String, truth: DataFrame,
      resolved: DataFrame): Double = {
    val expected =
      if (!run.corrupt) truth
      else truth.withColumn("content",
        when(col("file_id") === 0, concat(col("content"), lit(" "))).otherwise(col("content")))
    run.check(s"$what: sha invariant") {
      new LinkagePipeline(run.spark, new TableIO(run.spark, run.freshDir("sha-check").getPath))
        .shaInvariantHolds(expected, resolved)
    }
    val f1 = run.op(s"$what: pairwise F1")(pairwiseF1(resolved, truth)).getOrElse(0.0)
    run.check(s"$what: pairwise F1 $f1 >= $MinF1")(f1 >= MinF1)
    f1
  }

  /** Pairwise F1 of the clusters against the generated entity ids. */
  def pairwiseF1(resolved: DataFrame, truth: DataFrame): Double = {
    val cells = resolved.select("file_id", "cluster_id")
      .join(truth.select("file_id", "entity_id"), "file_id")
      .groupBy("cluster_id", "entity_id").count()
      .collect().map(r => (r.get(0), r.get(1), r.getLong(2)))
    def pairs(sizes: Iterable[Long]): Double = sizes.map(c => c * (c - 1) / 2.0).sum
    val tp = pairs(cells.map(_._3))
    val predicted = pairs(cells.groupMapReduce(_._1)(_._3)(_ + _).values)
    val actual = pairs(cells.groupMapReduce(_._2)(_._3)(_ + _).values)
    val precision = if (predicted == 0) 1.0 else tp / predicted
    val recall = if (actual == 0) 1.0 else tp / actual
    if (precision + recall == 0) 0.0 else 2 * precision * recall / (precision + recall)
  }

  /** `LinkagePipeline.run`, stage by stage, one span per stage. Returns the
    * resolved table and the closure's round count.
    */
  private def stagedRun(run: Run, io: TableIO, files: DataFrame,
      tag: String): (DataFrame, Int) = {
    val t = run.tracer
    def span[T](stage: String)(f: => T): T = t.span(s"$tag/$stage")(f)
    val input = span("input") {
      io.stage("input") { files.withColumn("content_sha", sha2(col("content"), 256)) }
    }
    val tokens = span("tokenizer") {
      io.stage("tokens", upstream = Seq("input")) {
        Tokenizer.pruneCommon(Tokenizer.tokenize(input),
          knownFileCount = io.committedRows("input").getOrElse(-1L))
      }
    }
    val keys = span("blocking.keys") {
      io.stage("blocking_keys", upstream = Seq("tokens"))(Blocking.blockingKeys(tokens))
    }
    val pairs = span("blocking.pairs") {
      io.stage("candidate_pairs", upstream = Seq("blocking_keys")) {
        Blocking.candidatePairs(keys, 10000, 3, materializeKeys = false)
      }
    }
    val scored = span("scoring.score") {
      io.stage("scored_pairs", upstream = Seq("candidate_pairs"))(Scoring.score(pairs))
    }
    val edges = span("scoring.edges") {
      io.stage("edges", upstream = Seq("scored_pairs"))(Scoring.edges(scored))
    }
    var rounds = 0
    val clusters = span("cc") {
      io.stage("clusters", upstream = Seq("edges", "input")) {
        val (labels, r) = ConnectedComponents.runCounted(spark = run.spark,
          vertices = input.select("file_id"), edges = edges,
          durable = Some((io, 8)),
          lineageToken = io.committedToken("edges").getOrElse(""),
          canonicalEdges = true)
        rounds = r
        labels
      }
    }
    val resolved = span("resolve") {
      io.stage("resolved", upstream = Seq("clusters", "input"), partitionBy = Seq("lang")) {
        input.select("file_id", "repo", "path", "commit", "lang", "content_sha")
          .join(clusters, "file_id")
      }
    }
    (resolved, rounds)
  }

  /** One traced pipeline run. */
  private final case class Rep(tag: String, wall: Double, rounds: Int,
      rows: Map[String, Long], bytesWritten: Long)

  private def layers(run: Run, reps: List[Rep], inputBytes: Long): Map[String, Double] = {
    if (reps.isEmpty) return Map.empty
    val t = run.tracer
    def med(f: Rep => Double): Double = Stats.median(reps.map(f))
    val perStage = Stages.flatMap { case (span, stage) =>
      def w(r: Rep) = t.work(_ == s"${r.tag}/$span")
      def wall(r: Rep) = t.wall(s"${r.tag}/$span")
      Seq(
        s"linkage.$span.wall_s" -> med(wall),
        s"linkage.$span.jobs" -> med(w(_).jobs.toDouble),
        s"linkage.$span.tasks" -> med(w(_).tasks.toDouble),
        s"linkage.$span.shuffle_bytes" -> med(w(_).shuffleBytes.toDouble),
        s"linkage.$span.cpu_util" -> med(r => w(r).cpuUtil(wall(r), run.cores)),
        s"linkage.$span.task_skew" -> med(w(_).taskSkew),
        s"linkage.$span.rows_out" -> med(_.rows(stage).toDouble))
    }
    val rows = reps.head.rows
    perStage.toMap ++ Map(
      "linkage.cc.rounds" -> med(_.rounds.toDouble),
      "linkage.blocking.keys.fanout" ->
        rows("blocking_keys").toDouble / math.max(1L, rows("tokens")),
      "linkage.scoring.edges.yield" ->
        rows("edges").toDouble / math.max(1L, rows("candidate_pairs")),
      "linkage.tableio.bytes_written" -> med(_.bytesWritten.toDouble),
      "linkage.tableio.write_amp" -> med(_.bytesWritten.toDouble / math.max(1L, inputBytes)),
      "linkage.span_coverage" ->
        med(r => Stages.map { case (s, _) => t.wall(s"${r.tag}/$s") }.sum / r.wall),
      "trace.warm_s" -> med(_.wall))
  }

  /** A committed stage manifest; `shape` is what must repeat across runs
    * of one input: rows, files, upstream stages and schema.
    */
  private final case class Manifest(stage: String, committedAt: Instant, bytes: Long,
      rows: Long, shape: String)

  private val StageName = "\"stage\":\"([^\"]+)\"".r
  private val CommittedAt = "\"committed_at\":\"([^\"]+)\"".r
  private val Bytes = "\"bytes\":(\\d+)".r
  private val Rows = "\"rows\":(\\d+)".r
  private val Shape = Seq("\"rows\":\\d+", "\"files\":\\d+",
    "\"upstream\":\\[[^\\]]*\\]", "\"schema_b64\":\"[^\"]*\"").map(_.r)

  /** Every committed manifest under a TableIO root. */
  private def manifestsOf(root: File): Seq[Manifest] =
    Option(root.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".manifest.json"))
      .map { f =>
        val m = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        def num(r: scala.util.matching.Regex) = r.findFirstMatchIn(m).map(_.group(1).toLong)
        Manifest(
          StageName.findFirstMatchIn(m).map(_.group(1)).getOrElse(""),
          CommittedAt.findFirstMatchIn(m).map(x => Instant.parse(x.group(1))).getOrElse(Instant.EPOCH),
          num(Bytes).getOrElse(0L),
          num(Rows).getOrElse(-1L),
          Shape.map(_.findFirstIn(m).getOrElse("?")).mkString(","))
      }

  private def parquetBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(parquetBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L
}
