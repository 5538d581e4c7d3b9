package graft.pipeline

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSessionTestWrapper, TempDirs}
import graft.io.TableIO

/** End-to-end pipeline correctness: blocking co-location of labeled
  * positives, pairwise F1 >= 0.99 against the reference's labeled pairs
  * (BASELINE.md) at identical blocking keys, sha256 invariant, cluster
  * cohesion, and checkpoint resume.
  */
class LinkagePipelineSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkSessionTestWrapper.spark

  test("every labeled positive pair shares at least one blocking key") {
    import spark.implicits._
    val names = NameFixtures.positives.flatMap(p => Seq(p._1, p._2)).distinct
    val keys = Blocking
      .blockingKeys(
        names.zipWithIndex
          .map { case (n, i) => (i.toLong, n.toLowerCase) }
          .toDF("file_id", "token"))
      .select($"token", $"key")
      .collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) => t -> rows.map(_.getString(1)).toSet }

    val notCoBlocked = NameFixtures.positives.filterNot { case (a, b) =>
      keys(a.toLowerCase).intersect(keys(b.toLowerCase)).nonEmpty
    }
    assert(notCoBlocked.isEmpty, s"not co-blocked: $notCoBlocked")
  }

  test("pairwise F1 >= 0.99 on labeled pairs at identical blocking keys") {
    import spark.implicits._
    // Run the labeled pairs through the pipeline's own operators:
    // co-blocking via Blocking.blockingKeys, pairwise decision via
    // Scoring.score/matchDecision (the reference comparators' semantics).
    val labeled =
      NameFixtures.positives.map { case (a, b) => (a, b, true) } ++
        NameFixtures.negatives.map { case (a, b) => (a, b, false) }

    val names = labeled.flatMap(p => Seq(p._1, p._2)).distinct
    val keyDf = Blocking.blockingKeys(
      names.zipWithIndex
        .map { case (n, i) => (i.toLong, n.toLowerCase) }
        .toDF("file_id", "token"))
    val keysByName = keyDf
      .select($"token", $"key")
      .collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) => t -> rows.map(_.getString(1)).toSet }

    val pairDf = labeled.zipWithIndex.map { case ((a, b, _), i) =>
      (i.toLong, i.toLong + 100000, a.toLowerCase, b.toLowerCase)
    }.toDF("src", "dst", "token_a", "token_b")
    val decisions = Scoring
      .matchDecision(Scoring.score(pairDf))
      .where($"is_match")
      .select($"src")
      .collect()
      .map(_.getLong(0))
      .toSet

    var tp = 0; var fn = 0; var fp = 0; var tn = 0
    labeled.zipWithIndex.foreach { case ((a, b, label), i) =>
      val coBlocked = keysByName(a.toLowerCase)
        .intersect(keysByName(b.toLowerCase))
        .nonEmpty
      val predicted = coBlocked && decisions.contains(i.toLong)
      (label, predicted) match {
        case (true, true)   => tp += 1
        case (true, false)  => fn += 1; info(s"FN: $a / $b")
        case (false, true)  => fp += 1; info(s"FP: $a / $b")
        case (false, false) => tn += 1
      }
    }
    val precision = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    val recall = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    val f1 =
      if (precision + recall == 0) 0.0
      else 2 * precision * recall / (precision + recall)
    info(f"precision=$precision%.4f recall=$recall%.4f f1=$f1%.4f " +
      s"(tp=$tp fn=$fn fp=$fp tn=$tn)")
    assert(f1 >= 0.99, s"F1 $f1 below target (tp=$tp fn=$fn fp=$fp)")
  }

  test("pipeline end-to-end: cluster cohesion + sha invariant") {
    import spark.implicits._
    val files = RepoFiles.generate(spark, nFiles = 2000, seed = 42L)
    val io = new TableIO(spark, tempDir("graft-pipe"))
    val pipeline = new LinkagePipeline(spark, io)
    val resolved = pipeline.run(files).cache()

    // recall at cluster level: every ground-truth family fully merged
    val cohesion = resolved
      .join(files.select("file_id", "entity_id"), "file_id")
      .groupBy("entity_id")
      .agg(countDistinct("cluster_id").as("n_clusters"))
      .agg(
        sum(when($"n_clusters" === 1, 1).otherwise(0)).as("cohesive"),
        count(lit(1)).as("total"))
      .head()
    val cohesive = cohesion.getLong(0)
    val total = cohesion.getLong(1)
    info(s"cohesive families: $cohesive / $total")
    assert(cohesive.toDouble / total >= 0.99,
      s"only $cohesive of $total families fully merged")

    // precision at cluster level: no over-merging — each cluster must stay
    // within one ground-truth family (catches common-token chaining)
    val purity = resolved
      .join(files.select("file_id", "entity_id"), "file_id")
      .groupBy("cluster_id")
      .agg(countDistinct("entity_id").as("n_families"))
      .agg(
        sum(when($"n_families" === 1, 1).otherwise(0)).as("pure"),
        count(lit(1)).as("clusters"))
      .head()
    val pure = purity.getLong(0)
    val clusters = purity.getLong(1)
    info(s"pure clusters: $pure / $clusters")
    assert(pure.toDouble / clusters >= 0.99,
      s"only $pure of $clusters clusters are single-family")

    assert(pipeline.shaInvariantHolds(files, resolved),
      "sha256(content) invariant violated")
    resolved.unpersist()
  }

  test("pruneCommon launches no job at DAG-construction time") {
    import spark.implicits._
    val jobStarts = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobStarts.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Thread.sleep(300) // settle events from earlier tests
      val before = jobStarts.get()
      val tokens = (1L to 100L).flatMap(i =>
        Seq((i, s"alpha$i"), (i, "common"))).toDF("file_id", "token")
      // no knownFileCount: the round-2 implementation ran an eager
      // distinct().count() right here — a full extra scan per run at 100 TB
      val pruned = Tokenizer.pruneCommon(tokens)
      Thread.sleep(500) // any eager job would have fired (count() blocks)
      assert(jobStarts.get() == before,
        "pruneCommon launched a Spark job during DAG construction")
      // ... and the lazy fallback still prunes the Zipf head correctly
      val out = pruned.select("token").distinct().collect().map(_.getString(0))
      assert(!out.contains("common"))
      assert(out.length == 100)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("pruneCommon with a known file count matches the lazy fallback") {
    import spark.implicits._
    val tokens = (1L to 50L).flatMap(i =>
      Seq((i, s"tok$i"), (i, "everywhere"))).toDF("file_id", "token")
    val withCount = Tokenizer.pruneCommon(tokens, knownFileCount = 50)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val lazyPath = Tokenizer.pruneCommon(tokens)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(withCount == lazyPath)
  }

  test("a repeat run on the same input compiles no new classes") {
    // a run compiles ~90 classes; in Spark's default 100-entry codegen
    // cache the LRU order evicts part of them before the repeat run uses
    // them again. The session sizes the cache so a repeat run reuses every
    // class instead of compiling and JIT-warming it again
    val files = RepoFiles.generate(spark, nFiles = 2000, seed = 11L)
    def run(): (Seq[(Long, Long)], Long) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val clusters = new LinkagePipeline(spark, new TableIO(spark,
        tempDir("graft-codegen"))).run(files)
        .select("file_id", "cluster_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      (clusters, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
    }
    val (first, compiledFirst) = run()
    val (second, compiledSecond) = run()
    info(s"classes compiled: first run $compiledFirst, second run $compiledSecond")
    assert(second == first)
    assert(compiledSecond == 0,
      s"repeat run compiled $compiledSecond classes (first run: $compiledFirst)")
  }

  test("durable and in-memory policies produce the same clusters") {
    import LinkagePipeline.{Durable, InMemory}
    val files = RepoFiles.generate(spark, nFiles = 2000, seed = 42L)
    def clusters(policy: LinkagePipeline.Materialization): Seq[(Long, Long)] =
      new LinkagePipeline.Stages(spark, files, policy).clusters
        .select("file_id", "cluster_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val durable = clusters(Durable(new TableIO(spark, tempDir("graft-policy"))))
    val inMemory = clusters(InMemory(2000))
    assert(durable.size == 2000)
    assert(inMemory == durable)
  }

  test("reading edges on a durable run commits edges, not clusters") {
    val io = new TableIO(spark, tempDir("graft-edges"))
    val files = RepoFiles.generate(spark, nFiles = 200, seed = 7L)
    val stages =
      new LinkagePipeline.Stages(spark, files, LinkagePipeline.Durable(io))
    assert(stages.edges.count() > 0)
    Seq("input", "tokens", "blocking_keys", "candidate_pairs", "scored_pairs",
      "edges").foreach(st => assert(io.isCommitted(st), s"$st not committed"))
    assert(!io.isCommitted("clusters"))
    assert(!io.isCommitted("resolved"))
  }

  test("resume: second run reuses committed checkpoints") {
    val dir = tempDir("graft-resume")
    val files = RepoFiles.generate(spark, nFiles = 200, seed = 7L)
    val io1 = new TableIO(spark, dir)
    val count1 = new LinkagePipeline(spark, io1).run(files).count()
    assert(io1.isCommitted("resolved"))
    val manifestBefore = io1.manifest("resolved").get

    // second run over the same checkpoint root must not recompute
    val io2 = new TableIO(spark, dir)
    val count2 = new LinkagePipeline(spark, io2).run(files).count()
    assert(count2 == count1)
    assert(io2.manifest("resolved").get == manifestBefore,
      "resolved stage was recomputed on resume")

    // invalidating the final stage forces recompute of just that stage
    io2.invalidate("resolved")
    assert(!io2.isCommitted("resolved"))
    val count3 = new LinkagePipeline(spark, io2).run(files).count()
    assert(count3 == count1)
  }

  test("q_linkage_clusters and entry: two calls each leave at most their results persisted") {
    val sc = spark.sparkContext
    Seq[(String, () => DataFrame)](
      "q_linkage_clusters" -> (() => graft.SparkEntry.queries("q_linkage_clusters")(spark, "")),
      "entry" -> (() => graft.SparkEntry.entry(spark))).foreach { case (name, call) =>
      val before = sc.getPersistentRDDs.keySet
      val results = (1 to 2).map { _ =>
        val out = call()
        assert(out.count() > 0)
        out
      }
      val left = sc.getPersistentRDDs.keySet.toSet -- before
      assert(left.size <= results.size, s"two $name calls left ${left.size} RDDs persisted")
    }
  }
}
