package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Round-6 optimization harness (guide §1): times INDIVIDUAL driver
  * queries with repeats, counts Spark jobs/stages/tasks per run (the
  * fixed-overhead proxy that dominates sub-second queries at sf0.1), and
  * dumps `.explain("formatted")` to plans/r06/. The official measurement
  * stays `graft.Bench` (frozen); this harness only isolates where each
  * query's time goes.
  *
  * Usage: BenchExtra [reps] [query ...]   (no queries = all, sorted)
  * Env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, GRAFT_PLAN_DIR
  */
object BenchExtra {

  private class Counter extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
    }
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val planDir = sys.env.get("GRAFT_PLAN_DIR")
    val reps = args.headOption.flatMap(_.toIntOption).getOrElse(3)
    val names =
      (if (args.headOption.exists(_.toIntOption.isDefined)) args.drop(1)
       else args).toSeq
    val queries = graft.SparkEntry.queries
    val selected =
      if (names.isEmpty) queries.toSeq.sortBy(_._1)
      else names.map(n => n -> queries(n))

    val spark = graft.Bench.buildSession(cpus)
    graft.Bench.warmCpus(cpus.toInt)
    val counter = new Counter
    spark.sparkContext.addSparkListener(counter)

    // same untimed warmup as Bench
    Seq(graft.driver.TpchQueries.q1Agg, graft.driver.TpchQueries.joinAgg)
      .foreach(q => queries(q.name)(spark, sfDir).count())

    selected.foreach { case (name, fn) =>
      planDir.foreach { d =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$d/$name.txt"), plan)
      }
      val times = (1 to reps).map { _ =>
        counter.reset()
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val ts = times.map(t => f"$t%.3f").mkString(" ")
      println(f"QUERY $name%-28s min=${times.min}%7.3f  [$ts]  " +
        s"jobs=${counter.jobs.get} stages=${counter.stages.get} " +
        s"tasks=${counter.tasks.get}")
    }
    spark.stop()
  }
}
