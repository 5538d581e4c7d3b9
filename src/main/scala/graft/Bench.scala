package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Also reports encoder
  * throughput (rows/sec through all 12 phonetic expressions) as a
  * dedicated metric inside the same line.
  */
object Bench {

  def buildSession(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", false)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", true)
      // Spark's generated-class cache (a static conf, default 100 entries)
      // must hold the engine's working set, or its LRU order evicts every
      // class before its next use and each repeat run compiles its code
      // again and runs it interpreted until C2 recompiles it. Measured on
      // 4 cores: one LinkagePipeline.run over 50k files compiles 136
      // distinct classes, one pass of the 51 driver queries 573, and the
      // three streaming queries add ~67 new classes per pass (evicted
      // first, as they are never reused). At 2000 entries a repeat run on
      // the same input compiles no class (LinkagePipelineSpec), a traced
      // 50k-file perfbench linkage run compiles 156 classes instead of 540
      // (Janino time 7.4 -> 2.9 s) and its warm runs use 28% less CPU.
      // The cached classes stay in Metaspace; peak live heap did not move.
      .config("spark.sql.codegen.cache.maxEntries", 2000)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }

  /** Name-like tokens via pure codegen (spark.range + literal array
    * lookup) so throughput scans measure the encoders, not row-object
    * generation/GC.
    */
  private[graft] def tokenStream(spark: SparkSession, n: Long,
      col2: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val names = graft.pipeline.NameFixtures.families.flatten
      .map(_.filter(_.isLetter).toLowerCase)
    val pool = array(names.map(lit): _*)
    // 4x tasks per core: a single wave (1 task/core) makes the job wall
    // time the MAX over cores, so one descheduled vCPU (common on this
    // host) stalls everything; smaller tasks rebalance around stragglers
    val base = spark.range(0, n, 1,
      spark.sparkContext.defaultParallelism * 4)
    val withA = base.select(col("id"),
      concat(
        element_at(pool, (pmod(col("id"), lit(names.length)) + 1).cast("int")),
        pmod(col("id"), lit(97)).cast("string")).as("token"))
    if (!col2) withA
    else withA.withColumn("token_b",
      element_at(pool,
        (pmod(col("id") + 13, lit(names.length)) + 1).cast("int")))
  }

  /** Spin every core for ~1.5s so descheduled vCPUs wake before a timed
    * section — on this virtualized host the first multi-threaded burst
    * after idle runs at a fraction of steady-state speed.
    */
  def warmCpus(n: Int): Unit = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = (0 until n).map { _ =>
      val t = new Thread(() => {
        var x = 0L
        while (!stop.get()) { x += 1; if (x < 0) println(x) }
      })
      t.setDaemon(true); t.start(); t
    }
    Thread.sleep(1500)
    stop.set(true)
    threads.foreach(_.join(100))
  }

  /** Steady-state throughput of a projection: build the query ONCE, then
    * re-execute its RDD (no exchange, so nothing is cached or reused
    * between runs) to a count that forces every projected column. One
    * codegen class, C2-hot after the warm run. A rep that rebuilt the
    * query would find its class only while Spark's codegen cache still
    * holds it; a cache smaller than the JVM's working set (Spark's default
    * 100 entries, after the query loop) makes every rep compile a fresh
    * class and run it interpreted until C2 catches up (observed as a 10x
    * throughput collapse in the post-query phase of a full Bench run).
    * Re-executing one RDD also keeps planning out of the timed reps.
    */
  private def steadyRdd(df: org.apache.spark.sql.DataFrame, n: Long,
      reps: Int = 3): Double = {
    val rdd = df.queryExecution.toRdd
    require(rdd.count() == n) // warm: codegen + C2 + lazy inits
    var best = Double.MaxValue
    var r = 0
    while (r < reps) {
      val t0 = System.nanoTime()
      require(rdd.count() == n)
      val s = (System.nanoTime() - t0) / 1e9
      if (s < best) best = s
      r += 1
    }
    best
  }

  /** Encoder throughput: run all 12 table-driven phonetic expressions over
    * n name-like tokens. Returns (rows, seconds). The single projected
    * column sums every encoder output so Catalyst cannot prune any
    * encoder away (select-then-count of unused columns measures nothing).
    */
  def encoderThroughput(spark: SparkSession, n: Long): (Long, Double) = {
    import org.apache.spark.sql.functions._
    val names = tokenStream(spark, n)
    val forced = names.select(
      (length(call_function("graft_soundex", col("token"))) +
        length(call_function("graft_refined_soundex", col("token"))) +
        length(call_function("graft_metaphone", col("token"))) +
        size(call_function("graft_double_metaphone", col("token"))) +
        length(call_function("graft_nysiis", col("token"))) +
        length(call_function("graft_phonex", col("token"))) +
        length(call_function("graft_cologne", col("token"))) +
        length(call_function("graft_caverphone1", col("token"))) +
        length(call_function("graft_caverphone2", col("token"))) +
        length(call_function("graft_mra_encode", col("token"))) +
        size(call_function("graft_dm_soundex", col("token"))) +
        length(call_function("graft_dm_encode", col("token"))))
        .as("w"))
    (n, steadyRdd(forced, n))
  }

  /** Pairwise-scoring throughput: n synthetic candidate pairs through the
    * full Scoring feature set (JW, Levenshtein, MRA x2, Metaphone eq,
    * Soundex difference). Returns (pairs, seconds).
    */
  def scoringThroughput(spark: SparkSession, n: Long): (Long, Double) = {
    import org.apache.spark.sql.functions._
    val pairs = tokenStream(spark, n, col2 = true)
      .select(col("id").as("src"), (col("id") + 1).as("dst"),
        col("token").as("token_a"), col("token_b"))
    // force every feature column (filter-on-one would let Catalyst prune
    // the rest)
    val forced = graft.pipeline.Scoring.score(pairs)
      .select(
        (col("jaro_winkler") + col("lev") + col("mra_rating") +
          col("soundex_diff") +
          col("mra_match").cast("int") + col("metaphone_eq").cast("int"))
          .as("w"))
    (n, steadyRdd(forced, n))
  }

  /** Beider-Morse throughput, measured separately: at ~100us/encode it is
    * two orders of magnitude above the table-driven encoders and would
    * otherwise drown their signal.
    */
  def bmThroughput(spark: SparkSession, n: Long): (Long, Double) = {
    import org.apache.spark.sql.functions._
    val forced = tokenStream(spark, n)
      .select(size(call_function("graft_bm_codes", col("token"))).as("w"))
    (n, steadyRdd(forced, n))
  }

  /** Probe the host window and REFUSE a degraded one: re-warm + re-probe
    * until the pure-CPU 16-thread probe clears both an absolute floor
    * (15% of the ~39.6M encodes/s quiet ceiling measured on this host)
    * and a 16t >= 3 x 4t scaling sanity bound, or attempts run out. Round
    * 4's official artifact was captured in a window whose own probe read
    * 0.6M (60x degraded) and recorded 5x-inflated per-query times; the
    * probe now GATES the measurement instead of just labeling it.
    * Returns (probe4, probe16, attempts, degraded-at-start).
    */
  private[graft] def probeUntilHealthy(
      floor16: Long = 6000000L,
      maxAttempts: Int = 6): (Long, Long, Int, Boolean) = {
    var attempt = 1
    var p4 = tools.WindowProbe.probe(4)
    var p16 = tools.WindowProbe.probe(16)
    val degradedAtStart = p16 < floor16 || p16 < 3 * p4
    while ((p16 < floor16 || p16 < 3 * p4) && attempt < maxAttempts) {
      Thread.sleep(10000)
      warmCpus(16)
      p4 = tools.WindowProbe.probe(4)
      p16 = tools.WindowProbe.probe(16)
      attempt += 1
    }
    (p4, p16, attempt, degradedAtStart)
  }

  /** One timed pass over every driver query. A query that throws is
    * recorded as elapsed = -1 plus its error string — it must never
    * masquerade as a fast row in the artifact (CORRECTNESS would still
    * catch the regression, but the bench JSON has to be self-consistent).
    */
  private[graft] def runQueryPass(
      spark: SparkSession,
      sfDir: String,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame]):
      (Seq[(String, Double)], Map[String, String]) = {
    val errs = scala.collection.mutable.Map.empty[String, String]
    val times = queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch {
          case e: Throwable =>
            errs(name) = (e.getClass.getSimpleName + ": " +
              String.valueOf(e.getMessage).replaceAll("[\"\\\\\\n\\r]", " "))
              .take(200)
            false
        }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    (times, errs.toMap)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = buildSession(cpus)

    warmCpus(cpus.toInt)
    // host-capacity probe (pure CPU, no Spark) with retry: a degraded
    // window is waited out (up to ~1 min) before anything is timed, and
    // the final probe plus attempt count are stamped into the JSON so the
    // artifact stays self-identifying
    val (probe4, probe16, probeAttempts, degradedAtStart) =
      probeUntilHealthy()

    // throughput metrics FIRST, in the still-young JVM: round 3 measured
    // them after the 40+-query loop had filled the C2 compile queue with
    // hundreds of codegen classes and recorded a 31x/93x phantom collapse
    // that the same night's fresh-JVM ScalingBench runs disproved. Sized
    // so steady-state compute dominates codegen/JIT warmup at 32 threads.
    val (encRows, encSecs) = encoderThroughput(spark, 2000000L)
    val encThroughput = (encRows / encSecs).toLong
    val (scRows, scSecs) = scoringThroughput(spark, 2000000L)
    val scThroughput = (scRows / scSecs).toLong
    val (bmRows, bmSecs) = bmThroughput(spark, 1000000L)
    val bmTp = (bmRows / bmSecs).toLong

    // untimed warmup: absorb first-query costs (codegen infrastructure,
    // parquet footer reads, JIT of the hot Spark paths) so the first TIMED
    // query measures the query, not the JVM — round-2's q1_agg carried
    // ~2.5s of one-time warmup in its number
    Seq(driver.TpchQueries.q1Agg, driver.TpchQueries.joinAgg)
      .foreach(q => SparkEntry.queries(q.name)(spark, sfDir).count())

    // TWO timed passes, per-query MIN reported: a transient noisy-neighbor
    // burst mid-loop (the residual weather the pre-loop probe gate cannot
    // see) inflates one pass, not both, so the min is the engine number.
    // Pass 1 is also reported verbatim for drift diagnosis.
    val (pass1, errs1) = runQueryPass(spark, sfDir, SparkEntry.queries)
    val (pass2, errs2) = runQueryPass(spark, sfDir, SparkEntry.queries)
    val t2 = pass2.toMap
    val results = pass1.map { case (name, v1) =>
      val v2 = t2.getOrElse(name, -1.0)
      val best =
        if (v1 >= 0 && v2 >= 0) math.min(v1, v2)
        else if (v1 >= 0) v1
        else if (v2 >= 0) v2
        else -1.0
      name -> best
    }
    val errs = (errs1.keySet ++ errs2.keySet).map { name =>
      name -> Seq(errs1.get(name), errs2.get(name)).flatten.head
    }.toMap

    // re-probe after the loop: if the window degraded DURING the run the
    // before/after pair records it
    val probe16After = tools.WindowProbe.probe(16)

    def qJson(rs: Seq[(String, Double)]): String = rs
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val errJson = errs.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${qJson(results)},""" +
        s""""queries_pass1":${qJson(pass1)},"queries_pass2":${qJson(pass2)},""" +
        s""""query_errors":$errJson,""" +
        s""""encoder_rows_per_sec":$encThroughput,""" +
        s""""scoring_pairs_per_sec":$scThroughput,""" +
        s""""bm_rows_per_sec":$bmTp,"cpus":$cpus,""" +
        s""""host_probe":{"encodes_per_sec_4t":$probe4,""" +
        s""""encodes_per_sec_16t":$probe16,""" +
        s""""probe_attempts":$probeAttempts,""" +
        s""""degraded_at_start":$degradedAtStart,""" +
        s""""encodes_per_sec_16t_after_queries":$probe16After},""" +
        s""""throughput_protocol":"measured pre-query-loop in young JVM; """ +
        s"""probe-gated window (floor 6M enc/s @16t, up to 6 attempts)",""" +
        s""""query_protocol":"per-query min over 2 passes; -1 + query_errors on throw",""" +
        s""""warmup":"untimed q1_agg+q_join_agg before the loop",""" +
        s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
