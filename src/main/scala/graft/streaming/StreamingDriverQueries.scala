package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.driver.{DedupQueries, DriverQuery}
import graft.goldens.Goldens

/** Deterministic multi-micro-batch MemoryStream runs of the streaming ops,
  * shaped as driver contract queries (`SparkEntry.queries` entries) so the
  * stateful streaming machinery gets the same independent-oracle
  * correctness gate as every batch operator.
  *
  * Every event carries an EXPLICIT event time (seconds), so the fixtures
  * pin the full event-time semantics, not just cross-batch state:
  *  - batch 2 contains in-window arrivals (links/dups resolve against
  *    batch-1 state) plus a far-future event that advances the watermark
  *    past every batch-1/2 block's TTL;
  *  - batch 3 contains a fresh-timestamped revisit of batch-1 content —
  *    its state was TTL-expired, so it must NOT link (near-dup/linkage)
  *    and must pass THROUGH exact dedup (its fingerprint state is gone);
  *  - batch 3/4 also carry a LATE event (event time below the watermark):
  *    it must contribute nothing — dropped by the engine's late-row
  *    filter (exact dedup) or by the ops' explicit late guard.
  *
  * Determinism rules the fixtures obey:
  *  - no two documents in the SAME micro-batch are exact-/near-dups (or
  *    cluster-matching co-blockers) of each other — within-batch arrival
  *    order inside a state group is not defined, so only cross-batch
  *    links are deterministic;
  *  - every duplicate/variant arrives in a LATER batch than its original,
  *    so "first seen wins" has exactly one right answer;
  *  - per-pair multi-emissions (one link per shared band / blocking key —
  *    documented at-least-once semantics) are collapsed AFTER collection
  *    with a batch dropDuplicates, which is the documented consumer
  *    pattern.
  */
object StreamingDriverQueries {

  /** State TTL (linkage/near-dup) and exact-dedup watermark delay, in
    * seconds — the time ruler of every fixture below.
    */
  val TtlSeconds = 100L

  /** Batch-1 documents (t=1000): mutually unrelated. */
  val docsBatch1: Seq[(Long, String, Long)] = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the deep green forest while nobody watches it", 1000L),
    (2L, "distributed query engines shuffle large partitioned datasets " +
      "across many executor nodes and spill intermediate results to local " +
      "disk when memory fills", 1000L),
    (3L, "a completely standalone short note about nothing in particular",
      1000L))

  /** Batch-2 documents: 4 (t=1050, in-window) is a formatting variant of
    * 1 (same fingerprint AND identical token stream — both an exact dup
    * and an est-Jaccard-1.0 near-dup); 5 (t=1050) is a one-word edit of 2
    * (near-dup only); 6 is fresh; 9 (t=2000) is fresh content whose far
    * event time advances the watermark past every batch-1/2 state's TTL.
    */
  val docsBatch2: Seq[(Long, String, Long)] = Seq(
    (4L, "  The   QUICK brown fox jumps over the lazy dog and runs far " +
      "away into the deep green forest while nobody watches it ", 1050L),
    (5L, "distributed query engines shuffle large partitioned datasets " +
      "across many executor machines and spill intermediate results to " +
      "local disk when memory fills", 1050L),
    (6L, "fresh unrelated content mentioning entirely new things altogether",
      1050L),
    (9L, "watermark advancing sentinel document with deliberately unique " +
      "words nowhere else in this fixture corpus", 2000L))

  /** Batch-3 documents (watermark now 2000 - delay): 7 (t=2100) is
    * ANOTHER formatting variant of 1 arriving after the TTL — exact dedup
    * must emit it (fingerprint state evicted) and near-dup must NOT link
    * it (bucket members expired); 8 (t=1200) is fresh content arriving
    * LATE (below the watermark) — it must contribute nothing at all.
    */
  val docsBatch3: Seq[(Long, String, Long)] = Seq(
    (7L, "THE QUICK  brown fox jumps over the lazy dog and runs far away " +
      "into the deep green forest while nobody watches it", 2100L),
    (8L, "late arriving unique content that the watermark already passed",
      1200L))

  val docBatches: Seq[Seq[(Long, String, Long)]] =
    Seq(docsBatch1, docsBatch2, docsBatch3)

  /** The fixture docs with their micro-batch index and event time, as a
    * VALUES relation for the dedup and near-dup oracles.
    */
  private def docsFrom: String = {
    val values = docBatches.zipWithIndex.flatMap { case (b, i) =>
      b.map { case (id, t, ts) =>
        s"($id, ${i + 1}, $ts, ${Goldens.sqlStr(t)})"
      }
    }.mkString(", ")
    s"(VALUES $values) AS docsrc(doc_id, batch, ts, text)"
  }

  /** DuckDB recompute of streaming exact dedup under full event-time
    * semantics: per-row watermark = max prior-batch event time minus the
    * TTL delay; LATE rows (ts below watermark) are dropped outright; a
    * non-late row survives iff no same-fingerprint row arrived in an
    * earlier batch whose dedup state is still live (its newest arrival's
    * event time + TTL has not been passed by the watermark — arrivals
    * extend expiry, so the in-window duplicate doc 4 extends doc 1's
    * state, and the post-TTL revisit doc 7 passes through). Fingerprint =
    * the same md5(whitespace-collapsed lowercase) column as batch
    * `q_fingerprint`.
    */
  private def dedupOracleSql: String =
    s"""WITH docsrc AS (SELECT * FROM $docsFrom),
       |wms AS (SELECT d.*,
       |    coalesce((SELECT max(p.ts) FROM docsrc p
       |      WHERE p.batch < d.batch) - $TtlSeconds,
       |      -9223372036854775807) AS wm
       |  FROM docsrc d),
       |acc AS (SELECT *,
       |    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
       |  FROM wms WHERE ts >= wm)
       |SELECT a.doc_id, a.text FROM acc a
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM acc b WHERE b.f = a.f AND b.batch < a.batch
       |    AND b.ts + $TtlSeconds >= a.wm)""".stripMargin

  /** Batch-1 token events (t=1000). */
  val tokensBatch1: Seq[(Long, String, Long)] = Seq(
    (100L, "smith", 1000L), (200L, "jones", 1000L))

  /** Batch-2 token events: smyth (t=1050, in-window) co-blocks and
    * cluster-matches batch-1 smith; wilson matches nothing; the zzz
    * sentinel (t=2000) advances the watermark past the TTL of every
    * batch-1/2 block.
    */
  val tokensBatch2: Seq[(Long, String, Long)] = Seq(
    (300L, "smyth", 1050L), (400L, "wilson", 1050L),
    (900L, "zzyzxvaq", 2000L))

  /** Batch-3: smythe (t=2050) would cluster-match smith/smyth, but their
    * block state is TTL-expired — no edge. Batch-4: smithe (t=1500)
    * arrives LATE (watermark 2050) — no edge, no state entry.
    */
  val tokensBatch3: Seq[(Long, String, Long)] = Seq(
    (500L, "smythe", 2050L))
  val tokensBatch4: Seq[(Long, String, Long)] = Seq(
    (600L, "smithe", 1500L))

  val tokenBatches: Seq[Seq[(Long, String, Long)]] =
    Seq(tokensBatch1, tokensBatch2, tokensBatch3, tokensBatch4)

  private val nameCounter = new java.util.concurrent.atomic.AtomicInteger()

  /** The fixtures' own session, one per SparkContext: every session that
    * runs a streaming query adds a listener bus to the context for good,
    * so a session per call would grow it with each call. Its SQL conf is
    * its own, so the fixture's settings never reach other queries on the
    * caller's session.
    */
  private var fixtureSession: Option[SparkSession] = None

  private def sessionFor(spark: SparkSession): SparkSession =
    fixtureSession.filter(_.sparkContext eq spark.sparkContext).getOrElse {
      val session = spark.newSession()
      // a few-row fixture does not need 32 state-store partitions — every
      // stateful-op partition costs a task + a store commit PER MICRO-BATCH,
      // which at the session default dominated the query's wall time ~8x.
      // (Real deployments size this to their ingest rate; the semantics
      // under test are partition-count independent.)
      session.conf.set("spark.sql.shuffle.partitions", "1")
      // NOTE: no-data micro-batches must stay ON — they are where the
      // engine lands the watermark advance, so removing them runs the next
      // DATA batch against a stale watermark (measured on this fixture:
      // the post-TTL revisit doc is wrongly deduped and the late row
      // wrongly emitted). Half the micro-batches are therefore inherent
      // fixed cost of the event-time semantics under test.
      // Checkpoint-file checksums (corruption detection for long-lived
      // durable checkpoints) double the WAL file writes per micro-batch;
      // this checkpoint is single-use scratch that is deleted on return,
      // so they buy nothing here.
      session.conf
        .set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      graft.functions.GraftFunctions.register(session)
      fixtureSession = Some(session)
      session
    }

  /** Drive `build`'s streaming output through a memory sink for the given
    * micro-batches and return the sink rows as a local DataFrame on
    * `spark` (the results are tiny by construction). The sink table is
    * dropped before returning so repeat invocations (bench warm + timed
    * runs) never collide.
    *
    * The query runs in the fixture session. `spark`'s streaming listeners
    * are added to it for the call, so they see its micro-batches, and are
    * removed once they have seen its last event; runs are serialized so
    * that each listener is added once.
    */
  private def runBatches(
      spark: SparkSession,
      idCol: String,
      strCol: String,
      batches: Seq[Seq[(Long, String, Long)]])(
      build: DataFrame => DataFrame): DataFrame =
    // ephemeral checkpoint on tmpfs: the offset/commit WALs and the state
    // store's per-batch delta files are scratch for this in-memory
    // fixture (a real deployment points this at durable storage)
    DriverQuery.withScratchDir("graft_ckpt_") { ckpt =>
      synchronized {
        val session = sessionFor(spark)
        // events reach listeners asynchronously, in order: once this one,
        // added last, has the run's termination, the caller's have it too
        val drained = new java.util.concurrent.CountDownLatch(1)
        val listeners = spark.streams.listListeners().toSeq :+ new StreamingQueryListener {
          def onQueryStarted(e: QueryStartedEvent): Unit = ()
          def onQueryProgress(e: QueryProgressEvent): Unit = ()
          def onQueryTerminated(e: QueryTerminatedEvent): Unit = drained.countDown()
        }
        listeners.foreach(session.streams.addListener)
        try {
          import session.implicits._
          implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext
          val input = MemoryStream[(Long, String, Long)]
          val name = s"graft_stream_q_${nameCounter.incrementAndGet()}"
          val query = build(input.toDS().toDF(idCol, strCol, "event_sec"))
            .writeStream.format("memory").queryName(name).outputMode("append")
            .option("checkpointLocation", ckpt.toString)
            .start()
          try {
            batches.foreach { b =>
              input.addData(b: _*)
              query.processAllAvailable()
            }
            val table = session.table(name)
            val rows: Seq[Row] = table.collect().toSeq
            spark.createDataFrame(
              spark.sparkContext.parallelize(rows, 1), table.schema)
          } finally {
            query.stop()
            session.catalog.dropTempView(name)
            drained.await(10, java.util.concurrent.TimeUnit.SECONDS)
          }
        } finally listeners.foreach(session.streams.removeListener)
      }
    }

  /** Streaming exact dedup over the three batches: survivors =
    * first-arrival per fingerprint while that fingerprint's state is
    * live, PLUS the post-TTL revisit (doc 7, state evicted), MINUS the
    * late row (doc 8) and the in-window duplicate (doc 4).
    */
  def dedup(spark: SparkSession): DataFrame =
    runBatches(spark, "doc_id", "text", docBatches)(
      StreamingDedup.dedupe(_, ttlSeconds = TtlSeconds,
        eventTimeCol = Some("event_sec")))
      .select("doc_id", "text")

  /** Streaming MinHash near-dup links over the three batches, collapsed
    * to one row per pair (max est across band emissions — the ests are
    * identical, max is just the canonical collapse).
    */
  def nearDup(spark: SparkSession): DataFrame = {
    val links = runBatches(
      spark, "doc_id", "text", docBatches)(
      StreamingDedup.nearDupCandidates(_,
        numHashes = DedupQueries.NumHashes, bands = DedupQueries.Bands,
        minJaccard = DedupQueries.MinJaccard,
        stateTtl = java.time.Duration.ofSeconds(TtlSeconds),
        eventTimeCol = Some("event_sec")).toDF())
    links.groupBy("id_a", "id_b")
      .agg(org.apache.spark.sql.functions.max("est_jaccard")
        .as("est_jaccard"))
  }

  /** Streaming linkage edges over the four token batches, collapsed to
    * distinct (src, dst) pairs (one edge per shared blocking key
    * otherwise).
    */
  def linkage(spark: SparkSession): DataFrame = {
    val edges = runBatches(
      spark, "file_id", "token", tokenBatches)(df =>
      StreamingLinkage.edgesWithTime(df.sparkSession, df,
        stateTtl = java.time.Duration.ofSeconds(TtlSeconds),
        eventTimeCol = Some("event_sec")).toDF())
    edges.select("src", "dst").dropDuplicates("src", "dst")
  }

  /** The streaming driver queries, with the DuckDB oracles of their runs. */
  val queries: Seq[DriverQuery] = Seq(
    DriverQuery("q_streaming_dedup", dedupOracleSql)((s, _) => dedup(s)),
    DriverQuery("q_streaming_neardup",
      DedupQueries.minhashPairsOracleSql(docsFrom, Some(TtlSeconds)))(
      (s, _) => nearDup(s)),
    // STATIC expected edges, derived from reference semantics (not from
    // this library's own functions, which would be circular): smith/smyth
    // co-block and cluster-match because commons-codec Metaphone encodes
    // both to "SM0" (golden-pinned in q_metaphone's vectors) and smyth
    // arrives in-window (t=1050, TTL 100); jones and wilson match
    // nothing; smythe (t=2050) WOULD match but the smith/smyth block is
    // TTL-expired by the watermark-advancing t=2000 event — no edge; and
    // smithe (t=1500 in batch 4) is LATE below the 2050 watermark — no
    // edge, no state. StreamingLinkageSpec asserts the library's own
    // scalar recompute (expectedLinkageEdges) agrees with this list, so
    // fixture/oracle drift fails the build before it fails the driver.
    DriverQuery("q_streaming_linkage",
      Goldens.valuesSql(Seq("src", "dst"), Seq((100L, 300L))))((s, _) => linkage(s)))

  /** Per-batch watermark of a batch sequence under delay 0: max event
    * time of all PRIOR batches (Long.MinValue before any data).
    */
  private def watermarkAt(
      batches: Seq[Seq[(Long, String, Long)]], batchIdx: Int): Long =
    batches.take(batchIdx).flatten.map(_._3)
      .foldLeft(Long.MinValue)(math.max)

  /** Driver-side recompute of the expected linkage edges from the SAME
    * scalar single-sources-of-truth the batch pipeline uses
    * ([[graft.pipeline.Blocking.scalarBlockKeys]] intersect +
    * [[graft.pipeline.Scoring.clusterMatch]]) plus the streaming time
    * rules: cross-batch only (the fixture guarantees no same-batch
    * co-blockers); the arrival must not be late (event time >= its
    * batch's watermark); and the member's membership in some SHARED
    * block must have survived every batch between member and arrival.
    * Membership in block k survives batch n iff
    * `wm_n <= max(ts of non-late k-rows in batches < n) + TTL` — the
    * exact read-time / timeout eviction rule of
    * [[StreamingLinkage.edgesWithTime]]'s per-block state, checked per
    * block rather than per co-blocker (a renewal in a DIFFERENT block
    * of the member must not keep this block alive), and for every
    * intermediate batch (an evicted-then-recreated block has lost the
    * member even if it is active again at arrival time). Rows of a
    * dead block incarnation can never mask a break: their ts + TTL is
    * below the watermark at their own death. The determinism pin for
    * the stateful streaming path.
    */
  def expectedLinkageEdges: Seq[(Long, Long)] = {
    val all = tokenBatches.zipWithIndex.flatMap { case (b, i) =>
      b.map { case (id, tok, ts) => (i, id, tok, ts) }
    }
    val keysOf = all.map { case (_, id, tok, _) =>
      id -> graft.pipeline.Blocking.scalarBlockKeys(tok)
    }.toMap
    def late(batch: Int, ts: Long): Boolean =
      ts < watermarkAt(tokenBatches, batch)
    val accepted = all.filterNot { case (b, _, _, ts) => late(b, ts) }
    // membership of a batch-bM member in block k still alive at the end
    // of batch bA: no intermediate batch's watermark passed the block's
    // then-current lastTs + TTL
    def blockAlive(k: String, bM: Int, bA: Int): Boolean =
      ((bM + 1) to bA).forall { n =>
        val lastTs = accepted.collect {
          case (bR, idR, _, tsR) if bR < n && keysOf(idR).contains(k) => tsR
        }.max // non-empty: the member itself is a k-row in batch bM < n
        watermarkAt(tokenBatches, n) <= lastTs + TtlSeconds
      }
    (for {
      (bM, idM, tokM, _) <- accepted
      (bA, idA, tokA, _) <- accepted
      if bM < bA
      if graft.pipeline.Scoring.clusterMatch(tokM, tokA)
      if keysOf(idM).intersect(keysOf(idA)).exists(blockAlive(_, bM, bA))
    } yield (math.min(idM, idA), math.max(idM, idA))).distinct.sorted
  }
}
