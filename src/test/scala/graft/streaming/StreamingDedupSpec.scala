package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkSessionTestWrapper, TempDirs}

/** Streaming exact dedup: duplicates within and across micro-batches are
  * dropped; formatting variants collapse to one row (same fingerprint as
  * the batch op).
  */
class StreamingDedupSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkSessionTestWrapper.spark

  test("duplicates within and across micro-batches are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, String)]
    val events = input.toDS().toDF("doc_id", "text")
    val deduped = StreamingDedup.dedupe(events)
    // internal fp / ingest_ts columns must not leak into the output
    assert(deduped.schema.fieldNames.toSeq == events.schema.fieldNames.toSeq)
    val query = deduped.writeStream
      .format("memory")
      .queryName("stream_dedup")
      .outputMode("append")
      .start()
    try {
      input.addData(
        (1L, "Hello world  foo"),
        (2L, "hello   world foo"), // formatting variant of 1
        (3L, "something else"))
      query.processAllAvailable()
      val afterBatch1 = spark.table("stream_dedup")
        .collect().map(_.getLong(0)).toSet
      assert(afterBatch1.size == 2)
      assert(afterBatch1.contains(3L))
      assert(afterBatch1.intersect(Set(1L, 2L)).size == 1)

      // batch 2: cross-batch duplicate of doc 3 + a new doc
      input.addData((4L, "  Something ELSE "), (5L, "fresh content"))
      query.processAllAvailable()
      val afterBatch2 = spark.table("stream_dedup")
        .collect().map(_.getLong(0)).toSet
      assert(!afterBatch2.contains(4L), afterBatch2.mkString(","))
      assert(afterBatch2.contains(5L))

      // state is keyed by fingerprint and bounded by the watermark window
      assert(query.lastProgress.stateOperators.nonEmpty)
    } finally query.stop()
  }

  test("driver fixture end-to-end: dup passes after TTL eviction; late row drops") {
    // exact dedup over the 3-batch event-time fixture: doc 4 (in-window
    // dup of 1) drops; doc 7 (revisit of 1 AFTER the t=2000 sentinel
    // pushed the watermark past doc 1's state TTL) passes THROUGH; doc 8
    // (event time 1200 below the 1900 watermark) is late and vanishes
    val got = StreamingDriverQueries.dedup(spark)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 5L, 6L, 9L, 7L), got.toSeq.sorted.mkString(","))
  }

  test("driver fixture end-to-end: near-dup links in-window only") {
    // (1,4) and (2,5) arrive within the TTL; doc 7's bucket members are
    // TTL-expired at read time (same-batch-as-timeout race covered); the
    // late doc 8 neither links nor enters state
    val got = StreamingDriverQueries.nearDup(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 4L), (2L, 5L)), got.toSeq.sorted.mkString(","))
  }

  test("near-dup pair links across micro-batches; unrelated doc does not") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the deep green forest while nobody watches it"
    val near = base.replace("quick", "fast") // small edit, not exact-dup
    val other = "completely different content about database systems and " +
      "distributed query engines processing large volumes of data daily"

    val input = MemoryStream[(Long, String)]
    val links = StreamingDedup.nearDupCandidates(
      input.toDS().toDF("doc_id", "text"))
    val query = links.writeStream
      .format("memory")
      .queryName("stream_neardup")
      .outputMode("append")
      .start()
    try {
      input.addData((1L, base), (2L, other))
      query.processAllAvailable()
      assert(spark.table("stream_neardup").isEmpty,
        "unrelated batch-1 docs must not link")

      // the near-dup arrives a batch later and must link to batch-1 doc 1
      input.addData((3L, near))
      query.processAllAvailable()
      val pairs = spark.table("stream_neardup").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(pairs.contains((1L, 3L)), pairs.mkString(","))
      assert(pairs((1L, 3L)) > 0.5)
      assert(!pairs.keys.exists { case (a, b) => a == 2L || b == 2L },
        s"unrelated doc linked: $pairs")
    } finally query.stop()
  }

  test("near-dup state survives a query restart from its checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the same pair the cross-batch link test proves passes the band test
    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the deep green forest while nobody watches it"
    val near = base.replace("quick", "fast")
    val ckpt = tempDir("graft-stream-ckpt")
    val input = MemoryStream[(Long, String)]
    // the memory sink is not fault-tolerant (no checkpoint recovery), so
    // the recoverable foreachBatch sink collects the links instead;
    // at-least-once redelivery after restart is fine for this assertion
    val links =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    def startQuery() = StreamingDedup
      .nearDupCandidates(input.toDS().toDF("doc_id", "text"))
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[NearDupLink], _: Long) =>
          batch.collect().foreach(l => links.add((l.id_a, l.id_b)))
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // batch 1, then KILL the query — the band-bucket state lives in the
    // checkpointed state store, not the query object
    val q1 = startQuery()
    try {
      input.addData((1L, base))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart from the same checkpoint; the near-dup arriving after the
    // restart must still link to the pre-restart doc
    val q2 = startQuery()
    try {
      input.addData((2L, near))
      q2.processAllAvailable()
      val pairs = links.toArray(Array.empty[(Long, Long)]).toSet
      assert(pairs.contains((1L, 2L)),
        s"state lost across restart: $pairs")
    } finally q2.stop()
  }

  test("near-dup bucket state is evicted by the watermark-driven TTL") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val input = MemoryStream[(Long, String)]
    val links = StreamingDedup.nearDupCandidates(
      input.toDS().toDF("doc_id", "text"),
      stateTtl = java.time.Duration.ofMillis(1))
    val query = links.writeStream
      .format("memory")
      .queryName("stream_neardup_ttl")
      .outputMode("append")
      .start()
    try {
      input.addData((1L, base))
      query.processAllAvailable()
      val stateAfter1 = query.lastProgress.stateOperators(0).numRowsTotal
      assert(stateAfter1 > 0, "batch 1 must create bucket state")

      Thread.sleep(50)
      input.addData((9L, "unrelated words entirely here nothing shared"))
      query.processAllAvailable()
      input.addData((10L, "another filler document to advance the watermark"))
      query.processAllAvailable()
      val stateAfterTtl = query.lastProgress.stateOperators(0).numRowsTotal
      // every doc lands in exactly 8 band buckets; without eviction the
      // three batches would accumulate ~3x8 bucket rows — with the TTL the
      // lapsed batches' buckets must have been dropped along the way
      assert(stateAfterTtl < 3 * stateAfter1,
        s"no TTL eviction: $stateAfter1 -> $stateAfterTtl")

      // a near-identical doc arriving after eviction no longer links to 1L
      input.addData((11L, base.replace("alpha", "aleph")))
      query.processAllAvailable()
      val pairs = spark.table("stream_neardup_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!pairs.contains((1L, 11L)), pairs.mkString(","))
    } finally query.stop()
  }
}
