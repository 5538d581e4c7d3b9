package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper

/** The streaming driver fixtures run in a session of their own: the
  * caller's SQL conf never changes while they run, and the caller's
  * streaming listeners still see their micro-batches.
  */
class StreamingFixtureIsolationSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark

  test("a running fixture leaves the caller's SQL conf alone") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled")
    val before = keys.map(spark.conf.get)
    val seen = scala.collection.mutable.Set[Seq[String]]()
    val done = new AtomicBoolean(false)
    val failure = new ConcurrentLinkedQueue[Throwable]()
    val t = new Thread(() =>
      try StreamingDriverQueries.dedup(spark).collect()
      catch { case e: Throwable => failure.add(e) }
      finally done.set(true))
    t.start()
    while (!done.get()) seen.add(keys.map(spark.conf.get))
    t.join()
    assert(failure.isEmpty, String.valueOf(failure.peek()))
    assert(seen == Set(before), s"caller's conf read $seen")
  }

  test("the caller's streaming listeners see the fixture's batches") {
    val batches = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.incrementAndGet()
    }
    spark.streams.addListener(listener)
    try {
      StreamingDriverQueries.dedup(spark).collect()
      // progress events arrive on the listener bus asynchronously
      val deadline = System.nanoTime() + 10000000000L
      while (batches.get() == 0 && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.streams.removeListener(listener)
    assert(batches.get() > 0)
  }
}
