package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper
import graft.driver.DriverQuery.withScratchDir

/** The streaming driver fixtures reuse one session per SparkContext. Every
  * Spark session that runs a streaming query adds a
  * `StreamingQueryListenerBus` to the context's listener bus for good, so a
  * session per call would grow the bus, and the work of every later event,
  * with each call.
  */
class StreamingFixtureSessionSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark

  /** The streaming buses on the context's listener bus. `listenerBus` and
    * its `listeners` are Spark-internal, hence the reflection.
    */
  private def streamingBuses(): Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val listeners = bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]]
    listeners.asScala.count(_.getClass.getSimpleName == "StreamingQueryListenerBus")
  }

  /** The buses one stateful query adds by itself, run directly on a session
    * whose own bus exists already: the engine runs each query in a clone of
    * its session, and the clone's state-store operators give that clone a
    * bus of its own.
    */
  private def engineBusesPerQuery(): Int = withScratchDir("graft_bus_probe") { ckpt =>
    val session = spark.newSession()
    session.streams
    val before = streamingBuses()
    import session.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val query = StreamingDedup.dedupe(input.toDS().toDF("doc_id", "text", "event_sec"),
        ttlSeconds = 100L, eventTimeCol = Some("event_sec"))
      .writeStream.format("memory").queryName("graft_bus_probe").outputMode("append")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      input.addData((1L, "a", 1000L))
      query.processAllAvailable()
    } finally {
      query.stop()
      session.catalog.dropTempView("graft_bus_probe")
    }
    streamingBuses() - before
  }

  test("five fixture runs in one session add at most one bus beyond the engine's own") {
    val perQuery = engineBusesPerQuery()
    spark.streams // the caller's own bus, made on first use
    val before = streamingBuses()
    (1 to 5).foreach(_ => StreamingDriverQueries.dedup(spark).collect())
    val added = streamingBuses() - before
    assert(added <= 5 * perQuery + 1,
      s"$added buses added; the engine adds $perQuery per query")
  }
}
