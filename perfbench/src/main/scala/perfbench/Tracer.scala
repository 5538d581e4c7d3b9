package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's own calls into the library, and the Spark
  * work each span caused.
  *
  * A span tags every job submitted inside it through a local property,
  * which Spark copies into child threads (broadcasts, streaming query
  * threads). With `listen` set, a [[SparkListener]] and a
  * [[StreamingQueryListener]] aggregate tasks, shuffle, spill and
  * micro-batches per span. Listener events arrive asynchronously, so the
  * aggregates are complete only after `SparkContext.stop()` has drained the
  * listener bus; read them after that.
  */
final class Tracer(spark: SparkSession, listen: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val accs = mutable.HashMap.empty[String, Work]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val walls = mutable.LinkedHashMap.empty[String, Double]
  private val compiles = mutable.HashMap.empty[String, Double]
  private val batchMs = mutable.ArrayBuffer.empty[Long]

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .getOrElse(Untraced)
      accs.getOrElseUpdate(span, new Work).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val w = accs.getOrElseUpdate(stageSpan.getOrElse(e.stageId, Untraced), new Work)
      w.tasks += 1
      w.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.runMs += m.executorRunTime
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private object Batches extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { batchMs += e.progress.batchDuration }
  }

  if (listen) {
    sc.addSparkListener(Jobs)
    spark.streams.addListener(Batches)
  }

  /** Time `f` as span `name`. Spans do not nest: the innermost tag wins for
    * jobs, while both spans record their wall time. A name used again
    * accumulates.
    */
  def span[T](name: String)(f: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    val c0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    try f
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      synchronized {
        walls(name) = walls.getOrElse(name, 0.0) + dt
        compiles(name) = compiles.getOrElse(name, 0.0) +
          (CodeGenerator.compileTime - c0) / 1e9
      }
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  def spanNames: Seq[String] = synchronized(walls.keys.toList)

  def wall(name: String): Double = synchronized(walls.getOrElse(name, 0.0))

  def compileS(name: String): Double = synchronized(compiles.getOrElse(name, 0.0))

  /** Spark work of every span whose name passes `pick`, summed. */
  def work(pick: String => Boolean): Work = synchronized {
    val total = new Work
    accs.foreach { case (n, w) => if (pick(n)) total.add(w) }
    total
  }

  def microBatches: Seq[Long] = synchronized(batchMs.toList)
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Untraced = "untraced"

  /** Spark work counted by the listener for one or more spans. */
  final class Work {
    var jobs = 0L
    var tasks = 0L
    var shuffleBytes = 0L
    var runMs = 0L
    var spillBytes = 0L
    val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty[Long]

    def add(o: Work): Unit = {
      jobs += o.jobs; tasks += o.tasks; shuffleBytes += o.shuffleBytes
      runMs += o.runMs; spillBytes += o.spillBytes; taskMs ++= o.taskMs
    }

    /** Executor run time over the span's wall time times the cores. */
    def cpuUtil(wallS: Double, cores: Int): Double =
      if (wallS <= 0) 0.0 else runMs / 1000.0 / (wallS * cores)

    /** Longest task over the median task; 0 without tasks. */
    def taskSkew: Double =
      if (taskMs.isEmpty) 0.0
      else taskMs.max.toDouble / math.max(1.0, Stats.median(taskMs.map(_.toDouble).toSeq))
  }
}
