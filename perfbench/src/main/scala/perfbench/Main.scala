package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run of one workload in a fresh JVM.
  *
  * Usage: `perfbench.Main --workload <linkage|encode_scan>
  * --seed <n> --seconds <s> --trace <0|1> --work <dir> --tables <dir>
  * --out <file> [--smoke 1] [--corrupt 1]`. The run writes its result as one JSON
  * object to `--out`, which `perfbench/run.py` prints as the final line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val cores = Runtime.getRuntime.availableProcessors
    LiveHeap.watch()
    val probeBefore = graft.tools.WindowProbe.rate(cores, 1000000)
    val spark = graft.Bench.buildSession(cores.toString)
    val run = new Run(spark, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", new File(opts("work")), new File(opts("tables")),
      smoke = opts.get("smoke").contains("1"),
      corrupt = opts.get("corrupt").contains("1"))
    val outcome = workload match {
      case "linkage" => Linkage(run)
      case "encode_scan" => EncodeScan(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val probeAfter = graft.tools.WindowProbe.rate(cores, 1000000)
    spark.stop() // drains the listener bus: traced aggregates are final now
    val layers =
      if (!run.trace) Map.empty[String, Double]
      else outcome.layers() ++
        EncodeScan.Encoders.map { case (e, _) => s"phonetic.$e.ns_per_encode" -> run.pureNs(e) } ++
        Map(
          "spark.spill_bytes" -> run.tracer.work(_ => true).spillBytes.toDouble,
          "spark.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
            .map(_.getCollectionTime).sum / 1000.0,
          "codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
          "codegen.classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
    val result = Json.obj(
      "attempted" -> run.attempted,
      "failures" -> run.failures.toList,
      "metrics" -> (outcome.endToEnd + ("peak_live_heap_mb" -> LiveHeap.peakMb)),
      "layers" -> layers,
      "info" -> (outcome.info ++ Map(
        "nproc" -> cores,
        "jvm" -> System.getProperty("java.vm.version"),
        "window_probe_before" -> probeBefore,
        "window_probe_after" -> probeAfter)))
    Files.write(new File(opts("out")).toPath,
      result.getBytes(StandardCharsets.UTF_8))
  }
}

/** The largest heap in use right after a garbage collection, over the run:
  * the data the program keeps alive, without the garbage that raw heap
  * peaks add depending on when the collector happens to run.
  */
object LiveHeap {
  @volatile private var peakBytes = 0L

  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def watch(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: NotificationEmitter =>
        emitter.addNotificationListener((n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, usage) if heapPools(pool) => usage.getUsed }.sum
            synchronized { peakBytes = math.max(peakBytes, live) }
          }, null, null)
      case _ =>
    }

  /** The peak in MB; the heap in use now if no collection has run yet. */
  def peakMb: Double = {
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (if (peakBytes > 0) peakBytes else now) / (1024.0 * 1024.0)
  }
}

/** What a workload reports: end-to-end metrics measured untraced, per-layer
  * metrics (evaluated after the listener bus has drained) and run notes.
  */
final case class Outcome(
    endToEnd: Map[String, Double],
    layers: () => Map[String, Double],
    info: Map[String, Any])

/** The shared state of one run: session, seed, budget and the tally of
  * attempted and failed operations.
  */
final class Run(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val work: File,
    val tables: File,
    val smoke: Boolean,
    val corrupt: Boolean) {

  val cores: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(spark, listen = trace)
  var attempted = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]

  /** Single-thread nanoseconds per call of each scalar kernel. */
  lazy val pureNs: Map[String, Double] = PureKernels.nsPerRow(EncodeScan.pool(seed))

  /** Count one operation; a throw counts as a failure and yields None. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
  }

  /** Count one check; false or a throw is a failure. */
  def check(what: String)(ok: => Boolean): Unit =
    if (op(what)(ok).contains(false)) failures += what

  /** A fresh, empty directory under the run's work directory. */
  def freshDir(name: String): File = {
    val d = new File(work, name)
    deleteTree(d)
    d.mkdirs()
    d
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Wall and process CPU seconds of `f`. */
  def timed[T](f: => T): (T, Double, Double) = {
    val c0 = cpuNs
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9, (cpuNs - c0) / 1e9)
  }

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Repeat `f` until `seconds` have passed since `start` (at least `min`
    * times); the wall times of the repetitions in seconds.
    */
  def repeatFor(min: Int, start: Long)(f: Int => Unit): Seq[Double] = {
    val times = mutable.ArrayBuffer.empty[Double]
    var i = 0
    while (i < min || (System.nanoTime() - start) / 1e9 < seconds) {
      val t0 = System.nanoTime()
      f(i)
      times += (System.nanoTime() - t0) / 1e9
      i += 1
    }
    times.toList
  }
}

object Run {

  /** Set-ups per run. `setup_s` is their median, which lies past the
    * first set-ups' class loading, planning and JIT compilation.
    */
  val SetUps = 9
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Minimal JSON writer for the run result. */
object Json {
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case null => "null"
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
