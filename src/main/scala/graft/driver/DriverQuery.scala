package graft.driver

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One driver query: its name, the DuckDB SQL that recomputes its result
  * independently, and its Spark body over `(session, tables dir)`. The
  * oracle text is built only when it is asked for.
  */
final class DriverQuery private (
    val name: String,
    oracle: () => String,
    val run: (SparkSession, String) => DataFrame) {
  def oracleSql: String = oracle()
}

object DriverQuery {

  def apply(name: String, oracleSql: => String)(
      run: (SparkSession, String) => DataFrame): DriverQuery =
    new DriverQuery(name, () => oracleSql, run)

  /** Table schemas inferred once per path and then passed explicitly —
    * the catalog role a metastore plays for a real table. Without it
    * EVERY `spark.read.parquet` call re-opens a footer to re-infer the
    * (immutable) schema, driver-side, on the timed path of every query.
    * Metadata only — no data or results are retained.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The test table `name` under `dir`. */
  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      p => s.read.parquet(p).schema)
    s.read.schema(schema).parquet(path)
  }

  /** Runs `body` in a new scratch directory and deletes the directory,
    * with all it holds, on every exit path. The directory is on tmpfs
    * when `/dev/shm` is writable: the fixtures create, use and drop their
    * state within one query, so disk-backed scratch only adds unrelated
    * I/O latency to the timed path. Durability semantics under test
    * (atomic rename, commit manifests, staleness tokens) are
    * filesystem-agnostic — TableIO goes through the Hadoop FileSystem API
    * either way.
    */
  def withScratchDir[A](prefix: String)(body: Path => A): A = {
    val shm = Paths.get("/dev/shm")
    val dir =
      if (Files.isDirectory(shm) && Files.isWritable(shm))
        Files.createTempDirectory(shm, prefix)
      else Files.createTempDirectory(prefix)
    try body(dir)
    finally {
      val tree = Files.walk(dir)
      try tree.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists)
      finally tree.close()
    }
  }
}
