package graft.io

import java.nio.charset.StandardCharsets

import scala.collection.immutable.TreeMap

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{DeserializationFeature, PropertyNamingStrategies}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/** A stage's committed snapshot record, stored as `<stage>.manifest.json`
  * in compact JSON with snake_case field names (`commit_token`,
  * `schema_b64`, ...).
  *
  * @param upstreamTokens the `commitToken` of each committed `upstream`
  *   stage at the time this stage was computed
  * @param commitToken opaque identity of this commit (a fresh UUID)
  * @param schemaB64 base64 of the schema JSON for unpartitioned stages,
  *   empty for partitioned ones
  * @param committedAt ISO-8601 commit instant, recorded for inspection;
  *   staleness never compares it
  */
final case class Manifest(
    stage: String,
    rows: Long,
    files: Int,
    bytes: Long,
    fileBytes: Manifest.FileBytes,
    rowsPerSec: Long,
    upstream: Seq[String],
    upstreamTokens: Map[String, String],
    commitToken: String,
    schemaB64: String,
    metadata: Map[String, String],
    elapsedMs: Long,
    committedAt: String) {

  /** The committed schema, so [[TableIO.read]] skips the per-read footer
    * schema-inference pass — the catalog role Iceberg metadata plays.
    * `None` for partitioned stages: an explicit schema on a partitioned
    * read would reorder partition columns against inference. Stored as
    * base64 only because the benchmark's manifest check regex-reads
    * `schema_b64` as one quote-free string.
    */
  def schema: Option[StructType] =
    Some(schemaB64).filter(_.nonEmpty).map { b64 =>
      DataType.fromJson(new String(
        java.util.Base64.getDecoder.decode(b64), StandardCharsets.UTF_8))
        .asInstanceOf[StructType]
    }
}

object Manifest {
  /** Smallest, mean and largest parquet file size of the commit. */
  final case class FileBytes(min: Long, mean: Long, max: Long)

  /** Reads and writes [[Manifest]]; a file missing any field does not
    * parse.
    */
  private[io] val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES)
    .build()
}

/** Iceberg-shaped checkpoint layer over parquet (no Iceberg jar ships in
  * this environment — see SURVEY.md §7): every stage commit is
  * write-to-temp + filesystem rename + a [[Manifest]] renamed into place,
  * so a killed job resumes from the last committed snapshot and a
  * half-written stage is never read. A stage whose manifest is missing or
  * does not parse is uncommitted. Swap [[TableIO]] for a real Iceberg
  * catalog by replacing this one class.
  *
  * Cluster-real I/O: all paths go through the Hadoop [[FileSystem]] API,
  * so the same code runs on HDFS (atomic dir rename), S3A (copy-rename),
  * or local disk — not java.nio, which only exists on the driver's local
  * filesystem. A `file:` root goes through [[InProcessLocalFs]], both for
  * TableIO's own listing, renames and manifests and, as writer options,
  * for the stage writes' tasks and output committer: Hadoop's default
  * local filesystem, without its native library, runs a `chmod` process
  * for every file and directory it creates (hundreds per pipeline run).
  * Its keys also disable the `file:` entry of Hadoop's `FileSystem` cache,
  * which is keyed by scheme alone and would otherwise hand back whichever
  * local filesystem the JVM made first. The caller's session conf is not
  * changed. Metrics are collected DURING the write via `observe()`
  * (row count in one pass, no second scan) plus parquet file sizes from
  * directory metadata; nothing re-reads committed data.
  *
  * Stage names are directory names under `root`: each must be one
  * non-empty path segment, without `/`. Metadata keys and values are
  * arbitrary strings.
  */
final class TableIO(spark: SparkSession, root: String) {

  private val rootPath = new Path(root)
  private val fs: FileSystem = {
    val conf = spark.sessionState.newHadoopConf()
    InProcessLocalFs.HadoopConf.foreach { case (k, v) => conf.set(k, v) }
    rootPath.getFileSystem(conf)
  }
  fs.mkdirs(rootPath)

  private def stageDir(stage: String): Path = new Path(rootPath, stage)
  private def manifestPath(stage: String): Path =
    new Path(rootPath, s"$stage.manifest.json")

  def isCommitted(stage: String): Boolean = manifest(stage).isDefined

  def read(stage: String): DataFrame = read(stage, manifest(stage))

  private def read(stage: String, m: Option[Manifest]): DataFrame =
    m.flatMap(_.schema) match {
      case Some(s) => spark.read.schema(s).parquet(stageDir(stage).toString)
      case None => spark.read.parquet(stageDir(stage).toString)
    }

  /** Run `compute` and commit its result as `stage`, unless a committed
    * snapshot already exists (resume path). Returns the stage DataFrame.
    *
    * Staleness guard: every commit mints an opaque `commit_token`
    * (UUID), and a downstream stage records the tokens of its named
    * `upstream` stages in its own manifest at commit time. On resume the
    * recorded tokens are compared BY EQUALITY against the upstreams'
    * current tokens — an upstream that was invalidated and recomputed
    * under the same root (by this driver, a restarted one, or a second
    * writer host) therefore always invalidates the downstream, with no
    * dependence on wall-clock ordering across machines (clock skew or a
    * same-instant recommit cannot make a stale stage look fresh). Stale
    * stages are invalidated and recomputed. (Non-stage upstream entries
    * have no manifest on either side of the comparison and are ignored.)
    * The check parses this stage's manifest and each upstream's once; a
    * recompute reads the upstream tokens again after `compute`, which may
    * commit them.
    */
  def stage(
      stage: String,
      upstream: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil,
      metadata: Map[String, String] = Map.empty)(
      compute: => DataFrame): DataFrame = {
    require(stage.nonEmpty && !stage.contains('/'),
      s"stage name '$stage' must be one non-empty path segment without '/'")
    val committed = manifest(stage)
    val fresh = committed.exists(m => upstream.forall(u =>
      manifest(u).map(_.commitToken) == m.upstreamTokens.get(u)))
    if (fresh) return read(stage, committed)
    invalidate(stage)

    val t0 = System.nanoTime()
    val df = compute
    val tmp = new Path(rootPath, s"_tmp_$stage")
    fs.delete(tmp, true)

    // lineage counters collected DURING the write — one pass, no re-read
    val obs = Observation(s"graft_${stage}_${System.nanoTime()}")
    val observed = df.observe(obs, count(lit(1)).as("rows"))
    var writer = observed.write.mode("overwrite").options(InProcessLocalFs.HadoopConf)
    if (partitionBy.nonEmpty)
      writer = writer.partitionBy(partitionBy: _*)
    writer.parquet(tmp.toString)
    val rows = obs.get("rows").asInstanceOf[Long]

    // per-file stats from directory METADATA (no data scan): file count
    // approximates output partitions, byte histogram evidences skew
    val files = listParquetFiles(tmp)
    val sizes = files.map(_.getLen).sorted
    val nFiles = sizes.length
    val totalBytes = sizes.sum

    fs.delete(stageDir(stage), true)
    if (!fs.rename(tmp, stageDir(stage)))
      throw new java.io.IOException(
        s"commit rename failed for stage '$stage' ($tmp -> ${stageDir(stage)})")

    val elapsedMs = (System.nanoTime() - t0) / 1000000
    val m = Manifest(
      stage = stage,
      rows = rows,
      files = nFiles,
      bytes = totalBytes,
      fileBytes = Manifest.FileBytes(
        min = if (nFiles == 0) 0L else sizes.head,
        mean = if (nFiles == 0) 0L else totalBytes / nFiles,
        max = if (nFiles == 0) 0L else sizes.last),
      rowsPerSec = if (elapsedMs == 0) 0 else rows * 1000 / elapsedMs,
      upstream = upstream,
      upstreamTokens = TreeMap.from(
        upstream.flatMap(u => manifest(u).map(u -> _.commitToken))),
      commitToken = java.util.UUID.randomUUID().toString,
      schemaB64 =
        if (partitionBy.isEmpty)
          java.util.Base64.getEncoder.encodeToString(
            df.schema.json.getBytes(StandardCharsets.UTF_8))
        else "",
      metadata = TreeMap.from(metadata),
      elapsedMs = elapsedMs,
      committedAt = java.time.Instant.now().toString)
    val tmpManifest = new Path(rootPath, s"_tmp_$stage.manifest.json")
    val out = fs.create(tmpManifest, true)
    try out.write(Manifest.mapper.writeValueAsBytes(m))
    finally out.close()
    if (!fs.rename(tmpManifest, manifestPath(stage)))
      throw new java.io.IOException(
        s"manifest rename failed for stage '$stage'")
    read(stage, Some(m))
  }

  /** `listStatus`, not `listFiles`: the latter's `LocatedFileStatus`
    * reads every file's permissions, which Hadoop's local filesystem does
    * by running `ls -ld` per file.
    */
  private def listParquetFiles(dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap { f =>
      if (f.isDirectory) listParquetFiles(f.getPath)
      else if (f.getPath.getName.endsWith(".parquet")) Seq(f)
      else Nil
    }

  /** Drop a stage (and force recompute on next run). */
  def invalidate(stage: String): Unit = {
    fs.delete(manifestPath(stage), false)
    fs.delete(stageDir(stage), true)
  }

  /** Committed row count from the stage manifest — lineage metadata
    * recorded during the write, so downstream stages that need a
    * cardinality (e.g. document-frequency caps) read a number instead of
    * launching a count job over committed data.
    */
  def committedRows(stage: String): Option[Long] = manifest(stage).map(_.rows)

  /** Opaque identity of a stage's current commit (a fresh UUID per
    * commit). Downstream durable state records this and refuses to
    * resume on mismatch — equality of opaque tokens is immune to clock
    * skew between writers and to two commits landing on the same instant.
    */
  def committedToken(stage: String): Option[String] =
    manifest(stage).map(_.commitToken)

  /** The stage's committed manifest, read and parsed once per call.
    * `None` when there is none, or when the file does not parse as a
    * [[Manifest]] (truncated, not JSON, or missing a field): such a stage
    * is uncommitted, and [[stage]] recomputes it.
    */
  def manifest(stage: String): Option[Manifest] =
    try {
      val in = fs.open(manifestPath(stage))
      try Option(Manifest.mapper.readValue(in: java.io.InputStream, classOf[Manifest]))
      finally in.close()
    } catch {
      case _: java.io.FileNotFoundException | _: JsonProcessingException =>
        None
    }
}
