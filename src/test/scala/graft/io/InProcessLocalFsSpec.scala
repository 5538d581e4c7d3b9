package graft.io

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumException, Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSessionTestWrapper, TempDirs}

/** A stage committed through [[InProcessLocalFs]] leaves the same bytes on
  * disk as Hadoop's default local filesystem: the same modes, a `.crc`
  * sidecar per file, and a read that a flipped byte fails.
  */
class InProcessLocalFsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkSessionTestWrapper.spark

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every path under `root`, `root` included. */
  private def tree(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq finally walk.close()
  }

  /** The mode of every path under `root`, keyed by its path relative to
    * `root` with the write job's UUID masked.
    */
  private def modes(root: Path): Map[String, String] =
    tree(root).map { p =>
      Uuid.replaceAllIn(root.relativize(p).toString, "<uuid>") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap

  test("a stage commit keeps the modes, sidecars and checksums of Hadoop's local filesystem") {
    // a umask unlike the process's own, so a mode that Hadoop's rules did
    // not set shows as a difference
    val session = spark.newSession()
    session.conf.set("fs.permissions.umask-mode", "027")
    val data = session.range(0, 60).selectExpr("id", "cast(id % 3 as string) AS lang")
    val dir = Paths.get(tempDir("graft-localfs"))
    val (ioRoot, refRoot) = (dir.resolve("io"), dir.resolve("ref"))

    val io = new TableIO(session, ioRoot.toString)
    io.stage("s", partitionBy = Seq("lang"))(data)

    // the same root, manifest and stage write through Hadoop's default
    // local filesystem, uncached so that it reads the session's umask
    val conf = session.sessionState.newHadoopConf()
    conf.set("fs.file.impl.disable.cache", "true")
    val refFs = new HPath(refRoot.toUri).getFileSystem(conf)
    assert(!refFs.isInstanceOf[InProcessLocalFs], refFs)
    refFs.mkdirs(new HPath(refRoot.toUri))
    refFs.create(new HPath(refRoot.resolve("s.manifest.json").toUri))
      .close()
    data.write.option("fs.file.impl.disable.cache", "true")
      .partitionBy("lang").parquet(refRoot.resolve("s").toString)

    val committed = modes(ioRoot)
    assert(committed.values.toSet.size > 1, committed)
    assert(committed == modes(refRoot))

    val parquet = tree(ioRoot).filter(_.getFileName.toString.endsWith(".parquet"))
    assert(parquet.size >= 3, parquet)
    parquet.foreach { f =>
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), s"$f has no .crc")
    }

    val victim = parquet.head
    val bytes = Files.readAllBytes(victim)
    bytes(4) = (bytes(4) ^ 1).toByte
    Files.write(victim, bytes)
    val e = intercept[Exception](io.read("s").collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e)
  }
}
