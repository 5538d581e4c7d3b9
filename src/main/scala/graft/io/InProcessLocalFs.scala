package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem, minus a subprocess per file.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` applies the mode
  * of every file and directory it creates by running `chmod`. This class
  * sets the same bits through `java.nio` instead. Everything else is
  * Hadoop's `LocalFileSystem`: the `.crc` sidecars are written and
  * verified on read, and Hadoop's umask decides the mode.
  */
final class InProcessLocalFs extends LocalFileSystem(new InProcessLocalFs.Raw)

object InProcessLocalFs {

  /** The Hadoop settings that make `file:` paths resolve to this class.
    * `FileSystem`'s cache is keyed by scheme, not by configuration, so
    * without `disable.cache` the first local filesystem the JVM made is
    * returned and `fs.file.impl` silently does nothing. Both keys name only
    * the `file` scheme: every other filesystem is unaffected.
    */
  val HadoopConf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[InProcessLocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  private final class Raw extends RawLocalFileSystem {
    /** `java.nio` expresses the nine rwx bits; the sticky bit, or a store
      * without a POSIX view, takes Hadoop's own path.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val bits = Seq(permission.getUserAction, permission.getGroupAction,
          permission.getOtherAction).map(_.SYMBOL).mkString
        try Files.setPosixFilePermissions(
          pathToFile(p).toPath, PosixFilePermissions.fromString(bits))
        catch {
          case _: UnsupportedOperationException => super.setPermission(p, permission)
        }
      }
  }
}
