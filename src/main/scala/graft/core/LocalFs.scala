package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}

/** Hadoop's checksummed local filesystem with a fork-free raw layer.
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission`
  * runs a `/bin/chmod` child process for every file, `.crc` file and
  * directory a write creates (7-8 ms each against under 0.2 ms here);
  * this raw layer sets the same mode through `java.nio` instead.
  * Everything else, `.crc` siblings and `_SUCCESS` markers included, is
  * Hadoop's own code path.
  */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** `RawLocalFileSystem` whose `setPermission` makes no process. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
  }

  private val Bits = PosixFilePermission.values.toSeq // owner r,w,x; group r,w,x; others r,w,x

  /** The nine permission bits of `permission` as a POSIX set. */
  def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort & 0x1ff
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.zipWithIndex.foreach { case (b, i) => if ((mode & (0x100 >> i)) != 0) set.add(b) }
    set
  }

  /** Write options that route `file:` paths through [[LocalFs]]. They are
    * per-write Hadoop conf, so they reach sessions this program did not
    * build; the cache is off because Hadoop otherwise hands back the
    * first `file:` filesystem the JVM made. */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `df.write` through [[LocalFs]]: the one write path of the program. */
  def writer(df: DataFrame): DataFrameWriter[Row] = df.write.options(WriteOptions)
}
