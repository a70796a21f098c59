package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}
import org.apache.spark.sql.SparkSession

/** Hadoop's local file system without a child process per file.
  *
  * Without libhadoop (none ships with the Spark jars, so
  * `NativeIO.isAvailable()` is false), Hadoop's `RawLocalFileSystem`
  * runs `chmod` through `Shell` for every file and directory it creates
  * with a permission, and its `getFileLinkStatus` (which
  * `FileContext.rename` calls) runs `readlink`. A store append, and every
  * streaming offset log, commit log and state-store delta, pays one fork
  * per such call. [[Raw]] does both in-process:
  *  - `setPermission` sets the same mode bits with
  *    `Files.setPosixFilePermissions`; a mode a POSIX set cannot express
  *    (the sticky bit) still goes to Hadoop's own code;
  *  - `getFileLinkStatus` of a path that is not a symbolic link is its
  *    `getFileStatus`, which is exactly what Hadoop's own code returns for
  *    one; symbolic links go to Hadoop's own code.
  *
  * Contract: a file written through these classes has the same bytes,
  * the same `.crc` side file and the same mode bits as one written
  * through Hadoop's default `file:` classes. [[Checksummed]] is the
  * `FileSystem` (`fs.file.impl`) and [[Context]] the `FileContext` side
  * (`fs.AbstractFileSystem.file.impl`); Hadoop loads both by name. */
object LocalFs {

  /** The `FileSystem` key: `file:` paths resolve to [[Checksummed]]. */
  val fileSystemKey: (String, String) = "fs.file.impl" -> classOf[Checksummed].getName

  /** The `FileContext` key: `file:` paths resolve to [[Context]].
    * FileContext instances are not cached, so this key alone routes
    * streaming checkpoint files. */
  val contextKey: (String, String) =
    "fs.AbstractFileSystem.file.impl" -> classOf[Context].getName

  /** Hadoop conf options for one write job: [[fileSystemKey]], resolved
    * afresh rather than from the JVM-wide FileSystem cache, whose `file:`
    * entry may have been built without the key. */
  val writerOptions: Map[String, String] =
    Map(fileSystemKey, "fs.file.impl.disable.cache" -> "true")

  /** Routes the session's FileContext `file:` paths through [[Context]],
    * unless the session already names an implementation. */
  def useForStreams(spark: SparkSession): Unit =
    if (spark.conf.getOption(contextKey._1).isEmpty) spark.conf.set(contextKey._1, contextKey._2)

  private val actions = Seq(FsAction.READ, FsAction.WRITE, FsAction.EXECUTE)

  /** The `RawLocalFileSystem` with the two fork-free overrides. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        // PosixFilePermission's order: owner, group, others; read, write, execute
        val who = Seq(permission.getUserAction, permission.getGroupAction,
          permission.getOtherAction)
        val bits = PosixFilePermission.values.toSeq.zipWithIndex.collect {
          case (bit, i) if who(i / 3).implies(actions(i % 3)) => bit }
        Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
      }

    override def getFileLinkStatus(p: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
      else getFileStatus(p)
  }

  /** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over [[Raw]]. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` over [[Raw]]. */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))

  /** Hadoop's `RawLocalFs` over [[Raw]]; that class's constructor is
    * package-private, so its overrides are repeated here. */
  private class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
