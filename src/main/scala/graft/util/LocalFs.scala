package graft.util

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkContext

/** Hadoop's `file:` filesystem with its two forking calls done in the JVM.
  *
  * Without `libhadoop` (no native IO), Hadoop's `RawLocalFileSystem` starts a
  * `chmod` process for every file and directory it creates and a `readlink`
  * process for every link-status lookup, and a `FileContext` rename makes
  * four such lookups. A streaming micro-batch writes offset, commit and
  * source-log entries plus parquet files through the committer, which came
  * to ~20 process starts per micro-batch. [[register]] installs the classes
  * below for both Hadoop client APIs, so checkpoint logs, state stores,
  * parquet writes and the committer all use them. */
object LocalFs {

  /** `RawLocalFileSystem` with `setPermission` and `getFileLinkStatus` done
    * through NIO instead of a child process. */
  class Raw extends RawLocalFileSystem {

    /** The POSIX mode set directly; only a sticky bit, which the NIO
      * permission set cannot express, goes to the parent's `chmod`. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))

    /** Hadoop's own version runs `readlink` on the qualified `file:/…`
      * string, which is no path the OS knows, so the lookup always fails
      * and it returns `getFileStatus` for every qualified path anyway. Only
      * a path NIO sees as a symlink still takes the parent's route. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** Checksummed `file:` FileSystem (`fs.file.impl`) over [[Raw]]. */
  class Checked extends LocalFileSystem(new Raw)

  /** `RawLocalFs` over [[Raw]]: the `FileContext` half. `RawLocalFs`'s
    * constructors are package-private and fix its FileSystem, so its
    * overrides of `DelegateToFileSystem` are repeated here. */
  class RawAfs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** Checksummed `file:` AbstractFileSystem
    * (`fs.AbstractFileSystem.file.impl`), as Hadoop's `LocalFs`. */
  class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(uri, conf)) {
    override def getUriDefaultPort: Int = -1
  }

  /** Serve `file:` from these classes for every Hadoop configuration the
    * context hands out from now on (session confs copy it). Context-level
    * on purpose: Spark creates a query's offset and commit logs lazily from
    * the session it started on, after `start()` returns, so a per-query
    * conf toggle would not reach them. The FileSystem cache is keyed on the
    * scheme, not the conf, so it is disabled for `file:`: otherwise a stock
    * `LocalFileSystem` cached earlier in the JVM keeps serving `file:`.
    * Idempotent. */
  def register(sc: SparkContext): Unit = register(sc.hadoopConfiguration)

  def register(conf: Configuration): Unit = {
    conf.set("fs.file.impl", classOf[Checked].getName)
    conf.set("fs.AbstractFileSystem.file.impl", classOf[Afs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
  }

  /** The mode's nine permission bits; the enum runs owner read to others
    * execute, i.e. bit 0400 down to 0001. */
  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(v => if ((p.toShort & (0x100 >> v.ordinal)) != 0) s.add(v))
    s
  }
}
