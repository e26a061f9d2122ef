package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's raw local file system with a fork-free `setPermission`.
 *
 * Without Hadoop's native library (`libhadoop`), the stock
 * `RawLocalFileSystem.setPermission` runs a `chmod` process, and the local
 * file system calls it for every file it creates (and its `.crc` sidecar)
 * and every directory it makes: one fork per bucket file, commit directory
 * and checkpoint log entry of a micro-batch. This override sets the same
 * nine rwx bits through `java.nio` instead. A mode with the sticky bit, or
 * a platform without POSIX file attributes, takes the stock path.
 */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0 || !NioRawLocalFileSystem.posix) super.setPermission(p, permission)
    else {
      val perms = EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's order, OWNER_READ .. OTHERS_EXECUTE, is the
      // order of the mode's bits from 0400 down to 0001
      PosixFilePermission.values.foreach { pp =>
        if ((mode & (0x100 >> pp.ordinal)) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
    }
  }
}

object NioRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/**
 * The engine's `file:` [[org.apache.hadoop.fs.FileSystem]]: Hadoop's
 * checksummed `LocalFileSystem` over [[NioRawLocalFileSystem]], so `.crc`
 * sidecars are still written and verified, and `FileSystem.getLocal`'s cast
 * to `LocalFileSystem` still holds.
 *
 * It is installed by the engine's classpath `core-site.xml`, which every
 * `new Configuration()` reads, so Spark's own Hadoop conf, the sessions of
 * tools and tests, and plain Hadoop calls all resolve `file:` to it. It has
 * to be installed there: `FileSystem`'s cache is keyed by scheme, authority
 * and user, not by conf, so a per-session `spark.hadoop.fs.file.impl` loses
 * to any `file:` file system made earlier in the JVM. Without the setting,
 * Hive's `ProxyLocalFileSystem` (registered through `hive-exec`'s
 * `META-INF/services`) wins `file:` by classpath order. A deployment whose
 * own `core-site.xml` comes earlier on the classpath shadows the engine's;
 * the engine then runs on the stock local file system, correct but slower.
 */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/**
 * The `FileContext` side of [[NioLocalFileSystem]], which Spark's streaming
 * checkpoint manager writes offsets, commits and source logs through: Hadoop's
 * `LocalFs` (checksummed) over a delegate to [[NioRawLocalFileSystem]].
 * `AbstractFileSystem` instantiates it reflectively with `(URI, Configuration)`;
 * like `LocalFs`, it serves the one local URI whatever `uri` is given.
 */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(NioLocalFs.raw(conf))

object NioLocalFs {
  /** `RawLocalFs`, whose constructors are package-private, over the NIO file system. */
  private def raw(conf: Configuration) =
    new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    }
}
