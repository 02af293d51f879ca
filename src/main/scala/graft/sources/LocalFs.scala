package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** `RawLocalFileSystem` without process forks. Spark's jars ship no
  * `libhadoop`, so the stock class runs a `chmod` process for every file
  * and directory it creates, and `FileUtil.readLink` runs a `readlink`
  * process for every `FileContext` rename (both ends of it). Here the
  * same two calls go through `java.nio`: `chmod(2)` and `lstat(2)` in
  * process. Anything nio cannot express (a sticky bit, a real symlink)
  * still takes the stock path. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort & 0xffff
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      ForkFreeRawLocalFileSystem.posix(bits))
    catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
  }

  /** A non-link is its own status; a missing path throws
    * `FileNotFoundException` from `getFileStatus`, as the stock class
    * does once `readlink` reports nothing. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  // PosixFilePermission.values() runs OWNER_READ (0400) … OTHERS_EXECUTE (01)
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for ((p, i) <- PosixFilePermission.values().zipWithIndex
         if (bits & (0x100 >> i)) != 0) set.add(p)
    set
  }
}

/** The checksummed `file:` `FileSystem` (`fs.file.impl`): the stock
  * `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]], so `.crc`
  * files and the on-disk layout are unchanged. */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `FileContext` twin of Hadoop's `RawLocalFs`, whose constructors are
  * package-private. `AbstractFileSystem` instantiates it reflectively
  * through the `(URI, Configuration)` constructor; like `RawLocalFs` it
  * binds to `file:///` whatever the URI. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** Checksummed `FileContext` `file:` filesystem, Hadoop's `local.LocalFs`
  * over [[ForkFreeRawLocalFs]]: streaming checkpoint logs are written
  * through it. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

object LocalFs {
  private val Halves = Seq(
    "fs.file.impl" ->
      (classOf[LocalFileSystem], classOf[ForkFreeLocalFileSystem]),
    "fs.AbstractFileSystem.file.impl" ->
      (classOf[org.apache.hadoop.fs.local.LocalFs], classOf[ForkFreeLocalFs]))

  /** Points the session's `file:` scheme at the fork-free classes, both the
    * `FileSystem` and the `FileContext` half. A half left unset or set to
    * the stock class is replaced; one configured to some other class is
    * left alone. (Unset, Hadoop picks the `file:` class by service
    * discovery; with Spark's jars that is Hive's `ProxyLocalFileSystem`,
    * a filter over the stock `LocalFileSystem`.) Hadoop caches one
    * `FileSystem` per scheme whatever the configuration, so a cached
    * instance of another class is closed once, which drops it from the
    * cache and the next `FileSystem.get` builds the new class; handles
    * taken from it earlier keep working. Idempotent. Only `file:` paths
    * are affected: HDFS or S3 storage never reaches these classes. */
  def install(spark: SparkSession): Unit = synchronized {
    val conf = spark.sparkContext.hadoopConfiguration
    for ((key, (stock, forkFree)) <- Halves) {
      val cur = conf.get(key)
      if (cur == null || cur == stock.getName) conf.set(key, forkFree.getName)
    }
    if (conf.get("fs.file.impl") == classOf[ForkFreeLocalFileSystem].getName) {
      val cached = FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
      if (!cached.isInstanceOf[ForkFreeLocalFileSystem]) cached.close()
    }
  }
}
