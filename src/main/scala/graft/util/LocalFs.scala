package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission

/** The local file system the stores write through. Without libhadoop (and
  * Spark's distribution ships none) `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and it runs on every file and directory a
  * write creates: twice per parquet file (the data file and its `.crc`),
  * once per partition dir, committer `_temporary` level and manifest.
  * [[NioRawLocalFileSystem]] sets the same bits in-process.
  *
  * [[options]] selects it for one write (`df.write.options(LocalFs.options)`)
  * and [[fileSystem]] for a store's own file calls; both leave every
  * scheme other than `file:` (`s3a://`, `hdfs://`) as it was. */
object LocalFs {

  /** Hadoop settings that resolve `file:` paths to [[NioLocalFileSystem]].
    * The cache is bypassed because the stock `file:` instance is cached
    * from session start. */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The file system of `path` under `conf`, fork-free for `file:`. */
  def fileSystem(path: String, conf: Configuration): FileSystem = {
    val c = new Configuration(conf)
    options.foreach { case (k, v) => c.set(k, v) }
    new Path(path).getFileSystem(c)
  }
}

/** `RawLocalFileSystem` whose `setPermission` sets the nine rwx bits with
  * `Files.setPosixFilePermissions`. A sticky bit asked for or already
  * set, a setuid or setgid bit already set (GNU `chmod` keeps a
  * directory's), or a file store without a POSIX view, takes the stock
  * path, so every outcome matches the stock one. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = Paths.get(pathToFile(p).getPath)
    val special = try {
      permission.getStickyBit ||
        (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) != 0
    } catch {
      case _: UnsupportedOperationException | _: IllegalArgumentException => true
    }
    if (special) super.setPermission(p, permission)
    else {
      // PosixFilePermission's ordinals run OWNER_READ (mode bit 0400) to
      // OTHERS_EXECUTE (0001)
      val mode = permission.toShort
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach { b =>
        if ((mode & (0x100 >> b.ordinal)) != 0) bits.add(b) }
      Files.setPosixFilePermissions(file, bits)
    }
  }
}

/** `LocalFileSystem` (the `.crc` checksum layer) over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
