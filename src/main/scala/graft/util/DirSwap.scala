package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import java.io.IOException

/** Crash-safe replacement of a directory, shared by every store that
  * rewrites itself in place. The new copy is written to `path + ".new"`;
  * the live copy is moved aside to `path + ".old"`; the new copy takes
  * its place; only then is the aside deleted. A crash at any step leaves
  * one complete copy, at `path` or at `path + ".old"`, and [[recover]]
  * moves the latter back. Call it before any read or append of `path`.
  */
object DirSwap {

  // resolve the filesystem from the path itself (fs.defaultFS would break
  // s3a://-style stores)
  private def locate(spark: SparkSession, path: String): (FileSystem, Path, Path) = {
    val dst = new Path(path)
    (dst.getFileSystem(spark.sparkContext.hadoopConfiguration), dst,
      new Path(path + ".old"))
  }

  /** Restores the aside copy a crash between "move aside" and "install"
    * left as the only complete one. */
  def recover(spark: SparkSession, path: String): Unit = {
    val (fs, dst, old) = locate(spark, path)
    if (!fs.exists(dst) && fs.exists(old) && !fs.rename(old, dst))
      throw new IOException(s"could not restore $old")
  }

  /** Replaces `path` with what `write` puts at the temp path it is given.
    * Must not run concurrently with another writer of `path`. */
  def install(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    recover(spark, path) // a prior crash's aside must be re-adopted first
    val (fs, dst, old) = locate(spark, path)
    val tmp = new Path(path + ".new")
    write(tmp.toString)
    if (fs.exists(dst)) {
      fs.delete(old, true) // stale aside from an interrupted install
      if (!fs.rename(dst, old))
        throw new IOException(s"could not move $dst aside")
    }
    if (!fs.rename(tmp, dst)) {
      fs.rename(old, dst) // restore the live copy before failing
      throw new IOException(s"could not install $tmp")
    }
    fs.delete(old, true)
  }
}
