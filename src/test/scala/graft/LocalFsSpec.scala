package graft

import graft.ops.IndexStore
import graft.sink.ParquetVectorStore
import graft.stream.ParquetTableStore
import graft.util.{LocalFs, NioRawLocalFileSystem}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

/** Every file the stores write goes through [[LocalFs]]: no process per
  * file (without libhadoop the stock local file system forks a `chmod`
  * for each one), the same permission bits, the same `.crc` siblings. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  /** A fresh temp dir by its real path: a forked command names the
    * canonical path of the file it acts on. */
  private def tmp(): JPath = Files.createTempDirectory("graft-localfs").toRealPath()

  private def parquetFiles(root: JPath): Seq[JPath] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally walk.close()
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def initialized[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  test("the recorder sees the stock local file system fork a chmod per file") {
    assume(!NativeCodeLoader.isNativeCodeLoaded,
      "libhadoop is loaded: the stock file system sets permissions natively")
    val dir = tmp()
    val stock = org.apache.hadoop.fs.FileSystem.newInstance(
      java.net.URI.create("file:///"), new Configuration())
    val started = ProcessStarts.during(dir.toString) {
      stock.create(new Path(dir.resolve("f").toString)).close()
    }
    stock.close()
    // the file and its .crc
    assert(started.count(_.startsWith("chmod")) >= 2, started.mkString("\n"))
  }

  private def change(pk: String, lsn: Long): (String, String, String, String, String, String) =
    ("c", "public", "documents", pk, lsn.toString, s"v$pk-$lsn")

  private def changes(rows: Seq[(String, String, String, String, String, String)]): DataFrame =
    rows.toDF("op", "schema", "table", "primary_key", "lsn", "c")
      .select(col("op"), col("schema"), col("table"), col("primary_key"),
        col("lsn"), map(lit("content"), col("c")).as("after"))

  private val writers: Seq[(String, JPath => Unit)] = Seq(
    "a ParquetTableStore merge that compacts at least 8 buckets" -> { dir =>
      val store = new ParquetTableStore(dir.resolve("table").toString,
        numBuckets = 16, maxDeltasPerBucket = 1)
      val pks = (1 to 40).map(_.toString)
      store.merge(changes(pks.map(change(_, 10L))))
      store.merge(changes(pks.map(change(_, 20L)))) // every touched bucket compacts
      val compacted = store.stats(spark).filter(col("has_base")).count()
      assert(compacted >= 8, s"only $compacted buckets compacted")
    },
    "a ParquetVectorStore append" -> { dir =>
      val ops = Seq(("a", Seq(1.0f, 0.0f), Map("k" -> "a"), "upsert"),
        ("b", Seq(0.0f, 1.0f), Map("k" -> "b"), "upsert"))
        .toDF("id", "vector", "metadata", "op")
        .unionByName(Seq("c").toDF("id")
          .select(col("id"), lit(null).cast("array<float>").as("vector"),
            lit(null).cast("map<string,string>").as("metadata"),
            lit("delete").as("op")))
      new ParquetVectorStore(dir.resolve("vectors").toString).append(ops, 0L)
    },
    "an IndexStore save" -> { dir =>
      IndexStore.saveIvf(spark, dir.resolve("ivf").toString,
        Seq(0 -> Seq(1.0, 2.0), 1 -> Seq(3.0, 4.0)))
    })

  writers.foreach { case (name, write) =>
    test(s"$name starts no process and keeps the .crc siblings") {
      val dir = tmp()
      val started = ProcessStarts.during(dir.toString)(write(dir))
      assert(started.isEmpty,
        s"${started.size} processes started:\n${started.take(5).mkString("\n")}")
      val files = parquetFiles(dir)
      assert(files.nonEmpty)
      files.foreach { f =>
        assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), s"no .crc for $f")
      }
    }
  }

  test("NioRawLocalFileSystem leaves the stock permissions without a process") {
    val stock = initialized(new RawLocalFileSystem)
    val nio = initialized(new NioRawLocalFileSystem)
    val dir = tmp()
    val modes = Seq("644", "755", "600", "700").map(Integer.parseInt(_, 8))
    for (m <- modes; isDir <- Seq(false, true)) {
      val Seq(a, b) = Seq("stock", "nio").map { side =>
        val p = dir.resolve(f"$side-$m%o-$isDir")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        Files.setPosixFilePermissions(p,
          java.nio.file.attribute.PosixFilePermissions.fromString("--x-w-r--"))
        p
      }
      stock.setPermission(new Path(a.toString), new FsPermission(m.toShort))
      val started = ProcessStarts.during(dir.toString) {
        nio.setPermission(new Path(b.toString), new FsPermission(m.toShort))
      }
      assert(started.isEmpty, started.mkString("\n"))
      assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a))
      assert(mode(b) == mode(a) && mode(a) == m, f"${mode(a)}%o vs ${mode(b)}%o, want $m%o")
    }
    // a sticky bit takes the stock path
    val Seq(a, b) = Seq("stock-1777", "nio-1777").map(n =>
      Files.createDirectory(dir.resolve(n)))
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    stock.setPermission(new Path(a.toString), sticky)
    val fellBack = ProcessStarts.during(dir.toString) {
      nio.setPermission(new Path(b.toString), sticky)
    }
    if (!NativeCodeLoader.isNativeCodeLoaded) assert(fellBack.exists(_.startsWith("chmod")))
    assert(mode(a) == sticky.toShort && mode(b) == mode(a), f"${mode(a)}%o vs ${mode(b)}%o")
    assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a))
  }

  test("LocalFs resolves file: paths to the fork-free file system, which " +
    "writes the .crc sibling; a plain lookup still gets the stock one") {
    val dir = tmp()
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = LocalFs.fileSystem(dir.toString, conf)
    assert(fs.isInstanceOf[graft.util.NioLocalFileSystem])
    val out = fs.create(new Path(dir.resolve("m.txt").toString))
    try out.write(1) finally out.close()
    assert(Files.exists(dir.resolve(".m.txt.crc")))
    assert(mode(dir.resolve("m.txt")) == mode(dir.resolve(".m.txt.crc")))
    // the stock instance is still what a plain lookup returns
    assert(!new Path(dir.toString).getFileSystem(conf)
      .isInstanceOf[graft.util.NioLocalFileSystem])
  }
}
