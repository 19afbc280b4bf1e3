package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpecBase
import graft.ingest.ListenIngest
import graft.streaming.StreamingIngest

/** The fork-free `file:` FileSystem of [[Sessions.local]]: the session
  * really uses it, and every file, `.crc` file and directory it writes
  * ends up with the mode stock Hadoop gives it. */
class LocalFsSpec extends SparkSpecBase {

  private val root = URI.create("file:///")

  private def listen(at: Long, user: String): String =
    s"""{"listened_at":$at,"recording_msid":"m$at","user_name":"$user","track_metadata":{"artist_name":"a","track_name":"t","release_name":null,"additional_info":{"artist_msid":"am","recording_msid":"m$at","artist_mbids":[],"tags":[]}}}"""

  /** POSIX mode (sticky bit included) of `p`, not following links. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  /** Every entry under `dir` as (kind, path with ids and part numbers
    * blanked, octal mode), sorted. */
  private def modes(dir: String): Seq[(String, String, String)] = {
    val top = Paths.get(dir)
    Files.walk(top).iterator.asScala.filter(_ != top).map { p =>
      val rel = top.relativize(p).toString
        .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<id>")
        .replaceAll("part-[0-9]+", "part-<n>")
      (if (Files.isDirectory(p)) "dir" else "file", rel, mode(p).toOctalString)
    }.toSeq.sorted
  }

  /** A `user_name`-partitioned bronze write and a streaming bronze
    * `runOnce`, with their checkpoint, under `dir`. */
  private def writeAll(dir: String): Unit = {
    val in = Files.createDirectories(Paths.get(dir, "in"))
    for (f <- 0 until 2)
      Files.write(in.resolve(s"f$f.json"), Seq("u1", "u2", "u3").zipWithIndex.map {
        case (u, i) => listen(1700000000L + 10 * f + i, u)
      }.mkString("\n").getBytes)
    ListenIngest.writeBronze(
      ListenIngest.bronze(ListenIngest.readRaw(spark, in.toString)), s"$dir/out/bronze")
    Caches.releaseScratch(spark)
    StreamingIngest.runOnce(spark, in.toString, s"$dir/out/stream", s"$dir/out/ckpt")
  }

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(root, spark.sparkContext.hadoopConfiguration)
    fs
  }

  test("the session's file: FileSystem and FileContext are the fork-free ones") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(root, conf)
    assert(fs.isInstanceOf[NoForkLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NoForkRawLocalFileSystem])
    val afs = FileContext.getFileContext(root, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NoForkLocalFs], afs.getClass)
  }

  test("a partitioned write and a streaming run leave the modes stock Hadoop leaves") {
    val ours = tmpDir("localfs-ours-")
    writeAll(ours)
    val stock = tmpDir("localfs-stock-")
    withConfs(
      "fs.file.impl" -> classOf[LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true",
      "fs.AbstractFileSystem.file.impl" -> classOf[LocalFs].getName) {
      val conf = spark.sessionState.newHadoopConf()
      assert(FileSystem.get(root, conf).getClass === classOf[LocalFileSystem])
      assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass ===
        classOf[LocalFs])
      writeAll(stock)
    }
    val got = modes(s"$ours/out")
    assert(got === modes(s"$stock/out"))
    // the comparison covers data files, .crc files and directories
    assert(got.exists(_._2.endsWith(".parquet")))
    assert(got.exists(_._2.endsWith(".crc")))
    assert(got.exists(e => e._1 == "dir" && e._2.startsWith("bronze/user_name=")))
    assert(got.exists(_._2.startsWith("ckpt/commits/")))
  }

  test("a sticky-bit mode takes Hadoop's own path and ends up the same") {
    val dir = tmpDir("localfs-sticky-")
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    val modes = Seq(new NoForkRawLocalFileSystem, new RawLocalFileSystem).map { fs =>
      val p = Files.createDirectory(Paths.get(dir, fs.getClass.getSimpleName))
      raw(fs).setPermission(new Path(p.toString), sticky)
      mode(p)
    }
    assert(modes === Seq(Integer.parseInt("1777", 8), Integer.parseInt("1777", 8)))
  }

  test("getFileLinkStatus agrees with stock for files, dirs, missing paths and links") {
    val dir = Paths.get(tmpDir("localfs-link-"))
    val file = Files.write(dir.resolve("f"), "x".getBytes)
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val (ours, stock) = (raw(new NoForkRawLocalFileSystem), raw(new RawLocalFileSystem))
    def fields(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      s.getLen, s.getModificationTime, s.getPermission, s.getOwner,
      if (s.isSymlink) Some(s.getSymlink) else None)
    for (p <- Seq(file, sub, link).map(p => new Path(p.toString)))
      assert(fields(ours.getFileLinkStatus(p)) === fields(stock.getFileLinkStatus(p)), p)
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    val missing = new Path(dir.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
  }
}
