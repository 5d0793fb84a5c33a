package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.grafttest.ProcessStarts
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.ops.{LogEvent, LogEvents}
import graft.streaming.Ingest

/** `graft.io`'s local filesystem: `file:` resolves to it, it leaves the
  * modes and link statuses the stock `chmod`/`readlink` path leaves, and
  * the write paths built on it start no OS process.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val LocalRoot = URI.create("file:///")

  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(LocalRoot, new Configuration)
    fs
  }

  private def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  test("file: resolves to graft.io through FileSystem and FileContext (core-site.xml)") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(Files.createTempDirectory("graft-localfs").toUri).getFileSystem(conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
    val afs = FileContext.getFileContext(LocalRoot, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
  }

  test("setPermission leaves the modes the chmod path leaves") {
    val root = Files.createTempDirectory("graft-localfs-modes")
    val sides = Seq("stock" -> initialized(new RawLocalFileSystem),
      "nio" -> initialized(new NioRawLocalFileSystem))
    // (label, is a dir, mode before, mode set); the setgid dir keeps its
    // setgid bit under `chmod 0750`
    val cases = Seq("0000", "0400", "0644", "0700", "0750", "0755", "0777", "1777")
      .flatMap(m => Seq((s"file-$m", false, 0x180, m), (s"dir-$m", true, 0x1c0, m))) :+
      (("setgid-dir-0750", true, 0x5c0, "0750"))
    for ((label, isDir, before, m) <- cases) {
      val after = sides.map { case (side, fs) =>
        val p = root.resolve(s"$side-$label")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        Files.setAttribute(p, "unix:mode", Int.box(before))
        fs.setPermission(new Path(p.toUri), new FsPermission(Integer.parseInt(m, 8).toShort))
        (Files.getPosixFilePermissions(p), mode(p))
      }
      assert(after.head == after.last, label)
      assert((after.head._2 & 0xfff) == (Integer.parseInt(m, 8) | (before & 0xc00)), label)
    }
  }

  test("getFileLinkStatus reads links as the readlink path does") {
    val root = Files.createTempDirectory("graft-localfs-links")
    val file = Files.write(root.resolve("file"), "x".getBytes)
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val (stock, nio) =
      (initialized(new RawLocalFileSystem), initialized(new NioRawLocalFileSystem))
    // the status's shape, or the class of what the call throws
    def shape(fs: RawLocalFileSystem, p: Path) =
      Try(fs.getFileLinkStatus(p)).map(s => (s.getPath, s.isFile, s.isDirectory,
        s.isSymlink, s.getLen, if (s.isSymlink) s.getSymlink else null))
        .toEither.left.map(_.getClass)
    // bare paths, and qualified ones, which the stock call reads as no
    // link (it hands `file:/…` to readlink), so a dangling one is missing
    val gone = root.resolve("gone")
    for (p <- Seq(file, dir, link, dangling, gone); path <- Seq(new Path(p.toString), new Path(p.toUri)))
      assert(shape(nio, path) == shape(stock, path), path)
    assert(shape(nio, new Path(link.toString)).exists(_._4))
    assert(shape(nio, new Path(dangling.toString)).exists(_._4))
    assert(shape(nio, new Path(gone.toString)) == Left(classOf[FileNotFoundException]))
  }

  private def ndjson(dt: String, time: String, temp: Double): String =
    s"""{"coord":{"lon":87.0,"lat":23.25},""" +
      s""""weather":[{"id":800,"main":"Clear","description":"clear sky"}],""" +
      s""""base":"stations",""" +
      s""""main":{"temp":$temp,"feels_like":${temp + 1},"pressure":1000,"humidity":50,""" +
      s""""temp_min":${temp - 1},"temp_max":${temp + 2}},""" +
      s""""visibility":10000,"wind":{"speed":3.0,"deg":120},"clouds":{"all":40},""" +
      s""""dt":"$dt","current_time":"$time",""" +
      s""""sys":{"country":"IN","sunrise":1,"sunset":2},"timezone":19800,"name":"Bankura"}"""

  test("one ingest event into an existing daily table starts no process") {
    val root = Files.createTempDirectory("graft-localfs-ingest")
    val landing = Files.createDirectories(root.resolve("landing"))
    val Seq(raw, daily, ckpt, logs) =
      Seq("raw", "daily", "ckpt", "logs").map(root.resolve(_).toString)
    def event(name: String, time: String): Unit = {
      Files.write(landing.resolve(name), ndjson("2022-08-29", time, 300.15).getBytes)
      Ingest.runOnce(spark, landing.toString, raw, daily, ckpt, Some(logs))
    }
    event("a.json", "10:00:00") // bootstraps the daily table
    val starts = ProcessStarts(event("b.json", "11:00:00"))
    assert(starts.isEmpty, starts.mkString("\n"))
    assert(spark.read.parquet(raw).count() == 2)
    assert(LogEvents.read(spark, logs).count() == 2)
  }

  test("a micro-batch of a checkpointed stream starts no process") {
    val root = Files.createTempDirectory("graft-localfs-stream")
    val in = Files.createDirectories(root.resolve("in"))
    val Seq(out, ckpt) = Seq("out", "ckpt").map(root.resolve(_).toString)
    def batch(name: String, message: String): Unit = {
      val envelope = LogEvents.toEnvelope(Seq(LogEvent("p", "svc", "proc", "py",
        LogEvents.ApiLogging, None, None, None, "success", message)).toDS())
        .as[String].head()
      Files.write(in.resolve(name), envelope.getBytes)
      LogEvents.appendStream(spark.readStream.text(in.toString), out, ckpt).awaitTermination()
    }
    batch("0.txt", "first") // writes the checkpoint's metadata and batch 0
    val starts = ProcessStarts(batch("1.txt", "second"))
    assert(starts.isEmpty, starts.mkString("\n"))
    assert(LogEvents.read(spark, out).select("message").as[String].collect().sorted.toSeq ==
      Seq("first", "second"))
  }
}
