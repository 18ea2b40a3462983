package graft

import graft.sources.{ForklessLocalFileSystem, ForklessRawLocalFileSystem}
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.GraftCheckpointTestHook
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** The engine's local filesystem ([[graft.sources.ForklessLocalFs]]): the
  * engine's file I/O starts no process (dropping either of its two
  * registrations from `BenchHarness.SessionConf` fails that test with the
  * forked commands), and the classes keep Hadoop's local-filesystem
  * semantics.
  */
class ForklessFsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  /** The process starts (JFR `jdk.ProcessStart`) the JVM recorded while
    * `body` ran.
    */
  private def processStartsDuring(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.filter(_.getEventType.getName == "jdk.ProcessStart")
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  private def frames(e: RecordedEvent): Seq[String] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}:${f.getLineNumber}")

  /** The command, at its top frame outside the JDK and Hadoop. */
  private def describe(e: RecordedEvent): String =
    e.getString("command") + "  at " + frames(e)
      .find(f => !Seq("java.", "jdk.", "sun.", "org.apache.hadoop.").exists(f.startsWith))
      .getOrElse("(no frame outside the JDK and Hadoop)")

  private def withTempDir[A](body: JPath => A): A = {
    val dir = Files.createTempDirectory("graft_forkless")
    try body(dir) finally graft.sources.LayoutCache.deleteTree(dir)
  }

  private def posixString(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** A fresh instance of `fs` under `conf`. */
  private def init[F <: FileSystem](fs: F, conf: Configuration = new Configuration()): F = {
    fs.initialize(URI.create("file:///"), conf); fs
  }

  test("table loads, a parquet write, a reliable ckpt and the x73 stream start no process") {
    // the session is up, and Spark's once-per-JVM page-size probe done,
    // before the recording starts
    spark.range(1).count()
    org.apache.spark.GraftProcfsTestHook.init()
    val starts = withTempDir { dir =>
      processStartsDuring {
        Tables.names.foreach(n => Tables.load(spark, sf, n).schema)
        Tables.load(spark, sf, "nation").write.parquet(s"$dir/nation.parquet")
        spark.conf.set("spark.graft.checkpoint.dir", s"$dir/ckpt")
        try ckpt(spark.range(100).groupBy(col("id") % 7).count()).count()
        finally {
          spark.conf.unset("spark.graft.checkpoint.dir")
          GraftCheckpointTestHook.clearCheckpointDir(spark.sparkContext)
        }
        BenchHarness.consume(SparkEntry.queries("x73_stream_funnel")(spark, sf))
      }
    }
    // Spark's cleaner forks an `rm -rf` for each garbage-collected cloned
    // session's artifact dir (each streaming query runs on a clone), on
    // its own thread whenever GC runs: not the engine's file I/O
    val forks = starts.filterNot(frames(_).exists(_.startsWith("org.apache.spark.sql.artifact.ArtifactManager")))
    if (forks.nonEmpty) fail(s"${forks.size} process start(s):\n" + forks.map("  " + describe(_)).mkString("\n"))
  }

  test("a created file or directory gets Hadoop's umask-applied permissions") {
    // a umask other than the process's, so only an explicit chmod passes
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    val umask = FsPermission.getUMask(conf)
    withTempDir { dir =>
      for ((fs, tag) <- Seq(init(new ForklessLocalFileSystem, conf) -> "forkless",
                            init(new org.apache.hadoop.fs.LocalFileSystem, conf) -> "stock")) {
        fs.create(new Path(s"$dir/$tag/f")).close()
        assert(posixString(dir.resolve(tag).resolve("f")) ==
          FsPermission.getFileDefault.applyUMask(umask).toString, tag)
        assert(fs.mkdirs(new Path(s"$dir/$tag/d"), FsPermission.getDirDefault))
        assert(posixString(dir.resolve(tag).resolve("d")) ==
          FsPermission.getDirDefault.applyUMask(umask).toString, tag)
      }
    }
  }

  test("setPermission round-trips, and a sticky bit goes through Hadoop's fallback") {
    val fs = init(new ForklessRawLocalFileSystem)
    withTempDir { dir =>
      val p = new Path(s"$dir/f")
      Files.createFile(dir.resolve("f"))
      for (mode <- Seq("000", "700", "640", "755", "777").map(new FsPermission(_))) {
        fs.setPermission(p, mode)
        assert(fs.getFileStatus(p).getPermission == mode, mode)
      }
      val sticky = new FsPermission("1777")
      val d = new Path(s"$dir/d")
      Files.createDirectory(dir.resolve("d"))
      val starts = processStartsDuring(fs.setPermission(d, sticky))
      assert(starts.map(_.getString("command").split(' ').head) == Seq("chmod"),
        s"sticky bit not set by Hadoop: ${starts.map(describe)}")
      assert(fs.getFileStatus(d).getPermission == sticky)
    }
  }

  test("getFileLinkStatus equals RawLocalFileSystem's on a symlink, a dangling one and a file") {
    val forkless = init(new ForklessRawLocalFileSystem)
    val stock = init(new RawLocalFileSystem)
    def fields(s: FileStatus) = (s.getPath, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
      s.isDirectory, s.getLen, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    withTempDir { dir =>
      Files.write(dir.resolve("target"), "x".getBytes)
      Files.createSymbolicLink(dir.resolve("link"), dir.resolve("target"))
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("absent"))
      for (name <- Seq("link", "dangling", "target")) {
        val p = new Path(s"$dir/$name")
        assert(fields(forkless.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), name)
      }
      assert(forkless.getFileLinkStatus(new Path(s"$dir/link")).isSymlink)
    }
  }

  test("a missing path throws FileNotFoundException") {
    val fs = init(new ForklessRawLocalFileSystem)
    withTempDir { dir =>
      val p = new Path(s"$dir/absent")
      intercept[FileNotFoundException](fs.getFileStatus(p))
      intercept[FileNotFoundException](fs.getFileLinkStatus(p))
      intercept[FileNotFoundException](fs.setPermission(p, new FsPermission("644")))
    }
  }
}
