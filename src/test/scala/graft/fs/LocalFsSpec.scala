package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import graft.TestSpark
import graft.sources.{EventLogSource, EventLogWriter, RecordExtractor, SourceConfig}
import graft.streaming.StreamingPipelines
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The spawn-free `file` filesystem: the session resolves to it, a streaming
  * drain forks no `chmod` or `readlink`, and every mode and link status it
  * produces is the one stock `LocalFileSystem` / `LocalFs` produce.
  */
class LocalFsSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark
  private val root       = new URI("file:///")

  private def octal(s: String): FsPermission = new FsPermission(Integer.parseInt(s, 8).toShort)
  private def mode(p: String): Int = Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  private def withUmask(conf: Configuration, umask: String): Configuration = {
    conf.set(FsPermission.UMASK_LABEL, umask)
    conf
  }
  private def graftConf(umask: String) = withUmask(new Configuration(spark.sparkContext.hadoopConfiguration), umask)
  private def stockConf(umask: String) = withUmask(new Configuration(), umask)
  // built directly: with Hive's jars on the classpath, an unset fs.file.impl
  // resolves to Hive's ProxyLocalFileSystem wrapper
  private def stockLocal(conf: Configuration): FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(root, conf)
    fs
  }

  test("the session resolves the file scheme to the NIO filesystems") {
    val conf = spark.sparkContext.hadoopConfiguration
    // FileSystem.CACHE holds one `file` instance per user for the whole JVM,
    // whatever conf asks: a stock one cached before the session would stay
    assert(FileSystem.get(root, conf).getClass === classOf[NioLocalFileSystem])
    assert(AbstractFileSystem.get(root, conf).getClass === classOf[NioLocalFs])
  }

  test("a two-micro-batch drain into the idempotent parquet sink forks no chmod or readlink") {
    val dir = tempDir("graft-localfs")
    // 1,000 events over 4 partitions, at most 200 per partition and trigger
    EventLogWriter.materialize(spark, TestSpark.sfDir, s"$dir/log")
    val stream = spark.readStream
      .format(EventLogSource.ShortName)
      .option("path", s"$dir/log")
      .option(SourceConfig.MaxMsgsKey, "200")
      .option(RecordExtractor.OptionKey, "graft.sources.JsonEventExtractor")
      .load()

    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    val q =
      try {
        val q = StreamingPipelines
          .idempotentParquetSink(stream, s"$dir/out", s"$dir/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q
      } finally recording.stop()
    val dump = Paths.get(dir, "spawns.jfr")
    recording.dump(dump)
    recording.close()

    val events = graft.Tables.events(spark, TestSpark.sfDir).count()
    assert(q.recentProgress.count(_.numInputRows > 0) === 2, "the drain must run two micro-batches")
    assert(spark.read.parquet(s"$dir/out").count() === events)
    val commands = RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
    val forks = commands.filter(c => Set("chmod", "readlink")(c.takeWhile(_ != ' ').split('/').last))
    assert(forks.size === 0, s"chmod/readlink processes started, e.g. ${forks.take(3)}")
  }

  test("files and directories get the modes stock LocalFileSystem and LocalFs give them, sticky and setgid bits too") {
    def modes(fs: FileSystem, fc: FileContext, base: String): Seq[(String, Int)] = {
      def p(name: String) = new Path(s"$base/$name")
      fs.create(p("fs-file")).close()
      fs.create(p("fs-file-640"), octal("640"), true, 4096, 1.toShort, 1L << 20, null).close()
      fs.mkdirs(p("fs-dir"))
      fs.mkdirs(p("fs-dir-750"), octal("750"))
      fs.create(p("fs-file-chmod")).close()
      fs.setPermission(p("fs-file-chmod"), octal("604"))
      fs.mkdirs(p("sticky-dir"))
      fs.setPermission(p("sticky-dir"), octal("1777"))
      // a directory keeps its setgid bit through a numeric chmod
      Files.createDirectory(Paths.get(base, "setgid-dir"))
      Files.setAttribute(Paths.get(base, "setgid-dir"), "unix:mode", Int.box(Integer.parseInt("2775", 8)))
      fs.setPermission(p("setgid-dir"), octal("750"))
      fc.create(p("fc-file"), EnumSet.of(CreateFlag.CREATE)).close()
      fc.create(p("fc-file-600"), EnumSet.of(CreateFlag.CREATE), CreateOpts.perms(octal("600"))).close()
      fc.mkdir(p("fc-dir"), FsPermission.getDirDefault, true)
      fc.mkdir(p("fc-dir-700"), octal("700"), true)
      new java.io.File(base).list().sorted.toSeq.map(n => n -> mode(s"$base/$n"))
    }
    for (umask <- Seq("022", "027")) {
      val (graft, stock) = (graftConf(umask), stockConf(umask))
      val (graftFs, stockFs) = (FileSystem.newInstance(root, graft), stockLocal(stock))
      try {
        assert(graftFs.getClass === classOf[NioLocalFileSystem])
        assert(AbstractFileSystem.get(root, stock).getClass === classOf[LocalFs])
        val ours = modes(graftFs, FileContext.getFileContext(root, graft), tempDir(s"graft-modes-$umask"))
        val theirs = modes(stockFs, FileContext.getFileContext(root, stock), tempDir(s"stock-modes-$umask"))
        assert(ours === theirs, s"umask $umask")
        assert(ours.toMap.get("sticky-dir").contains(Integer.parseInt("1777", 8)))
        assert(ours.toMap.get("setgid-dir").contains(Integer.parseInt("2750", 8)))
      } finally {
        graftFs.close()
        stockFs.close()
      }
    }
  }

  test("FileSystem.rename onto an existing file fails, as the file filesystem Spark's jars register") {
    val dir = tempDir("graft-rename")
    def rename(fs: FileSystem, sub: String): (Boolean, Boolean, String, Boolean) = {
      def write(name: String): Path = {
        val p  = new Path(s"$dir/$sub/$name")
        val os = fs.create(p)
        try os.write(name.getBytes("UTF-8"))
        finally os.close()
        p
      }
      val (a, b) = (write("a"), write("b"))
      val onto   = fs.rename(a, b)
      val in     = fs.open(b)
      val kept   = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      (onto, fs.exists(a), kept, fs.rename(a, new Path(s"$dir/$sub/c")))
    }
    val (graftFs, registered) = (FileSystem.newInstance(root, graftConf("022")), FileSystem.newInstance(root, stockConf("022")))
    try {
      assert(rename(graftFs, "graft") === ((false, true, "b", true)))
      assert(rename(registered, "registered") === rename(graftFs, "graft-again"))
    } finally {
      graftFs.close()
      registered.close()
    }
  }

  test("getFileLinkStatus: a missing path throws, a symlink gets the stock status") {
    val dir    = tempDir("graft-links")
    val target = Files.createFile(Paths.get(dir, "target"))
    val link   = Files.createSymbolicLink(Paths.get(dir, "link"), target)
    Files.createSymbolicLink(Paths.get(dir, "dangling"), Paths.get(dir, "nowhere"))
    val (graftFs, stockFs) = (FileSystem.newInstance(root, graftConf("022")), stockLocal(stockConf("022")))
    try {
      val missing = new Path(s"$dir/missing")
      intercept[FileNotFoundException](graftFs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](FileContext.getFileContext(root, graftConf("022")).getFileLinkStatus(missing))

      def view(s: FileStatus) =
        (s.getPath, s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.isDirectory, s.getLen, s.getModificationTime)
      val paths = Seq(new Path(link.toString), new Path(link.toUri), new Path(s"$dir/dangling"), new Path(s"$dir/target"))
      assert(stockFs.getFileLinkStatus(paths.head).isSymlink, "the unqualified symlink must take the link path")
      paths.foreach(p => assert(view(graftFs.getFileLinkStatus(p)) === view(stockFs.getFileLinkStatus(p)), p))
    } finally {
      graftFs.close()
      stockFs.close()
    }
  }
}
