package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.storage.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.streaming.Jobs
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** graft.storage.LocalFs: the `file:` scheme answers as stock Hadoop
  * does, without forking `chmod` or `readlink`.
  */
class LocalFsSpec extends SparkSpec {
  private val root = URI.create("file:///")

  private def stockRaw: RawLocalFileSystem = init(new RawLocalFileSystem)
  private def nioRaw: RawLocalFileSystem = init(new NioRawLocalFileSystem)
  private def init(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(root, new Configuration()); fs
  }
  private def octal(mode: String) = new FsPermission(Integer.parseInt(mode, 8).toShort)

  test("GraftSession routes FileSystem and FileContext for file: to the graft classes") {
    val confs = Seq(spark.sparkContext.hadoopConfiguration,
      spark.sessionState.newHadoopConf(),
      // the default of the storage helpers' `conf` parameters
      new Configuration())
    confs.foreach { conf =>
      val fs = FileSystem.get(root, conf)
      assert(fs.getClass == classOf[NioLocalFileSystem])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[NioRawLocalFileSystem])
    }
    val afs = FileContext.getFileContext(spark.sessionState.newHadoopConf()).getDefaultFileSystem
    assert(afs.getClass == classOf[NioLocalFs])
  }

  test("setPermission leaves the mode stock chmod leaves, on files and directories") {
    val dir = Files.createTempDirectory("graft-localfs-perm")
    for (mode <- Seq("600", "644", "700", "755"); kind <- Seq("file", "dir")) {
      val perm = octal(mode)
      val modes = Seq("stock" -> stockRaw, "nio" -> nioRaw).map { case (name, fs) =>
        val p = dir.resolve(s"$name-$kind-$mode")
        if (kind == "dir") Files.createDirectory(p) else Files.createFile(p)
        Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("rwxrwxrwx"))
        fs.setPermission(new Path(p.toUri), perm)
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }
      assert(modes == Seq.fill(2)(perm.toString), s"$kind $mode")
    }
  }

  test("getFileLinkStatus answers as stock for files, dirs, links, dangling links, missing paths") {
    val dir = Files.createTempDirectory("graft-localfs-link")
    val file = Files.write(dir.resolve("file"), "x".getBytes)
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("nowhere"))
    val missing = dir.resolve("missing")
    // access time left out: reading a status must not depend on it
    def view(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
      try {
        val s = fs.getFileLinkStatus(p)
        Right(Seq(s.getPath, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else None, s.getLen, s.getModificationTime,
          s.getPermission, s.getOwner, s.getGroup, s.getReplication, s.getBlockSize))
      } catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    val (stock, nio) = (stockRaw, nioRaw)
    for (p <- Seq(file, sub, link, dangling, missing);
         form <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(view(nio, form) == view(stock, form), form)
    }
    // the plain-path forms exercise the link branch
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    assert(view(nio, new Path(missing.toString)).isLeft)
  }

  test("a FileContext rename onto an existing file fails without OVERWRITE") {
    val dir = Files.createTempDirectory("graft-localfs-rename")
    val src = Files.write(dir.resolve("src"), "new".getBytes)
    val dst = Files.write(dir.resolve("dst"), "old".getBytes)
    val fc = FileContext.getFileContext(spark.sessionState.newHadoopConf())
    intercept[FileAlreadyExistsException] {
      fc.rename(new Path(src.toUri), new Path(dst.toUri))
    }
    assert(new String(Files.readAllBytes(dst)) == "old")
    fc.rename(new Path(src.toUri), new Path(dst.toUri), Options.Rename.OVERWRITE)
    assert(new String(Files.readAllBytes(dst)) == "new" && !Files.exists(src))
  }

  test("a RunningCounts trigger and a parquet write fork no chmod or readlink") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft-localfs-forks")
    // a stock chmod inside the recording: proves the recording sees forks
    val control = Files.createFile(dir.resolve("control"))
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val in = MemoryStream[String]
      val q = Jobs.RunningCounts.writer(in.toDF(), dir.resolve("ckpt").toString)
        .format("noop").start()
      try {
        in.addData("a b a", "b c")
        q.processAllAvailable()
      } finally q.stop()
      Seq(1L, 2L, 3L).toDF("x").write.parquet(dir.resolve("pq").toString)
      stockRaw.setPermission(new Path(control.toUri), octal("600"))
    } finally rec.stop()
    val jfr: JPath = dir.resolve("forks.jfr")
    rec.dump(jfr)
    rec.close()
    val commands = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
      .filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
    assert(commands.size == 1 && commands.head.endsWith(control.toRealPath().toString),
      s"expected only the control chmod, got:\n${commands.mkString("\n")}")
  }

  test("two reads of one table through Tables start no process") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-localfs-tables")
    Seq((0L, "AFRICA"), (1L, "AMERICA"), (2L, "ASIA")).toDF("r_regionkey", "r_name")
      .repartition(2).write.parquet(dir.resolve("region.parquet").toString)
    val t = Tables(spark, dir.toString)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      assert(t.region.count() == 3L)
      assert(t.region.collect().length == 3)
    } finally rec.stop()
    val jfr: JPath = dir.resolve("tables.jfr")
    rec.dump(jfr)
    rec.close()
    // the reads' own threads: this one (listing, planning) and the tasks
    // (footers, rows); a session cleaner's `rm -rf` elsewhere is not theirs
    val me = Thread.currentThread.getName
    val commands = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .filter { e =>
        val thread = Option(e.getThread).map(_.getJavaName).getOrElse("")
        thread == me || thread.startsWith("Executor task launch worker")
      }
      .map(_.getString("command"))
    assert(commands.isEmpty, s"forks in two table reads:\n${commands.mkString("\n")}")
  }

  test("a RunningCounts epoch commit forks nothing: state goes out as a changelog") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft-localfs-changelog")
    val in = MemoryStream[String]
    val q = Jobs.RunningCounts.writer(in.toDF(), dir.resolve("ckpt").toString)
      .format("noop").start()
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    try {
      // the first epoch loads the empty stores (their temp dirs go by rm)
      in.addData("a b a")
      q.processAllAvailable()
      rec.start()
      in.addData("b c")
      q.processAllAvailable()
      rec.stop()
    } finally q.stop()
    val jfr: JPath = dir.resolve("commit.jfr")
    rec.dump(jfr)
    rec.close()
    val commands = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    assert(commands.isEmpty, s"forks in an epoch:\n${commands.mkString("\n")}")
    val files = Files.walk(dir.resolve("ckpt").resolve("state"))
    try assert(files.iterator.asScala.exists(_.getFileName.toString.endsWith(".changelog")))
    finally files.close()
  }
}
