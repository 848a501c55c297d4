package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs, Lake}
import graft.streaming.{StreamDedup, StreamRollup}

/** JFR marker committed after the measured work: once the stream has
  * delivered it, every process start before it has been delivered too.
  */
@jdk.jfr.Name("graft.SpawnProbeDone")
class SpawnProbeDone extends jdk.jfr.Event

/** The fork-free `file:` binding (graft.sources.LocalFs): Spark's local
  * writers start no OS process under a [[GraftSession.configure]]
  * session, and the binding answers every question the same way as
  * Hadoop's stock `LocalFileSystem` / `LocalFs`.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Commands of the processes the JVM started while `body` ran, except
    * Spark's artifact-dir cleanup: when GC collects a session (every
    * streaming query clones one, so earlier specs leave some behind) a
    * Cleaner thread deletes its artifact dir with `rm -rf`, at a moment
    * no spec controls.
    */
  private def spawnsDuring(body: => Unit): Seq[String] = {
    val spawned = new ConcurrentLinkedQueue[String]()
    val done = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[SpawnProbeDone])
      rs.onEvent("jdk.ProcessStart", { e =>
        val frames = Option(e.getStackTrace).map(_.getFrames.asScala).getOrElse(Nil)
        if (!frames.exists(_.getMethod.getType.getName
            .startsWith("org.apache.spark.sql.artifact.ArtifactManager")))
          spawned.add(e.getString("command"))
      })
      rs.onEvent("graft.SpawnProbeDone", _ => done.countDown())
      rs.startAsync()
      body
      new SpawnProbeDone().commit()
      assert(done.await(60, TimeUnit.SECONDS), "JFR marker never arrived")
    } finally rs.close()
    spawned.asScala.toSeq
  }

  test("streaming drains and a daily lake write start zero processes") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new URI("file:///"), hc).isInstanceOf[ForkFreeLocalFileSystem])
    // one event a minute from 2024-01-01 over ~2 days, 37 series
    val ev = spark.range(3000).select(col("id").as("event_id"),
      (col("id") % 37).as("user_id"), (lit(1704067200000000L) + col("id") * 60000000L).as("ts"),
      (col("id") % 101).cast("double").as("value"))
    val base = Files.createTempDirectory("graft_localfs").toString
    ev.repartition(3).write.parquet(s"$base/src")
    def stream(filesPerTrigger: Int) = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toLong).parquet(s"$base/src")
    // Spark's executor-metrics poller probes the page size once per JVM
    // (`getconf PAGESIZE`) on its first heartbeat; take that spawn now
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")

    val spawned = spawnsDuring {
      val q1 = Lake.streamAppendDaily(StreamDedup(stream(3), "ts", Seq("event_id")),
        "ts", s"$base/lake", s"$base/ck_lake")
      try q1.processAllAvailable() finally q1.stop()
      // one file per trigger: several state-store versions and commits
      val q2 = StreamRollup.fixedWindow(stream(1),
          "ts", Seq("user_id"), "5m", "10 minutes",
          Seq(count(lit(1)).as("n"), sum(col("value")).as("sum_value")))
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/rollup").option("checkpointLocation", s"$base/ck_rollup")
        .start()
      try q2.processAllAvailable() finally q2.stop()
      Lake.writeDaily(ev, "ts", s"$base/daily")
    }
    assert(spawned.isEmpty, spawned.groupBy(_.takeWhile(_ != ' '))
      .map { case (cmd, n) => s"${n.size}x $cmd" }.mkString(", "))
    // the drains did their work
    assert(Lake.read(spark, s"$base/lake", "ts").df.count() == ev.count())
    assert(spark.read.parquet(s"$base/daily").count() == ev.count())
    assert(Files.list(Paths.get(s"$base/ck_rollup/state/0/0")).iterator.asScala
      .exists(_.getFileName.toString.endsWith(".crc")))
  }

  // ------------------------------------------------------------ parity

  private def conf(umask: Option[String]): Configuration = {
    val c = new Configuration()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  private def fileSystem(forkFree: Boolean, c: Configuration): FileSystem = {
    val fs = if (forkFree) new ForkFreeLocalFileSystem else new LocalFileSystem
    fs.initialize(new URI("file:///"), c)
    fs
  }

  private def fileContext(forkFree: Boolean, c: Configuration): FileContext = {
    val fc = new Configuration(c)
    fc.set("fs.AbstractFileSystem.file.impl",
      if (forkFree) classOf[ForkFreeLocalFs].getName else "org.apache.hadoop.fs.local.LocalFs")
    FileContext.getFileContext(new URI("file:///"), fc)
  }

  /** Relative path -> `rwx` mode string of every entry under `root`. */
  private def modes(root: String): Map[String, String] =
    Files.walk(Paths.get(root)).iterator.asScala.drop(1).map { p =>
      Paths.get(root).relativize(p).toString ->
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap

  test("mode bits after create and mkdirs match stock Hadoop, default and 077 umask") {
    for (umask <- Seq(None, Some("077"))) {
      val c = conf(umask)
      val Seq(stock, ours) = Seq(false, true).map { forkFree =>
        val root = Files.createTempDirectory("graft_localfs_mode").toString
        val fs = fileSystem(forkFree, c)
        fs.create(new Path(s"$root/fs/a/f")).close()
        fs.mkdirs(new Path(s"$root/fs/d"))
        fs.mkdirs(new Path(s"$root/fs/e/f"), new FsPermission("755"))
        fs.setPermission(new Path(s"$root/fs/d"), new FsPermission("1777"))
        val fc = fileContext(forkFree, c)
        fc.mkdir(new Path(s"file://$root/fc/d"), FsPermission.getDirDefault, true)
        fc.create(new Path(s"file://$root/fc/d/f"),
          java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent()).close()
        modes(root)
      }
      assert(stock == ours, s"umask $umask")
      assert(stock.contains("fs/a/.f.crc") && stock.contains("fc/d/.f.crc"))
      if (umask.contains("077")) assert(ours("fs/a/f") == "rw-------", ours)
    }
  }

  private def linkSig(fs: FileSystem, p: Path): Either[String, (String, Boolean, Boolean, String, Long)] =
    try {
      val st: FileStatus = fs.getFileLinkStatus(p)
      Right((st.getPath.toString, st.isDirectory, st.isSymlink,
        if (st.isSymlink) st.getSymlink.toString else "", st.getLen))
    } catch { case e: FileNotFoundException => Left(e.getClass.getName) }

  test("getFileLinkStatus matches stock Hadoop on file, dir, missing and symlink") {
    val root = Files.createTempDirectory("graft_localfs_link")
    Files.write(root.resolve("file"), "abc".getBytes(UTF_8))
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val c = conf(None)
    val (stock, ours) = (fileSystem(false, c), fileSystem(true, c))
    val fcs = Seq(false, true).map(fileContext(_, c))
    for (name <- Seq("file", "dir", "missing", "link", "dangling");
         p <- Seq(new Path(root.resolve(name).toString),
                  new Path(s"file://${root.resolve(name)}"))) {
      assert(linkSig(stock, p) == linkSig(ours, p), p)
      val Seq(s, o) = fcs.map { fc =>
        try Right(fc.getFileLinkStatus(p).toString)
        catch { case e: FileNotFoundException => Left(e.getClass.getName) }
      }
      assert(s == o, p)
    }
    // the unqualified form reaches readlink, so stock reports the link
    val link = linkSig(ours, new Path(root.resolve("link").toString))
    assert(link.exists(l => l._3 && l._4 == s"file:${root.resolve("file")}"), link)
    assert(linkSig(ours, new Path(root.resolve("missing").toString)).isLeft)
  }

  test("FileContext.rename with OVERWRITE matches stock Hadoop, .crc sidecars included") {
    val c = conf(None)
    val Seq(stock, ours) = Seq(false, true).map { forkFree =>
      val root = Files.createTempDirectory("graft_localfs_rename").toString
      val fc = fileContext(forkFree, c)
      def write(name: String, body: String): Unit = {
        val out = fc.create(new Path(s"file://$root/$name"),
          java.util.EnumSet.of(CreateFlag.CREATE))
        try out.write(body.getBytes(UTF_8)) finally out.close()
      }
      write("src", "new contents"); write("dst", "old")
      val clash = try {
        fc.rename(new Path(s"file://$root/src"), new Path(s"file://$root/dst"))
        "renamed"
      } catch { case e: java.io.IOException => e.getClass.getName }
      fc.rename(new Path(s"file://$root/src"), new Path(s"file://$root/dst"),
        Options.Rename.OVERWRITE)
      val in = fc.open(new Path(s"file://$root/dst"))
      val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
      (clash, body, modes(root).keySet)
    }
    assert(stock == ours)
    assert(ours == ("org.apache.hadoop.fs.FileAlreadyExistsException", "new contents",
      Set("dst", ".dst.crc")))
  }
}
