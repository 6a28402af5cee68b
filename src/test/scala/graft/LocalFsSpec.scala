package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.gen.SalesGen
import graft.storage.{ShellFreeLocalFileSystem, ShellFreeLocalFs,
  ShellFreeRawLocalFileSystem}
import graft.streaming.StreamAssembly

/** The shell-free `file:` file system: `core-site.xml` registers it for
  * both Hadoop APIs, it answers exactly as the stock local file system
  * does, and checkpoint, sink, finite-drain and table-read paths start no
  * process.
  */
class LocalFsSpec extends SparkSpec {

  private val root = URI.create("file:///")

  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(root, new Configuration()); fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val shellFree = init(new ShellFreeRawLocalFileSystem)

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF

  /** The `jdk.ProcessStart` events during `body`: command and stack top. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val out = Files.createTempFile("graft_localfs", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames
            .asScala.take(12).map(f => s"${f.getMethod.getType.getName}" +
              s".${f.getMethod.getName}"))
          s"${e.getString("command")} at ${frames.mkString(" < ")}"
        }
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  test("core-site.xml makes the shell-free classes the file: file system " +
       "for both Hadoop APIs") {
    val conf = new Configuration()
    assert(FileSystem.get(root, conf).getClass ===
      classOf[ShellFreeLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass ===
      classOf[ShellFreeRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      .getClass === classOf[ShellFreeLocalFs])
    assert(new Path(Files.createTempDirectory("graft_localfs").toUri)
      .getFileSystem(spark.sessionState.newHadoopConf()).getClass ===
      classOf[ShellFreeLocalFileSystem])
  }

  test("setPermission leaves the same mode as the stock file system") {
    val dir = Files.createTempDirectory("graft_localfs_perm")
    for (m <- Seq("0644", "0700", "0755", "1777");
         isDir <- Seq(false, true)) {
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      val Seq(a, b) = Seq("stock", "free").map { side =>
        val p = dir.resolve(s"$side-$m-$isDir")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
      }
      stock.setPermission(new Path(a.toUri), perm)
      shellFree.setPermission(new Path(b.toUri), perm)
      assert(Files.getPosixFilePermissions(b) ===
        Files.getPosixFilePermissions(a), s"$m dir=$isDir")
      assert(mode(b) === mode(a), s"$m dir=$isDir")
      assert(mode(b) === Integer.parseInt(m, 8), s"$m dir=$isDir")
    }
    // shell chmod keeps a directory's setgid bit; so must the override
    val Seq(a, b) = Seq("stock", "free").map { side =>
      val p = Files.createDirectory(dir.resolve(s"$side-setgid"))
      Files.setAttribute(p, "unix:mode", Integer.parseInt("2755", 8))
      p
    }
    val perm = new FsPermission(Integer.parseInt("0700", 8).toShort)
    stock.setPermission(new Path(a.toUri), perm)
    shellFree.setPermission(new Path(b.toUri), perm)
    assert(mode(b) === mode(a))
  }

  test("getFileLinkStatus matches the stock file system for a file, a " +
       "directory and a symlink, and fails the same way on a missing path") {
    val dir = Files.createTempDirectory("graft_localfs_link")
    val file = Files.write(dir.resolve("f"), "abc".getBytes)
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    def view(fs: FileSystem, p: Path) = {
      val s = fs.getFileLinkStatus(p)
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        s.getModificationTime, s.getPermission,
        if (s.isSymlink) Some(s.getSymlink) else None)
    }
    // FileContext passes qualified `file:` paths; plain paths also occur
    for (p <- Seq(file, sub, link);
         path <- Seq(new Path(p.toUri), new Path(p.toString)))
      assert(view(shellFree, path) === view(stock, path), path)
    assert(shellFree.getFileLinkStatus(new Path(link.toString)).isSymlink)
    val missing = new Path(dir.resolve("missing").toUri)
    intercept[java.io.FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[java.io.FileNotFoundException](
      shellFree.getFileLinkStatus(missing))
  }

  test("partials-sink micro-batches and a table read start no process") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the instrument sees a process start: the stock file system's chmod
    val probe = Files.createTempFile("graft_localfs_probe", "")
    assert(NativeIO.isAvailable || processStarts(stock.setPermission(
      new Path(probe.toUri), new FsPermission("644"))).nonEmpty)

    val sf = Files.createTempDirectory("graft_localfs_sf").toString
    Seq((1L, java.sql.Timestamp.valueOf("2026-01-17 05:10:00")))
      .toDF("event_id", "ts").write.parquet(s"$sf/events.parquet")
    val all = SalesGen.ordersJson(spark, 300).collect().map(_.getString(0))
    val batches = all.grouped(100).toSeq
    val outDir = Files.createTempDirectory("graft_localfs_out").toString
    val ckDir = Files.createTempDirectory("graft_localfs_ck").toString
    val stream = MemoryStream[String]
    graft.ops.Memo.clearAll()
    // Spark's executor metrics run `getconf PAGESIZE` once per JVM, at the
    // first heartbeat after the session starts; take that start first
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val started = processStarts {
      val q = StreamAssembly.startHourlyPartialsSink(
        StreamAssembly.ingest(stream.toDF()), outDir, ckDir)
      try batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      finally q.stop()
      assert(Tables.events(spark, sf).count() === 1)
      // a finite drain: staging, the drain and its read-back (a fresh
      // session so the staged-source memo cannot skip the staging)
      assert(StreamAssembly.streamStaticEnrich(spark.newSession(),
        "/root/testdata/sf0.001").collect().nonEmpty)
    }
    assert(started.isEmpty, started.mkString("; "))
    assert(new java.io.File(ckDir, "commits").list()
      .count(_.forall(_.isDigit)) === 3)
    assert(StreamAssembly.compactHourlyPartials(spark, outDir).count() > 0)
  }
}
