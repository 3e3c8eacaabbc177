package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.{IO, NioLocalFileSystem, NioLocalFs, Scratch}
import graft.streaming.EventStream

/** `file:` I/O through [[graft.sources.LocalFs]]: no process forks from
  * Hadoop, and the stock local filesystem's semantics (modes, `.crc`
  * sidecars, rename-with-overwrite, symlinks) unchanged. */
class LocalFsSpec extends SparkSpec {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix)

  /** `jdk.ProcessStart` events (with stacks) recorded around `body`. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft-forks", ".jfr")
    try { rec.dump(f); RecordingFile.readAllEvents(f).asScala.toSeq }
    finally { rec.close(); Files.delete(f) }
  }

  private def fromHadoop(e: RecordedEvent): Boolean =
    e.getStackTrace != null && e.getStackTrace.getFrames.asScala
      .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop"))

  private def describe(es: Seq[RecordedEvent]): String =
    es.map(e => e.getString("command").takeWhile(_ != ' ') + " <- " +
        e.getStackTrace.getFrames.asScala.map(_.getMethod.getType.getName)
          .find(c => !c.startsWith("java.") && !c.startsWith("org.apache.hadoop")).getOrElse("?"))
      .groupBy(identity).map { case (k, v) => s"${v.size}x $k" }.mkString("; ")

  private def conf = spark.sessionState.newHadoopConf()

  test("the recorder sees a fork from Hadoop's stock local filesystem") {
    // control: without this the zero-fork assertion below could be vacuous
    val dir = tmp("graft-localfs-ctl")
    val stock = new RawLocalFileSystem()
    stock.initialize(URI.create("file:///"), conf)
    val events = processStarts {
      stock.setPermission(new Path(dir.toString), new FsPermission("755"))
    }
    assert(events.exists(fromHadoop), s"no Hadoop fork recorded: ${events.size} events")
  }

  test("a checkpointed drain, a scratch write and a parquet read-back fork nothing from Hadoop") {
    val out = tmp("graft-localfs-drain").toString
    val events = processStarts {
      val q = EventStream.runToParquet(spark, sf, s"$out/sink", EventStream.backupMonitor)
      assert(q.awaitTermination(120000), "drain did not finish")
      q.stop()
      val scratch = Scratch.materialize(spark, "localfs_spec", java.util.UUID.randomUUID().toString)(
        spark.range(100).toDF("id"))
      assert(IO.readParquet(spark, s"$out/sink/batch_*").count() > 0)
      assert(IO.readParquet(spark, scratch).count() == 100)
    }
    val hadoop = events.filter(fromHadoop)
    assert(hadoop.isEmpty, s"${hadoop.size} Hadoop forks: ${describe(hadoop)}")

    // verification stays on: Hadoop checksum sidecars for the sink's
    // data files and the checkpoint's offset and commit logs
    def crcOk(dir: String): Unit = {
      val files = Files.list(Paths.get(dir)).iterator.asScala.map(_.getFileName.toString).toSet
      val data = files.filterNot(_.startsWith("."))
      assert(data.nonEmpty, s"$dir is empty")
      data.foreach(n => assert(files(s".$n.crc"), s"no .crc for $dir/$n"))
    }
    crcOk(s"$out/sink/batch_0")
    crcOk(s"$out/sink/_checkpoint/offsets")
    crcOk(s"$out/sink/_checkpoint/commits")
  }

  test("new files are 0644 and new directories 0755 under umask 022, as with chmod") {
    val dir = tmp("graft-localfs-mode")
    val stock = FileSystem.newInstanceLocal(new org.apache.hadoop.conf.Configuration())
    val ours = FileSystem.get(URI.create("file:///"), conf)
    assert(!stock.getClass.getName.startsWith("graft."))
    def modes(fs: FileSystem, name: String): (String, String) = {
      val d = new Path(s"$dir/$name/d")
      assert(fs.mkdirs(d))
      fs.create(new Path(d, "f")).close()
      (PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(s"$d"))),
        PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(s"$d/f"))))
    }
    try {
      assert(modes(ours, "nio") == (("rwxr-xr-x", "rw-r--r--")))
      assert(modes(stock, "stock") == modes(ours, "nio2"))
    } finally stock.close()
  }

  test("getFileStatus reports the mode and owner on disk") {
    val f = Files.createTempFile("graft-localfs-stat", ".bin")
    Files.setPosixFilePermissions(f, PosixFilePermissions.fromString("rwx-w---x"))
    val fs = FileSystem.get(URI.create("file:///"), conf)
    val st = fs.getFileStatus(new Path(f.toString))
    assert(st.getPermission.toString ==
      PosixFilePermissions.toString(Files.getPosixFilePermissions(f)))
    assert(st.getOwner == Files.getOwner(f).getName)
    assert(!st.isDirectory && st.getLen == 0L)
    val listed = fs.listStatus(new Path(f.getParent.toString))
      .find(_.getPath.getName == f.getFileName.toString).get
    assert(listed.getPermission == st.getPermission)
    intercept[java.io.FileNotFoundException](fs.getFileStatus(new Path(s"$f.missing")))
    assert(!fs.exists(new Path(s"$f/under-a-file")))
  }

  test("FileContext rename with OVERWRITE replaces an existing target") {
    val dir = tmp("graft-localfs-rename")
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    def write(p: Path, s: String): Unit = {
      val o = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      try o.write(s.getBytes(UTF_8)) finally o.close()
    }
    def read(p: Path): String = {
      val in = fc.open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    val (src, dst) = (new Path(s"$dir/src"), new Path(s"$dir/dst"))
    write(src, "new")
    write(dst, "old")
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](fc.rename(src, dst))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(read(dst) == "new")
    assert(!fc.util.exists(src))
    assert(Files.exists(dir.resolve(".dst.crc")) && !Files.exists(dir.resolve(".src.crc")))
  }

  test("a real symlink still reports isSymlink with its target") {
    val dir = tmp("graft-localfs-link")
    val target = Files.write(dir.resolve("target"), "x".getBytes(UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val fs = FileSystem.get(URI.create("file:///"), conf)
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink)
    assert(st.getSymlink == fs.makeQualified(new Path(target.toString)))
    assert(!fs.getFileLinkStatus(new Path(target.toString)).isSymlink)
  }

  test("sessions resolve file: to graft's filesystem, not a cached default") {
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[NioLocalFileSystem])
    assert(new Path(s"file://${sys.props("java.io.tmpdir")}").getFileSystem(conf)
      .getClass == classOf[NioLocalFileSystem])
  }
}
