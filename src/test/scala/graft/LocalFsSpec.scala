package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import graft.catalog.{PartitionSpec, TableRef}
import graft.exec.{AtomicWriter, ForkFreeLocalFileSystem, ForkFreeLocalFs,
  ForkFreeRawLocalFileSystem, Lease}
import graft.llm.{Dedup, DedupStore}
import graft.streaming.Streaming

/** graft's session writes local files without a Hadoop `Shell` child
  * process, and leaves on disk what Hadoop's stock local filesystem
  * leaves: the same modes, `.crc` siblings and symlink answers. A file
  * rename never replaces an existing file, as the Hadoop FileSystem
  * specification asks. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  /** The commands of the child processes `body` starts whose stack runs
    * through Hadoop's `Shell`, recorded by JFR in this JVM. */
  private def shellForks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val file = Files.createTempFile("localfs", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell")))
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(file) }
  }

  test("the session's file: filesystems are graft's fork-free classes") {
    val fs = FileSystem.get(new URI("file:///"), conf)
    assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ==
      classOf[ForkFreeRawLocalFileSystem])
    assert(FileSystem.get(new URI("file:///"),
      spark.sessionState.newHadoopConf()) eq fs)
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass ==
      classOf[ForkFreeLocalFs])
  }

  test("table swaps, store appends and a checkpointed stream start no Shell process") {
    // Shell's class init probes `bash` and `setsid` once per JVM; that is
    // no per-write fork, so it runs before the recording
    assert(!org.apache.hadoop.util.Shell.WINDOWS)
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = TableRef("default.localfs_swap")
    val base = MatQueries.tempDir("localfs_stream")
    val store = s"$base/store"
    val forks = shellForks {
      AtomicWriter.createOrReplace(spark,
        Seq((1L, "p1"), (2L, "p2")).toDF("id", "pt"), ref, part)
      AtomicWriter.overwriteTable(spark,
        Seq((3L, "p1"), (4L, "p3")).toDF("id", "pt"), ref, part)
      AtomicWriter.overwritePartitions(spark,
        Seq((5L, "p3")).toDF("id", "pt"), ref, part)
      DedupStore.append(spark, store, -1L,
        Dedup.fingerprintStore(Seq((1L, "history")).toDF("doc_id", "text"))
          .select($"fp"))
      val schema = MatQueries.landSlabs(base,
        Seq(Seq((10L, "a x"), (11L, "b y")).toDF("doc_id", "text")))
      MatQueries.drainSlabs(spark, base, schema, s"$base/ckpt")(
        Streaming.dedupIngestStream(spark, _, store, s"$base/out", _))
    }
    assert(forks.size == 0, s"Hadoop Shell processes, first: ${forks.take(3)}")
    assert(spark.table(ref.render).select("id").as[Long].collect().sorted
      .toSeq == Seq(3L, 5L))
    assert(spark.read.parquet(s"$base/out").count() == 2)
  }

  /** `path`'s permission bits, sticky, setuid and setgid included. */
  private def mode(path: String): Int =
    Files.getAttribute(Paths.get(path), "unix:mode").asInstanceOf[Int] & 0xfff

  test("files and dirs get the modes stock LocalFileSystem gives them, with .crc") {
    val dir = MatQueries.tempDir("localfs_modes")
    for (umask <- Seq(None, Some("077"), Some("002"))) {
      val c = new Configuration(conf)
      umask.foreach(c.set(FsPermission.UMASK_LABEL, _))
      val ours = new ForkFreeLocalFileSystem
      val stock = new LocalFileSystem
      Seq(ours, stock).foreach(_.initialize(new URI("file:///"), c))
      def made(fs: FileSystem, tag: String): Seq[Int] = {
        val p = s"$dir/${tag}_${umask.getOrElse("session")}"
        fs.create(new HPath(s"$p/file")).close()
        fs.mkdirs(new HPath(s"$p/dir"))
        fs.mkdirs(new HPath(s"$p/dir750"), new FsPermission("750"))
        FileSystem.create(fs, new HPath(s"$p/file640"), new FsPermission("640"))
          .close()
        assert(new java.io.File(s"$p/.file.crc").isFile)
        Seq("", "/file", "/.file.crc", "/dir", "/dir750", "/file640")
          .map(s => mode(p + s))
      }
      assert(made(ours, "ours") == made(stock, "stock"), s"umask $umask")
    }
  }

  test("a symlink still reads as one; a sticky-bit mode is still applied") {
    val dir = MatQueries.tempDir("localfs_links")
    val target = Paths.get(s"$dir/target")
    Files.write(target, Array[Byte](1, 2, 3))
    val link = new HPath(
      Files.createSymbolicLink(Paths.get(s"$dir/link"), target).toString)
    val stockConf = new Configuration(conf)
    stockConf.set("fs.AbstractFileSystem.file.impl",
      classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    val stock = new LocalFileSystem
    stock.initialize(new URI("file:///"), stockConf)
    val fs = FileSystem.get(new URI("file:///"), conf)
    val st = fs.getFileLinkStatus(link)
    assert(st.isSymlink && st.getSymlink == new HPath(s"file:$target"))
    assert(st.getSymlink == stock.getFileLinkStatus(link).getSymlink)
    val fcSt = FileContext.getFileContext(conf).getFileLinkStatus(link)
    assert(fcSt.isSymlink && fcSt.getSymlink ==
      FileContext.getFileContext(stockConf).getFileLinkStatus(link).getSymlink)
    val plain = fs.getFileLinkStatus(new HPath(target.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 3)
    val sticky = new HPath(s"$dir/sticky")
    fs.mkdirs(sticky)
    fs.setPermission(sticky, new FsPermission(Integer.parseInt("1775", 8).toShort))
    assert(mode(s"$dir/sticky") == Integer.parseInt("1775", 8))
  }

  test("a file renamed onto an existing file fails and leaves it intact") {
    val dir = MatQueries.tempDir("localfs_rename")
    val fs = FileSystem.get(new URI("file:///"), conf)
    def put(p: HPath, s: String): Unit = {
      val out = fs.create(p, false)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    // through the checksummed filesystem, so a replaced `.crc` would
    // also fail the read below
    def read(p: HPath): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val (src, dst) = (new HPath(s"$dir/src"), new HPath(s"$dir/dst"))
    put(dst, "the first writer")
    put(src, "the second writer, longer")
    assert(!fs.rename(src, dst))
    assert(read(dst) == "the first writer")
    assert(read(src) == "the second writer, longer")
    // onto a free name the file and its `.crc` move as before
    val free = new HPath(s"$dir/free")
    assert(fs.rename(src, free) && read(free) == "the second writer, longer")
    assert(!fs.exists(src) && !new java.io.File(s"$dir/.src.crc").exists)
    assert(new java.io.File(s"$dir/.free.crc").isFile)
  }

  test("a second Lease.tryAcquire on a held path gets None") {
    val fs = FileSystem.get(new URI("file:///"), conf)
    val path = new HPath(s"${MatQueries.tempDir("localfs_lease")}/compacting")
    val first = Lease.tryAcquire(fs, path, 60000L)
    assert(first.nonEmpty)
    try assert(Lease.tryAcquire(fs, path, 60000L).isEmpty,
      "two acquirers both hold the lease")
    finally first.foreach(_.release())
    assert(!fs.exists(path))
    // released, the lease is free again, and no temp file is left beside it
    Lease.tryAcquire(fs, path, 60000L).get.release()
    assert(fs.listStatus(path.getParent).isEmpty)
  }
}
