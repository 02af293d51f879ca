package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import java.util.EnumSet
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  FsConstants, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.apps.LayeredPipeline

/** The fork-free `file:` filesystem behaves as the stock one (modes,
  * link status, checksummed renames), installs idempotently over a cached
  * stock instance, and runs a checkpointed RocksDB hop plus a parquet
  * write without starting a `chmod` or `readlink` process. */
class LocalFsSpec extends SparkSpec {

  private def tmp(tag: String) = Files.createTempDirectory(s"graft-localfs-$tag")

  private def init[F <: FileSystem](fs: F, conf: Configuration): F = {
    fs.initialize(URI.create("file:///"), conf); fs
  }

  /** Full mode bits (sticky included) of a path, not following links. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  test("files and dirs get the stock modes under the session umask") {
    for (umask <- Seq("022", "077")) {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set("fs.permissions.umask-mode", umask)
      def layout(fs: FileSystem): Map[String, Int] = {
        val root = tmp("modes")
        val at = (n: String) => new Path(root.toString, n)
        fs.create(at("f")).close()
        fs.mkdirs(at("d"))
        fs.mkdirs(at("d750"), new FsPermission("750"))
        fs.mkdirs(at("sticky"), new FsPermission("1777"))
        fs.create(at("f640")).close()
        fs.setPermission(at("f640"), new FsPermission("640"))
        Seq("f", ".f.crc", "d", "d750", "sticky", "f640", ".f640.crc")
          .map(n => n -> mode(root.resolve(n))).toMap
      }
      val stock = layout(init(new LocalFileSystem, conf))
      assert(layout(init(new ForkFreeLocalFileSystem, conf)) === stock,
        s"umask $umask")
    }
  }

  test("files and checksums are byte-compatible with the stock FS") {
    val conf = spark.sparkContext.hadoopConfiguration
    val stock = init(new LocalFileSystem, conf)
    val ours = init(new ForkFreeLocalFileSystem, conf)
    val root = tmp("compat")
    val payload = Array.tabulate[Byte](5000)(i => (i * 31).toByte)
    def write(fs: FileSystem, n: String): Unit = {
      val out = fs.create(new Path(root.toString, n))
      try out.write(payload) finally out.close()
    }
    def read(fs: FileSystem, n: String): Seq[Byte] = {
      val in = fs.open(new Path(root.toString, n))
      try Iterator.continually(in.read()).takeWhile(_ >= 0).map(_.toByte).toSeq
      finally in.close()
    }
    write(stock, "stock"); write(ours, "ours")
    def bytes(n: String) = Files.readAllBytes(root.resolve(n)).toSeq
    assert(bytes(".ours.crc") === bytes(".stock.crc"))
    // each side reads (and checksum-verifies) what the other wrote
    assert(read(ours, "stock") === payload.toSeq)
    assert(read(stock, "ours") === payload.toSeq)
  }

  test("getFileLinkStatus matches the stock FS on file, dir, symlink, missing") {
    val conf = spark.sparkContext.hadoopConfiguration
    val stock = init(new RawLocalFileSystem, conf)
    val ours = init(new ForkFreeRawLocalFileSystem, conf)
    val root = tmp("links")
    Files.write(root.resolve("file"), "abc".getBytes)
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    def view(st: FileStatus) = (st.getPath, st.isFile, st.isDirectory,
      st.isSymlink, st.getLen, if (st.isSymlink) st.getSymlink else null)
    for (n <- Seq("file", "dir", "link"); p <- Seq(root.resolve(n).toString,
      "file://" + root.resolve(n))) {
      val path = new Path(p)
      assert(view(ours.getFileLinkStatus(path)) ===
        view(stock.getFileLinkStatus(path)), p)
    }
    assert(stock.getFileLinkStatus(new Path(root.resolve("link").toString))
      .isSymlink, "fixture: the stock FS must see the symlink")
    val missing = new Path(root.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test("FileContext rename with OVERWRITE replaces its target") {
    val fc = FileContext.getFileContext(FsConstants.LOCAL_FS_URI,
      spark.sparkContext.hadoopConfiguration)
    assert(fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    val root = tmp("rename")
    def write(p: Path, body: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.writeUTF(body) finally out.close()
    }
    val src = new Path(root.toString, "src")
    val dst = new Path(root.toString, "dst")
    write(src, "new"); write(dst, "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(root.resolve("src")))
    assert(!Files.exists(root.resolve(".src.crc")))
    assert(Files.exists(root.resolve(".dst.crc")))
    // the checksummed read verifies dst against its moved .crc
    val in = fc.open(dst)
    try assert(in.readUTF() === "new") finally in.close()
  }

  test("install is idempotent, replaces a cached stock instance, and old handles keep working") {
    val conf = spark.sparkContext.hadoopConfiguration
    val uri = FsConstants.LOCAL_FS_URI
    try {
      // back to the stock setup: fs.file.impl unset, so Hadoop's service
      // discovery picks the class (Hive's ProxyLocalFileSystem on Spark's
      // classpath), as in a session used before the first install
      conf.unset("fs.file.impl")
      conf.set("fs.AbstractFileSystem.file.impl",
        classOf[org.apache.hadoop.fs.local.LocalFs].getName)
      FileSystem.get(uri, conf).close() // drop the cached fork-free one
      val old = FileSystem.get(uri, conf)
      assert(!old.isInstanceOf[ForkFreeLocalFileSystem])

      LocalFs.install(spark)
      val now = FileSystem.get(uri, conf)
      assert(now.isInstanceOf[ForkFreeLocalFileSystem])
      assert(conf.get("fs.AbstractFileSystem.file.impl") ===
        classOf[ForkFreeLocalFs].getName)
      LocalFs.install(spark)
      assert(FileSystem.get(uri, conf) eq now)

      val p = new Path(tmp("handle").toString, "after-close")
      val out = old.create(p)
      try out.writeUTF("still open") finally out.close()
      val in = now.open(p)
      try assert(in.readUTF() === "still open") finally in.close()

      // a half configured to another class is left alone
      conf.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
      LocalFs.install(spark)
      assert(conf.get("fs.file.impl") === classOf[RawLocalFileSystem].getName)
    } finally {
      conf.unset("fs.file.impl")
      LocalFs.install(spark)
    }
  }

  test("a checkpointed RocksDB hop and a parquet write start no chmod or readlink") {
    val s = spark; import s.implicits._
    withRocksDb {
      val stage = tmp("forks").toString
      val dwd = s"$stage/ledger_dwd"
      val day1 = 1700000000000L
      // three ledger segments of visit-log records, each advancing the
      // 0-delay watermark so the previous segment's visits drain
      def segment(v: Long): Unit = {
        val rows = (0 until 6).map(i => (s"m${i % 3}", s"p$i",
          new java.sql.Timestamp(day1 + v * 3600000L + i * 1000L)))
        assert(Kafka.txnProduce(rows.toDF("mid", "pageId", "ts")
          .select(lit("dwd_visit_log").as("topic"), to_json(struct(
            col("mid"), col("pageId"), lit("").as("lastPageId"),
            lit("1").as("isNew"), col("ts"))).as("value")), dwd, v))
      }
      val starts = new ConcurrentLinkedQueue[String]()
      val rs = new RecordingStream()
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart",
        (e: RecordedEvent) => starts.add(e.getString("command")))
      rs.startAsync()
      try {
        segment(0)
        val q = LayeredPipeline.dwdVisitsToUv(s, dwd, s"$stage/ledger_uv",
          s"$stage/ck_uv")
        try {
          q.processAllAvailable()
          for (v <- 1L to 2L) { segment(v); q.processAllAvailable() }
          assert(q.lastProgress.batchId >= 2L)
        } finally q.stop()
        s.range(1000).repartition(4).write.parquet(s"$stage/parquet")
        // a marker process: once the stream has delivered it, every
        // process start before it has been delivered too
        new ProcessBuilder("true").start().waitFor(30, TimeUnit.SECONDS)
        val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
        while (!starts.toArray.exists(_ == "true") &&
          System.nanoTime() < deadline) Thread.sleep(100)
      } finally rs.close()
      val commands = starts.toArray.map(_.toString).toSeq
      assert(commands.contains("true"), "JFR delivered no process start")
      val forked = commands.filter { c =>
        val exe = c.takeWhile(_ != ' ')
        exe.endsWith("chmod") || exe.endsWith("readlink")
      }
      assert(forked.isEmpty)
      assert(Files.exists(Paths.get(stage, "ledger_uv")))
    }
  }
}
