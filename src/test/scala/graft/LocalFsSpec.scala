package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.TxFixture._
import graft.batch.{BatchRegistry, BatchRequest, BatchService, BatchStatus, Upsert}
import graft.core.LocalFs
import graft.streaming.StreamingIngest

/** The in-process local filesystem: the same mode bits and link statuses
  * as Hadoop's stock raw local filesystem, installed for both Hadoop APIs
  * by the session, and no `chmod`/`readlink`/`stat` child process on the
  * merge, batch and streaming write paths. */
class LocalFsSpec extends SparkSpec {

  private def pair(): (RawLocalFileSystem, RawLocalFileSystem) = {
    val conf = spark.sessionState.newHadoopConf()
    val ours = new LocalFs.Raw
    val stock = new RawLocalFileSystem
    Seq(ours, stock).foreach(_.initialize(URI.create("file:///"), conf))
    (ours, stock)
  }

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  test("created and chmod-ed files and dirs carry the stock mode bits, sticky bit included") {
    val (ours, stock) = pair()
    val root = Files.createTempDirectory("localfs-perm")
    // the same operation through both filesystems, side by side
    def both(name: String)(op: (RawLocalFileSystem, Path) => Unit): Unit = {
      val modes = Seq(ours -> "ours", stock -> "stock").map { case (fs, side) =>
        val p = root.resolve(s"$side-$name")
        op(fs, new Path(p.toString))
        mode(p)
      }
      assert(modes.distinct.size == 1, s"$name: ours ${modes(0).toOctalString}, " +
        s"stock ${modes(1).toOctalString}")
    }
    for (m <- Seq("600", "644", "700", "755", "777")) {
      // creates apply the session umask, then setPermission
      both(s"file-$m")((fs, p) => fs.create(p, perm(m), false, 4096, 1, 1L << 20, null).close())
      both(s"dir-$m")((fs, p) => assert(fs.mkdirs(p, perm(m))))
      // a bare setPermission on an existing file or dir: no umask
      both(s"set-file-$m") { (fs, p) =>
        Files.createFile(java.nio.file.Paths.get(p.toString)); fs.setPermission(p, perm(m))
      }
      both(s"set-dir-$m") { (fs, p) =>
        Files.createDirectory(java.nio.file.Paths.get(p.toString)); fs.setPermission(p, perm(m))
      }
    }
    // the sticky bit and a setgid directory take the stock fallback
    both("sticky-dir")((fs, p) => assert(fs.mkdirs(p, perm("1777"))))
    both("set-sticky-dir") { (fs, p) =>
      Files.createDirectory(java.nio.file.Paths.get(p.toString)); fs.setPermission(p, perm("1777"))
    }
    assert((mode(root.resolve("ours-set-sticky-dir")) & 0x200) != 0, "sticky bit lost")
    both("setgid-dir") { (fs, p) =>
      val d = Files.createDirectory(java.nio.file.Paths.get(p.toString))
      Files.setAttribute(d, "unix:mode", Integer.parseInt("2775", 8))
      fs.setPermission(p, perm("750"))
    }
  }

  test("getFileLinkStatus: same status as stock for files and dirs, FNF when missing, symlinks resolved") {
    val (ours, stock) = pair()
    val root = Files.createTempDirectory("localfs-link")
    val file = Files.write(root.resolve("f"), Array[Byte](1, 2, 3))
    val dir = Files.createDirectory(root.resolve("d"))
    def fields(s: FileStatus) = (s.getPath, s.isDirectory, s.isSymlink, s.getLen,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    for (p <- Seq(file, dir); path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(fields(ours.getFileLinkStatus(path)) == fields(stock.getFileLinkStatus(path)), s"$path")
      assert(!ours.getFileLinkStatus(path).isSymlink)
    }
    val missing = new Path(root.resolve("missing").toString)
    Seq(ours, stock).foreach(fs => intercept[FileNotFoundException](fs.getFileLinkStatus(missing)))
    val link = new Path(Files.createSymbolicLink(root.resolve("l"), file).toString)
    val (o, s) = (ours.getFileLinkStatus(link), stock.getFileLinkStatus(link))
    assert(o.isSymlink && s.isSymlink)
    assert(o.getSymlink == s.getSymlink && o.getSymlink.toUri.getPath == file.toString)
  }

  test("the session resolves both Hadoop local APIs to the in-process classes") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[LocalFs.Checksummed], fs.getClass.getName)
    assert(FileSystem.getLocal(conf).getRawFileSystem.isInstanceOf[LocalFs.Raw])
    // the JVM-wide cache hands the same instance to a conf without the keys
    assert(FileSystem.get(URI.create("file:///"), new Configuration()) eq fs)
    val afs = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
    assert(afs.isInstanceOf[LocalFs.Fs], afs.getClass.getName)
    assert(afs.getUri == URI.create("file:///") && afs.getUriDefaultPort == -1)
  }

  test("a merge, a batch run and a streaming drain fork no chmod, readlink or stat") {
    val root = Files.createTempDirectory("localfs-forks").toString
    val source = s"$root/source"
    df(spark, (1 to 40).map(i => row(id = s"t$i", customerId = s"C${i % 4}",
      eventTs = ts(f"2026-01-${i % 4 + 1}%02d 10:00:00"))): _*)
      .withColumn("event_date", to_date(col("event_timestamp")))
      .write.partitionBy("event_date").parquet(source)
    val drop = Files.createDirectory(java.nio.file.Paths.get(root, "drop"))
    Files.write(drop.resolve("b1.json"), (1 to 4).map(i =>
      s"""{"transaction_id":"s$i","event_timestamp":"2026-01-0$i 10:00:00",""" +
        s""""customer_id":"C1","product_id":"P1","product_name":"W","category":"books",""" +
        s""""quantity":1,"unit_price":10.0,"total_amount":10.0,"currency":"USD",""" +
        s""""payment_method":"upi","transaction_status":"completed","channel":"web",""" +
        s""""region":"west","city":"Pune"}""").asJava)

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      import spark.implicits._
      Upsert.mergeByKey(spark, s"$root/merged",
        (0 until 50).map(i => (s"d${i % 2}", i.toLong, s"v$i")).toDF("day", "k", "v"),
        "day", Seq("k"))

      val svc = new BatchService(spark, new BatchRegistry(None), s"$root/batches")
      try {
        val Right(id) = svc.submit(source,
          BatchRequest("2026-01-01", "2026-01-04", "revenue_by_category"))
        val deadline = System.currentTimeMillis() + 120000
        def status = svc.status(id).get.status
        while (status != BatchStatus.Completed && status != BatchStatus.Failed &&
            System.currentTimeMillis() < deadline) Thread.sleep(50)
        assert(status == BatchStatus.Completed, svc.status(id).toString)
      } finally svc.shutdown()

      val q = StreamingIngest.start(spark, drop.toString, s"$root/stream", s"$root/ckpt")
      try q.processAllAvailable() finally q.stop()
      assert(StreamingIngest.readTable(spark, s"$root/stream").count() == 4)
    } finally rec.stop()

    val dump = Files.createTempFile("localfs-forks", ".jfr")
    rec.dump(dump)
    rec.close()
    val commands = RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
    Files.delete(dump)
    val forbidden = commands.filter { c =>
      Set("chmod", "readlink", "stat")(c.trim.split("\\s+").head.split('/').last)
    }
    assert(forbidden.size == 0,
      s"of ${commands.size} child processes, e.g. ${forbidden.take(5).mkString("; ")}")
  }
}
