package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.ops.IndexLog
import graft.sources.{NioLocalFileSystem, NioLocalFs}
import graft.streaming.{HampelSnapshot, HampelStream, SensorReading}
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** graft's `file:` filesystem: the session resolves it on both Hadoop
  * APIs, it writes what Hadoop's own local filesystem writes, and
  * checkpoint I/O runs without forking `chmod` or `readlink`.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def conf: Configuration = spark.sessionState.newHadoopConf()

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("the session resolves file: to graft's FileSystem and AbstractFileSystem") {
    assert(FileSystem.get(new URI("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("files, checksums, directories and permissions match Hadoop's local filesystem") {
    val c = conf
    c.set("fs.permissions.umask-mode", "027")
    val nio = FileSystem.newInstance(new URI("file:///"), c)
    val stock = new LocalFileSystem()
    stock.initialize(new URI("file:///"), c)
    assert(nio.isInstanceOf[NioLocalFileSystem] && !stock.isInstanceOf[NioLocalFileSystem])

    def write(fs: FileSystem, root: JPath): Unit = {
      val out = fs.create(new Path(root.resolve("f.bin").toString))
      try out.write(Array.tabulate[Byte](3000)(i => (i * 7).toByte)) finally out.close()
      fs.mkdirs(new Path(root.resolve("d/e").toString))
      fs.mkdirs(new Path(root.resolve("m/n").toString), new FsPermission("750"))
    }
    val (a, b) = (tmp("graft-nio"), tmp("graft-stock"))
    write(nio, a); write(stock, b)
    for (rel <- Seq("f.bin", ".f.bin.crc", "d", "d/e", "m", "m/n")) {
      val (pa, pb) = (a.resolve(rel), b.resolve(rel))
      assert(Files.exists(pa) && Files.exists(pb), rel)
      assert(mode(pa) == mode(pb), f"$rel: ${mode(pa)}%o vs ${mode(pb)}%o")
      if (Files.isRegularFile(pb))
        assert(Files.readAllBytes(pa).sameElements(Files.readAllBytes(pb)), rel)
    }
    assert(mode(a.resolve("f.bin")) == Integer.parseInt("640", 8))
    nio.close(); stock.close()
  }

  test("a sticky-bit setPermission still applies") {
    val fs = FileSystem.get(new URI("file:///"), conf)
    val dir = tmp("graft-sticky")
    fs.setPermission(new Path(dir.toString),
      new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1777", 8))
    fs.setPermission(new Path(dir.toString), new FsPermission("700"))
    assert(mode(dir) == Integer.parseInt("700", 8))
  }

  test("getFileLinkStatus tells a real symlink from a regular file") {
    val fs = FileSystem.get(new URI("file:///"), conf)
    val dir = tmp("graft-link")
    val target = Files.write(dir.resolve("target"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getPath == target.toString)
    assert(!fs.getFileLinkStatus(new Path(target.toString)).isSymlink)
    assert(!fs.getFileLinkStatus(new Path(target.toUri)).isSymlink)
  }

  test("index commits and a checkpointed stream start no chmod or readlink process") {
    val started = new ConcurrentLinkedQueue[String]()
    val rec = new RecordingStream()
    rec.enable("jdk.ProcessStart")
    rec.onEvent("jdk.ProcessStart", e => started.add(e.getString("command")))
    rec.startAsync()
    try {
      val idx = tmp("graft-fork-idx").resolve("idx").toString
      IndexLog.replace(spark, idx)(_("a", spark.range(3).toDF()))
      IndexLog.append(spark, idx)(_("a", spark.range(3, 5).toDF()))
      assert(IndexLog.read(spark, idx, "a").count() == 5L)

      implicit val ctx = spark.sqlContext
      val mem = MemoryStream[SensorReading]
      val got = new ConcurrentLinkedQueue[HampelSnapshot]()
      val q = HampelStream.run(mem.toDS()).writeStream
        .option("checkpointLocation", tmp("graft-fork-ckpt").toString)
        .foreachBatch { (b: Dataset[HampelSnapshot], _: Long) =>
          b.collect().foreach(got.add) }
        .start()
      try for (batch <- 0 until 3) {
        mem.addData((0 until 20).map { i =>
          val n = batch * 20 + i
          SensorReading("7", n, new Timestamp((19700L * 86400 + n * 60L) * 1000L), n % 5)
        })
        q.processAllAvailable()
      } finally q.stop()
      assert(!got.isEmpty)

      // a sentinel fork after the work: once it is seen, every earlier
      // process start has been delivered
      new ProcessBuilder("true").start().waitFor()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.asScala.exists(_ == "true") && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(started.asScala.exists(_ == "true"), "the recording saw no process start")
    } finally rec.close()

    val shelled = started.asScala.toSeq.filter { c =>
      val cmd = c.trim.split("\\s+").head.split('/').last
      cmd == "chmod" || cmd == "readlink"
    }
    assert(shelled.size == 0, s"chmod/readlink starts, e.g. ${shelled.take(3)}")
  }
}
