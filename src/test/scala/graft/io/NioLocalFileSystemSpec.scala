package graft.io

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The in-process `file:` filesystem: the stock filesystem's modes, and no
  * process per created file or directory. */
class NioLocalFileSystemSpec extends SparkSpec {

  private def init(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Permission bits of `p`, setuid, setgid and sticky included. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** [[mode]] of every path under `base`, keyed by its relative path. */
  private def modes(base: java.nio.file.Path): Map[String, Int] = {
    val paths = Files.walk(base)
    try paths.iterator().asScala.filter(_ != base)
      .map(p => base.relativize(p).toString -> mode(p)).toMap
    finally paths.close()
  }

  /** The processes this JVM starts while `body` runs, from a JFR
    * recording, as `thread: command line`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-process-starts", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => s"${e.getThread("eventThread").getJavaName}: ${e.getString("command")}")
    } finally { rec.close(); Files.delete(dump) }
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  test("files and nested directories get the stock filesystem's modes " +
    "under umask 022 and 077") {
    Seq("022" -> ("644", "755"), "077" -> ("600", "700")).foreach {
      case (umask, (fileMode, dirMode)) =>
        def tree(fs: FileSystem): Map[String, Int] = {
          val base = Files.createTempDirectory(s"graft-fs-$umask")
          val root = new Path(base.toUri)
          assert(fs.mkdirs(new Path(root, "a/b/c")))
          val out = fs.create(new Path(root, "a/b/c/part-0.bin"))
          try out.write(Array.tabulate[Byte](4096)(_.toByte)) finally out.close()
          modes(base)
        }
        val stock = tree(init(new LocalFileSystem, umask))
        val nio = tree(init(new NioLocalFileSystem, umask))
        assert(nio == stock, umask)
        assert(nio.keySet == Set("a", "a/b", "a/b/c", "a/b/c/part-0.bin",
          "a/b/c/.part-0.bin.crc"), umask)
        nio.foreach { case (rel, got) =>
          val want = if (rel.endsWith(".bin") || rel.endsWith(".crc")) fileMode
                     else dirMode
          assert(got == octal(want), s"$umask $rel")
        }
    }
  }

  test("setPermission matches the stock filesystem; 1777 takes the stock path") {
    val stock = init(new LocalFileSystem, "022")
    val nio = init(new NioLocalFileSystem, "022")
    Seq("000", "421", "640", "777", "1777").foreach { perm =>
      val got = Seq(stock, nio).map { fs =>
        val dir = Files.createTempDirectory("graft-fs-chmod")
        fs.setPermission(new Path(dir.toUri), new FsPermission(perm))
        mode(dir)
      }
      assert(got == Seq(octal(perm), octal(perm)), perm)
    }
  }

  test("the test session's file: filesystem starts no process for a " +
    "30-value partitioned write") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.getLocal(hadoopConf).isInstanceOf[NioLocalFileSystem])
    // the recording sees the stock filesystem's chmod
    val stock = init(new LocalFileSystem, "022")
    val probe = Files.createTempDirectory("graft-fs-probe")
    assert(processStarts(stock.setPermission(new Path(probe.toUri),
      new FsPermission("755"))).nonEmpty)
    val dir = Files.createTempDirectory("graft-fs-write").resolve("out")
    val df = spark.range(0, 3000, 1, 4)
      .select(col("id"), (col("id") % 30).cast("string").as("day"))
    // JDK Cleaner threads may `rm -rf` the artifact directories of
    // sessions that earlier suites left to the garbage collector; those
    // processes are not the write's
    val started = processStarts(
      PartitionedWriter.write(df, dir.toString, partitionCols = Seq("day")))
      .filterNot(_.startsWith("Cleaner-"))
    assert(started.isEmpty, started.mkString("\n"))
    val days = Files.list(dir).iterator().asScala.filter(Files.isDirectory(_))
    assert(days.size == 30)
  }
}
