package graft.kg

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.scalatest.funsuite.AnyFunSuite

class ForkFreeLocalFileSystemSpec extends AnyFunSuite {

  // constructed directly: Hadoop's JVM-wide FileSystem cache may already
  // hold a stock LocalFileSystem for file:// from an earlier suite
  private def initialized(fs: FileSystem): FileSystem = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff

  /** The `chmod` processes started while `body` runs. */
  private def chmodForks(body: => Unit): Int = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala
        .count(_.getString("command").contains("chmod"))
    } finally { rec.close(); Files.delete(dump) }
  }

  /** A file create, a mkdirs and an explicit 0600 under a fresh directory. */
  private def touch(fs: FileSystem): Unit = {
    val root = new Path(Files.createTempDirectory("graft-fs").toUri)
    fs.create(new Path(root, "f")).close()
    fs.mkdirs(new Path(root, "a/b"))
    fs.setPermission(new Path(root, "f"), new FsPermission(Integer.parseInt("600", 8).toShort))
  }

  test("creates, mkdirs and explicit modes give Hadoop's permissions") {
    val fs = initialized(new ForkFreeLocalFileSystem)
    val root = new Path(Files.createTempDirectory("graft-fs").toUri)
    val f = new Path(root, "data/part-0.parquet")
    fs.create(f).close()
    // default umask 022: files 0644, directories 0755
    assert(mode(f) == Integer.parseInt("644", 8))
    assert(mode(f.getParent) == Integer.parseInt("755", 8))
    val d = new Path(root, "x/y")
    assert(fs.mkdirs(d))
    assert(mode(d) == Integer.parseInt("755", 8))
    for (m <- Seq("600", "750")) {
      fs.setPermission(f, new FsPermission(Integer.parseInt(m, 8).toShort))
      assert(mode(f) == Integer.parseInt(m, 8), m)
    }
    val sticky = Integer.parseInt("1777", 8)
    fs.setPermission(d, new FsPermission(sticky.toShort))
    assert(mode(d) == sticky)
  }

  test("no chmod forks, where the stock local file system forks") {
    assert(chmodForks(touch(initialized(new ForkFreeLocalFileSystem))) == 0)
    if (!NativeCodeLoader.isNativeCodeLoaded)
      assert(chmodForks(touch(initialized(new LocalFileSystem))) >= 1)
  }

  test("KgPipeline.session installs it for file://") {
    val conf = SparkTestSession.spark.sparkContext.hadoopConfiguration
    assert(conf.get("fs.file.impl") == classOf[ForkFreeLocalFileSystem].getName)
    // what the session's conf resolves file:// to, past the JVM-wide cache
    val fs = FileSystem.newInstance(java.net.URI.create("file:///"), conf)
    try assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass)
    finally fs.close()
  }
}
