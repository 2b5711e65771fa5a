package graft

import graft.sources.{GwNioLocalFileSystem, GwNioRawLocalFileSystem}
import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The engine's local FileSystem counts operations in `statistics`, as the
  * HDFS client does; Hadoop's own local FS counts only bytes. */
class NioLocalFsSpec extends AnyFunSuite {

  test("read and write ops are counted once per raw call, .crc shadow files included") {
    val fs = new GwNioLocalFileSystem()
    fs.initialize(URI.create("file:///"), new Configuration())
    @annotation.nowarn("cat=deprecation")
    val stats = FileSystem.getStatistics("file", classOf[GwNioRawLocalFileSystem])
    // per-thread counts: other suites' tasks run on other threads
    def ops(body: => Any): (Long, Long) = {
      val t = stats.getThreadStatistics
      val (r0, w0) = (t.getReadOps, t.getWriteOps)
      body
      (t.getReadOps - r0, t.getWriteOps - w0)
    }
    val dir = new Path(Files.createTempDirectory("nio-ops").toUri.toString, "a/b")
    val file = new Path(dir, "f.bin")
    val moved = new Path(dir, "g.bin")
    // (read ops, write ops); a recursive mkdirs is one call
    assert(ops(fs.mkdirs(dir)) == ((0, 1)))
    // mkdirs of the parent, then the data file and its .crc
    assert(ops { val out = fs.create(file); out.write(Array[Byte](1, 2, 3)); out.close() } ==
      ((0, 3)))
    assert(ops(fs.getFileStatus(file)) == ((1, 0)))
    assert(ops(fs.exists(file)) == ((1, 0)))
    // one listing, not one more per entry it stats
    assert(ops(fs.listStatus(dir)) == ((1, 0)))
    // the checker stats the file, then opens it and its .crc
    assert(ops { val in = fs.open(file); in.read(); in.close() } == ((3, 0)))
    // is-directory probes of both sides and the .crc probe; both renames
    assert(ops(fs.rename(file, moved)) == ((3, 2)))
    // the status and .crc probes; both deletes
    assert(ops(fs.delete(moved, false)) == ((2, 2)))
  }
}
