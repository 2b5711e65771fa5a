package graft

import java.net.URI
import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}

/**
 * Local filesystem under its own `cntfs` scheme that records the path of
 * every metadata call (`getFileStatus`, `listStatus`, `listLocatedStatus`),
 * and the kind of each call (plus `exists`, which the local filesystem
 * answers without `getFileStatus`). Registered through `fs.cntfs.impl`, so it
 * never depends on which `file` FileSystem the cache handed out first.
 * `RawLocalFileSystem.listStatus` stats each entry through
 * `getFileStatus`, so a listing of a directory also records one
 * `getFileStatus` per child.
 */
class CountingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "cntfs"
  override def getUri: URI = URI.create("cntfs:///")

  private def record(kind: String, p: Path): Unit = {
    val path = makeQualified(p).toUri.getPath
    CountingFileSystem.calls.add(path)
    CountingFileSystem.kinds.add(kind -> path)
  }

  override def getFileStatus(p: Path): FileStatus = {
    record("getFileStatus", p); super.getFileStatus(p)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    record("listStatus", p); super.listStatus(p)
  }
  override def exists(p: Path): Boolean = {
    CountingFileSystem.kinds.add("exists" -> makeQualified(p).toUri.getPath)
    super.exists(p)
  }
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] = {
    record("listLocatedStatus", p); super.listLocatedStatus(p)
  }
}

object CountingFileSystem {
  /** Paths (scheme-less) of the metadata calls made so far. */
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** (call kind, scheme-less path) of the same calls, in order. */
  val kinds = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
}
