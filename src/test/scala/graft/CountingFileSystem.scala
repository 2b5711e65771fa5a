package graft

import java.net.URI
import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}

/**
 * Local filesystem under its own `cntfs` scheme that records the path of
 * every metadata call (`getFileStatus`, `listStatus`, `listLocatedStatus`).
 * Registered through `fs.cntfs.impl`, so it never depends on which
 * `file` FileSystem the cache handed out first.
 */
class CountingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "cntfs"
  override def getUri: URI = URI.create("cntfs:///")

  private def record(p: Path): Unit =
    CountingFileSystem.calls.add(makeQualified(p).toUri.getPath)

  override def getFileStatus(p: Path): FileStatus = { record(p); super.getFileStatus(p) }
  override def listStatus(p: Path): Array[FileStatus] = { record(p); super.listStatus(p) }
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] = {
    record(p); super.listLocatedStatus(p)
  }
}

object CountingFileSystem {
  /** Paths (scheme-less) of the metadata calls made so far. */
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
