package graft.sources

import org.apache.hadoop.fs.{CreateFlag, FileStatus, FSDataInputStream, FSDataOutputStream,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/**
 * Local filesystem whose permission operations use java.nio instead of
 * forking a `chmod` process per call.
 *
 * Without the hadoop native library (libhadoop.so — absent from plain
 * spark-jars deployments), `RawLocalFileSystem.setPermission` shells out
 * to `chmod` through `Shell.execCommand`, and the local FS calls it on
 * EVERY file create and mkdir (`LocalFSFileOutputStream` applies the
 * creation permission, `mkOneDirWithMode` likewise). A driver-side commit
 * therefore pays a process fork+exec (~5-15 ms each, worse under load)
 * per staged parquet file, per .crc shadow file, per log JSON, per
 * committer setup — profiling showed ~10% of a commit-heavy gate's wall
 * inside `ProcessImpl.forkAndExec` (OPTIMIZATION_r13.md). java.nio's
 * `Files.setPosixFilePermissions` is a single syscall.
 *
 * Scope: local FS only — hdfs/s3 schemes never hit this path, so wiring
 * this class in is an exact no-op for cluster deployments. Permission
 * SEMANTICS are unchanged: the same 9-bit rwx mask is applied; the rare
 * modes java.nio cannot express (sticky/setuid/setgid) fall back to the
 * forking implementation.
 *
 * It also counts operations in the FileSystem `statistics`, as the HDFS
 * client does: `open`, `listStatus`, `getFileStatus` and `exists` are read
 * ops; `create`, `createNonRecursive`, `mkdirs`, `rename` and `delete` are
 * write ops. Hadoop's own local FS counts only bytes, so without this
 * `getReadOps`/`getWriteOps` read 0 on `file:` paths. A call counts once,
 * however many of these methods it makes inside (`open` stats its file,
 * `listStatus` stats every entry, `create` probes and makes the parent).
 */
class GwNioRawLocalFileSystem extends RawLocalFileSystem {
  private val depth = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = Array(0)
  }

  private def op[A](write: Boolean)(body: => A): A = {
    val d = depth.get
    if (d(0) == 0 && statistics != null) {
      if (write) statistics.incrementWriteOps(1) else statistics.incrementReadOps(1)
    }
    d(0) += 1
    try body finally d(0) -= 1
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    op(write = false)(super.open(f, bufferSize))
  override def listStatus(f: Path): Array[FileStatus] = op(write = false)(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus = op(write = false)(super.getFileStatus(f))
  override def exists(f: Path): Boolean = op(write = false)(super.exists(f))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    op(write = true)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    op(write = true)(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    op(write = true)(super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    op(write = true)(super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def mkdirs(f: Path): Boolean = op(write = true)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    op(write = true)(super.mkdirs(f, permission))
  override def rename(src: Path, dst: Path): Boolean = op(write = true)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    op(write = true)(super.delete(f, recursive))

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) { super.setPermission(p, permission); return }
    import java.nio.file.attribute.PosixFilePermission
    import java.nio.file.attribute.PosixFilePermission._
    val order = Array(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE,
      GROUP_READ, GROUP_WRITE, GROUP_EXECUTE,
      OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    var i = 0
    while (i < 9) {
      if ((bits & (1 << (8 - i))) != 0) set.add(order(i))
      i += 1
    }
    try {
      java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      ()
    } catch {
      // non-POSIX store: keep the contract by delegating to the default
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
  }
}

/** The checksummed local FS over [[GwNioRawLocalFileSystem]] — drop-in for
  * `fs.file.impl` (same `file` scheme, same .crc shadow-file behavior as
  * the default LocalFileSystem; only the permission syscall path differs). */
class GwNioLocalFileSystem extends LocalFileSystem(new GwNioRawLocalFileSystem)
