package graft.sources

import graft.log.AddFile
import java.io.FileNotFoundException
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

/**
 * Listing operators over the CDA directory layout
 * `<dataFilesPath>/<schemaId>/<commitTimestamp>/part-*.parquet`
 * (reference S3Access.scala:26-49) re-expressed on the Hadoop FileSystem
 * API so `file://`, `hdfs://` and `s3a://` all work transparently.
 *
 * All calls are metadata-scale (one listing per directory); at 100 TB the
 * cost is one delimiter listing per schema dir + per timestamp dir — never
 * a recursive walk and never a data read.
 */
object CdaLayout {

  /** The entries of `dir`, or None when it does not exist: one listing,
    * with no `exists` probe before it. */
  private def list(conf: Configuration, dir: String): Option[Array[FileStatus]] = {
    val p = new Path(dir)
    try Some(p.getFileSystem(conf).listStatus(p))
    catch { case _: FileNotFoundException => None }
  }

  /** Timestamp sub-directories of a schema dir, as epoch millis (S2). */
  def listTimestampDirectories(conf: Configuration, schemaDir: String): Seq[Long] =
    list(conf, schemaDir).toSeq.flatten
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.forall(_.isDigit))
      .map(_.toLong)

  /**
   * Data files of one timestamp dir as AddFile actions (S3 + S4):
   * hidden (`.`/`_`-prefixed) and non-parquet names dropped, zero-byte
   * files dropped (reference S3Access.scala:40-41, Guidewire.scala:145).
   * Paths stay absolute — shallow clone, data never moves (K4).
   */
  def listParquetFiles(conf: Configuration, timestampDir: String): Array[AddFile] =
    listParquetFiles(conf, timestampDir, withStats = false)

  /** As above; with `withStats` each file's footer min/max is harvested
    * into `AddFile.stats` for snapshot-level file skipping (a documented
    * deviation from the reference's `stats = null` — see
    * [[SchemaProbe.readStats]]). Files whose footer reports 0 rows stay:
    * CDA's record-less files are the schema of last resort. */
  def listParquetFiles(conf: Configuration, timestampDir: String, withStats: Boolean): Array[AddFile] = {
    val files = list(conf, timestampDir).getOrElse(Array.empty[FileStatus])
      .filter(_.isFile)
      .filter { st =>
        val n = st.getPath.getName
        !n.startsWith(".") && !n.startsWith("_") && n.endsWith(".parquet")
      }
      .filter(_.getLen > 0L)
      .map(st => AddFile(
        path = st.getPath.toString,
        size = st.getLen,
        modificationTime = st.getModificationTime,
        dataChange = true))
    if (withStats) withFooterStats(conf, files.toIndexedSeq).toArray else files
  }

  /** `files` with their footer stats, harvested in one parallel call. */
  def withFooterStats(conf: Configuration, files: IndexedSeq[AddFile]): IndexedSeq[AddFile] =
    files.zip(SchemaProbe.readStatsAll(conf, files.map(_.path)))
      .map { case (f, stats) => f.copy(stats = stats) }
}
