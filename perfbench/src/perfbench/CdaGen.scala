package perfbench

import java.nio.file.{Files, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** One generated CDA row. `region` exists only under the second fingerprint. */
final case class CdaRow(id: Long, name: String, amount: Long, updatedMs: Long)

/** A data file of a folder: a copy of template `template` of its
  * fingerprint, so many folders cost one parquet encode each template. */
final case class CdaFile(name: String, template: Int, rows: IndexedSeq[CdaRow]) {
  def amountSum: Long = rows.map(_.amount).sum
}

/** One `<ts>` folder; no files = a record-less folder. */
final case class Folder(fingerprint: String, ts: Long, files: IndexedSeq[CdaFile])

final case class CdaTable(name: String, fp1: String, fp2: String, folders: IndexedSeq[Folder]) {
  /** Live files after folders `[0, landed)` are indexed: a landed second
    * fingerprint with files restates the table, replacing the first. */
  def liveFiles(landed: Int): Seq[CdaFile] = {
    val l = folders.take(landed).filter(_.files.nonEmpty)
    val restated = l.filter(_.fingerprint == fp2)
    (if (restated.nonEmpty) restated else l).flatMap(_.files)
  }
}

/**
 * Seeded Guidewire CDA trees: `<root>/<table>/<fingerprint>/<ts>/part-*.parquet`
 * plus the manifest the CDA writer maintains beside them. The same seed
 * gives the same plan, the same file bytes and the same manifests.
 */
object CdaGen {
  private val Fp1 = MessageTypeParser.parseMessageType(
    "message cda { required int64 id; required binary name (STRING); " +
      "required int64 amount; required int64 updated_ms; }")
  private val Fp2 = MessageTypeParser.parseMessageType(
    "message cda { required int64 id; required binary name (STRING); " +
      "required int64 amount; required int64 updated_ms; optional binary region (STRING); }")

  /**
   * @param switchAt per table, the folder index where the second
   *                 fingerprint starts (beyond the end = never)
   * @param recordLess per table, folder indexes written without records
   */
  def plan(seed: Long, tables: Int, folders: Int, filesPerFolder: Int, rowsPerFile: Int,
      switchAt: Int => Int, recordLess: Int => Set[Int]): IndexedSeq[CdaTable] = {
    val rng = new scala.util.Random(seed)
    (0 until tables).map { t =>
      val name = f"pc_table$t%02d"
      val fp1 = f"${rng.nextLong() & 0xffffffffffffL}%012x"
      val fp2 = f"${rng.nextLong() & 0xffffffffffffL}%012x"
      val base = 1700000000000L + t * 1000L
      var nextId = t * 1000000000L
      val templates = (0 until Templates).map { _ =>
        (0 until rowsPerFile).map { _ =>
          nextId += 1 + rng.nextInt(3)
          CdaRow(nextId, s"n${rng.nextInt(100000)}", rng.nextInt(10000).toLong, base - rng.nextInt(50000))
        }
      }
      val fs = (0 until folders).map { k =>
        val ts = base + k * 60000L + rng.nextInt(1000)
        val files =
          if (recordLess(t).contains(k)) IndexedSeq.empty
          else (0 until filesPerFolder).map { f =>
            val tpl = rng.nextInt(Templates)
            CdaFile(f"part-$f%05d-$k%05d.parquet", tpl, templates(tpl))
          }
        Folder(if (k >= switchAt(t)) fp2 else fp1, ts, files)
      }
      CdaTable(name, fp1, fp2, fs)
    }
  }

  /** Distinct file contents per (table, fingerprint). */
  val Templates = 6

  /** Where template `i` of a fingerprint is encoded before being copied
    * into folders (outside every table's data tree). */
  def templatePath(root: Path, t: CdaTable, fp: String, i: Int): Path =
    root.resolve("_templates").resolve(t.name).resolve(s"$fp-$i.parquet")

  def tableDir(root: Path, t: CdaTable): Path = root.resolve(t.name)

  def folderDir(root: Path, t: CdaTable, f: Folder): Path =
    tableDir(root, t).resolve(f.fingerprint).resolve(f.ts.toString)

  /** Writes every folder of every table under `root`. */
  def materialize(root: Path, tables: Seq[CdaTable]): Unit = {
    val written = scala.collection.mutable.Set.empty[Path]
    tables.foreach { t =>
      t.folders.foreach { f =>
        val dir = folderDir(root, t, f)
        Files.createDirectories(dir)
        if (f.files.isEmpty) Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
        f.files.foreach { file =>
          val tpl = templatePath(root, t, f.fingerprint, file.template)
          if (written.add(tpl)) writeParquet(tpl, file.rows, second = f.fingerprint == t.fp2)
          Files.copy(tpl, dir.resolve(file.name))
        }
      }
    }
  }

  private def writeParquet(path: Path, rows: Seq[CdaRow], second: Boolean): Unit = {
    Files.createDirectories(path.getParent)
    val schema: MessageType = if (second) Fp2 else Fp1
    val factory = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(schema).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows.foreach { r =>
      val g = factory.newGroup()
        .append("id", r.id).append("name", r.name).append("amount", r.amount)
        .append("updated_ms", r.updatedMs)
      if (second) g.append("region", s"r${r.id % 7}")
      w.write(g)
    } finally w.close()
  }

  /** Manifest JSON with folders `[0, landed(t))` of each table landed. */
  def manifest(root: Path, tables: Seq[CdaTable], landed: CdaTable => Int): String =
    Json.obj(tables.map { t =>
      val l = t.folders.take(landed(t))
      val history = Seq(t.fp1, t.fp2).flatMap(fp => l.find(_.fingerprint == fp).map(fp -> _.ts))
      t.name -> Json.obj(Seq(
        "lastSuccessfulWriteTimestamp" -> Json.str(l.last.ts.toString),
        "totalProcessedRecordsCount" -> l.map(_.files.map(_.rows.size).sum).sum.toString,
        "dataFilesPath" -> Json.str(tableDir(root, t).toUri.toString),
        "schemaHistory" -> Json.obj(history.map { case (fp, ts) => fp -> Json.str(ts.toString) })))
    })
}
