package perfbench

import java.nio.file.Path

/**
 * The generators' contract: the same seed gives the same CDA tree (file
 * bytes), the same manifest sequence, the same op schedules and the same
 * expected answers; another seed gives other inputs. Needs no Spark.
 */
object SelfTest {
  private def check(ok: Boolean, what: String): Unit =
    if (!ok) throw new AssertionError(s"selftest: $what")

  /** Everything seed-derived, rendered comparable across directories. */
  private def fingerprint(dir: Path, seed: Long): Seq[String] = {
    val ops = 20
    val cda = CdaIngest.plan(seed, ops)
    val root = dir.resolve(s"cda-$seed-${System.nanoTime()}")
    CdaGen.materialize(root, cda)
    val rootUri = CdaGen.tableDir(root, cda.head).getParent.toUri.toString
    val folders = cda.head.folders.size
    val manifests = (1 to folders).map(l => CdaGen.manifest(root, cda, _ => l).replace(rootUri, "<root>/"))
    val answers = cda.map(t => (1 to folders).map { l =>
      val live = t.liveFiles(l); (live.size, live.map(_.rows.size).sum, live.map(_.amountSum).sum)
    })
    check(cda.forall(t => t.folders.exists(_.fingerprint == t.fp2)), "every table restates mid-run")
    check(cda.forall(t => t.folders.exists(_.files.isEmpty)), "every table has record-less folders")
    val docs = (0 until 3).map(DocDedup.slice(seed, _))
    docs.foreach { d =>
      check(DocDedup.identicalPairs(d).nonEmpty, "planted duplicates exist")
      check(DocDedup.identicalPairs(d).filter { case (a, b) =>
        d.find(_.id == a).get.blk == d.find(_.id == b).get.blk
      }.subsetOf(DocDedup.ngramPairs(d, 0.5)), "identical docs are n-gram pairs")
    }
    Seq(Files2.treeDigest(root), manifests.mkString("\n"), answers.toString,
      SnapshotRead.schedule(seed, 64).toString, SnapshotRead.events(seed).toString,
      TableDml.schedule(seed, 27).toString, DocDedup.schedule(seed, 20).toString,
      docs.toString, docs.map(DocDedup.exactGroups).toString,
      docs.map(DocDedup.ngramPairs(_, 0.5)).toString)
  }

  def run(dir: Path): Unit = {
    val a = fingerprint(dir, 7L)
    val b = fingerprint(dir, 7L)
    val c = fingerprint(dir, 8L)
    val names = Seq("cda tree bytes", "manifest sequence", "cda expected answers",
      "snapshot_read schedule", "snapshot_read events", "table_dml schedule",
      "doc_dedup schedule", "doc_dedup slices", "doc_dedup exact groups", "doc_dedup n-gram pairs")
    names.zipWithIndex.foreach { case (n, i) =>
      check(a(i) == b(i), s"same seed, different $n")
      check(a(i) != c(i), s"different seeds, same $n")
    }
    println("selftest ok")
  }
}
