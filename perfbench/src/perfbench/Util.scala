package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Small helpers shared by the workloads: statistics, JSON output, files. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Files2 {
  /** Total bytes of the regular files under `dir`. */
  def treeBytes(dir: File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) dir.length()
    else Option(dir.listFiles()).toSeq.flatten.map(treeBytes).sum

  /** Bytes of every `_delta_log` directory below `root`. */
  def deltaLogBytes(root: File): Long =
    if (!root.isDirectory) 0L
    else Option(root.listFiles()).toSeq.flatten.map { c =>
      if (c.isDirectory && c.getName == "_delta_log") treeBytes(c)
      else if (c.isDirectory) deltaLogBytes(c)
      else 0L
    }.sum

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** SHA-256 over every regular file under `dir` (relative path + bytes),
    * in path order — the byte identity of a generated tree. */
  def treeDigest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = Files.walk(dir).toArray.map(_.asInstanceOf[Path])
      .filter(Files.isRegularFile(_)).map(p => dir.relativize(p).toString -> p).sortBy(_._1)
    files.foreach { case (rel, p) =>
      md.update(rel.getBytes(StandardCharsets.UTF_8)); md.update(Files.readAllBytes(p))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
