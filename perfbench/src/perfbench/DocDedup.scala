package perfbench

import graft.api._
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/**
 * The CPU- and shuffle-heavy workload, with no log work: stateless dedup
 * operators of `graft.api` over seeded document/embedding slices with
 * planted exact and near duplicates. It guards against a partition-sizing
 * change that helps the commit path but serializes real compute.
 */
object DocDedup extends Workload {
  val name = "doc_dedup"
  private val Slices = 3
  private val Docs = 960
  /** Documents of the warm-up slice, which setup runs every operator on. */
  private val WarmDocs = Docs / 8
  private val Words = 30
  private val Vocab = 3000
  private val Dim = 32
  private val OpsPerSecond = 1.05

  val Kinds = IndexedSeq("exact_dedup", "minhash", "simhash", "ngram_jaccard", "cosine_neardup")

  def opCount(seconds: Int): Int = wholeCycles(seconds, OpsPerSecond, Kinds.size)

  final case class Doc(id: Long, blk: Int, text: String, vec: Seq[Double])

  /** Slice `s`: base documents plus exact copies and near copies (three
    * words replaced; embeddings with small noise) of some of them. */
  def slice(seed: Long, s: Int, docs: Int = Docs): IndexedSeq[Doc] = {
    val rng = new scala.util.Random(seed * 31 + s)
    def words() = IndexedSeq.fill(Words)(s"w${rng.nextInt(Vocab)}")
    def vec() = IndexedSeq.fill(Dim)(rng.nextGaussian())
    val base = (0 until docs * 8 / 10).map(_ => (words(), vec()))
    val copies = (0 until docs / 10).map(_ => base(rng.nextInt(base.size)))
    val near = (0 until docs / 10).map { _ =>
      val (w, v) = base(rng.nextInt(base.size))
      val w2 = (0 until 3).foldLeft(w)((acc, _) => acc.updated(rng.nextInt(Words), s"w${rng.nextInt(Vocab)}"))
      (w2, v.map(_ + rng.nextGaussian() * 0.01))
    }
    rng.shuffle(base ++ copies ++ near).zipWithIndex.map { case ((w, v), j) =>
      Doc(s * 100000L + j, j % 2, w.mkString(" "), v)
    }
  }

  def schedule(seed: Long, ops: Int): IndexedSeq[(String, Int)] = {
    val rng = new scala.util.Random(seed ^ 0xdd0L)
    (0 until ops / Kinds.size).flatMap(_ => rng.shuffle(Kinds).map(k => (k, rng.nextInt(Slices))))
  }

  /** Exact dedup groups with more than one copy: canonical id -> copies. */
  def exactGroups(docs: Seq[Doc]): Map[Long, Long] =
    docs.groupBy(_.text).values.filter(_.size > 1).map(g => g.map(_.id).min -> g.size.toLong).toMap

  /** Pairs of identical documents, which every near-dup operator must find. */
  def identicalPairs(docs: Seq[Doc]): Set[(Long, Long)] =
    docs.groupBy(_.text).values.flatMap { g =>
      val ids = g.map(_.id).sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }.toSet

  /** Exact word-trigram Jaccard pairs within a block, at the operator's
    * permille rounding. Only documents that share a trigram can reach a
    * positive threshold, so candidates come from a trigram index. */
  def ngramPairs(docs: Seq[Doc], threshold: Double): Set[(Long, Long)] = {
    require(threshold > 0, "the trigram index needs a positive threshold")
    val sh = docs.map { d =>
      val w = d.text.split(" ")
      d -> (0 until w.length - 2).map(i => (w(i), w(i + 1), w(i + 2))).toSet
    }
    sh.groupBy(_._1.blk).values.flatMap { g =>
      val byGram = g.indices.flatMap(i => g(i)._2.map(_ -> i)).groupMap(_._1)(_._2)
      val candidates = byGram.values.flatMap { is =>
        for (a <- is; b <- is if a < b) yield (a, b)
      }.toSet
      for ((i, j) <- candidates;
           inter = (g(i)._2 intersect g(j)._2).size;
           union = g(i)._2.size + g(j)._2.size - inter
           if math.round(1000.0 * inter / union) >= (threshold * 1000).toLong)
      yield (math.min(g(i)._1.id, g(j)._1.id), math.max(g(i)._1.id, g(j)._1.id))
    }.toSet
  }

  def setup(dir: Path, seed: Long, ops: Int)(implicit spark: SparkSession): Instance = {
    val inst = new Inst(dir, seed, schedule(seed, ops))
    Kinds.foreach { k =>
      inst.apply(k, Slices, new OpContext(new Pass(false)))().foreach(e =>
        throw new IllegalStateException(s"$name warm-up $k: $e"))
    }
    inst
  }

  final class Inst(dir: Path, seed: Long, sched: IndexedSeq[(String, Int)])(
      implicit spark: SparkSession) extends Instance {
    import spark.implicits._
    /** The timed slices, then the warm-up slice. */
    private val docs = (0 until Slices).map(slice(seed, _)) :+ slice(seed, Slices, WarmDocs)
    private val paths = docs.zipWithIndex.map { case (d, s) =>
      val p = dir.resolve(s"slice$s").toUri.toString
      d.toDF().coalesce(1).write.parquet(p)
      p
    }
    private val ngramRef = docs.map(ngramPairs(_, 0.5))
    private val exactRef = docs.map(exactGroups)
    private val identical = docs.map(identicalPairs)
    /** First pair count seen per (kind, slice): later runs must repeat it. */
    private val seen = mutable.Map.empty[(String, Int), Long]

    def kind(i: Int): String = sched(i)._1

    def run(i: Int, op: OpContext): () => Option[String] = apply(sched(i)._1, sched(i)._2, op)

    private def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(df.columns.take(2).map(col).toSeq: _*).collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSet

    def apply(k: String, s: Int, op: OpContext): () => Option[String] = {
      val t0 = System.nanoTime()
      val out: Either[Map[Long, Long], Set[(Long, Long)]] = op.clock.span("ops", k) {
        val in = spark.read.parquet(paths(s))
        k match {
          case "exact_dedup" => Left(in.exactDedup(col("text"), col("id"))
            .filter(col("n_copies") > 1).select("canonical_id", "n_copies").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap)
          case "minhash" => Right(pairs(in.minHashDedupPairs(col("id"), col("text"))))
          case "simhash" => Right(pairs(in.simHashDedupPairs(col("id"), col("text"))))
          case "ngram_jaccard" =>
            Right(pairs(in.ngramJaccardPairs(col("id"), col("text"), Seq(col("blk")), 0.5)))
          case "cosine_neardup" =>
            Right(pairs(in.cosineNearDupPairs(col("id"), col("vec"), 0.99, Dim)))
        }
      }
      op.pass.add(s"ops.${k}_ms", (System.nanoTime() - t0) / 1e6)
      op.pass.add("ops.pairs", out.fold(_.size, _.size).toDouble)
      () => {
        val n = out.fold(_.size, _.size).toLong
        val repeat = seen.getOrElseUpdate((k, s), n)
        out match {
          case Left(groups) if groups != exactRef(s) =>
            Some(s"$k slice $s: ${groups.size} groups, expected ${exactRef(s).size}")
          case Right(p) if k == "ngram_jaccard" && p != ngramRef(s) =>
            Some(s"$k slice $s: ${p.size} pairs, expected ${ngramRef(s).size}")
          case Right(p) if k != "ngram_jaccard" && !identical(s).subsetOf(p) =>
            Some(s"$k slice $s: misses ${(identical(s) -- p).size} identical pairs")
          case _ if n != repeat => Some(s"$k slice $s: $n pairs, earlier runs gave $repeat")
          case _ => None
        }
      }
    }
  }
}
