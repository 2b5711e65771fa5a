package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native codegen'd 64-bit SimHash of one document: every word occurrence
 * of `split(text, " ")` votes +1 on each set bit of its term hash and -1
 * on each clear bit; the result sets bit j iff vote_j > 0.
 *
 * The term hash is the first 60 bits of `md5(word)` — the declarative
 * `conv(substring(md5(word), 1, 15), 16, 10)` — because md5 is the keyed
 * hash DuckDB and Spark compute identically, which keeps the SimHash
 * replayable in SQL. The top 4 bits always vote negative and stay 0.
 *
 * Bit-equal to [[SimHashAgg]] over the document's `(term hash, count)`
 * rows (a word explode and two groupBys, the form the d03 oracle
 * replays): a word seen c times votes ±c either way. A null text is null.
 */
case class SimHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash"

  override protected def nullSafeEval(t: Any): Any =
    SimHash.fingerprint(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.SimHash.fingerprint($t)")

  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
}

object SimHash {
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** The first 60 bits of `md5(word)`. */
  def termHash(word: UTF8String, md: MessageDigest): Long = {
    val d = md.digest(word.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
    h >>> 4
  }

  def fingerprint(text: UTF8String): Long = {
    val md = md5.get()
    val votes = new Array[Long](64)
    ShingleHashes.words(text).foreach { w =>
      val h = termHash(w, md)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0L) fp |= (1L << j)
      j += 1
    }
    fp
  }

  /** Column wrapper: the 64-bit SimHash of a string column. */
  def apply(text: Column): Column = Bridge.column(SimHash(Bridge.expression(text)))
}
