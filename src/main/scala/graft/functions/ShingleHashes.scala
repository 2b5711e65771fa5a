package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native codegen'd word-trigram shingle set of one document: the DISTINCT
 * `xxhash64(w_i, w_{i+1}, w_{i+2})` over `split(text, " ")`, as an
 * ascending `array<bigint>`.
 *
 * Bit-equal to the declarative form — a posexplode of `split(text, " ")`,
 * two window `lead`s, a three-column `xxhash64` and a `distinct` —
 * because it tokenizes with the same call Spark's `split`
 * makes (`UTF8String.split` at limit -1, so repeated, leading and
 * trailing spaces give empty tokens) and hashes each word with Spark's
 * xxhash64 string step, seed 42. A text of fewer than 3 words has the
 * empty set; a null text is null. One row in, one row out: no shuffle,
 * no window, no generator.
 */
case class ShingleHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(t: Any): Any =
    ShingleHashes.hashes(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.ShingleHashes.hashes($t)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  private val Space = UTF8String.fromString(" ")
  /** The seed of Spark's `xxhash64`. */
  private val Seed = 42L

  /** The words of `text` exactly as `split(text, " ")` returns them. */
  private[functions] def words(text: UTF8String): Array[UTF8String] = text.split(Space, -1)

  def hashes(text: UTF8String): ArrayData = {
    val w = words(text)
    val n = w.length - 2
    if (n <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = XXH64.hashUTF8String(w(i + 2),
        XXH64.hashUTF8String(w(i + 1), XXH64.hashUTF8String(w(i), Seed)))
      i += 1
    }
    java.util.Arrays.sort(hs)
    var k = 1
    i = 1
    while (i < n) {
      if (hs(i) != hs(k - 1)) { hs(k) = hs(i); k += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(if (k == n) hs else java.util.Arrays.copyOf(hs, k))
  }

  /** Column wrapper: the distinct word-trigram hashes of a string column. */
  def apply(text: Column): Column = Bridge.column(ShingleHashes(Bridge.expression(text)))
}
