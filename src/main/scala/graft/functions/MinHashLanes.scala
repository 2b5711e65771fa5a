package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * Native codegen'd MinHash signature of one shingle set: lane p (for p in
 * `0 until numPerm`) is the minimum over the set's elements s of
 * `xxhash64(p, s)`, i.e. `XXH64.hashLong(s, XXH64.hashInt(p, 42))`.
 *
 * Bit-equal, lane by lane, to the declarative aggregate bank
 * `min(xxhash64(lit(p), col("s")))` over one row per element,
 * but computed in one pass over the set, with no explode and no shuffle.
 * A null element hashes as xxhash64 does (skipped, so the lane seed
 * itself), and an empty set has no signature (null), as an aggregate over
 * no rows has no minimum.
 */
case class MinHashLanes(child: Expression, numPerm: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "minhash_lanes"

  @transient private lazy val seeds = MinHashLanes.seeds(numPerm)

  override protected def nullSafeEval(s: Any): Any =
    MinHashLanes.lanes(s.asInstanceOf[ArrayData], seeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sd = ctx.addReferenceObj("seeds", seeds, "long[]")
    nullSafeCodeGen(ctx, ev, s =>
      s"""
         |${ev.value} = graft.functions.MinHashLanes.lanes($s, $sd);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashLanes =
    copy(child = newChild)
}

object MinHashLanes {
  /** Lane p's seed: Spark's `xxhash64(p)` state after the int literal. */
  def seeds(numPerm: Int): Array[Long] = Array.tabulate(numPerm)(p => XXH64.hashInt(p, 42L))

  def lanes(set: ArrayData, seeds: Array[Long]): ArrayData = {
    val n = set.numElements()
    if (n == 0) return null
    val out = Array.fill(seeds.length)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val isNull = set.isNullAt(i)
      val s = if (isNull) 0L else set.getLong(i)
      var p = 0
      while (p < seeds.length) {
        val h = if (isNull) seeds(p) else XXH64.hashLong(s, seeds(p))
        if (h < out(p)) out(p) = h
        p += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column wrapper: the `numPerm`-lane MinHash of an array<bigint> set. */
  def apply(set: Column, numPerm: Int): Column =
    Bridge.column(MinHashLanes(Bridge.expression(set), numPerm))
}
