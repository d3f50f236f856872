package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Per-member overlap counting for inverted-index set similarity
  * (q173's exact-Jaccard neighbours).
  *
  * Input: one member u's TAILS, an `array<array<struct<id, sz>>>`. Each
  * tail is the part of one posting list (the members sharing one item
  * with u) that u pairs with, each entry carrying that member's id and
  * set size. Output: every id v that appears in at least `minCommon`
  * tails, as `struct<v, szv, common>` with `common` = the number of
  * tails v appears in, i.e. |u ∩ v| over the counted items when every
  * tail holds distinct ids.
  *
  * This replaces an operator chain that materialises one row per
  * (u, v, item), shuffles it by (u, v) and hash-aggregates it: here the
  * count runs in one compiled loop over a primitive open-addressing map
  * (linear probing, load ≤ 1/2), so no pair row exists before counting.
  * Eval-mode (CodegenFallback) like the other whole-array kernels: the
  * loop is the work, the per-row virtual call is noise.
  *
  * Memory: the map holds at most Σ|tail| entries, one group's worth; for
  * q173 that is |u|·CfMaxBlock. Null input → null; null tails and null
  * entries are skipped; an empty input or all-empty tails → an empty
  * array. `szv` is the size carried by v's first occurrence (callers
  * carry one size per id). Output order follows the map's slots, so it
  * is not sorted; callers that need an order sort the result.
  */
object Overlap {

  private val ResultType: StructType = StructType(Seq(
    StructField("v", LongType, nullable = false),
    StructField("szv", LongType, nullable = false),
    StructField("common", LongType, nullable = false)))

  case class OverlapCounts(child: Expression, minCommon: Long)
      extends UnaryExpression with CodegenFallback {

    require(minCommon >= 1, s"minCommon $minCommon < 1")

    override def dataType: DataType = ArrayType(ResultType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "overlap_counts"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(ArrayType(StructType(Array(
          StructField(_, LongType, _, _), StructField(_, LongType, _, _))), _), _) =>
        TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<array<struct<bigint, bigint>>>, got ${dt.sql}")
    }

    override def nullSafeEval(v: Any): Any = {
      val tails = v.asInstanceOf[ArrayData]
      val nTails = tails.numElements()
      var total = 0L
      var t = 0
      while (t < nTails) {
        if (!tails.isNullAt(t)) total += tails.getArray(t).numElements()
        t += 1
      }
      // power-of-two capacity ≥ 2·total, so the load stays ≤ 1/2
      var bits = 4
      while ((1L << bits) < 2 * total) bits += 1
      val cap = 1 << bits
      val mask = cap - 1
      val keys = new Array[Long](cap)
      val sizes = new Array[Long](cap)
      val counts = new Array[Int](cap) // 0 marks an empty slot
      var kept = 0
      t = 0
      while (t < nTails) {
        if (!tails.isNullAt(t)) {
          val tail = tails.getArray(t)
          val n = tail.numElements()
          var j = 0
          while (j < n) {
            if (!tail.isNullAt(j)) {
              val e = tail.getStruct(j, 2)
              val k = e.getLong(0)
              // Fibonacci hashing: the top `bits` bits of k·φ·2⁶⁴
              var h = ((k * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt
              while (counts(h) != 0 && keys(h) != k) h = (h + 1) & mask
              if (counts(h) == 0) { keys(h) = k; sizes(h) = e.getLong(1) }
              counts(h) += 1
              if (counts(h) == minCommon) kept += 1
            }
            j += 1
          }
        }
        t += 1
      }
      val out = new Array[Any](kept)
      var i = 0
      var h = 0
      while (h < cap) {
        if (counts(h) >= minCommon) {
          out(i) = new GenericInternalRow(Array[Any](keys(h), sizes(h), counts(h).toLong))
          i += 1
        }
        h += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** overlap_counts(tails, minCommon) over an
    * array<array<struct<id: bigint, sz: bigint>>> column. */
  def overlapCounts(tails: Column, minCommon: Long): Column =
    GraftColumnBridge.column(
      OverlapCounts(GraftColumnBridge.expression(tails), minCommon))
}
