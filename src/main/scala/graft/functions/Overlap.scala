package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The set-overlap join: for members that each hold a set of keys,
  * every pair of members sharing at least `minCommon` keys, with the
  * number of keys they share — inverted-index shaped (Vernica et al.,
  * SIGMOD 2010), so only pairs that share a key are ever touched, and no
  * pair row exists before counting.
  *
  * Callers: q173's customer neighbours (members customers, keys parts),
  * q164's association rules (members parts, keys baskets), the
  * exact-Jaccard dedup edges of q63/q72/q83/q125/q237 and the q246
  * ledger (members documents, keys 2-gram shingles, through
  * `LlmOps.jaccardHalfPairs`), and q97's containment audit (members
  * documents, keys df-capped 4-gram shingles).
  *
  * The operator is [[postings]] then [[pairs]]:
  *  1. POSTINGS: one exchange by key; per key the sorted list of its
  *     members' `struct(id, sz)`; keys with more than `maxPosting`
  *     members (hubs) are dropped;
  *  2. TAILS: member u at position p of a posting pairs with
  *     `slice(ms, p + 2, …)`, exactly the members v > u with their
  *     sizes; empty tails are dropped;
  *  3. one exchange by u collects u's tails, and [[OverlapCounts]]
  *     counts each v across them in a compiled open-addressing map,
  *     emitting (v, szv, common) for common ≥ `minCommon`.
  * Memory per group: u's tails hold at most |u|·maxPosting entries, and
  * so does the kernel's map.
  */
object Overlap {

  /** `(key, ms)` → `ms`: the postings of a members frame. `members`
    * holds one row per (member, key) with the member's `id` and its set
    * size `sz` (both cast to bigint); sizes may count keys beyond the
    * ones present, e.g. hub keys, which stay out of the intersection but
    * still count in the sizes. PRECONDITION: each (key, id) appears once
    * — otherwise a member meets itself and shared keys are
    * double-counted. The key exchange is pinned at
    * `spark.sql.shuffle.partitions` (REPARTITION_BY_NUM, which AQE does
    * not coalesce): the postings are small, but their tails carry
    * Σ|posting|²/2 entries, which a byte-coalesced handful of tasks
    * would serialize. */
  def postings(members: DataFrame, key: String, id: String, sz: String,
      maxPosting: Long = Long.MaxValue): DataFrame = members
    .repartition(
      members.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col(key))
    .groupBy(key)
    .agg(array_sort(collect_list(struct(
      col(id).cast("long").as("id"), col(sz).cast("long").as("sz")))).as("ms"))
    .filter(size(col("ms")) <= maxPosting)
    .select(col("ms"))

  /** `(u, szu, v, szv, common)` with u < v: every pair of members of
    * `postings` (from [[postings]]) that share at least `minCommon` keys,
    * `common` the number they share, counted for the pairs whose u
    * passes `owns` (a split of the u space lets a caller count the pairs
    * in steps). An empty postings frame gives an empty result. */
  def pairs(postings: DataFrame, minCommon: Long,
      owns: Column => Column = _ => lit(true)): DataFrame = postings
    .select(posexplode(col("ms")).as(Seq("p", "m")), col("ms"))
    .filter(col("p") < size(col("ms")) - 1 && owns(col("m.id")))
    .select(col("m.id").as("u"), col("m.sz").as("szu"),
      slice(col("ms"), col("p") + 2, size(col("ms")) - col("p") - 1)
        .as("tail"))
    .groupBy("u", "szu").agg(collect_list(col("tail")).as("tails"))
    .select(col("u"), col("szu"),
      explode(overlapCounts(col("tails"), minCommon)).as("n"))
    .select(col("u"), col("szu"), col("n.v").as("v"), col("n.szv").as("szv"),
      col("n.common").as("common"))

  private val ResultType: StructType = StructType(Seq(
    StructField("v", LongType, nullable = false),
    StructField("szv", LongType, nullable = false),
    StructField("common", LongType, nullable = false)))

  /** The per-member counting kernel of [[pairs]].
    *
    * Input: one member u's TAILS, an `array<array<struct<id, sz>>>`. Each
    * tail is the part of one posting list (the members sharing one key
    * with u) that u pairs with, each entry carrying that member's id and
    * set size. Output: every id v that appears in at least `minCommon`
    * tails, as `struct<v, szv, common>` with `common` = the number of
    * tails v appears in, i.e. |u ∩ v| over the counted keys when every
    * tail holds distinct ids.
    *
    * The count runs in one compiled loop over a primitive
    * open-addressing map (linear probing, load ≤ 1/2). Eval-mode
    * (CodegenFallback) like the other whole-array kernels.
    *
    * Null input → null; null tails and null entries are skipped; an
    * empty input or all-empty tails → an empty array. `szv` is the size
    * carried by v's first occurrence (callers carry one size per id).
    * Output order follows the map's slots, so it is not sorted; callers
    * that need an order sort the result.
    */
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
