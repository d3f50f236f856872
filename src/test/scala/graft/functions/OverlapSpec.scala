package graft.functions

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The set-overlap operator (`Overlap.postings` → `Overlap.pairs`) and
  * its `overlap_counts` kernel, each against a brute-force count. */
class OverlapSpec extends SparkSpec {
  import spark.implicits._

  private val Entry = StructType(Seq(
    StructField("cust", LongType), StructField("sz", LongType)))
  private val TailsType = ArrayType(ArrayType(Entry))

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(sys.error(s"generator failed at seed $seed"))

  /** The kernel evaluated directly; (v, szv, common) as a set. */
  private def counts(tails: Seq[Seq[(Long, Long)]], minCommon: Long)
      : Set[(Long, Long, Long)] = {
    val lit = Literal.create(tails.map(_.map { case (c, z) => Row(c, z) }), TailsType)
    val out = Overlap.OverlapCounts(lit, minCommon).eval().asInstanceOf[ArrayData]
    val rows = (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 3)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    assert(rows.distinct.size == rows.size, s"duplicate v in $rows")
    rows.toSet
  }

  private def bruteForce(tails: Seq[Seq[(Long, Long)]], minCommon: Long)
      : Set[(Long, Long, Long)] =
    tails.flatten.groupBy(_._1).collect {
      case (v, occ) if occ.size >= minCommon => (v, occ.head._2, occ.size.toLong)
    }.toSet

  // a member's tails: distinct ids per tail, each id with one size
  private val tailsGen: Gen[Seq[Seq[(Long, Long)]]] = for {
    nTails <- Gen.chooseNum(0, 12)
    tails <- Gen.listOfN(nTails,
      Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-40L, 40L))))
  } yield tails.map(_.distinct.map(v => (v, math.abs(v) % 7 + 1)))

  test("counts equal a brute-force count over random tails, in any tail order") {
    (1L to 300L).foreach { seed =>
      val tails = sample(tailsGen, seed)
      val rnd = new scala.util.Random(seed)
      val shuffled = rnd.shuffle(tails.map(t => rnd.shuffle(t)))
      for (minCommon <- Seq(1L, 2L, 3L)) {
        val want = bruteForce(tails, minCommon)
        assert(counts(tails, minCommon) == want, s"seed=$seed minCommon=$minCommon")
        assert(counts(shuffled, minCommon) == want, s"seed=$seed shuffled")
      }
    }
  }

  test("edge cases: null, empty input, empty tails, the minCommon boundary") {
    assert(Overlap.OverlapCounts(Literal.create(null, TailsType), 2L).eval() == null)
    assert(counts(Seq.empty, 2L).isEmpty)
    assert(counts(Seq(Seq.empty, Seq.empty), 2L).isEmpty)
    // 7 appears in exactly 2 tails (kept at minCommon = 2), 8 in 1 (dropped)
    val tails = Seq(Seq((7L, 3L), (8L, 4L)), Seq((7L, 3L)), Seq.empty)
    assert(counts(tails, 2L) == Set((7L, 3L, 2L)))
    assert(counts(tails, 3L).isEmpty)
    assert(counts(tails, 1L) == Set((7L, 3L, 2L), (8L, 4L, 1L)))
  }

  test("the column API runs inside a plan and passes nulls through") {
    val df = Seq(
      (1L, Seq(Seq((2L, 5L), (3L, 6L)), Seq((2L, 5L)))),
      (2L, Seq.empty[Seq[(Long, Long)]])).toDF("u", "tails")
      .select(col("u"), col("tails").cast(TailsType).as("tails"))
      .union(spark.sql("SELECT 3L AS u, NULL AS tails")
        .select(col("u"), col("tails").cast(TailsType)))
    val got = df.select(col("u"), Overlap.overlapCounts(col("tails"), 2L).as("n"))
      .orderBy("u").collect()
    assert(got(0).getSeq[Row](1).map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      Seq((2L, 5L, 2L)))
    assert(got(1).getSeq[Row](1).isEmpty)
    assert(got(2).isNullAt(1))
    val bad = intercept[Exception](
      Seq(Seq(1L)).toDF("a").select(Overlap.overlapCounts(col("a"), 2L)).collect())
    assert(bad.getMessage.contains("overlap_counts"))
  }

  // members: distinct ids, each holding a set of string keys; `sz` is
  // the key count plus a per-member extra (sizes may count keys the
  // intersection never sees)
  private val membersGen: Gen[Map[Long, Set[String]]] = for {
    n <- Gen.chooseNum(0, 14)
    ids <- Gen.listOfN(n, Gen.chooseNum(-20L, 40L))
    sets <- Gen.listOfN(n, Gen.chooseNum(0, 7).flatMap(k =>
      Gen.listOfN(k, Gen.chooseNum(0, 9).map(i => s"k$i"))))
  } yield ids.zip(sets.map(_.toSet)).toMap

  private def sizeOf(id: Long, keys: Set[String]): Long = keys.size + math.abs(id) % 3

  private def membersDf(m: Map[Long, Set[String]]) =
    m.toSeq.flatMap { case (id, ks) => ks.toSeq.map(k => (k, id, sizeOf(id, ks))) }
      .toDF("key", "id", "sz")

  /** (u, szu, v, szv, common) for u < v sharing ≥ minCommon keys held by
    * at most maxPosting members. */
  private def bruteForcePairs(m: Map[Long, Set[String]], minCommon: Long,
      maxPosting: Long): Set[(Long, Long, Long, Long, Long)] = {
    val df = m.values.toSeq.flatMap(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val ids = m.keys.toSeq.sorted
    (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      u = ids(i); v = ids(j)
      common = (m(u) & m(v)).count(k => df(k) <= maxPosting).toLong
      if common >= minCommon
    } yield (u, sizeOf(u, m(u)), v, sizeOf(v, m(v)), common)).toSet
  }

  private def operator(m: Map[Long, Set[String]], minCommon: Long, maxPosting: Long,
      owns: Column => Column = _ => lit(true)) =
    Overlap.pairs(Overlap.postings(membersDf(m), "key", "id", "sz", maxPosting),
      minCommon, owns)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long, Long, Long, Long)].collect().toSeq

  test("the operator's pairs equal a brute-force pair count over random member sets") {
    (1L to 36L).foreach { seed =>
      val m = sample(membersGen, seed)
      val minCommon = seed % 3 + 1
      // every other seed caps postings at 2 members, dropping the keys
      // that more members share
      val maxPosting = if (seed % 2 == 0) 2L else Long.MaxValue
      val want = bruteForcePairs(m, minCommon, maxPosting)
      val got = rows(operator(m, minCommon, maxPosting))
      assert(got.size == got.toSet.size, s"seed=$seed duplicate pairs $got")
      assert(got.toSet == want, s"seed=$seed minCommon=$minCommon maxPosting=$maxPosting")
      if (seed % 4 == 1) {
        // an owns split of the u space: the parts are disjoint and union
        // to the whole
        val parts = Seq(0, 1).map(j => rows(operator(m, minCommon, maxPosting,
          u => pmod(u, lit(2)) === j)))
        assert(parts.flatten.size == got.size && parts.flatten.toSet == want,
          s"seed=$seed owns split")
      }
    }
  }

  test("the operator covers a capped key and an empty members frame") {
    // k0 is shared by three members: at maxPosting 2 it is a hub and drops
    val m = Map(1L -> Set("k0", "k1"), 2L -> Set("k0", "k1"), 3L -> Set("k0"))
    assert(rows(operator(m, 1L, 3L)).toSet ==
      Set((1L, 3L, 2L, 4L, 2L), (1L, 3L, 3L, 1L, 1L), (2L, 4L, 3L, 1L, 1L)))
    assert(rows(operator(m, 1L, 2L)).toSet == Set((1L, 3L, 2L, 4L, 1L)))
    val full = operator(m, 1L, 3L)
    val empty = operator(Map.empty, 1L, 3L)
    assert(empty.collect().isEmpty)
    assert(empty.schema == full.schema)
    assert(full.columns.toSeq == Seq("u", "szu", "v", "szv", "common"))
  }
}
