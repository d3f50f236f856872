package graft.queries

import org.apache.spark.sql.functions.{col, split}

import graft.SparkSpec
import graft.ops.Snapshots

/** Pins the q109 trainer semantics the fixture oracle cannot name:
  * greedy LEFTMOST-NON-OVERLAPPING merge application inside symbol runs
  * (the `aaaa` case), consumed-successor deletion, total tie-breaking on
  * the merge selection, and cross-round state threading on crafted
  * corpora computed by hand; symbols that are regex or replacement
  * metacharacters, code-point (not UTF-16 unit) symbols, degenerate
  * corpora, the final per-type symbol sequences q118 rolls up, and the
  * trainer's job budget.
  */
class BpeTrainSpec extends SparkSpec {
  import spark.implicits._

  private type Merge = (Long, String, String, Long, Long)

  private def corpus(words: (String, Int)*) =
    words.flatMap { case (w, n) => Seq.fill(n)(w) }.toDF("text")

  private def train(words: (String, Int)*): Seq[Merge] =
    LlmOps.bpeTrain(corpus(words: _*)).as[Merge].collect().toSeq

  /** Final symbol sequence per word type after every round: the table
    * q118 rolls up. */
  private def encoded(words: (String, Int)*): Map[String, Seq[String]] =
    Snapshots.using(LlmOps.bpeTypes(corpus(words: _*))) { types =>
      LlmOps.bpeTrainCore(types)._2
        .select(col("w"), split(col("seq"), " "))
        .as[(String, Seq[String])].collect().toMap
    }

  /** The classic algorithm on the driver: each word type (already
    * lower-case, no whitespace) is its code points then `</w>`; each
    * round merges the heaviest pair, ties by (a, b) in code-point order,
    * greedy leftmost non-overlapping. */
  private def reference(words: (String, Int)*): Seq[Merge] = {
    import Ordering.Implicits.seqOrdering
    val cpOrder = Ordering.by[String, Seq[Int]](_.codePoints.toArray.toSeq)
    def merge(syms: List[String], a: String, b: String): List[String] = syms match {
      case x :: y :: rest if x == a && y == b => (a + b) :: merge(rest, a, b)
      case x :: rest => x :: merge(rest, a, b)
      case Nil => Nil
    }
    var types = words.groupMapReduce(_._1)(_._2.toLong)(_ + _).toSeq.map {
      case (w, f) => (f, w.codePoints.toArray.toList.map(Character.toString(_)) :+ "</w>")
    }
    (1 to LlmOps.BpeTrainRounds).flatMap { r =>
      val pairs = types.flatMap { case (f, syms) => syms.zip(syms.tail).map(_ -> f) }
        .groupMapReduce(_._1)(p => (p._2, 1L)) { case ((w1, n1), (w2, n2)) => (w1 + w2, n1 + n2) }
      pairs.toSeq
        .sorted(Ordering.by[((String, String), (Long, Long)), (Long, String, String)](
          p => (-p._2._1, p._1._1, p._1._2))(Ordering.Tuple3(Ordering.Long, cpOrder, cpOrder)))
        .headOption.map { case ((a, b), (weight, n)) =>
          types = types.map { case (f, syms) => (f, merge(syms, a, b)) }
          (r.toLong, a, b, weight, n)
        }
    }
  }

  test("aaaa: run of eligible positions merges at odd offsets only") {
    // "aaaa" -> a a a a </w>; (a,a) occurs at 3 adjacent positions but
    // greedy leftmost merges only positions 1 and 3 -> aa aa </w>
    val m = train("aaaa" -> 2)
    assert(m.head == ((1L, "a", "a", 6L, 3L)),
      "weight counts ALL 3 overlapping contexts, merge applies at 2")
    // round 2: state [aa, aa, </w>] -> (aa,aa) vs (aa,</w>) tie at weight
    // 2; b ascending picks "</w>" ('<' sorts below 'a')
    assert(m(1) == ((2L, "aa", "</w>", 2L, 1L)))
    // round 3: state [aa, aa</w>]
    assert(m(2) == ((3L, "aa", "aa</w>", 2L, 1L)))
  }

  test("aaa: consumed successor is not merged again; tiebreak on a then b") {
    // "aaa" -> a a a </w>; eligible at positions 1,2 -> merge 1 only
    // (position 2's left symbol was consumed) -> aa a </w>
    val m = train("aaa" -> 4)
    assert(m.head == ((1L, "a", "a", 8L, 2L)))
    // state [aa, a, </w>]: (aa,a) and (a,</w>) tie at 4; a ascending
    // picks the pair starting at "a"
    assert(m(1) == ((2L, "a", "</w>", 4L, 1L)))
    // state [aa, a</w>]
    assert(m(2) == ((3L, "aa", "a</w>", 4L, 1L)))
  }

  test("frequency weighting: a rarer type with longer runs can outweigh a common short one") {
    // "ab" x5 contributes (a,b) weight 5; "aaaa" x2 contributes (a,a)
    // weight 6 from 3 overlapping contexts — types, not tokens, weighted
    val m = train("ab" -> 5, "aaaa" -> 2)
    assert(m.head._2 == "a" && m.head._3 == "a" && m.head._4 == 6L)
  }

  test("merge table is deterministic across runs") {
    val a = train("ab" -> 3, "abab" -> 2, "b" -> 7)
    val b = train("ab" -> 3, "abab" -> 2, "b" -> 7)
    assert(a == b)
    assert(a.map(_._1) == Seq(1L, 2L, 3L))
  }

  test("regex and replacement metacharacters are plain symbols") {
    // ($, \) and (\, </w>) tie at 10; a ascending picks "$", and the
    // merged symbol $\ is an illegal replacement string unless quoted
    val words = Seq("$\\" -> 10, "$$$$" -> 2, "\\\\." -> 3, "((*" -> 2, ".*" -> 4)
    val m = train(words: _*)
    assert(m.head == ((1L, "$", "\\", 10L, 1L)))
    assert(m == reference(words: _*))
  }

  test("the merge rewrite quotes \\E and matches whole symbols only") {
    def merged(seq: String, a: String, b: String): String =
      Seq(seq).toDF("seq").select(LlmOps.bpeMerge(col("seq"), a, b)).as[String].head()
    assert(merged("\\E \\E \\E </w>", "\\E", "\\E") == "\\E\\E \\E </w>")
    assert(merged("a\\E \\E \\Ex", "\\E", "\\E") == "a\\E \\E \\Ex",
      "a pair inside a longer symbol is not a merge site")
    assert(merged("$1 \\E . (", "$1", "\\E") == "$1\\E . (")
    assert(merged(". .* * .", ".", "*") == ". .* * .", "'.' and '*' are literal")
    assert(merged("( ( ( </w>", "(", "(") == "(( ( </w>")
  }

  test("symbols are code points: a non-BMP character is one symbol") {
    val words = Seq("\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00" -> 2, "a\uD83D\uDE00" -> 1)
    val m = train(words: _*)
    assert(m.head == ((1L, "\uD83D\uDE00", "\uD83D\uDE00", 4L, 2L)),
      "split by UTF-16 unit, the surrogate halves would pair instead")
    assert(m == reference(words: _*))
  }

  test("an empty or all-whitespace corpus gives an empty merge table") {
    assert(train().isEmpty)
    assert(train("" -> 1, "   " -> 2, "\t \n" -> 1).isEmpty)
    assert(encoded("   " -> 1).isEmpty)
  }

  test("final per-type symbol sequences (the table q118 rolls up)") {
    assert(encoded("aaaa" -> 2) == Map("aaaa" -> Seq("aaaa</w>")))
    assert(encoded("aaa" -> 4) == Map("aaa" -> Seq("aaa</w>")))
    // together: (a,a) 14; then (a,</w>) beats (aa,a) at 4 on a; then
    // (aa,a</w>) at 4 -- "aaaa" keeps the round-1 split
    assert(encoded("aaaa" -> 2, "aaa" -> 4) ==
      Map("aaaa" -> Seq("aa", "aa", "</w>"), "aaa" -> Seq("aaa</w>")))
    assert(train("aaaa" -> 2, "aaa" -> 4) == reference("aaaa" -> 2, "aaa" -> 4))
  }

  test("one pair aggregate per round: bounded jobs, nothing left persisted") {
    val docs = corpus("ab" -> 3, "abab" -> 2, "b" -> 7)
    val ((merges, jobs), left) = persistedBy(jobsRunBy(LlmOps.bpeTrain(docs)))
    assert(jobs <= 2 + 2 * LlmOps.BpeTrainRounds,
      s"$jobs jobs: a type-table snapshot plus two jobs per round at most")
    assert(left.isEmpty, s"the trainer left RDDs $left persisted")
    assert(merges.count() == LlmOps.BpeTrainRounds)
  }
}
