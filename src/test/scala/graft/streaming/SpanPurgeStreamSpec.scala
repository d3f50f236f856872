package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming span purge: each batch purges against prior ingest plus
  * itself, the hash index grows only by novel spans, a redelivered
  * batch is byte-identical, and doc_id-ordered ingest reproduces batch
  * q193's keep-first exactly.
  */
class SpanPurgeStreamSpec extends SparkSpec {
  import spark.implicits._
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private def toks(base: Int, n: Int): Seq[String] =
    (base until base + n).map(i => s"w$i")
  private val passage = toks(1000, 32)

  private def dirs() = {
    val root = java.nio.file.Files.createTempDirectory("graft_sps_").toString
    (s"$root/index", s"$root/out")
  }

  test("cross-batch and within-batch repeats purge; replay is idempotent") {
    val (index, out) = dirs()
    val handler = SpanPurgeStream.handler(index, out) _
    val docA = (passage ++ toks(300, 32)).mkString(" ")      // introduces passage
    val docB = toks(500, 32).mkString(" ")                   // unrelated
    val docC = (passage ++ toks(600, 32)).mkString(" ")      // cross-batch dup
    val docD = (toks(700, 32) ++ toks(700, 32)).mkString(" ") // within-batch dup
    val input = MemoryStream[(Long, String, String)]
    val q = input.toDF().toDF("doc_id", "source", "text").writeStream
      .foreachBatch(handler).start()
    try {
      input.addData((1L, "s1", docA), (2L, "s1", docB)); q.processAllAvailable()
      input.addData((3L, "s1", docC), (4L, "s1", docD)); q.processAllAvailable()
    } finally q.stop()

    val got = SpanPurgeStream.purged(spark, out)
      .select("doc_id", "text_purged", "purged_tokens")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._3 == 0L, "batch-0 docs untouched")
    assert(got(3L)._2 == toks(600, 32).mkString(" "),
      "docC loses the passage batch 0 already holds")
    assert(got(4L)._2 == toks(700, 32).mkString(" "),
      "docD keeps only the first copy of its internal repeat")

    // index holds each hash once: docA 2 + docB 1 + docC 1 novel + docD 1
    val idx = spark.read.parquet(index).select("h").as[Long].collect()
    assert(idx.length == idx.distinct.length)
    assert(idx.length == 5)

    // replay batch 1: output and index byte-identical
    SpanPurgeStream.handler(index, out)(
      Seq((3L, "s1", docC), (4L, "s1", docD)).toDF("doc_id", "source", "text"),
      1L)
    val again = SpanPurgeStream.purged(spark, out)
      .select("doc_id", "text_purged", "purged_tokens")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(again == got, "redelivery must not change the purged corpus")
    assert(spark.read.parquet(index).count() == 5L)
  }

  test("doc_id-ordered ingest reproduces batch q193 keep-first exactly") {
    val (index, out) = dirs()
    val docs = Seq(
      (1L, "s1", (toks(0, 32) ++ passage).mkString(" ")),
      (2L, "s1", (passage ++ toks(300, 32)).mkString(" ")),
      (3L, "s2", (toks(300, 32) ++ toks(400, 8)).mkString(" ")),
      (4L, "s2", (passage ++ toks(400, 8)).mkString(" ")))
    // stream in two doc_id-ordered batches
    SpanPurgeStream.handler(index, out)(
      docs.take(2).toDF("doc_id", "source", "text"), 0L)
    SpanPurgeStream.handler(index, out)(
      docs.drop(2).toDF("doc_id", "source", "text"), 1L)
    val streamed = SpanPurgeStream.purged(spark, out)
      .select("doc_id", "text_purged", "kept_tokens", "purged_tokens")
      .as[(Long, String, Long, Long)].collect().toSet
    val batch = graft.queries.Corpus
      .spanPurge(docs.toDF("doc_id", "source", "text"))
      .select("doc_id", "text_purged", "kept_tokens", "purged_tokens")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream/batch divergence:\n stream=$streamed\n batch=$batch")
  }

  test("fresh checkpoint against an old index is refused") {
    val (index, out) = dirs()
    SpanPurgeStream.handler(index, out)(
      Seq((1L, "s1", passage.mkString(" "))).toDF("doc_id", "source", "text"), 4L)
    val e = intercept[IllegalArgumentException](
      SpanPurgeStream.handler(index, out)(
        Seq((2L, "s1", "x y z")).toDF("doc_id", "source", "text"), 2L))
    assert(e.getMessage.contains("fresh checkpoint"))
  }

  test("a handled batch leaves no persisted RDD behind") {
    val (index, out) = dirs()
    val docs = Seq(
      (1L, "s1", (passage ++ toks(300, 32)).mkString(" ")),
      (2L, "s1", (passage ++ toks(600, 32)).mkString(" ")))
      .toDF("doc_id", "source", "text")
    val (_, left) = persistedBy(SpanPurgeStream.handler(index, out)(docs, 0L))
    assert(left.isEmpty, s"the span-purge handler left persisted RDDs $left")
    assert(SpanPurgeStream.purged(spark, out).count() == 2L)
  }
}
