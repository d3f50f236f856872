package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.LlmOps

/** Exactly-once sink semantics under redelivery: a replayed batch must
  * change NOTHING — not the appended fact partitions, not the upsert
  * state — and a fresh checkpoint pointed at an old sink must be
  * refused, not interleaved.
  */
class IdempotentSinkSpec extends SparkSpec {
  import spark.implicits._
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_${tag}_").toString

  // (key, ver, value) — ver first in the payload so the within-batch
  // collapse is version-latest
  private def kv(rows: (Long, Long, String)*) =
    rows.toDF("k", "ver", "v")

  test("upsert: end-to-end stream applies batch-wins + version-latest merge") {
    val dir = tmp("upsert")
    val input = MemoryStream[(Long, Long, String)]
    val q = input.toDF().toDF("k", "ver", "v").writeStream
      .foreachBatch(IdempotentSink.upsertHandler(dir, Seq("k")) _).start()
    try {
      input.addData((1L, 1L, "a1"), (2L, 1L, "b1")); q.processAllAvailable()
      // key 1 updated; key 3 new; key 2 untouched carries over
      input.addData((1L, 2L, "a2"), (3L, 1L, "c1")); q.processAllAvailable()
    } finally q.stop()
    val got = IdempotentSink.latest(spark, dir)
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set((1L, 2L, "a2"), (2L, 1L, "b1"), (3L, 1L, "c1")))
  }

  test("upsert: duplicate keys within a batch collapse to the max version") {
    val dir = tmp("upsertdup")
    IdempotentSink.upsertHandler(dir, Seq("k"))(
      kv((1L, 1L, "old"), (1L, 3L, "new"), (1L, 2L, "mid")), 0L)
    val got = IdempotentSink.latest(spark, dir)
      .as[(Long, Long, String)].collect().toSeq
    assert(got == Seq((1L, 3L, "new")))
  }

  test("upsert: redelivered batch rebuilds its generation byte-identically") {
    val dir = tmp("replay")
    IdempotentSink.upsertHandler(dir, Seq("k"))(kv((1L, 1L, "a1")), 0L)
    IdempotentSink.upsertHandler(dir, Seq("k"))(
      kv((1L, 2L, "a2"), (2L, 1L, "b1")), 1L)
    val first = IdempotentSink.latest(spark, dir)
      .as[(Long, Long, String)].collect().toSet
    // crash after commit, redeliver batch 1: parent is still gen=0, so
    // the merge re-derives the same state — and no third generation
    IdempotentSink.upsertHandler(dir, Seq("k"))(
      kv((1L, 2L, "a2"), (2L, 1L, "b1")), 1L)
    val second = IdempotentSink.latest(spark, dir)
      .as[(Long, Long, String)].collect().toSet
    assert(first == second)
    assert(second == Set((1L, 2L, "a2"), (2L, 1L, "b1")))
    assert(new java.io.File(dir).list().count(_.startsWith("gen=")) == 2)
  }

  test("append: redelivery overwrites its own partition, never duplicates") {
    val dir = tmp("append")
    IdempotentSink.appendHandler(dir)(kv((1L, 1L, "a")), 0L)
    IdempotentSink.appendHandler(dir)(kv((2L, 1L, "b"), (3L, 1L, "c")), 1L)
    IdempotentSink.appendHandler(dir)(kv((2L, 1L, "b"), (3L, 1L, "c")), 1L)
    val got = IdempotentSink.appended(spark, dir)
    assert(got.count() == 3L)
    assert(got.filter(col("batch_id") === 1).count() == 2L)
  }

  test("fresh checkpoint against an old sink is refused loudly") {
    val dir = tmp("guard")
    IdempotentSink.upsertHandler(dir, Seq("k"))(kv((1L, 1L, "a")), 5L)
    val e = intercept[IllegalArgumentException](
      IdempotentSink.upsertHandler(dir, Seq("k"))(kv((2L, 1L, "b")), 3L))
    assert(e.getMessage.contains("fresh checkpoint"))
  }

  test("every batch_id handler refuses batch 3 after batch 5") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .filter(col("doc_id") < 40)
    val emb = graft.Tables.embeddings(spark, d)
    val semDelta = emb.filter(col("vec_id") % 10 >= 8).limit(3)
    val ivfBase = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val ivfDelta = emb.filter(pmod(col("vec_id"), lit(5)) === 0).limit(3)
    // (handler, base build, one batch delivered at a given id)
    val rows: Seq[(String, String => Unit, String => Long => Unit)] = Seq(
      ("appendHandler", _ => (),
        r => IdempotentSink.appendHandler(r)(kv((1L, 1L, "a")), _)),
      ("upsertHandler", _ => (),
        r => IdempotentSink.upsertHandler(r, Seq("k"))(kv((1L, 1L, "a")), _)),
      ("SpanPurgeStream.handler", _ => (),
        r => SpanPurgeStream.handler(s"$r/index", s"$r/out")(
          docs.select("doc_id", "source", "text"), _)),
      ("IncrementalIndex.probeAndIndex", _ => (),
        r => IncrementalIndex.probeAndIndex(s"$r/bands", s"$r/sigs", s"$r/pairs")(
          docs.select(col("doc_id"), split(col("text"), " ").as("tokens")), _)),
      // the generation handlers also refuse a gapped history, so
      // batches 0-4 land first
      ("SemDedupIngestStream.ingest",
        r => {
          LlmOps.semIncrBuildBase(spark, emb.filter(col("vec_id") % 10 < 8), r)
          (0L to 4L).foreach(SemDedupIngestStream.ingest(r)(semDelta, _))
        },
        r => SemDedupIngestStream.ingest(r)(semDelta, _)),
      ("IvfAdcIngestStream.ingest",
        r => {
          LlmOps.ivfAdcBuildBase(spark, ivfBase, r)
          (0L to 4L).foreach(IvfAdcIngestStream.ingest(r)(ivfDelta, _))
        },
        r => IvfAdcIngestStream.ingest(r)(ivfDelta, _)),
      ("CurationFunnelStream.ingest", _ => (),
        r => CurationFunnelStream.ingest(r)(docs, _)),
      ("SketchMaintainer.ingest", _ => (),
        r => SketchMaintainer.ingest(r)(docs, _)))
    for ((name, base, handle) <- rows) {
      val r = tmp("guard_" + name.takeWhile(_ != '.'))
      base(r)
      handle(r)(5L)
      val e = withClue(s"$name: ")(
        intercept[IllegalArgumentException](handle(r)(3L)))
      assert(e.getMessage.contains("fresh checkpoint"), s"$name: ${e.getMessage}")
    }
  }

  test("a generation layout refuses a batch above its top generation") {
    // a layout holding only generation 0 (a base build restored from an
    // older backup) must not take stream batch 5: generations 1-5 would
    // drop out of every later probe
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = tmp("gap_ivfadc")
    LlmOps.ivfAdcBuildBase(spark, emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), r)
    val e = intercept[IllegalArgumentException](IvfAdcIngestStream.ingest(r)(
      emb.filter(pmod(col("vec_id"), lit(5)) === 0).limit(3), 5L))
    assert(e.getMessage.contains("generations 1..5 are missing"), e.getMessage)
    assert(IdempotentSink.committed(spark, s"$r/codes") == 0L,
      "the refused batch must not write a generation")
  }

  test("sweep keeps the replay parent and refuses keep < 2") {
    val dir = tmp("sweep")
    (0L to 4L).foreach(i =>
      IdempotentSink.upsertHandler(dir, Seq("k"))(kv((i, 1L, s"v$i")), i))
    val dropped = IdempotentSink.sweepGenerations(spark, dir, keep = 2)
    assert(dropped == Seq(0L, 1L, 2L))
    // replay of the newest batch still works off its surviving parent
    IdempotentSink.upsertHandler(dir, Seq("k"))(kv((4L, 1L, "v4")), 4L)
    assert(IdempotentSink.latest(spark, dir).count() == 5L)
    intercept[IllegalArgumentException](
      IdempotentSink.sweepGenerations(spark, dir, keep = 1))
  }
}
