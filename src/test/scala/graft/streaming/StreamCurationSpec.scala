package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q246's streaming-funnel contract: the cumulative ledger equals the
  * batch q237 ledger on the union under ANY slicing of the corpus into
  * micro-batches, a byte-identical redelivered batch changes nothing,
  * and the same handler produces the same state under a LIVE
  * MemoryStream (the q224/q218 live-parity discipline).
  */
class StreamCurationSpec extends SparkSpec {
  import spark.implicits._
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val d = "/root/testdata/sf0.001"

  private def docs = graft.Tables.documents(spark, d)
    .select(col("doc_id"), col("source"), col("lang"), col("text"))

  private def root() =
    java.nio.file.Files.createTempDirectory("graft_curstream_").toString

  private lazy val batchLedger =
    graft.queries.LlmOps.q237TextCuration(spark, d).collect().toSeq

  test("a different slicing (contiguous ranges, 4 batches) yields the identical ledger") {
    val r = root()
    val ids = docs.select(max("doc_id")).as[Long].head()
    val cut = ids / 4 + 1
    (0L until 4L).foreach { b =>
      CurationFunnelStream.ingest(r)(
        docs.filter(col("doc_id") >= b * cut && col("doc_id") < (b + 1) * cut), b)
    }
    val got = CurationFunnelStream.ledger(spark, r).collect().toSeq
    assert(got == batchLedger,
      "range-sliced stream ledger must equal the batch q237 ledger")
  }

  test("byte-identical redelivery of a batch changes neither state nor ledger") {
    val r = root()
    val slice = (b: Long) => docs.filter(pmod(col("doc_id"), lit(2)) === b)
    CurationFunnelStream.ingest(r)(slice(0L), 0L)
    CurationFunnelStream.ingest(r)(slice(1L), 1L)
    val once = CurationFunnelStream.ledger(spark, r).collect().toSeq
    // crash-and-replay: batch 1 lands again, byte-identical
    CurationFunnelStream.ingest(r)(slice(1L), 1L)
    val twice = CurationFunnelStream.ledger(spark, r).collect().toSeq
    assert(twice == once, "a redelivered batch must not change the ledger")
    assert(once == batchLedger, "two-batch stream must equal the batch funnel")
    // and the state holds each doc exactly once
    val n = docs.count()
    assert(spark.read.parquet(s"$r/facts").count() == n,
      "facts must hold every doc exactly once after the replay")
  }

  test("a fresh checkpoint is refused before it touches facts/") {
    val r = root()
    val slice = (b: Long) => docs.filter(pmod(col("doc_id"), lit(2)) === b)
    CurationFunnelStream.ingest(r)(slice(0L), 0L)
    CurationFunnelStream.ingest(r)(slice(1L), 1L)
    // file name -> content digest of every file under facts/batch_id=0
    def facts0(): Map[String, String] = {
      val base = java.nio.file.Paths.get(s"$r/facts/batch_id=0")
      val files = java.nio.file.Files.walk(base)
      try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => base.relativize(f).toString ->
          java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f))
            .map(b => f"$b%02x").mkString).toMap
      finally files.close()
    }
    val before = facts0()
    assert(before.nonEmpty)
    val e = intercept[IllegalArgumentException](
      CurationFunnelStream.ingest(r)(slice(1L), 0L))
    assert(e.getMessage.contains("fresh checkpoint"))
    assert(facts0() == before, "the refused batch must leave facts/batch_id=0 as it was")
  }

  test("the same handler runs under a live MemoryStream with identical results") {
    val r = root()
    val input = MemoryStream[(Long, String, String, String)]
    val q = input.toDF().toDF("doc_id", "source", "lang", "text")
      .writeStream.foreachBatch(CurationFunnelStream.ingest(r) _).start()
    try {
      val rows = docs.as[(Long, String, String, String)].collect()
      val (a, b) = rows.partition(_._1 % 2 == 0)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
    } finally q.stop()
    val got = CurationFunnelStream.ledger(spark, r).collect().toSeq
    assert(got == batchLedger,
      "live-stream ledger must equal the batch q237 ledger")
  }
}
