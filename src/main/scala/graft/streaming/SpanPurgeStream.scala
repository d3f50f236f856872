package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.Snapshots

/** Streaming sub-document span purge — the q193 APPLY as a continual-
  * ingest `foreachBatch` sink (the [[IncrementalIndex]] shape applied
  * to the chunk-hash index): every micro-batch of documents is purged
  * against EVERYTHING INGESTED BEFORE IT plus itself, then its new span
  * hashes append to the maintained index so later batches purge against
  * them. Keep-first is therefore ARRIVAL order (batch, then the
  * corpus-global (doc_id, chunk_id) rule within the batch) — identical
  * to batch q193 whenever ingest is doc_id-ordered, which
  * SpanPurgeStreamSpec pins as the batch/stream equivalence contract.
  *
  * Replay: the [[IdempotentSink]] `batch_id=N` log — purged documents
  * and the batch's NEW DISTINCT index hashes each land in a `batch_id=N`
  * directory, and the probe reads the index at `batch_id < N`.
  *
  * Scale: per-batch cost is batch-sized plus one index probe keyed on
  * 8-byte hashes (the index holds each span hash ONCE, ever — appends
  * are anti-joined against history); document text never enters a
  * shuffle (the apply kernel rebuilds map-side, `Corpus.applySpanDrops`).
  */
object SpanPurgeStream {

  private val IndexSchema = StructType(Seq(StructField("h", LongType)))

  /** The foreachBatch handler: purge batch (doc_id, source, text)
    * against the chunk-hash index at `indexDir`, write purged documents
    * to `outDir/batch_id=N`, append the batch's novel hashes as the
    * `batch_id=N` index partition. Curry the dirs and pass to
    * `writeStream.foreachBatch(SpanPurgeStream.handler(...) _)`.
    */
  def handler(indexDir: String, outDir: String)
      (batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    IdempotentSink.guard(s, Seq(indexDir, outDir), batchId, batchId)
    val chunks = graft.queries.Corpus.docChunks(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seen = IdempotentSink.readOrEmpty(s, indexDir, IndexSchema)
        .filter(col("batch_id") < batchId).select("h")
      // a chunk drops iff its hash was ingested before this batch, or it
      // loses the within-batch keep-first race (corpus-global
      // (doc_id, chunk_id) minimum — the batch-q193 rule)
      val winners = chunks.groupBy("h")
        .agg(count(lit(1)).as("nh"),
          min(struct(col("doc_id"), col("chunk_id"))).as("w"))
      Snapshots.using(chunks
          .join(winners, Seq("h"))
          .join(seen.withColumn("__seen", lit(1)), Seq("h"), "left")
          .filter(col("__seen").isNotNull ||
            (col("nh") > 1 &&
              struct(col("doc_id"), col("chunk_id")) =!= col("w")))
          .groupBy("doc_id")
          .agg(sort_array(collect_list(col("chunk_id"))).as("drops"))) { dropLists =>
        graft.queries.Corpus.applySpanDrops(batch, dropLists)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      chunks.select("h").distinct()
        .join(seen, Seq("h"), "left_anti")
        .write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
    } finally chunks.unpersist(blocking = false)
  }

  /** The purged corpus so far (with its `batch_id` partition column). */
  def purged(s: SparkSession, outDir: String): DataFrame =
    s.read.parquet(outDir)
}
