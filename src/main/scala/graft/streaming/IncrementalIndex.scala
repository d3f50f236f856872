package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.MinHash

/** Streaming continual-ingest dedup — the q79 index-probe loop as a
  * Structured Streaming `foreachBatch` sink: every micro-batch of new
  * documents is (1) PROBED against the maintained MinHash index (pairs
  * with everything ingested before it, plus intra-batch pairs), then
  * (2) APPENDED to that index so later batches dedup against it. This is
  * the shape a 100 TB ingest actually runs: the index grows monotonically,
  * each batch's cost scales with the batch, and the corpus is never
  * re-banded.
  *
  * Replay: the [[IdempotentSink]] `batch_id=N` log — the index appends
  * and the emitted pairs each land in a `batch_id=N` directory, and the
  * probe reads the index at `batch_id < N`, so a replayed batch never
  * pairs against its own rows.
  */
object IncrementalIndex {

  private val BandsSchema = StructType(Seq(
    StructField("band", IntegerType), StructField("bucket", LongType),
    StructField("id", LongType)))
  private val SigsSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("sig", ArrayType(LongType))))

  /** The foreachBatch handler: probe batch (doc_id, tokens) against the
    * index at `bandsDir`/`sigsDir`, write this batch's pairs to
    * `pairsDir/batch_id=N`, then append the batch's own band/sig rows as
    * `batch_id=N` index partitions. Curry the dirs and pass to
    * `writeStream.foreachBatch(handler(...) _)`.
    *
    * A doc_id re-ingested in a later batch (re-crawl) SUPERSEDES its
    * indexed versions: every probe reads the index KEEP-LATEST per id
    * (largest batch_id wins, then the current batch's own version wins
    * over all of them), because an id is one identity — scoring a
    * candidate against two content versions of the same id would emit
    * conflicting pair rows. The keep-latest dedup is an index-sized
    * aggregate per batch; a deployment amortizes it with periodic
    * q67-style keep-latest compaction of the index partitions, after
    * which the per-batch dedup is a no-op over already-unique ids.
    */
  def probeAndIndex(bandsDir: String, sigsDir: String, pairsDir: String,
      shingleN: Int = 2, k: Int = 64, nBands: Int = 8,
      maxBucket: Int = 100, minJaccard: Double = 0.5)
      (batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    IdempotentSink.guard(s, Seq(bandsDir, sigsDir), batchId, batchId)
    val docs = batch.select(col("doc_id"), col("tokens"))
    // Persist the KERNEL OUTPUT, not the raw tokens: bands and sigs feed
    // three actions (pairs write + two index appends), and the
    // signature/banding kernels are the dominant per-row CPU cost —
    // without this the banding kernel runs ~3x per batch.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val newBands = MinHash.explodedBands(docs, "doc_id", "tokens",
      shingleN, k, nBands, portable = true).select("band", "bucket", "id")
      .persist(lvl)
    val newSigs = docs.select(col("doc_id").as("id"),
        MinHash.signature(col("tokens"), shingleN, k, portable = true).as("sig"))
      .filter(col("sig").isNotNull)
      .persist(lvl)
    try {
      // history strictly before this batch, keep-latest per id, minus
      // the ids this batch supersedes (a small broadcast side)
      def index(dir: String, schema: StructType) =
        IdempotentSink.keepLatest(IdempotentSink.readOrEmpty(s, dir, schema)
            .filter(col("batch_id") < batchId), "id")
          .join(broadcast(newSigs.select(col("id"))), Seq("id"), "left_anti")
      val idxBands = index(bandsDir, BandsSchema)
      val idxSigs = index(sigsDir, SigsSchema)
      MinHash.incrementalProbe(idxBands, idxSigs, newBands, newSigs,
          maxBucket, minJaccard)
        .write.mode("overwrite").parquet(s"$pairsDir/batch_id=$batchId")
      newBands.write.mode("overwrite").parquet(s"$bandsDir/batch_id=$batchId")
      newSigs.write.mode("overwrite").parquet(s"$sigsDir/batch_id=$batchId")
    } finally {
      newBands.unpersist(blocking = false)
      newSigs.unpersist(blocking = false)
    }
  }
}
