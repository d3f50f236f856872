package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming maintenance of the q123 mergeable-sketch table — the "live
  * ingest" half of the mergeable-sketch architecture
  * ([[graft.queries.Corpus.q123SketchRollup]] builds the batch layout):
  * every micro-batch of documents is collapsed to one HLL sketch per
  * (source, lang) and APPENDED under its `batch_id=N` partition; the
  * current vocabulary estimate at any granularity is a `hll_union_agg`
  * over the accumulated sketch rows. No batch is ever re-tokenized, the
  * sketch table grows by |sources × langs| fixed-size rows per batch,
  * and compaction (folding many batch partitions into one) is itself
  * just a union-merge — the operational loop a 100 TB warehouse runs
  * next to its fact ingest.
  *
  * Replay discipline ([[IdempotentSink.appendHandler]]): each batch
  * OVERWRITES its own `batch_id=N` directory, so a post-crash replay
  * rewrites identical sketch rows instead of appending duplicates — and
  * even a protocol failure that double-counted a batch would not corrupt
  * the ESTIMATES, because HLL union is idempotent (re-unioning the same
  * sketch is a register-level no-op). Exactly the property that makes
  * sketches, unlike exact distinct counts, safe to maintain under
  * at-least-once delivery.
  */
object SketchMaintainer {

  /** Per-batch ingest: batch docs (source, lang, text) → one sketch row
    * per (source, lang) under `dir/batch_id=N`.
    */
  def ingest(dir: String, lgK: Int = 14)(batch: DataFrame, batchId: Long): Unit =
    IdempotentSink.appendHandler(dir)(batch
      .select(col("source"), col("lang"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .groupBy("source", "lang")
      .agg(hll_sketch_agg(col("w"), lgK).as("sk")), batchId)

  /** Current per-source vocabulary estimates from the accumulated sketch
    * table — reads ONLY sketch rows (|sources × langs × batches|), never
    * any batch's raw text.
    */
  def estimates(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_parts"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).cast("long").as("est_vocab"))
      .orderBy("source")
}
