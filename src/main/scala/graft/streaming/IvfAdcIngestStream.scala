package graft.streaming

import org.apache.spark.sql.DataFrame

/** STREAMING IVFADC INGEST — the continual-ingest twin of the composed
  * ANN layout (q245/q250), completing the streaming story the MinHash
  * index ([[IncrementalIndex]], q79) and the BM25 index (q211) already
  * have: micro-batches of new vectors land as delta-sized generations
  * of a published IVFADC layout, with both quantizers FROZEN at the
  * base build — a batch's cost is |batch|·cells integer dots plus
  * |batch|·M·K code argmins, never a corpus pass, and probes keep
  * reading the same cell-pruned 8-int scan over the union of
  * generations.
  *
  * The ingest arithmetic is `LlmOps.ivfAdcAppendDelta` — INVOKED, never
  * re-implemented — so the streamed layout is bit-identical to the
  * batch-built one under ANY slicing of the delta into micro-batches
  * (per-vector assignment and encoding are pure functions of the frozen
  * quantizer tables). The registered q251 gate runs the streamed
  * layout's probe against q250's own DuckDB oracle, certifying
  * stream == batch cross-engine at every scale factor (the q246/q237
  * pattern on vectors).
  *
  * Replay: the [[IdempotentSink]] `batch_id=N` log with a generation
  * offset — stream batch N owns generation N+1 of `codes/`
  * (generation 0 is the base build); the generation guard
  * ([[IdempotentSink.guardGenerations]]) refuses a replayed-over layout
  * and a gapped one.
  */
object IvfAdcIngestStream {

  /** The foreachBatch handler: land one micro-batch of vectors
    * (vec_id, embedding) as generation `batchId + 1` of the IVFADC
    * layout at `root` (which must already hold the frozen `cents/` and
    * `codebook/` tables plus the `codes/batch_id=0` base generation —
    * `LlmOps.ivfAdcBuildBase`). Curry the root and pass to
    * `writeStream.foreachBatch(ingest(root) _)`. */
  def ingest(root: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq("cents", "codebook").foreach { t =>
      require(fs.exists(new org.apache.hadoop.fs.Path(s"$root/$t")),
        s"no frozen $t/ table at $root — build the base layout " +
          "(LlmOps.ivfAdcBuildBase) before streaming deltas into it")
    }
    IdempotentSink.guardGenerations(s, s"$root/codes", batchId)
    graft.queries.LlmOps.ivfAdcAppendDelta(s,
      batch.select("vec_id", "embedding"), root, batchId + 1)
  }
}
