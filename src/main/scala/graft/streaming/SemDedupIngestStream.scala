package graft.streaming

import org.apache.spark.sql.DataFrame

/** STREAMING SEMANTIC-DEDUP INGEST — the continual-ingest twin of the
  * q255 incremental semantic-dedup index, completing the streaming
  * story beside MinHash ([[IncrementalIndex]], q79), BM25 (q211) and
  * IVFADC ([[IvfAdcIngestStream]], q251): micro-batches of new vectors
  * land as delta-sized `members/batch_id=N` generations of a published
  * layout whose centroid seeds are FROZEN at the base build, and each
  * batch eagerly emits its pair file (`pairs/batch_id=N`) — batch
  * cost is |batch|·K assignment dots plus |batch|·cell-density pair
  * scoring, never a corpus pass.
  *
  * The ingest arithmetic is `LlmOps.semIncrAppendDelta` — INVOKED,
  * never re-implemented — so the unioned pair files are identical to
  * the batch q255 probe under ANY slicing of the delta (per-vector
  * assignment is a pure function of the frozen seeds, and pair
  * emission is eager: each pair forms exactly once, in the generation
  * of its LATER member). The registered q257 gate runs the unioned
  * pairs against q255's own DuckDB oracle, certifying stream == batch
  * cross-engine at every scale factor.
  *
  * Replay: the [[IdempotentSink]] `batch_id=N` log with a generation
  * offset — stream batch N owns generation N+1 (generation 0 is the
  * base assignment) of both `members/` and `pairs/`, and reads prior
  * generations at `batch_id < N+1`. The generation guard
  * ([[IdempotentSink.guardGenerations]]) also refuses a GAP (top
  * generation below N): only the previous or its own generation is a
  * legal continuation.
  */
object SemDedupIngestStream {

  /** The foreachBatch handler: land one micro-batch of vectors
    * (vec_id, embedding) as generation `batchId + 1` of the layout at
    * `root` (which must already hold the frozen `cents/` seeds plus
    * the `members/batch_id=0` base generation —
    * `LlmOps.semIncrBuildBase`). Curry the root and pass to
    * `writeStream.foreachBatch(ingest(root) _)`. */
  def ingest(root: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$root/cents")),
      s"no frozen cents/ seed table at $root — build the base layout " +
        "(LlmOps.semIncrBuildBase) before streaming deltas into it")
    // pairing against every earlier generation needs all of them
    IdempotentSink.guardGenerations(s, s"$root/members", batchId)
    graft.queries.LlmOps.semIncrAppendDelta(s,
      batch.select("vec_id", "embedding"), root, batchId + 1)
  }
}
