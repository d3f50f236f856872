package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{MinHash, VectorExpressions}

/** STREAMING CURATION FUNNEL — q237's continual-ingest twin: documents
  * arrive in micro-batches, each batch lands DELTA-SIZED maintained
  * state, and the cumulative funnel LEDGER after N batches equals the
  * batch q237 ledger over the union of everything ingested — under ANY
  * slicing of the corpus into batches, and under byte-identical
  * redelivery (both spec-pinned; the registered q246 gate runs the
  * ledger against q237's own DuckDB oracle, so slicing-independence is
  * certified cross-engine at every scale factor).
  *
  * Maintained state under `root`, all on the [[IdempotentSink]]
  * `batch_id=N` log (the handler guards before its first write):
  *
  *  - `facts/batch_id=N` — per-doc PURE facts: (doc_id, source, lang,
  *    h, ntok, logit). Hash, token count, and the quality logit are
  *    pure per-doc functions, so they are computed once at ingest and
  *    never recomputed; text NEVER persists into the state (the q237
  *    decision-frame discipline);
  *  - LSH index `bands/` + `sigs/` via [[IncrementalIndex.probeAndIndex]]
  *    (the q79-certified protocol, en docs, the dedupEdges parameters),
  *    which also emits `pairs/batch_id=N` — the EAGER, low-latency
  *    near-dup signal whose bucket guard reflects occupancy at probe
  *    time (slicing-DEPENDENT, exactly like [[TtlDedupProcessor]]'s
  *    eager admission — kept because a live ingest wants pairs now);
  *  - `grams/batch_id=N` — the distinct 2-gram shingle sets of the
  *    exact-Jaccard leg's population (en, src0, ≥2 tokens), so the
  *    ledger can replay q237's exact-Jaccard edge leg without text.
  *
  * The LEDGER is where slicing-independence is restored: near-dup
  * edges are derived from the ACCUMULATED postings with BATCH
  * semantics ([[MinHash.pairsFromPostings]] — the bucket guard applied
  * to final occupancy, exactly what `candidatePairs` over the union
  * computes), the exact-Jaccard leg runs `LlmOps.jaccardHalfPairs` over
  * the accumulated grams (the batch leg's own helper), and the
  * funnel arithmetic is `LlmOps.curationLedger` — INVOKED, never
  * re-implemented, so the stream cannot drift from the gated batch
  * path. Ledger cost is snapshot-sized (the decision frame is global
  * by nature); INGEST cost is delta-sized — the split a 100 TB
  * deployment wants: cheap continual admission, scheduled ledger
  * materialization.
  *
  * Re-ingested doc_ids (re-crawls) resolve to their newest batch
  * ([[IdempotentSink.keepLatest]], as in [[IncrementalIndex]]'s probe).
  */
object CurationFunnelStream {

  private val FactsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("lang", StringType), StructField("h", LongType),
    StructField("ntok", LongType), StructField("logit", LongType)))
  private val GramsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("grams", ArrayType(StringType))))

  private def toks(c: org.apache.spark.sql.Column) = split(trim(c), "\\s+")

  /** The foreachBatch handler: land one micro-batch of documents
    * (doc_id, source, lang, text) into the maintained curation state at
    * `root`. Curry the root and pass to `writeStream.foreachBatch`. */
  def ingest(root: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    IdempotentSink.guard(s,
      Seq("facts", "bands", "sigs", "pairs", "grams").map(d => s"$root/$d"),
      batchId, batchId)
    // per-doc pure facts — computed once, text never persisted
    val facts = batch.select(col("doc_id"), col("source"), col("lang"),
        VectorExpressions.hornerHash(col("text")).as("h"),
        size(toks(col("text"))).cast("long").as("ntok"))
      .join(graft.queries.LlmOps.qualityLogits(
          batch.select(col("doc_id"), col("source"), col("text")))
        .select(col("doc_id"), col("logit")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("lang"), col("h"),
        col("ntok"), coalesce(col("logit"), lit(0L)).as("logit"))
    facts.write.mode("overwrite").parquet(s"$root/facts/batch_id=$batchId")
    // LSH leg: the q79-certified probe-and-append protocol, en docs,
    // the q237 dedupEdges parameters (emits the eager pairs/batch_id=N
    // signal)
    IncrementalIndex.probeAndIndex(s"$root/bands", s"$root/sigs",
        s"$root/pairs", shingleN = 2, k = 64, nBands = 8,
        maxBucket = 100, minJaccard = 0.5)(
      batch.filter(col("lang") === "en")
        .select(col("doc_id"), toks(col("text")).as("tokens")), batchId)
    // exact-Jaccard leg population: distinct 2-gram sets
    val t = toks(col("text"))
    batch.filter(col("lang") === "en" && col("source") === "src0" &&
        size(t) >= 2)
      .select(col("doc_id"), MinHash.shingles(t, 2).as("grams"))
      .write.mode("overwrite").parquet(s"$root/grams/batch_id=$batchId")
  }

  /** The cumulative funnel ledger over everything ingested so far —
    * byte-identical to q237's ledger on the union (certified by the
    * q246 gate running against q237's own oracle). */
  def ledger(s: SparkSession, root: String): DataFrame = {
    import IdempotentSink.{keepLatest, readOrEmpty}
    val facts = keepLatest(readOrEmpty(s, s"$root/facts", FactsSchema), "doc_id")
    // slicing-independent near-dup edges: batch semantics over the
    // ACCUMULATED postings (final-occupancy bucket guard), plus the
    // exact-Jaccard leg over the accumulated gram sets
    val bands = keepLatest(s.read.parquet(s"$root/bands"), "id")
      .select("band", "bucket", "id")
    val sigs = keepLatest(s.read.parquet(s"$root/sigs"), "id")
      .select("id", "sig")
    val lsh = MinHash.pairsFromPostings(bands, sigs,
        maxBucket = 100, minJaccard = 0.5)
      .select("id_a", "id_b")
    val grams = keepLatest(readOrEmpty(s, s"$root/grams", GramsSchema), "doc_id")
    graft.queries.LlmOps.curationLedger(s,
      facts.select(col("doc_id"), col("source"), col("lang"), col("h"),
        col("ntok")),
      lsh.unionByName(graft.queries.LlmOps.jaccardHalfPairs(grams)),
      facts.select(col("doc_id"), col("logit")))
  }
}
