package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.LlmOps

/** q257's streaming-ingest contract: the unioned pair files equal the
  * batch q255 probe under ANY slicing of the delta into micro-batches,
  * a byte-identical redelivered batch changes nothing, the same
  * handler produces the same layout under a LIVE MemoryStream, the
  * fresh-checkpoint aging guard refuses, and the EAGER occupancy guard
  * has the documented crossing semantics (pre-crossing pairs stand,
  * the crossed cell stops pairing).
  */
class SemDedupStreamSpec extends SparkSpec {
  import spark.implicits._
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val d = "/root/testdata/sf0.001"

  private def emb = graft.Tables.embeddings(spark, d)
  // the q255 snapshot split rule (IncrSemNewMod = 10)
  private def base = emb.filter(col("vec_id") % 10 < 8)
  private def delta = emb.filter(col("vec_id") % 10 >= 8)

  private def root() =
    java.nio.file.Files.createTempDirectory("graft_semstr_").toString

  private def pairs(r: String): Seq[(Long, Long, String, Long, Double)] =
    spark.read.parquet(s"$r/pairs")
      .select($"id_a", $"id_b", $"kind", $"cell_id", $"sim")
      .orderBy("id_a", "id_b")
      .as[(Long, Long, String, Long, Double)].collect().toSeq

  private lazy val batchReference =
    LlmOps.q255IncrSemDedup(spark, d)
      .as[(Long, Long, String, Long, Double)].collect().toSeq

  test("a different slicing (3 contiguous id ranges) unions identically") {
    val r = root()
    LlmOps.semIncrBuildBase(spark, base, r)
    val hi = delta.agg(max("vec_id")).as[Long].head()
    val cut = hi / 3 + 1
    (0L until 3L).foreach { b =>
      SemDedupIngestStream.ingest(r)(
        delta.filter(col("vec_id") >= b * cut && col("vec_id") < (b + 1) * cut), b)
    }
    assert(pairs(r) == batchReference,
      "range-sliced streamed pairs must equal the batch q255 output")
  }

  test("byte-identical redelivery of a batch changes neither members nor pairs") {
    val r = root()
    LlmOps.semIncrBuildBase(spark, base, r)
    val slice = (b: Long) =>
      delta.filter(pmod(expr("vec_id DIV 10"), lit(2)) === b)
    SemDedupIngestStream.ingest(r)(slice(0L), 0L)
    SemDedupIngestStream.ingest(r)(slice(1L), 1L)
    val once = pairs(r)
    val membersOnce = spark.read.parquet(s"$r/members").count()
    SemDedupIngestStream.ingest(r)(slice(1L), 1L)
    assert(spark.read.parquet(s"$r/members").count() == membersOnce,
      "a redelivered batch must overwrite its own generation, not append")
    assert(pairs(r) == once, "a redelivered batch must not change the pairs")
    assert(once == batchReference, "two-batch stream must equal batch q255")
  }

  test("the same handler runs under a live MemoryStream with identical results") {
    val r = root()
    LlmOps.semIncrBuildBase(spark, base, r)
    val input = MemoryStream[(Long, Array[Float])]
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream.foreachBatch(SemDedupIngestStream.ingest(r) _).start()
    try {
      val rows = delta.select("vec_id", "embedding")
        .as[(Long, Array[Float])].collect()
      val (a, b) = rows.partition(v => (v._1 / 10) % 2 == 0)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
    } finally q.stop()
    assert(pairs(r) == batchReference,
      "live-stream pairs must equal the batch q255 output")
  }

  test("aging guard: a fresh checkpoint against an advanced layout refuses") {
    val r = root()
    LlmOps.semIncrBuildBase(spark, base, r)
    SemDedupIngestStream.ingest(r)(delta.limit(3), 0L)
    SemDedupIngestStream.ingest(r)(delta.limit(3), 1L)
    val ex = intercept[IllegalArgumentException] {
      SemDedupIngestStream.ingest(r)(delta.limit(3), 0L)
    }
    assert(ex.getMessage.contains("fresh checkpoint"))
  }

  test("missing frozen seeds refuse before any write") {
    val r = root()
    val ex = intercept[IllegalArgumentException] {
      SemDedupIngestStream.ingest(r)(delta.limit(3), 0L)
    }
    assert(ex.getMessage.contains("semIncrBuildBase"))
  }

  test("drift audit (q258 body): a planted drifted generation opens a " +
    "mean_ppm gap the healthy generation does not") {
    val r = root()
    def vec(f: Int => Double): Array[Float] =
      Array.tabulate(64)(d => f(d).toFloat)
    // base: two clusters living in dims 0..15, tiny noise below dim 32,
    // EXACT zeros in dims 32..63 — the frozen seeds (vec_id 0 and 64,
    // the stride rule over the base frame) sit one per cluster
    val baseRows = (0L until 128L).map { id =>
      val block = if (id < 64) 0 else 1
      (id, vec(d =>
        if (d / 8 == block) 1.0 + 0.01 * ((id + d) % 5)
        else if (d < 32) 0.01 * ((id * 7 + d) % 3) else 0.0))
    }
    LlmOps.semIncrBuildBase(spark, baseRows.toDF("vec_id", "embedding"), r)
    // healthy delta: same clusters — assignment quality tracks the base
    val healthy = (200L until 220L).map { id =>
      val block = if (id % 2 == 0) 0 else 1
      (id, vec(d =>
        if (d / 8 == block) 1.0 + 0.01 * ((id + d) % 5) else 0.0))
    }
    SemDedupIngestStream.ingest(r)(healthy.toDF("vec_id", "embedding"), 0L)
    // drifted delta: all mass in dims 32..63, where every frozen seed
    // is exactly zero — cosine to ANY assigned centroid collapses
    val drifted = (300L until 320L).map { id =>
      (id, vec(d =>
        if (d >= 32 && (d - 32) / 8 == id % 4) 2.0 + 0.01 * ((id + d) % 5)
        else 0.0))
    }
    SemDedupIngestStream.ingest(r)(drifted.toDF("vec_id", "embedding"), 1L)
    val audit = LlmOps.semDriftAudit(spark, r)
      .select($"generation", $"mean_ppm").as[(Long, Long)].collect().toMap
    assert(audit.keySet == Set(0L, 1L, 2L))
    assert(audit(0L) > 700000L && audit(1L) > 700000L,
      s"base and healthy generations must assign tightly: $audit")
    assert(audit(2L) < audit(1L) - 500000L,
      s"the drifted generation must open the gap the audit exists for: $audit")
  }

  test("drift trip → rebuild → recovery: the audit's rebuild_due column " +
    "fires on the drifted generation, semRebuildIfDrifted republishes a " +
    "fresh layout whose audit is clean, and the stream re-points at it") {
    val r = root()
    def vec(f: Int => Double): Array[Float] =
      Array.tabulate(64)(d => f(d).toFloat)
    // the q258-drift fixture: two healthy clusters in dims 0..15 plus a
    // drifted generation living where every frozen seed is exactly zero
    val baseRows = (0L until 128L).map { id =>
      val block = if (id < 64) 0 else 1
      (id, vec(d => if (d / 8 == block) 1.0 + 0.01 * ((id + d) % 5) else 0.0))
    }
    LlmOps.semIncrBuildBase(spark, baseRows.toDF("vec_id", "embedding"), r)
    val drifted = (300L until 340L).map { id =>
      (id, vec(d =>
        if (d >= 32 && (d - 32) / 8 == id % 4) 2.0 + 0.01 * ((id + d) % 5)
        else 0.0))
    }
    SemDedupIngestStream.ingest(r)(drifted.toDF("vec_id", "embedding"), 0L)
    // 1. the audit TRIPS: exactly the drifted generation is rebuild_due
    val audit = LlmOps.semDriftAudit(spark, r)
      .select($"generation", $"rebuild_due").as[(Long, Long)].collect().toMap
    assert(audit == Map(0L -> 0L, 1L -> 1L),
      s"rebuild_due must fire on the drifted generation only: $audit")
    // 2. the loop ACTS: a fresh layout is republished from base + all
    // generations under re-derived seeds (the stride rule now sees the
    // drifted ids too, so their region of space gets its own cells)
    val r2 = root()
    assert(LlmOps.semRebuildIfDrifted(spark, r, r2),
      "a tripped audit must trigger the rebuild")
    assert(new java.io.File(s"$r2/cents").exists())
    // the rebuilt layout holds the SAME corpus, re-based as generation 0
    val beforeIds = spark.read.parquet(s"$r/members")
      .select("vec_id").as[Long].collect().toSet
    val afterIds = spark.read.parquet(s"$r2/members")
      .select("vec_id").as[Long].collect().toSet
    assert(afterIds == beforeIds, "rebuild must re-assign, never drop")
    assert(spark.read.parquet(s"$r2/members")
      .select("batch_id").distinct().as[Long].collect().toSeq == Seq(0L))
    // 3. RECOVERY: the rebuilt audit is clean — no generation trips
    val after = LlmOps.semDriftAudit(spark, r2)
      .select($"generation", $"rebuild_due", $"mean_ppm")
      .as[(Long, Long, Long)].collect()
    assert(after.forall(_._2 == 0L),
      s"post-rebuild audit must be clean: ${after.toSeq}")
    assert(after.forall(_._3 > LlmOps.SemRebuildMinMeanPpm),
      s"post-rebuild means must sit above the trigger: ${after.toSeq}")
    // 4. RE-POINT: the stream continues against the fresh layout (a new
    // checkpoint starts at batch 0 → generation 1)
    val more = (400L until 410L).map { id =>
      (id, vec(d => if (d / 8 == 0) 1.0 + 0.01 * ((id + d) % 5) else 0.0))
    }
    SemDedupIngestStream.ingest(r2)(more.toDF("vec_id", "embedding"), 0L)
    val gens = spark.read.parquet(s"$r2/members")
      .select("batch_id").distinct().as[Long].collect().toSet
    assert(gens == Set(0L, 1L), "the re-pointed stream must land cleanly")
    // a healthy continuation does NOT re-trip
    assert(!LlmOps.semRebuildIfDrifted(spark, r2,
      root() /* never built */))
    // the original layout was left untouched for forensics/rollback
    assert(LlmOps.semDriftAudit(spark, r)
      .filter($"rebuild_due" === 1L).count() == 1L)
  }

  test("eager guard: a cell crossing the bound mid-stream keeps its " +
    "earlier pairs and stops pairing") {
    val r = root()
    LlmOps.semIncrBuildBase(spark, base, r)
    val slice = (b: Long) =>
      delta.filter(pmod(expr("vec_id DIV 10"), lit(2)) === b)
    // generation 1 under the production bound
    LlmOps.semIncrAppendDelta(spark, slice(0L).select("vec_id", "embedding"),
      r, 1L)
    val gen1 = spark.read.parquet(s"$r/pairs")
      .filter($"batch_id" === 1L)
      .select($"cell_id", $"id_a").as[(Long, Long)].collect().toSeq
    assert(gen1.nonEmpty, "generation 1 should emit pairs at tau=0.3")
    // pick a cell that emitted at generation 1 AND will receive
    // batch-2 members, then shrink the bound so it crosses exactly at
    // generation 2 (occupancy after batch 2 > bound >= after batch 1)
    val occ1 = spark.read.parquet(s"$r/members")
      .groupBy("cell_id").count().as[(Long, Long)].collect().toMap
    val gen2members = slice(1L).select("vec_id", "embedding")
    val crossed = gen1.map(_._1).distinct.find(c => occ1.contains(c))
    assert(crossed.nonEmpty)
    val cellX = crossed.get
    val bound = occ1(cellX)
    LlmOps.semIncrAppendDelta(spark, gen2members, r, 2L, maxCell = bound)
    val gen2 = spark.read.parquet(s"$r/pairs")
      .filter($"batch_id" === 2L)
      .select($"cell_id").as[Long].collect().toSeq
    // cellX was at the bound after batch 1; any batch-2 member pushes
    // it over, so generation 2 must not pair in it — while generation
    // 1's pairs in cellX survive untouched in their own file
    val gotB2 = spark.read.parquet(s"$r/members")
      .filter($"batch_id" === 2L && $"cell_id" === cellX).count()
    if (gotB2 > 0) assert(!gen2.contains(cellX),
      s"cell $cellX crossed the bound at generation 2 and must stop pairing")
    val gen1After = spark.read.parquet(s"$r/pairs")
      .filter($"batch_id" === 1L)
      .select($"cell_id", $"id_a").as[(Long, Long)].collect().toSeq
    assert(gen1After == gen1, "earlier generations' pairs must stand")
  }

  test("an appended generation releases its batch snapshot") {
    val r = root()
    LlmOps.semIncrBuildBase(spark, base, r)
    val (_, left) = persistedBy(LlmOps.semIncrAppendDelta(spark,
      delta.select("vec_id", "embedding"), r, 1L))
    assert(left.isEmpty, s"semIncrAppendDelta left persisted RDDs $left")
  }
}
