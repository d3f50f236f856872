package graft.queries

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** q245's IVFADC contract: the code-table scan is PARTITION-PRUNED to
  * the probed coarse cells (the whole point of composing IVF with PQ),
  * every returned candidate really lives in a probed cell (independent
  * driver-side re-derivation of the coarse probe), and the recall@K
  * audit holds against the exact integer top-K — cell-pruning must not
  * collapse recall below the full-scan ADC's (q244's) on the same
  * query panel.
  */
class IvfAdcSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val K = 5

  test("the code scan is DPP-pruned to the probed cells") {
    val df = LlmOps.q245IvfAdc(spark, sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("ivfadc_")) &&
        f.relation.location.rootPaths.exists(_.toString.contains("codes")) => f
    }
    assert(scans.nonEmpty, "the probe must read the published codes layout")
    assert(scans.exists(_.partitionFilters.exists(
        _.toString.contains("dynamicpruning"))),
      s"codes scan should be DPP-pruned: ${scans.map(_.partitionFilters)}")
  }

  test("scan budget: the probe reads only the three layout artifacts; rerank adds ONE corpus scan") {
    // the query panel is checkpointed once, so the adaptive plan's
    // parquet scans are exactly cents + codebook + codes for q245, and
    // those three + the single full-vector rerank scan for q249 —
    // a regression here means a panel or corpus re-scan crept back in
    def scans(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      "Scan parquet".r.findAllIn(df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head).length
    }
    assert(scans(LlmOps.q245IvfAdc(spark, sf)) == 3,
      "q245 must read exactly cents + codebook + codes")
    assert(scans(LlmOps.q249IvfAdcRerank(spark, sf)) == 4,
      "q249 must add exactly one full-vector scan for the rerank")
  }

  test("every returned candidate lives in a probed cell (independent coarse-probe re-derivation)") {
    // re-derive the coarse probe driver-side from raw embeddings: 2^20
    // quantization, per-label trunc-division centroid components,
    // exact integer dot ranking, top-3 cells per query
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Long, Seq[Float])].collect()
    def quant(v: Seq[Float]): Array[Long] =
      v.map(x => math.round(x.toDouble * 1048576.0)).toArray
    val byLabel = e.groupBy(_._2)
    val cents: Map[Long, Array[Long]] = byLabel.map { case (lab, vs) =>
      val dims = vs.head._3.length
      val sums = new Array[Long](dims)
      vs.foreach { case (_, _, emb) =>
        val q = quant(emb); var i = 0
        while (i < dims) { sums(i) += q(i); i += 1 }
      }
      lab -> sums.map(s => s / vs.length) // JVM / truncates like DIV
    }
    val queries = e.filter(v => v._1 % 50 == 0 && v._1 < 50000)
    val probed: Map[Long, Set[Long]] = queries.map { case (qid, _, qe) =>
      val q = quant(qe)
      val ranked = cents.toSeq.map { case (lab, c) =>
        var dot = 0L; var i = 0
        while (i < q.length) { dot += q(i) * c(i); i += 1 }
        (lab, dot)
      }.sortBy { case (lab, dot) => (-dot, lab) }.take(3).map(_._1)
      qid -> ranked.toSet
    }.toMap
    val labelOf = e.map(v => v._1 -> v._2).toMap
    val out = LlmOps.q245IvfAdc(spark, sf)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (qid, vid) =>
      assert(probed(qid).contains(labelOf(vid)),
        s"q$qid returned $vid from unprobed cell ${labelOf(vid)}")
    }
  }

  test("incremental generations cover every vector exactly once; replayed append is probe-invariant") {
    val dir = LlmOps.q250IvfAdcIncremental(spark, sf)
      .queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("ivfadcinc_")) &&
          f.relation.location.rootPaths.exists(_.toString.contains("codes")) =>
          // codes root = .../ivfadcinc_*/codes
          f.relation.location.rootPaths.head.toString
            .replaceAll("/codes.*$", "")
      }.headOption.getOrElse(fail("q250 must scan the incremental layout"))
    val codes = spark.read.parquet(s"$dir/codes")
    val n = Tables.embeddings(spark, sf).count()
    assert(codes.count() == n, "generations must cover the whole corpus")
    assert(codes.select("vec_id").distinct().count() == n,
      "no vector may appear in two generations")
    val deltaIds = codes.filter(col("batch_id") === 1)
      .select("vec_id").as[Long].collect().toSet
    assert(deltaIds.nonEmpty && deltaIds.forall(_ % 5 == 0),
      "the delta generation holds exactly the delta vectors")
    // crash-and-replay: the same delta lands again, byte-identically
    val before = LlmOps.q250IvfAdcIncremental(spark, sf).collect().toSeq
    LlmOps.ivfAdcAppendDelta(spark,
      Tables.embeddings(spark, sf)
        .filter(pmod(col("vec_id"), lit(5)) === 0), dir, 1L)
    val after = LlmOps.q250IvfAdcIncremental(spark, sf).collect().toSeq
    assert(after == before, "a replayed append must not change the probe")
    assert(spark.read.parquet(s"$dir/codes")
      .groupBy("vec_id").count().filter(col("count") > 1).isEmpty,
      "no vector may appear twice after a replay")
  }

  test("code-generation compaction is probe-invariant and collapses to one generation") {
    // a PRIVATE copy of the incremental layout (build + TWO deltas), so
    // compaction here cannot mutate the published q250 layout
    val dir = java.nio.file.Files.createTempDirectory("ivfadc_cpt_").toString
    val e = Tables.embeddings(spark, sf)
    val base = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val qxl = round(col("x").cast("double") * lit(1048576.0)).cast("long")
    base.select(col("label").as("cell"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("cell"), col("pos"), qxl.as("qx"))
      .groupBy("cell", "pos").agg(expr("sum(qx) DIV count(1)").as("cq"))
      .write.parquet(s"$dir/cents")
    // reuse the PUBLISHED q250 layout's codebook (identical training
    // input: the base slice) so this test needs no private trainer
    val pubDir = LlmOps.q250IvfAdcIncremental(spark, sf)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths
            .exists(_.toString.contains("ivfadcinc_")) =>
          f.relation.location.rootPaths.head.toString
            .replaceAll("/codes.*$", "")
      }.head
    spark.read.parquet(s"$pubDir/codebook").write.parquet(s"$dir/codebook")
    LlmOps.ivfAdcAppendDelta(spark, base, dir, 0L)
    LlmOps.ivfAdcAppendDelta(spark,
      e.filter(pmod(col("vec_id"), lit(10)) === 0), dir, 1L)
    LlmOps.ivfAdcAppendDelta(spark,
      e.filter(pmod(col("vec_id"), lit(10)) === 5), dir, 2L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")).close()
    val codesBefore = spark.read.parquet(s"$dir/codes")
      .select("vec_id", "codes", "cell").orderBy("vec_id").collect().toSeq
    LlmOps.ivfAdcCompactGenerations(spark, dir)
    val after = spark.read.parquet(s"$dir/codes")
    assert(after.select("batch_id").distinct().as[Long].collect().toSeq
      == Seq(0L), "one generation after compaction")
    assert(after.select("vec_id", "codes", "cell").orderBy("vec_id")
      .collect().toSeq == codesBefore,
      "compaction must be bit-invariant on (vec_id, codes, cell)")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")),
      "the root marker must be restamped after the swap")
  }

  test("recall@K vs the exact integer top-K holds, and matches full-scan ADC on probed cells") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
    def quant(v: Seq[Float]): Array[Long] =
      v.map(x => math.round(x.toDouble * 1048576.0)).toArray
    val queries = e.filter(v => v._1 % 50 == 0 && v._1 < 50000)
    def topSets(rows: Array[org.apache.spark.sql.Row]) = rows
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val ivfadc = topSets(LlmOps.q245IvfAdc(spark, sf).collect())
    val fullAdc = topSets(LlmOps.q244PqIndex(spark, sf).collect())
    def meanOverlap(probe: Map[Long, Set[Long]]): Double = {
      val overlaps = queries.map { case (qid, qe) =>
        val q = quant(qe)
        val exact = e.filter(_._1 != qid).map { case (v, emb) =>
          val x = quant(emb)
          var d = 0L; var i = 0
          while (i < q.length) { val t = x(i) - q(i); d += t * t; i += 1 }
          (v, d)
        }.sortBy { case (v, d) => (d, v) }.take(K).map(_._1).toSet
        (exact intersect probe.getOrElse(qid, Set.empty)).size
      }
      overlaps.sum.toDouble / overlaps.length
    }
    // the q249 third stage: exact rerank over the ADC candidate cut.
    // Any exact-top-K member that survives the candidate cut is
    // guaranteed into the reranked top-K (its exact distance ranks
    // ≤ K inside ANY subset), so rerank recall ≥ raw-ADC recall —
    // asserted measured, not just argued
    val reranked = topSets(LlmOps.q249IvfAdcRerank(spark, sf).collect())
    val (mCell, mFull) = (meanOverlap(ivfadc), meanOverlap(fullAdc))
    val mRerank = meanOverlap(reranked)
    assert(mRerank >= mCell,
      s"exact rerank ($mRerank) must never lose recall vs raw ADC ($mCell)")
    // cell pruning sacrifices only candidates outside the probed cells;
    // on clustered data (labels ARE the clusters) the loss must be
    // small — the composition is graded RELATIVE to full-scan ADC
    // (absolute PQ recall is bounded by the 8×4-bit code budget, the
    // q210 histogram's documented territory, not this spec's)
    assert(mCell >= mFull - 0.5,
      s"cell-pruned recall@$K ($mCell) collapsed vs full-scan ADC ($mFull)")
    assert(mCell > 0.0,
      s"IVFADC recall@$K is zero — probe broken?")
  }

  test("compaction crash matrix: every mid-swap state reads as incomplete-layout, never as empty probes") {
    import org.apache.hadoop.fs.Path
    // replay each prefix of the production swap's own step list, so a
    // crash AFTER each step k is simulated on the real sequence
    def compactUpTo(dir: String, k: Int): Unit =
      graft.sources.Layouts.replaceSteps(spark, dir, "codes")(
        LlmOps.mergeGenerations(spark, dir, "codes")).take(k).foreach(_())
    val e = Tables.embeddings(spark, sf)
    def build(tmp: String): Unit = {
      LlmOps.ivfAdcBuildBase(spark,
        e.filter(pmod(col("vec_id"), lit(5)) =!= 0), tmp)
      LlmOps.ivfAdcAppendDelta(spark,
        e.filter(pmod(col("vec_id"), lit(5)) === 0), tmp, 1L)
      graft.sources.Layouts.markComplete(spark, tmp)
    }
    def ensure(): String =
      graft.sources.Layouts.ensureDir(spark, "ivfadc_crashmatrix")(build)
    def probe(dir: String) =
      LlmOps.ivfAdcRank(LlmOps.ivfAdcProbe(spark, dir,
        LlmOps.ivfAdcQueryPanel(spark, sf))).collect().toSeq
    val reference = probe(ensure())
    assert(reference.nonEmpty)
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash after step 1 (tmp written, nothing destructive yet): the
    // layout stays COMPLETE and valid — no rebuild, probe unchanged
    locally {
      val dir = ensure()
      compactUpTo(dir, 1)
      assert(fs.exists(new Path(s"$dir/_SUCCESS")), "step 1 is non-destructive")
      assert(probe(dir) == reference)
      assert(ensure() == dir, "a complete layout must be reused, not rebuilt")
      fs.delete(new Path(dir), true) // reset for the destructive states
    }
    // crash after each destructive step: the state must read as an
    // INCOMPLETE layout (marker down -> ensureDir rebuilds), never as a
    // complete layout with missing/empty codes
    for (k <- 2 to 6) {
      val dir = ensure()
      compactUpTo(dir, k)
      assert(!fs.exists(new Path(s"$dir/_SUCCESS")),
        s"state after step $k must be marked incomplete")
      val rebuilt = ensure()
      assert(fs.exists(new Path(s"$rebuilt/_SUCCESS")),
        s"state after step $k must trigger a rebuild to a complete layout")
      assert(probe(rebuilt) == reference,
        s"rebuild from crash-after-step-$k must restore the exact probe")
      fs.delete(new Path(rebuilt), true)
    }
    // and the full sequence (step 7) is the compaction: complete, same probe
    locally {
      val dir = ensure()
      compactUpTo(dir, 7)
      assert(fs.exists(new Path(s"$dir/_SUCCESS")))
      assert(spark.read.parquet(s"$dir/codes")
        .select("batch_id").distinct().as[Long].collect().toSeq == Seq(0L))
      assert(probe(dir) == reference)
    }
  }

  test("the base build releases its training snapshot") {
    val e = Tables.embeddings(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfadc_base_").toString
    val (_, left) = persistedBy(LlmOps.ivfAdcBuildBase(spark,
      e.filter(pmod(col("vec_id"), lit(5)) =!= 0), tmp))
    assert(left.isEmpty, s"ivfAdcBuildBase left persisted RDDs $left")
  }
}
