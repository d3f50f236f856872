package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.sources.Layouts

/** q211's decomposed BM25 index: incremental appends must equal the
  * one-shot build, replaying an append must be a byte-level no-op on
  * the probe, and the df/stats pieces must merge decomposably.
  */
class IncrementalPostingsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "stream group stream merge"),
    (2L, "group stream sort"),
    (3L, "join sort hash hash"),
    (4L, "merge scan join"),
    (5L, "scan scan stream group"),
    (6L, "hash join sort merge scan"))
    .toDF("doc_id", "text")

  private val workload: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("stream", "group"),
    2L -> Seq("join", "sort", "hash"),
    3L -> Seq("merge", "scan"))

  private def probe(dir: String): Seq[(Long, Long, Long, Long)] =
    Corpus.probeBm25Index(spark, dir, workload)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq

  test("two incremental appends probe identically to the one-shot build") {
    val incDir = Files.createTempDirectory("bm25inc_").toString
    val oneDir = Files.createTempDirectory("bm25one_").toString
    Corpus.appendPostingsBatch(spark, docs.filter("doc_id <= 4"), incDir, 0L)
    Corpus.appendPostingsBatch(spark, docs.filter("doc_id > 4"), incDir, 1L)
    Corpus.appendPostingsBatch(spark, docs, oneDir, 0L)
    val inc = probe(incDir)
    assert(inc.nonEmpty && inc == probe(oneDir))
  }

  test("replaying an append is a probe-level no-op (overwrite protocol)") {
    val dir = Files.createTempDirectory("bm25rep_").toString
    Corpus.appendPostingsBatch(spark, docs.filter("doc_id <= 4"), dir, 0L)
    Corpus.appendPostingsBatch(spark, docs.filter("doc_id > 4"), dir, 1L)
    val before = probe(dir)
    // crash-and-redeliver: the SAME snapshot appends again under the
    // SAME batch id — overwrite mode rewrites its own partitions
    Corpus.appendPostingsBatch(spark, docs.filter("doc_id > 4"), dir, 1L)
    assert(probe(dir) == before)
  }

  test("forget batch masks immediately; vacuum purges bytes; probe invariant") {
    val dir = Files.createTempDirectory("bm25del_").toString
    val retainedDir = Files.createTempDirectory("bm25ret_").toString
    Corpus.appendPostingsBatch(spark, docs.filter("doc_id <= 4"), dir, 0L)
    Corpus.appendPostingsBatch(spark, docs.filter("doc_id > 4"), dir, 1L)
    // forget docs 3 and 5 — one from each ingest batch
    Corpus.deletePostingsBatch(spark,
      docs.filter("doc_id IN (3, 5)"), dir, 2L)
    val after = probe(dir)
    // logical delete == rebuild on the retained corpus (df env included)
    Corpus.appendPostingsBatch(spark,
      docs.filter("doc_id NOT IN (3, 5)"), retainedDir, 0L)
    assert(after.nonEmpty && after == probe(retainedDir))
    assert(after.forall { case (_, _, doc, _) => doc != 3L && doc != 5L })
    // replaying the delete batch is a probe-level no-op
    Corpus.deletePostingsBatch(spark,
      docs.filter("doc_id IN (3, 5)"), dir, 2L)
    assert(probe(dir) == after)
    // the bytes are still there (logical/physical split) …
    def postedDocs() = spark.read.parquet(s"$dir/postings")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(postedDocs().contains(3L) && postedDocs().contains(5L))
    // … until the vacuum, which purges them and drops the tombstones,
    // with the probe EXACTLY invariant across the swap
    Corpus.vacuumPostings(spark, dir)
    assert(!postedDocs().contains(3L) && !postedDocs().contains(5L))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/tombstones")))
    assert(probe(dir) == after)
    // a vacuum with nothing to do is a no-op
    Corpus.vacuumPostings(spark, dir)
    assert(probe(dir) == after)
  }

  /** The forget-test index: two appends, then docs 3 and 5 forgotten. */
  private def forgetIndex(dir: String): Unit = {
    Corpus.appendPostingsBatch(spark, docs.filter("doc_id <= 4"), dir, 0L)
    Corpus.appendPostingsBatch(spark, docs.filter("doc_id > 4"), dir, 1L)
    Corpus.deletePostingsBatch(spark, docs.filter("doc_id IN (3, 5)"), dir, 2L)
    Layouts.markComplete(spark, dir)
  }

  private def vacuumSteps(dir: String) =
    Layouts.replaceSteps(spark, dir, "postings")(Corpus.purgeTombstoned(spark, dir))

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def complete(dir: String) = fs.exists(new Path(dir, "_SUCCESS"))

  test("vacuum crash matrix: every mid-swap state reads as an incomplete layout") {
    def ensure(): String = Layouts.ensureDir(spark, "bm25vac_crashmatrix")(forgetIndex)
    def drop(dir: String): Unit = fs.delete(new Path(dir), true)
    def postedDocs(dir: String) = spark.read.parquet(s"$dir/postings")
      .select("doc_id").distinct().as[Long].collect().toSet
    val reference = probe(ensure())
    assert(reference.nonEmpty)
    val steps = vacuumSteps(ensure()).size
    // crash after step 1 (purged copy written aside): still complete
    locally {
      val dir = ensure()
      vacuumSteps(dir).take(1).foreach(_())
      assert(complete(dir), "step 1 is non-destructive")
      assert(probe(dir) == reference)
      assert(ensure() == dir, "a complete layout must be reused, not rebuilt")
      drop(dir)
    }
    // crash after each destructive step: marker down, so ensureDir
    // rebuilds instead of serving missing or half-swapped postings
    for (k <- 2 until steps) {
      val dir = ensure()
      vacuumSteps(dir).take(k).foreach(_())
      assert(!complete(dir), s"state after step $k must be marked incomplete")
      val rebuilt = ensure()
      assert(complete(rebuilt),
        s"state after step $k must trigger a rebuild to a complete layout")
      assert(probe(rebuilt) == reference,
        s"rebuild from crash-after-step-$k must restore the exact probe")
      drop(rebuilt)
    }
    // the whole sequence is the vacuum: complete, bytes purged, same probe
    val dir = ensure()
    vacuumSteps(dir).foreach(_())
    assert(complete(dir))
    assert(!postedDocs(dir).contains(3L) && !postedDocs(dir).contains(5L))
    assert(probe(dir) == reference)
  }

  test("a failed rename inside the swap throws and leaves the layout unmarked") {
    val dir = Files.createTempDirectory("bm25vacfail_").toString
    forgetIndex(dir)
    val steps = vacuumSteps(dir)
    steps.take(4).foreach(_()) // old postings renamed aside
    // a plain file now holds the target, so the purged tree cannot move in
    Files.write(Paths.get(s"$dir/postings"), Array[Byte](1))
    intercept[java.io.IOException](steps.drop(4).foreach(_()))
    assert(!complete(dir), "a failed swap must not restamp _SUCCESS")
    assert(Files.isDirectory(Paths.get(s"$dir/postings.retired")),
      "the old postings survive aside")
  }

  test("df and stats pieces merge decomposably across batches") {
    val dir = Files.createTempDirectory("bm25dec_").toString
    Corpus.appendPostingsBatch(spark, docs.filter("doc_id <= 4"), dir, 0L)
    Corpus.appendPostingsBatch(spark, docs.filter("doc_id > 4"), dir, 1L)
    // merged df == df computed over the whole corpus
    val merged = spark.read.parquet(s"$dir/df")
      .groupBy("term").agg(org.apache.spark.sql.functions.sum("df").as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val whole = docs
      .selectExpr("doc_id", "explode(split(trim(text), '\\\\s+')) AS term")
      .distinct().groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == whole)
    // merged stats == corpus totals (6 docs, 23 tokens)
    val st = spark.read.parquet(s"$dir/stats")
      .agg(org.apache.spark.sql.functions.sum("n"),
        org.apache.spark.sql.functions.sum("tt")).collect()(0)
    assert((st.getLong(0), st.getLong(1)) == (6L, 23L))
  }
}
