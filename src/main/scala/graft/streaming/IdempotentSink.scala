package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The `batch_id=N` log: the one replay protocol every `foreachBatch`
  * sink in the engine follows, over plain parquet.
  *
  * Layout. Micro-batch N writes each of its outputs to its own
  * `batch_id=N` directory in overwrite mode, so a post-crash
  * redelivery of batch N rewrites its own files instead of duplicating
  * rows. Readers see one table partitioned by `batch_id`
  * ([[readOrEmpty]]). A handler that reads its own history restricts
  * the read to `batch_id < N`, so a redelivered batch computes the same
  * bytes as the first delivery; [[keepLatest]] resolves an id written
  * by several batches (a re-crawl) to the rows of its newest batch.
  *
  * Guard. [[committed]] is the largest batch id on disk. [[guard]]
  * refuses a batch when any of its directories already holds an id
  * above the highest one that batch may see: that is a stream restarted
  * on a fresh checkpoint against an older sink, and running it would
  * splice two ingest histories. The highest allowed id is the batch id
  * itself, except in a layout whose generation 0 is a base build: there
  * stream batch N owns generation N + 1, and [[guardGenerations]]
  * allows `batchId + 1` and also refuses a gap below N. Every handler
  * guards before its first write.
  *
  * Users:
  *  - [[appendHandler]]: q254's REST cursor stream, [[SketchMaintainer]];
  *  - [[upsertHandler]] (below; its generations are `gen=N`);
  *  - [[SpanPurgeStream]], [[IncrementalIndex]], [[CurationFunnelStream]];
  *  - the generation handlers [[SemDedupIngestStream]] and
  *    [[IvfAdcIngestStream]], through [[guardGenerations]].
  *
  * KEYED UPSERT ([[upsertHandler]]): the q67 MERGE as a streaming sink.
  * State lives in generation directories `gen=N` (N = the batch id that
  * produced it); batch N merges into the latest generation STRICTLY
  * BELOW N and overwrites `gen=N`, so a replayed batch re-derives its
  * generation from the same parent and writes the same bytes. Within a
  * batch, duplicate keys collapse deterministically (lexicographic max
  * of the non-key struct — ver-column-first, so callers order columns
  * meaningfully); across batches the NEWER BATCH WINS (CDC apply
  * semantics). The generation write is state-sized, and old generations
  * are reclaimed with [[sweepGenerations]] once the stream's checkpoint
  * has advanced past them (keep ≥ 2 so the current batch's parent
  * always survives a crash). A transactional table format would replace
  * the directory protocol 1:1.
  */
object IdempotentSink {

  private val BatchPrefix = "batch_id="

  private def ids(s: SparkSession, dir: String, prefix: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toLong)
  }

  /** The largest committed batch id under `dir`, or -1 if there is
    * none — one directory listing, no Spark job. */
  def committed(s: SparkSession, dir: String): Long =
    ids(s, dir, BatchPrefix).foldLeft(-1L)(math.max)

  private def refuse(top: Long, allowed: Long, batchId: Long,
      dirs: Seq[String]): Unit =
    require(top <= allowed,
      s"${dirs.mkString(", ")} already holds batch $top but the stream is " +
        s"at batch $batchId — a fresh checkpoint is being replayed against " +
        "an older sink; point the stream at empty directories (or restore " +
        "the checkpoint)")

  /** Refuse batch `batchId` if any of `dirs` holds a batch above
    * `allowed`; returns the largest committed id across `dirs`. */
  def guard(s: SparkSession, dirs: Seq[String], batchId: Long,
      allowed: Long): Long = {
    val top = dirs.map(committed(s, _)).max
    refuse(top, allowed, batchId, dirs)
    top
  }

  /** The guard of a generation layout: generation 0 is a base build and
    * stream batch N owns generation N + 1, so the allowed id is
    * `batchId + 1`. The layout must also hold generation N or N + 1: a
    * top generation below N is a gap (a layout restored from an older
    * backup), and the missing generations' rows would drop out of every
    * later read. Returns the largest committed generation. */
  def guardGenerations(s: SparkSession, dir: String, batchId: Long): Long = {
    val top = guard(s, Seq(dir), batchId, batchId + 1)
    require(top >= batchId,
      s"$dir tops out at generation batch_id=$top but the stream is at " +
        s"batch $batchId — generations ${top + 1}..$batchId are missing " +
        "(layout restored from an older backup?), and their rows would " +
        "silently drop out of every later read. Restore a matching layout " +
        "or restart the stream from a checkpoint aligned with this layout")
    top
  }

  /** A `batch_id`-partitioned log that may not exist yet (first batch);
    * absent or empty → an empty frame of `schema` plus `batch_id`. */
  def readOrEmpty(s: SparkSession, dir: String, schema: StructType): DataFrame = {
    val full = schema.add(StructField("batch_id", LongType))
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).nonEmpty) s.read.schema(full).parquet(dir)
    else s.createDataFrame(s.sparkContext.emptyRDD[Row], full)
  }

  /** Every row of each id's newest batch, `batch_id` dropped: one
    * per-id max over an unordered window, so the log is scanned once
    * and shuffled once, and an id with several rows per batch (bands)
    * keeps them all. */
  def keepLatest(log: DataFrame, idCol: String): DataFrame =
    log.withColumn("__mb", max("batch_id").over(Window.partitionBy(idCol)))
      .filter(col("batch_id") === col("__mb"))
      .drop("__mb", "batch_id")

  /** Replay-safe append: curry the directory, pass to
    * `writeStream.foreachBatch(IdempotentSink.appendHandler(dir) _)`.
    */
  def appendHandler(outDir: String)(batch: DataFrame, batchId: Long): Unit = {
    guard(batch.sparkSession, Seq(outDir), batchId, batchId)
    batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
  }

  /** The appended fact table (with its `batch_id` partition column). */
  def appended(s: SparkSession, outDir: String): DataFrame =
    s.read.parquet(outDir)

  /** Replay-safe keyed upsert: curry state dir + key columns. */
  def upsertHandler(stateDir: String, keyCols: Seq[String])
      (batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val gens = ids(s, stateDir, "gen=")
    refuse(gens.foldLeft(-1L)(math.max), batchId, batchId, Seq(stateDir))
    val payloadCols = batch.columns.filterNot(keyCols.contains).toSeq
    // deterministic within-batch collapse: per key, the lexicographic
    // max of the payload struct (callers put the version column first)
    val dedup = batch.groupBy(keyCols.map(col): _*)
      .agg(max(struct(payloadCols.map(col): _*)).as("__p"))
      .select(keyCols.map(col) ++
        payloadCols.map(c => col(s"__p.$c").as(c)): _*)
    val parent = gens.filter(_ < batchId) match {
      case Seq() => None
      case g     => Some(g.max)
    }
    val merged = parent match {
      case None => dedup
      case Some(g) =>
        val prev = s.read.parquet(s"$stateDir/gen=$g")
          .select(batch.columns.map(col).toSeq: _*)
        prev.join(dedup.select(keyCols.map(col): _*), keyCols, "left_anti")
          .unionByName(dedup)
    }
    merged.write.mode("overwrite").parquet(s"$stateDir/gen=$batchId")
  }

  /** The current state: the largest committed generation (empty-free —
    * callers guard on an empty dir). */
  def latest(s: SparkSession, stateDir: String): DataFrame = {
    val gens = ids(s, stateDir, "gen=")
    require(gens.nonEmpty, s"no generations at $stateDir")
    s.read.parquet(s"$stateDir/gen=${gens.max}")
  }

  /** Reclaim all but the newest `keep` generations (keep ≥ 2: the
    * current batch's PARENT must survive a crash-replay). Returns the
    * removed generation ids. */
  def sweepGenerations(s: SparkSession, stateDir: String, keep: Int = 2): Seq[Long] = {
    require(keep >= 2, "keep >= 2: a replayed batch re-reads its parent")
    val gens = ids(s, stateDir, "gen=").sorted
    val drop = gens.dropRight(keep)
    val fs = new Path(stateDir).getFileSystem(s.sparkContext.hadoopConfiguration)
    drop.foreach(g => fs.delete(new Path(s"$stateDir/gen=$g"), true))
    drop
  }
}
