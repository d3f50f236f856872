package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Maintained physical layouts, published once per fixture dir and reused
  * by every query that benefits — the warehouse discipline that a layout's
  * one-time cost amortizes across the query mix.
  *
  * Why this exists at all: the driver's fixture parquet files are each ONE
  * row group, and parquet splits only at row-group boundaries, so any
  * query scanning them gets a single map task no matter how many cores the
  * cluster has. At 100 TB the ingest layer would never produce such files;
  * re-materializing the hot tables into a few splittable files is exactly
  * what a production warehouse's OPTIMIZE/compaction job does. Correctness
  * is untouched — same rows, different file boundaries — and every
  * registered query is layout-robust by contract (the oracle gate hashes
  * sorted output).
  *
  * Publishing protocol (shared with the bucketed CTAS layouts in
  * `queries/Warehouse.scala`): a COMPLETE layout (`_SUCCESS` present;
  * fixture dirs are immutable, so same path ⇒ same bytes) is reused as-is;
  * otherwise the builder writes to a process-unique temp dir and publishes
  * with a single atomic rename — a concurrent/interleaved Verify and Bench
  * can never observe a half-written layout or delete a completed one. A
  * photo-finish rename losing to a concurrent winner (Hadoop local-FS
  * rename nests src inside an existing dst) is detected and the loser's
  * copy discarded.
  *
  * The root `_SUCCESS` marker belongs to this object. A layout build
  * that writes several subtrees stamps it with [[markComplete]] after
  * the last one. A maintained layout that rewrites one subtree in place
  * (IVF and IVFADC generation compaction, the BM25 postings vacuum) goes
  * through [[replace]], which keeps the marker down for the whole swap:
  * a crash or a failed rename anywhere inside it leaves a layout that
  * [[ensureDir]] rebuilds, never one that reads as complete with an
  * empty or half-swapped subtree.
  */
object Layouts {

  /** Files per re-materialized table: enough to feed the map side of a
    * local[32] run (each file is one task) without producing the
    * many-tiny-files pathology the layout exists to avoid.
    */
  val SplitFiles = 8

  /** The publish protocol over an explicit root — the ONE copy of the
    * race-handling logic, shared by the plain-dir layouts here and the
    * bucketed CTAS layouts in `queries/Warehouse` (they previously
    * duplicated it in lockstep). Semantics:
    *
    *  - a COMPLETE dir at `root/name` (`_SUCCESS` present) is reused;
    *  - a dir WITHOUT `_SUCCESS` is a legacy/corrupt leftover (writers
    *    only ever RENAME complete dirs in) — it is moved ASIDE
    *    atomically, never deleted in place. If the aside turns out
    *    complete (we raced a publisher between check and rename), it is
    *    renamed straight BACK and reused — a published layout is never
    *    destroyed;
    *  - otherwise `build(tmp)` writes a process-unique temp dir that is
    *    published with one atomic rename; a photo-finish loser's copy
    *    (Hadoop local-FS rename nests src inside an existing dst) is
    *    detected and dropped, and tmp is always reclaimed in a finally.
    *
    * A process killed between its aside-rename and the aside-delete can
    * leak one `*_stale_w*` dir; nothing references it and the next
    * publish proceeds regardless (accepted residue — sweeping it cannot
    * be told apart from another process's in-flight work portably).
    */
  def publish(s: SparkSession, root: Path, name: String)(build: Path => Unit): Path = {
    val loc = new Path(root, name)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    def complete(p: Path) = fs.exists(new Path(p, "_SUCCESS"))
    def uuid = java.util.UUID.randomUUID.toString.take(8)
    if (complete(loc)) return loc
    if (fs.exists(loc)) {
      if (complete(loc)) return loc // published between the two checks
      val aside = new Path(root, s"${name}_stale_w$uuid")
      if (fs.rename(loc, aside)) {
        if (complete(aside) && !fs.exists(loc) && fs.rename(aside, loc))
          return loc // raced a publisher mid-rename: restored, reuse
        fs.delete(aside, true)
      }
    }
    fs.mkdirs(root)
    val tmp = new Path(root, s"${name}_w$uuid")
    try {
      build(tmp)
      // A session tuned with mapreduce.fileoutputcommitter
      // .marksuccessfuljobs=false (common object-store setting) writes
      // complete dirs without _SUCCESS; ONLY then does the protocol
      // stamp its own marker (build() throwing is the completeness
      // signal in that configuration). With markers ENABLED — the
      // default — a build that ends without one did NOT complete a
      // write job (e.g. a builder that swallowed a job failure), and
      // the completeness check below must keep failing it loudly
      // rather than publish-and-cache a truncated layout forever.
      val marks = s.sparkContext.hadoopConfiguration
        .getBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
      if (!marks && fs.exists(tmp) && !complete(tmp))
        markComplete(s, tmp.toString)
      if (!fs.exists(loc) && fs.rename(tmp, loc)) {
        val nested = new Path(loc, tmp.getName)
        if (fs.exists(nested)) fs.delete(nested, true)
      }
    } finally {
      if (fs.exists(tmp)) fs.delete(tmp, true)
    }
    // The protocol's own writers only ever rename COMPLETE dirs in, but a
    // lose-race tail can observe a dir someone ELSE created outside the
    // protocol (legacy writer, manual copy) — returning it as published
    // would serve a half-written layout. Fail loudly rather than guess:
    // the dir is not ours to repair, and every caller treats the returned
    // path as complete.
    require(complete(loc),
      s"$loc exists without _SUCCESS after publish — a non-protocol writer " +
        "owns this path; remove the stale dir and retry")
    loc
  }

  /** Stamp `dir` complete: its root `_SUCCESS` marker. */
  def markComplete(s: SparkSession, dir: String): Unit = {
    val p = new Path(dir, "_SUCCESS")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).create(p).close()
  }

  /** Replace subtree `dir/sub` with what `write` puts at the path it is
    * given, complete-or-absent — the steps of [[replace]], in order:
    *
    *  1. write `dir/sub.compacting` (non-destructive; stale debris of
    *     that name is cleared first);
    *  2. take the root marker down;
    *  3. clear stale `sub.retired` debris of an earlier crashed swap;
    *  4. rename `sub` to `sub.retired` (aside, not deleted: a reader
    *     racing the swap fails on a missing path, never on empty data);
    *  5. rename the new tree into place as `sub`;
    *  6. delete `sub.retired`;
    *  7. restamp the marker.
    *
    * A rename that fails, or whose target already exists (Hadoop would
    * nest the source inside it), throws with the marker still down.
    */
  private[graft] def replaceSteps(s: SparkSession, dir: String, sub: String)
      (write: String => Unit): Seq[() => Unit] = {
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val live = new Path(dir, sub)
    val fresh = new Path(dir, s"$sub.compacting")
    val retired = new Path(dir, s"$sub.retired")
    def move(from: Path, to: Path): Unit =
      if (fs.exists(to) || !fs.rename(from, to))
        throw new java.io.IOException(s"rename $from -> $to failed; $dir " +
          "stays unmarked (incomplete) until it is rebuilt")
    Seq(
      () => { fs.delete(fresh, true); write(fresh.toString) },
      () => fs.delete(new Path(dir, "_SUCCESS"), false),
      () => fs.delete(retired, true),
      () => move(live, retired),
      () => move(fresh, live),
      () => fs.delete(retired, true),
      () => markComplete(s, dir))
  }

  /** Swap subtree `dir/sub` for a freshly written one under the root
    * marker ([[replaceSteps]]). Single-maintainer, like every maintained
    * layout here. */
  def replace(s: SparkSession, dir: String, sub: String)
      (write: String => Unit): Unit =
    replaceSteps(s, dir, sub)(write).foreach(_())

  /** Ensure `<warehouse>/graft_layouts/<name>` holds the directory
    * `build(tmpPath)` produces; returns the published path.
    */
  def ensureDir(s: SparkSession, name: String)(build: String => Unit): String = {
    val wh = s.conf.get("spark.sql.warehouse.dir")
    publish(s, new Path(s"$wh/graft_layouts"), name)(p => build(p.toString)).toString
  }

  /** Fixture-dir → layout-name tag, the ONE copy of the sanitization
    * every maintained-layout name builds on (split layouts here, the
    * bucketed CTAS tables in `queries/Warehouse`, the q79 MinHash index)
    * — a divergent copy would let two names disagree about which dir
    * they describe.
    */
  private[graft] def tag(d: String): String = d.replaceAll("[^A-Za-z0-9]", "_")

  /** Content-identity token for one fixture table: a mixing hash over
    * (file name, mtime, length) of every data file under
    * `d/<name>.parquet` (single file or a directory of parts). Folded
    * into every maintained-layout name via [[srcTag]] so a fixture
    * REGENERATED IN PLACE (same path, new bytes) can never be served a
    * stale layout — the round-8 events regeneration hit exactly this
    * hazard: dir names encoded path + file count but no content
    * identity, and only a coincidental warehouse rebuild saved the
    * round. mtime+length is the same freshness signal a filesystem
    * cache uses; hashing the bytes themselves would read the whole
    * fixture just to name a directory.
    */
  def srcToken(s: SparkSession, d: String, name: String): String = {
    val p = new Path(s"$d/$name.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val sts =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filterNot(_.getPath.getName.startsWith("_"))
          .sortBy(_.getPath.getName)
      else Array(fs.getFileStatus(p))
    var h = 1125899906842597L // large prime seed; FNV-style mix
    sts.foreach { st =>
      h = h * 31 + st.getPath.getName.hashCode
      h = h * 31 + st.getModificationTime
      h = h * 31 + st.getLen
    }
    java.lang.Long.toHexString(h)
  }

  /** The ONE name fragment every maintained layout derived from fixture
    * table `d/<name>.parquet` must embed: sanitized path + content
    * token. Catalog-safe (alphanumeric + underscore only). */
  def srcTag(s: SparkSession, d: String, name: String): String =
    s"${tag(d)}_f${srcToken(s, d, name)}"

  /** Garbage-collect layouts orphaned by fixture regeneration: content
    * tokens make a regenerated fixture map to FRESH layout names (the
    * round-8 staleness fix), which also means every regeneration
    * orphans the previous generation's directories — correct but
    * unbounded disk growth. The sweep deletes, under both maintained
    * roots (`graft_layouts` and the bucketed CTAS warehouse
    * `graft_bucketed.db`), every directory whose name embeds THIS
    * fixture dir's path tag with a content token that no current
    * fixture table produces — such a dir can never be reused (reuse
    * requires an exact name match) and is garbage by construction.
    * Dirs for OTHER fixture dirs, temp dirs mid-publish (`_w<uuid>`
    * suffixes carry no `_f` token for this tag), and current-generation
    * layouts are untouched.
    *
    * NOT concurrency-safe against a process still READING a stale
    * layout with an older binary: call it where a warehouse owner runs
    * compaction — pipeline startup/teardown — not beside live queries.
    * Returns the deleted directory names (bounded; for the run log).
    */
  def sweepStale(s: SparkSession, d: String): Seq[String] = {
    val t = tag(d)
    val marker = s"_${t}_f"
    val current: Set[String] = {
      val fixture = new Path(d)
      val ffs = fixture.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!ffs.exists(fixture)) Set.empty
      else ffs.listStatus(fixture).iterator
        .map(_.getPath.getName)
        .filter(_.endsWith(".parquet"))
        .map(n => srcToken(s, d, n.stripSuffix(".parquet")))
        .toSet
    }
    val wh = s.conf.get("spark.sql.warehouse.dir")
    Seq(s"$wh/graft_layouts", s"$wh/graft_bucketed.db").flatMap { root =>
      val rp = new Path(root)
      val fs = rp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(rp)) Seq.empty[String]
      else fs.listStatus(rp).iterator.filter(_.isDirectory).flatMap { st =>
        val n = st.getPath.getName
        val i = n.lastIndexOf(marker)
        val stale = i >= 0 && {
          val tok = n.substring(i + marker.length)
          tok.nonEmpty && tok.forall(c => c.isDigit || ('a' to 'f').contains(c)) &&
            !current.contains(tok)
        }
        if (stale && fs.delete(st.getPath, true)) Some(n) else None
      }.toSeq
    }
  }

  /** Builder-semantics version baked into every split-layout dir name
    * (the bucketed CTAS layouts carry the same token — `lineitem_v3`):
    * a warehouse populated by an OLDER binary must never satisfy the
    * reuse path with bytes the current builder would not produce. Bump
    * whenever the builder's semantics change — the repartition key, the
    * file count, or any upstream conversion the layout bakes in (e.g.
    * `Tables.events`' timestamp normalization). Orthogonal to
    * [[srcTag]]'s content token: version = BUILDER identity, token =
    * SOURCE identity; a reuse hit requires both to match.
    */
  private val LayoutVersion = "v1"

  /** A fixture table re-materialized as [[SplitFiles]] parquet files
    * (hash-distributed on `key` — any stable column works; a key keeps
    * the distribution deterministic-by-content rather than by input
    * order).
    */
  def split(s: SparkSession, d: String, name: String, key: String): DataFrame = {
    val p = ensureDir(s, s"${name}_${LayoutVersion}_x${SplitFiles}_${srcTag(s, d, name)}") { tmp =>
      graft.Tables.table(s, d, name)
        .repartition(SplitFiles, col(key))
        .write.parquet(tmp)
    }
    graft.Tables.pathTable(s, p)
  }

  /** documents via the split layout — feeds every text-heavy operator:
    * tokenize/shingle/minhash/regex kernels are CPU-bound, so map-side
    * parallelism is the entire game. */
  def documents(s: SparkSession, d: String): DataFrame =
    split(s, d, "documents", "doc_id")

  /** customer via the split layout (q64's regex-redaction scan). */
  def customer(s: SparkSession, d: String): DataFrame =
    split(s, d, "customer", "c_custkey")

  /** orders via the split layout (q34's multi-format parse scan). */
  def orders(s: SparkSession, d: String): DataFrame =
    split(s, d, "orders", "o_orderkey")

  /** events via the split layout. Publishes the frame AFTER
    * `Tables.events`' nanos→µs timestamp conversion, so the layout is
    * plain standard-timestamp parquet and readers need none of the
    * fixture's `nanosAsLong` special-casing.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val p = ensureDir(s, s"events_${LayoutVersion}_x${SplitFiles}_${srcTag(s, d, "events")}") { tmp =>
      graft.Tables.events(s, d)
        .repartition(SplitFiles, col("user_id"))
        .write.parquet(tmp)
    }
    graft.Tables.pathTable(s, p)
  }
}
