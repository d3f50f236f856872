package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._
import graft.functions.{Overlap, VectorExpressions}
import graft.ops.Snapshots
import Num.{sumD, avgD}

/** LLM-training-data pipeline operators (the north-star extension surface,
  * SURVEY.md §7.5): deduplication, similarity search, text analysis, and
  * event-stream analytics over the driver's `documents` / `embeddings` /
  * `events` fixtures.
  *
  * Scale posture (each query documents its own 100 TB story):
  *   - no all-pairs joins except over an LSH-bucketed or key-bounded
  *     candidate set;
  *   - similarity in a codegen'd Catalyst expression (no UDF boxing);
  *   - dedup keyed on 64-bit content hashes, not full text, so the shuffle
  *     carries 8 bytes/doc instead of the document body;
  *   - heuristics (language-ID, quality scores) are pure column
  *     expressions, fully inside whole-stage codegen.
  */
object LlmOps {

  /** documents through the maintained split layout
    * ([[graft.sources.Layouts]]): same rows, splittable files — the text
    * kernels here are CPU-bound, so the map-side parallelism the
    * one-row-group fixture cannot provide is the entire game. Shadows the
    * `Tables._` import for every query in this object.
    */
  private def documents(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.documents(s, d)

  /** events through the same split layout (and past the nanos→µs cast). */
  private def events(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.events(s, d)

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  // --- Similarity search --------------------------------------------------

  /** Brute-force cosine top-k: the exact baseline every ANN variant is
    * measured against. One broadcast of the query vector, one codegen'd
    * cosine per row, then TakeOrderedAndProject (per-partition heaps — no
    * global sort). At 100 TB this plan is a single scan + tiny shuffle of
    * k rows per partition; the cosine loop stays in whole-stage codegen.
    */
  def q24CosineTopK(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        col("label").cast("long").as("label"),
        round(VectorExpressions.cosine(col("embedding"), col("q_emb")), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Oracle computes cosine in double via zipped unnest so both engines run
    * the same sequential accumulation (DuckDB's list_cosine_similarity is
    * float-precision — off by ~1e-7, enough to flip round(_, 4)).
    */
  val q24Oracle: String =
    """WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
      |ex AS (SELECT e.vec_id, e.label, unnest(e.embedding) AS x, unnest(q.q_emb) AS y
      |       FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
      |sims AS (SELECT vec_id, CAST(any_value(label) AS BIGINT) AS label,
      |    sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
      |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
      |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS sim
      |  FROM ex GROUP BY vec_id)
      |SELECT vec_id, label, round(sim, 4) AS sim FROM sims
      |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  /** IVF-style ANN: restrict the search to the query's coarse cell (here
    * the fixture's `label`, standing in for a precomputed centroid
    * assignment — exactly how IVF works at scale: cells assigned at ingest,
    * search probes only matching cells). The candidate scan is 1/|cells| of
    * the corpus; at 100 TB the table would be partitioned BY cell so the
    * probe prunes to matching partitions.
    */
  def q25AnnIvf(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"), col("label").as("q_label"))
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(q), col("label") === col("q_label"))
      .select(
        col("vec_id"),
        round(VectorExpressions.cosine(col("embedding"), col("q_emb")), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  val q25Oracle: String =
    """WITH q AS (SELECT embedding AS q_emb, label AS q_label FROM embeddings WHERE vec_id = 0),
      |ex AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.q_emb) AS y
      |       FROM embeddings e JOIN q ON e.label = q.q_label WHERE e.vec_id <> 0),
      |sims AS (SELECT vec_id,
      |    sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
      |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
      |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS sim
      |  FROM ex GROUP BY vec_id)
      |SELECT vec_id, round(sim, 4) AS sim FROM sims
      |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  /** Quantized similarity search: int8-quantize the corpus (4x smaller
    * scan at 100 TB), dequantize, exact cosine top-k — the oracle runs
    * the identical affine arithmetic, so codes and reconstructions are
    * engine-identical (round() of the non-negative operand is
    * half-away-from-zero in both engines). Recall vs the float baseline
    * is measured in QuantizeSpec.
    */
  def q43QuantizedTopK(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Quantize
    val e = embeddings(s, d)
      .select(col("vec_id"),
        // fused native round-trip (bit-equal to dequantize∘quantize —
        // QuantizeSpec pins it); the codes themselves are never needed here
        Quantize.roundTrip(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(VectorExpressions.cosine(col("v"), col("qv")), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  val q43Oracle: String =
    """WITH deq AS (
      |  SELECT vec_id,
      |    CASE WHEN list_max(embedding) = list_min(embedding)
      |         THEN list_transform(embedding, x -> CAST(list_min(embedding) AS DOUBLE))
      |         ELSE list_transform(embedding, x ->
      |           CAST(list_min(embedding) AS DOUBLE)
      |           + round((CAST(x AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE))
      |                   / ((CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0))
      |             * ((CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0))
      |    END AS v
      |  FROM embeddings),
      |q AS (SELECT v AS qv FROM deq WHERE vec_id = 0),
      |ex AS (SELECT d.vec_id, unnest(d.v) AS x, unnest(q.qv) AS y
      |       FROM deq d CROSS JOIN q WHERE d.vec_id <> 0),
      |sims AS (SELECT vec_id,
      |    sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim
      |  FROM ex GROUP BY vec_id)
      |SELECT vec_id, round(sim, 4) AS sim FROM sims
      |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  // --- Deduplication ------------------------------------------------------

  /** Exact-dedup statistics keyed on a 64-bit content hash: at 100 TB the
    * distinct-count shuffle carries xxhash64(text) — 8 bytes — instead of
    * the document body. The oracle counts distinct raw texts; equality
    * also certifies the fixture is collision-free (P(collision) ≈ n²/2⁶⁵).
    */
  def q26DedupStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(xxhash64(col("text"))).as("n_distinct_texts"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")

  val q26Oracle: String =
    """SELECT lang, count(*) AS n_docs, count(DISTINCT text) AS n_distinct_texts,
      |  count(DISTINCT source) AS n_sources
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Keep-first dedup: one representative per duplicate group via
    * row_number over (group, doc_id) — the canonical "drop duplicates but
    * keep the earliest" pattern. Grouped here by (lang, source); at scale
    * the group key is the content hash (high-cardinality, so the window
    * shuffle spreads evenly — never a low-cardinality partition key).
    */
  def q27DedupKeepFirst(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
    documents(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("lang"), col("source"),
        col("doc_id").as("rep_doc_id"), col("n_chars").as("rep_n_chars"))
      .orderBy("lang", "source")
  }

  val q27Oracle: String =
    """SELECT lang, source, doc_id AS rep_doc_id, n_chars AS rep_n_chars
      |FROM (SELECT lang, source, doc_id, n_chars,
      |        row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
      |      FROM documents)
      |WHERE rn = 1 ORDER BY lang, source""".stripMargin

  /** Word-bigram Jaccard similarity over a key-bounded candidate set (one
    * lang × source cell). The all-pairs theta-join is ONLY legitimate
    * because the candidate set is bounded — at corpus scale the pairs come
    * out of LSH buckets (q29) and this scoring runs per bucket.
    */
  def q28NgramJaccard(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    val grams = graft.functions.MinHash.shingles(t, 2)
    val base = documents(s, d)
      .filter(col("lang") === "en" && col("source") === "src0" && size(t) >= 2)
      .select(col("doc_id"), grams.as("grams"))
    val a = base.select(col("doc_id").as("doc_a"), col("grams").as("ga"))
    val b = base.select(col("doc_id").as("doc_b"), col("grams").as("gb"))
    a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(
          size(array_intersect(col("ga"), col("gb"))).cast("double")
            / size(array_union(col("ga"), col("gb"))).cast("double"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  val q28Oracle: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(t) - 1),
      |                                 i -> t[i] || ' ' || t[i + 1])) AS grams
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |        FROM documents WHERE lang = 'en' AND source = 'src0')
      |  WHERE len(t) >= 2)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      |        / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 4) AS jaccard
      |FROM base a JOIN base b ON a.doc_id < b.doc_id
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Per-band bucket statistics — the shared tail of q29/q37: (band,
    * bucket) rows → per-band bucket count, max bucket size, and the
    * candidate-pair workload Σ n·(n−1)/2 the banding would feed pairwise
    * scoring. One (band, bucket) shuffle; output bounded by nBands.
    */
  private def bandStats(bb: DataFrame): DataFrame =
    bb.groupBy("band", "bucket")
      .agg(count(lit(1)).as("n_docs"))
      .groupBy("band")
      .agg(
        count(lit(1)).as("n_buckets"),
        max("n_docs").as("max_bucket"),
        sum(col("n_docs") * (col("n_docs") - 1) / 2).cast("long").as("n_candidate_pairs"))
      .orderBy("band")

  private val bandStatsSql: String =
    """c AS (SELECT band, bucket, count(*) AS n_docs FROM bb GROUP BY 1, 2)
      |SELECT band, count(*) AS n_buckets, max(n_docs) AS max_bucket,
      |  CAST(sum(n_docs * (n_docs - 1) / 2) AS BIGINT) AS n_candidate_pairs
      |FROM c GROUP BY band ORDER BY band""".stripMargin

  /** SimHash LSH banding — the sub-quadratic near-dup candidate generator.
    * Each doc's simhash is cut into bit-range bands; docs sharing any band
    * bucket are candidates (two docs within small Hamming distance must
    * agree on ≥1 band). The plan is scan → explode(3) → groupBy(band,
    * bucket): one shuffle of (band, bucket, 1) — never a pairwise join.
    *
    * Keyed on the engine-portable 30-bit [[VectorExpressions.PolySimHash]]
    * (3×10-bit bands) so the oracle recomputes identical signatures in
    * plain integer SQL; restricted to lang='en'
    * for BMP char-code parity. The production 64-bit xxhash64 variant
    * ([[VectorExpressions.SimHash64]], 4×16-bit bands) keeps its
    * structural coverage in SimHashSpec.
    */
  def q29SimhashBands(s: SparkSession, d: String): DataFrame = {
    val sig = VectorExpressions.polySimhash(toks(col("text")))
    val buckets = array((0 until 3).map { b =>
      shiftrightunsigned(col("sig"), b * 10).bitwiseAND(lit(1023L))
    }: _*)
    bandStats(
      documents(s, d)
        .filter(col("lang") === "en" && length(trim(col("text"))) > 0)
        .select(col("doc_id"), sig.as("sig"))
        .select(posexplode(buckets).as(Seq("band", "bucket")))
        .select(col("band").cast("long").as("band"), col("bucket")))
  }

  /** q29's oracle rebuilds the 30-bit simhash from scratch: per-token
    * Horner hash (PolyHash), ±1 votes per bit as a per-doc aggregate, sign
    * → bit, then the same 3×10-bit banding. Generated so the permutation
    * constants and vote algebra come from the SAME PolyHash object the
    * Catalyst expression uses.
    */
  val q29Oracle: String = {
    import graft.functions.PolyHash
    val votes = (0 until 30)
      .map(j => s"    sum(((h >> $j) & 1) * 2 - 1) AS v$j").mkString(",\n")
    val sigExpr = (0 until 30)
      .map(j => s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    val bandSelects = (0 until 3).map { b =>
      s"SELECT CAST($b AS BIGINT) AS band, (sig >> ${b * 10}) & 1023 AS bucket FROM sigs"
    }.mkString("\n      UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |  FROM documents WHERE lang = 'en' AND length(trim(text)) > 0),
       |h AS (SELECT doc_id, ${PolyHash.hornerSql("w")} AS h FROM toks),
       |votes AS (
       |  SELECT doc_id,
       |$votes
       |  FROM h GROUP BY doc_id),
       |sigs AS (SELECT doc_id, CAST($sigExpr AS BIGINT) AS sig FROM votes),
       |bb AS ($bandSelects),
       |$bandStatsSql""".stripMargin
  }

  /** Shared oracle CTE chain for the portable-MinHash queries (q37, q44):
    * tokens → bigram shingles → Horner gram hashes → the k per-permutation
    * minima as columns m0..m{k-1}. Coefficients are interpolated from the
    * SAME PolyHash object the Catalyst kernel reads, so the two
    * formulations cannot drift.
    */
  /** `pfx` renames every CTE (so several chains can share one WITH —
    * q253 runs three occupancy-restricted chains); `extraWhere` ANDs
    * onto the base doc predicate. Defaults reproduce the historical
    * single-chain form. */
  private def minhashSigCtes(k: Int, pfx: String = "",
      extraWhere: String = ""): String = {
    import graft.functions.PolyHash
    val mins = (0 until k).map { i =>
      s"    list_min(list_transform(hs, h -> (${PolyHash.coefA(i)} * h + ${PolyHash.coefB(i)}) % ${PolyHash.Mod})) AS m$i"
    }.mkString(",\n")
    s"""${pfx}t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents WHERE lang = 'en'$extraWhere),
       |${pfx}g AS (
       |  SELECT doc_id, list_transform(generate_series(1, len(t) - 1),
       |                                i -> t[i] || ' ' || t[i + 1]) AS grams
       |  FROM ${pfx}t WHERE len(t) >= 2),
       |${pfx}h AS (
       |  SELECT doc_id, list_transform(grams, s -> ${PolyHash.hornerSql("s")}) AS hs
       |  FROM ${pfx}g),
       |${pfx}m AS (
       |  SELECT doc_id,
       |$mins
       |  FROM ${pfx}h)""".stripMargin
  }

  /** The band-b bucket key as nested Horner-fold SQL over m{b·r}..m{b·r+r-1}
    * — the integer fold [[VectorExpressions.MinHashBandBuckets]] runs when
    * portable.
    */
  private def bandFoldSql(b: Int, r: Int): String = {
    import graft.functions.PolyHash
    (b * r until (b + 1) * r).foldLeft(PolyHash.BandSeed.toString) { (acc, j) =>
      s"(($acc * ${PolyHash.BandBase} + m$j) % ${PolyHash.Mod})"
    }
  }

  /** MinHash LSH banding — same sub-quadratic candidate-generation plan as
    * q29 but with the MinHash family (bigram shingles → 64-wide signature
    * → 8 bands): scan → explode(8) → one (band, bucket) shuffle.
    *
    * Keyed on the engine-portable PolyHash family so the DuckDB oracle
    * recomputes the identical 64 minima and band folds; lang='en' for
    * char-code parity. The xxhash64 production
    * family keeps pair-level structural coverage in MinHashSpec.
    */
  def q37MinhashBands(s: SparkSession, d: String): DataFrame = {
    import graft.functions.MinHash
    val bands = MinHash.bandBuckets(toks(col("text")), 2, 64, 8, portable = true)
    // outer explode + attribute filter so Catalyst cannot infer a
    // size(bands) > 0 scan predicate that would re-evaluate the kernel
    // per row (see MinHash.explodedBands for the full rationale)
    bandStats(
      documents(s, d)
        .filter(col("lang") === "en")
        .select(col("doc_id"), bands.as("bands"))
        .select(posexplode_outer(col("bands")).as(Seq("band", "bucket")))
        .filter(col("band").isNotNull)
        .select(col("band").cast("long").as("band"), col("bucket")))
  }

  val q37Oracle: String = {
    val bandSelects = (0 until 8).map { b =>
      s"SELECT CAST($b AS BIGINT) AS band, ${bandFoldSql(b, 8)} AS bucket FROM m"
    }.mkString("\n      UNION ALL ")
    s"""WITH ${minhashSigCtes(64)},
       |bb AS ($bandSelects),
       |$bandStatsSql""".stripMargin
  }

  /** Pair-level LSH dedup END-TO-END: the full
    * [[MinHash.candidatePairs]] product operator — signature scan, explode
    * ×8 bands, (band, bucket) shuffle, degenerate-bucket guard
    * (maxBucket=100), per-bucket self-join, pair dedup, estimator filter
    * est_jaccard ≥ 0.5 — registered on the portable hash family so the
    * oracle replays every stage in SQL. est_jaccard values are multiples
    * of 1/64 (dyadic — exact in double on both engines), so the ≥ 0.5
    * cut and the hash compare are boundary-safe without rounding. On the
    * fixture this surfaces exactly the planted near-dup pairs (bigram
    * Jaccard ≥ 0.96 vs background ≤ 0.13).
    */
  def q44LshPairs(s: SparkSession, d: String): DataFrame = {
    import graft.functions.MinHash
    val docs = documents(s, d)
      .filter(col("lang") === "en")
      .select(col("doc_id"), toks(col("text")).as("tokens"))
    MinHash.candidatePairs(docs, "doc_id", "tokens",
        shingleN = 2, k = 64, nBands = 8,
        minJaccard = 0.5, maxBucket = 100, portable = true)
      .orderBy("id_a", "id_b")
  }

  /** The q44 CTE chain up to `est` (candidate pairs + signature-agreement
    * Jaccard estimate), shared with the q63 cluster-assignment oracle;
    * `pfx`/`extraWhere` thread through to [[minhashSigCtes]] so q253 can
    * run one occupancy-restricted chain per stream batch in a single
    * WITH. */
  private def lshPairChainSql: String = lshPairChainSqlP("", "")

  private def lshPairChainSqlP(pfx: String, extraWhere: String): String = {
    val bandSelects = (0 until 8).map { b =>
      s"SELECT doc_id, $b AS band, ${bandFoldSql(b, 8)} AS bucket FROM ${pfx}m"
    }.mkString("\n      UNION ALL ")
    val eq = (0 until 64)
      .map(i => s"(CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""${minhashSigCtes(64, pfx, extraWhere)},
       |${pfx}bb AS ($bandSelects),
       |${pfx}sized AS (SELECT band, bucket FROM ${pfx}bb GROUP BY band, bucket
       |          HAVING count(*) >= 2 AND count(*) <= 100),
       |${pfx}jb AS (SELECT a.doc_id, a.band, a.bucket
       |       FROM ${pfx}bb a JOIN ${pfx}sized USING (band, bucket)),
       |${pfx}cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM ${pfx}jb a JOIN ${pfx}jb b
       |           ON a.band = b.band AND a.bucket = b.bucket
       |          AND a.doc_id < b.doc_id),
       |${pfx}est AS (SELECT id_a, id_b, CAST($eq AS DOUBLE) / 64 AS est_jaccard
       |        FROM ${pfx}cand JOIN ${pfx}m x ON x.doc_id = ${pfx}cand.id_a
       |                  JOIN ${pfx}m y ON y.doc_id = ${pfx}cand.id_b)""".stripMargin
  }

  val q44Oracle: String =
    s"""WITH $lshPairChainSql
       |SELECT id_a, id_b, est_jaccard FROM est
       |WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin

  // --- Incremental dedup (q79) --------------------------------------------

  private val IncrNewMod = 10L // doc_id % 10 >= 8 plays the new snapshot

  private val IncrShingleN = 2
  private val IncrK = 64
  private val IncrBands = 8

  /** Version + parameter token baked into the q79 index layout names: a
    * warehouse populated under DIFFERENT banding parameters (shingle n,
    * signature width, band count, snapshot split, language filter) must
    * never satisfy the reuse path — the name changes with the semantics,
    * mechanically, instead of relying on a human bumping a bare "v1".
    */
  private val IncrIndexTag: String =
    s"v1_s${IncrShingleN}k${IncrK}b${IncrBands}m${IncrNewMod}en"

  /** q79: INCREMENTAL DEDUP AGAINST AN EXISTING CORPUS — the
    * continual-ingest shape a 100 TB pipeline actually runs: q44/q63
    * cover the batch REBUILD (re-band everything, all intra-corpus
    * pairs); a daily snapshot instead probes a MAINTAINED MinHash index
    * with only the new documents. Here the index is two published
    * layouts ([[graft.sources.Layouts.ensureDir]] — built once per
    * fixture dir, exactly like the bucketed lineitem):
    *
    *  - `mhidx_bands`: (band, bucket, id) of the existing corpus — the
    *    LSH posting lists;
    *  - `mhidx_sigs`:  (id, sig) — signatures for candidate scoring.
    *
    * The incremental pass bands ONLY the new slice, then generates
    * exactly two pair classes: new-vs-old (new bands joined against the
    * index posting lists) and new-vs-new (self-join of the new bands).
    * Old-vs-old pairs are never formed — that is the entire point: the
    * probe cost scales with the snapshot, not the corpus. The
    * degenerate-bucket guard counts index + new occupancy together
    * (scanning the 12-byte index rows, NOT re-banding the corpus), so
    * the guarded bucket set is identical to what a batch q44 over the
    * union would keep, and a bucket the batch guard would drop is
    * dropped here too.
    *
    * Output: (id_a, id_b, kind, est_jaccard) with id_a < id_b; 'kind'
    * classifies new_old vs new_new so downstream survivorship can treat
    * collisions with the existing corpus (drop the new doc) differently
    * from intra-snapshot duplicates (keep-min). The pair key is unique,
    * so the sort is total at every scale.
    */
  def q79IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    import graft.functions.MinHash
    import graft.sources.Layouts
    val tag = Layouts.srcTag(s, d, "documents")
    def en = documents(s, d).filter(col("lang") === "en")
      .select(col("doc_id"), toks(col("text")).as("tokens"))
    def old = en.filter(col("doc_id") % IncrNewMod < 8)
    val nw = en.filter(col("doc_id") % IncrNewMod >= 8)
    val bandsPath = Layouts.ensureDir(s, s"mhidx_bands_${IncrIndexTag}_$tag") { tmp =>
      MinHash.explodedBands(old, "doc_id", "tokens", IncrShingleN, IncrK,
          IncrBands, portable = true)
        .select("band", "bucket", "id").write.parquet(tmp)
    }
    val sigsPath = Layouts.ensureDir(s, s"mhidx_sigs_${IncrIndexTag}_$tag") { tmp =>
      old.select(col("doc_id").as("id"),
          MinHash.signature(col("tokens"), IncrShingleN, IncrK, portable = true).as("sig"))
        .filter(col("sig").isNotNull).write.parquet(tmp)
    }
    val idxBands = s.read.parquet(bandsPath)
    val idxSigs = s.read.parquet(sigsPath)
    val newBands = MinHash.explodedBands(nw, "doc_id", "tokens", IncrShingleN,
      IncrK, IncrBands, portable = true).select("band", "bucket", "id")
    val newSigs = nw.select(col("doc_id").as("id"),
        MinHash.signature(col("tokens"), IncrShingleN, IncrK, portable = true).as("sig"))
      .filter(col("sig").isNotNull)
    // the shared asymmetric probe (also the streaming sink's engine):
    // bucket guard over index + snapshot occupancy — same bound as q44's
    // batch guard, computed from the index rows, never from re-banding
    MinHash.incrementalProbe(idxBands, idxSigs, newBands, newSigs,
        maxBucket = 100, minJaccard = 0.5)
      .orderBy("id_a", "id_b")
  }

  /** The oracle replays the SAME semantics from scratch (an oracle has
    * no maintained state): full banding, the batch bucket guard, then
    * the pair set restricted to at-least-one-new — provably identical
    * to the index-probe plan's output because the guarded bucket set is
    * the union-occupancy one on both sides.
    */
  val q79Oracle: String =
    s"""WITH $lshPairChainSql,
       |inc AS (SELECT id_a, id_b, est_jaccard FROM est
       |        WHERE est_jaccard >= 0.5
       |          AND (id_a % $IncrNewMod >= 8 OR id_b % $IncrNewMod >= 8))
       |SELECT id_a, id_b,
       |  CASE WHEN id_a % $IncrNewMod >= 8 AND id_b % $IncrNewMod >= 8
       |       THEN 'new_new' ELSE 'new_old' END AS kind,
       |  est_jaccard
       |FROM inc ORDER BY id_a, id_b""".stripMargin

  /** q63: duplicate-CLUSTER assignment — the step after pair detection
    * that the reference pipeline (and most pair-level dedup demos) leaves
    * out. Edges are the union of two independent candidate generators:
    * the MinHash-LSH pairs of q44 (whole en corpus, est_jaccard ≥ 0.5)
    * and the bounded n-gram-Jaccard pairs of q28 (src0 slice, true
    * Jaccard ≥ 0.5); [[graft.ops.ConnectedComponents]] then collapses
    * transitive chains (a~b, b~c ⇒ {a,b,c} one cluster) so each cluster
    * keeps exactly one canonical doc (min doc_id).
    *
    * The Jaccard threshold is applied as `2·|∩| ≥ |∪|` in pure integer
    * arithmetic — no floating-point boundary on either engine. The oracle
    * replays the whole thing in SQL with the component step as a
    * WITH RECURSIVE transitive closure (UNION-dedup'd, so it terminates),
    * min label per node — exactly the fixpoint the iterative Spark loop
    * converges to.
    */
  /** The q63/q72 edge list: LSH candidate pairs over the en corpus
    * unioned with the bounded n-gram-Jaccard pairs of the src0 slice. */
  private def dedupEdges(s: SparkSession, d: String): DataFrame = {
    import graft.functions.MinHash
    val lsh = MinHash.candidatePairs(
        documents(s, d).filter(col("lang") === "en")
          .select(col("doc_id"), toks(col("text")).as("tokens")),
        "doc_id", "tokens", shingleN = 2, k = 64, nBands = 8,
        minJaccard = 0.5, maxBucket = 100, portable = true)
      .select(col("id_a"), col("id_b"))
    val t = toks(col("text"))
    val grams = graft.functions.MinHash.shingles(t, 2)
    val base = documents(s, d)
      .filter(col("lang") === "en" && col("source") === "src0" && size(t) >= 2)
      .select(col("doc_id"), grams.as("grams"))
    lsh.unionByName(jaccardHalfPairs(base))
  }

  /** The exact-Jaccard dedup edges of a `(doc_id, grams)` frame (one row
    * per doc, `grams` its distinct shingles): every pair with Jaccard
    * ≥ 0.5, as (id_a, id_b) with id_a < id_b. Shared by the batch edges
    * ([[dedupEdges]]) and the streaming ledger
    * ([[graft.streaming.CurationFunnelStream.ledger]]). A Jaccard ≥ 0.5
    * pair shares a gram (grams are non-empty), so the set-overlap
    * operator ([[graft.functions.Overlap]], documents as members, grams
    * as keys) at minCommon 1 sees every candidate — Σ df(gram)² work,
    * never n²/2. Grams are distinct, so |∪| = sza + szb − common and
    * `2·|∩| ≥ |∪|` ⇔ `3·common ≥ sza + szb`: integer arithmetic, no
    * float boundary. */
  private[graft] def jaccardHalfPairs(base: DataFrame): DataFrame = {
    val members = base.select(col("doc_id"), size(col("grams")).as("sz"),
      explode(col("grams")).as("g"))
    Overlap.pairs(Overlap.postings(members, "g", "doc_id", "sz"), 1)
      .filter(lit(3) * col("common") >= col("szu") + col("szv"))
      .select(col("u").as("id_a"), col("v").as("id_b"))
  }

  def q63DedupClusters(s: SparkSession, d: String): DataFrame =
    graft.ops.ConnectedComponents.withSizes(
        dedupEdges(s, d), "id_a", "id_b")
      .select(col("node").as("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")

  /** The q63/q72/q83/q125/q237 oracle chain through per-node min labels
    * (`lab`): pair generation replayed in SQL, then the component step
    * as a WITH RECURSIVE transitive closure. The exact-Jaccard leg runs
    * inverted-index-shaped: `jbase a JOIN jbase b ON a.doc_id < b.doc_id`
    * would compare every gram LIST pairwise — quadratic in the (en,
    * src0) slice, which times the 30× scale gate out — where the
    * unnest⋈unnest co-occurrence count touches only pairs sharing a
    * bigram. Bit-identical pair set: grams are list_distinct (sets), so
    * |∪| = |A|+|B|−|∩| and the Jaccard rule `2·|∩| ≥ |∪|` is exactly
    * `3·inter ≥ sza+szb`; a qualifying pair shares ≥ 1 gram (grams are
    * non-empty under `len(t) >= 2`), so restricting candidates to
    * co-occurring pairs drops nothing. */
  private def dedupClusterChainSql: String =
    s"""$lshPairChainSql,
       |lsh AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5),
       |jbase AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, len(t) - 1),
       |                                 i -> t[i] || ' ' || t[i + 1])) AS grams
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |        FROM documents WHERE lang = 'en' AND source = 'src0')
       |  WHERE len(t) >= 2),
       |jinv AS (SELECT doc_id, len(grams) AS sz, unnest(grams) AS g
       |         FROM jbase),
       |jco AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
       |          any_value(a.sz) AS sza, any_value(b.sz) AS szb
       |        FROM jinv a JOIN jinv b ON a.g = b.g AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2),
       |jac AS (SELECT id_a, id_b FROM jco WHERE 3 * inter >= sza + szb),
       |edges AS (SELECT id_a, id_b FROM lsh UNION SELECT id_a, id_b FROM jac),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM edges
       |        UNION SELECT id_b, id_a FROM edges),
       |reach AS (
       |  SELECT DISTINCT src AS node, src AS lab FROM sym
       |  UNION
       |  SELECT s.dst AS node, r.lab FROM reach r JOIN sym s ON s.src = r.node),
       |lab AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)""".stripMargin

  val q63Oracle: String =
    s"""WITH RECURSIVE $dedupClusterChainSql,
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
       |SELECT doc_id, cluster_id, cluster_size
       |FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin

  /** q72: DEDUP SURVIVORSHIP — the purge that turns q63's cluster
    * assignment into the cleaned corpus: every cluster keeps exactly its
    * canonical member (min doc_id — the label the components converge
    * to), every other member is dropped, documents in no cluster pass
    * through untouched. This is the cluster-level generalization of the
    * reference's row-level `duplicated(subset=...)` drop
    * (`scripts/clean_ticket_sales.py:116`) and the step most pair-level
    * dedup demos stop short of. Output is the per-source audit
    * (n_docs/n_kept/n_removed) rather than the corpus itself, so the
    * gate hashes exact integers.
    *
    * Scale shape: edges + components as q63; the join strategy against
    * the removal set is SIZE-GUARDED, not forced: no broadcast hint —
    * AQE observes the removal set's true runtime size (the components
    * output is already materialized by the loop's localCheckpoints, so
    * the size is real, not an estimate) and converts the join to a
    * map-side broadcast exactly when the set fits the broadcast
    * threshold. On a typical corpus (duplicates ≪ corpus) that yields the
    * same map-side plan a forced hint would; on a raw web crawl where
    * 30–50% duplicate rates make the removal set billions of rows, the
    * forced broadcast would OOM every executor, and the guard instead
    * leaves a plain shuffled join. DedupPurgeSpec pins both sides of the
    * guard.
    */
  def q72DedupPurge(s: SparkSession, d: String): DataFrame = {
    val removed = graft.ops.ConnectedComponents
      .assign(dedupEdges(s, d), "id_a", "id_b")
      .filter(col("node") =!= col("cluster_id"))
      .select(col("node").as("doc_id"), lit(1).as("__rm"))
    documents(s, d).select("doc_id", "source")
      .join(removed, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__rm").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__rm") === 1, 1L).otherwise(0L)).as("n_removed"))
      .orderBy("source")
  }

  val q72Oracle: String =
    s"""WITH RECURSIVE $dedupClusterChainSql,
       |removed AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN r.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
       |FROM documents d LEFT JOIN removed r ON d.doc_id = r.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** q125: QUALITY-RANKED SURVIVORSHIP — q72 keeps each cluster's min
    * doc_id (the label the components converge to: cheap, deterministic,
    * arbitrary). A curation pipeline keeps the BEST member: canonical =
    * argmax over (classifier logit desc, doc_id asc) — the q78 logit,
    * SHARED definition, so the policy can never drift from the filter
    * beside it. The doc_id tiebreak makes the pick total even when an
    * entire cluster ties on quality (near-dups usually do).
    *
    * The per-source audit reports both policies side by side:
    * n_kept/n_removed under quality ranking, plus n_policy_flips — docs
    * whose keep/drop verdict DIFFERS from min-id survivorship (the
    * cost, in re-ingested documents, of having shipped the naive policy
    * first). Unclustered docs pass through under both policies.
    *
    * Scale shape: the dedup chain as q63 (banded LSH + bounded Jaccard);
    * the canonical pick is max_by over a STRUCT ordering — one hash
    * aggregate at cluster granularity, never a per-cluster window sort;
    * membership is cluster-members-sized (duplicates only, ≪ corpus);
    * min-id verdicts are free (cluster_id IS the min label). The final
    * rollup joins decisions back to the corpus on doc_id — the only
    * corpus-sized exchange, and it carries three booleans.
    */
  def q125CanonicalPick(s: SparkSession, d: String): DataFrame = {
    val members = graft.ops.ConnectedComponents
      .assign(dedupEdges(s, d), "id_a", "id_b")
      .select(col("node").as("doc_id"), col("cluster_id"))
    // logits are consumed ONLY for cluster members (the inner join
    // below), so score just those docs (don't tokenize the 100 TB corpus
    // to rank the ≪corpus duplicate set):
    // the semi join against the already-materialized member labels
    // prunes the explode+hash pass to cluster members before it runs
    val lg = qualityLogits(documents(s, d)
        .join(members.select("doc_id"), Seq("doc_id"), "leftsemi"))
      .select(col("doc_id"), col("logit"))
    val canon = members.join(lg, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(max_by(col("doc_id"), struct(col("logit"), -col("doc_id")))
        .as("canonical"))
    val decided = members.join(canon, Seq("cluster_id"))
      .select(col("doc_id"),
        (col("doc_id") === col("canonical")).as("keep_q"),
        (col("doc_id") === col("cluster_id")).as("keep_min"))
    documents(s, d).select("doc_id", "source")
      .join(decided, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count_if(coalesce(col("keep_q"), lit(true))).as("n_kept"),
        count_if(!coalesce(col("keep_q"), lit(true))).as("n_removed"),
        count_if(coalesce(col("keep_q") =!= col("keep_min"), lit(false)))
          .as("n_policy_flips"))
      .orderBy("source")
  }

  /** Oracle: the q63 recursive-CTE cluster chain + the q78 logit chain,
    * canonical via a per-cluster row_number over (logit DESC, doc_id
    * ASC) — same total order as the Spark struct max_by. Lazy because
    * it interpolates [[QcBuckets]]/[[QcWMod]], declared LATER in this
    * object — an eager val here initializes before them and bakes in
    * zeros (object vals initialize in declaration order). */
  lazy val q125Oracle: String = {
    import graft.functions.PolyHash
    s"""WITH RECURSIVE $dedupClusterChainSql,
       |tq AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
       |  FROM documents),
       |fq AS (SELECT doc_id,
       |    ((${PolyHash.hornerSql("token")} % $QcBuckets) * 37 + 11) % $QcWMod - 10 AS w
       |  FROM tq),
       |dl AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS logit
       |       FROM fq GROUP BY doc_id),
       |rk AS (SELECT l.doc_id, l.cluster_id,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |                       ORDER BY dl.logit DESC, l.doc_id ASC) AS rn
       |  FROM lab l JOIN dl USING (doc_id)),
       |dec AS (SELECT doc_id, rn = 1 AS keep_q,
       |               doc_id = cluster_id AS keep_min
       |        FROM rk)
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(count_if(coalesce(dec.keep_q, TRUE)) AS BIGINT) AS n_kept,
       |  CAST(count_if(NOT coalesce(dec.keep_q, TRUE)) AS BIGINT) AS n_removed,
       |  CAST(count_if(coalesce(dec.keep_q <> dec.keep_min, FALSE)) AS BIGINT)
       |    AS n_policy_flips
       |FROM documents d LEFT JOIN dec ON d.doc_id = dec.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  /** q83: SPLIT-LEAKAGE AUDIT — the check every train/val/test pipeline
    * needs and most skip: a hash split (q53) assigns DOCUMENTS
    * independently, so two near-duplicates (one cluster in q63's graph)
    * can land in different splits — the model then "generalizes" to a
    * test doc it effectively saw in training. This audit composes the
    * two existing operators: cluster assignment over the dedup graph,
    * split assignment from the SAME cuts q53 uses (shared
    * `Splits.assign` / generated SQL — the rule cannot drift), then a
    * per-cluster distinct-split count rolled up by span. Rows with
    * n_splits > 1 are the contamination; the fix is cluster-aware
    * splitting (split by cluster_id, not doc_id), and this audit is the
    * evidence that motivates it.
    *
    * Scale shape: the dedup chain as q63 (banded LSH + bounded Jaccard,
    * one shuffle per CC round); the audit itself adds two
    * cluster-count-sized aggregations — nothing corpus-sized beyond the
    * chain that already ran.
    */
  def q83SplitLeakage(s: SparkSession, d: String): DataFrame =
    graft.ops.ConnectedComponents.assign(dedupEdges(s, d), "id_a", "id_b")
      .select(col("node").as("doc_id"), col("cluster_id"),
        graft.ops.Splits.assign(col("node"), Corpus.SplitCuts).as("split"))
      .groupBy("cluster_id")
      .agg(countDistinct("split").as("n_splits"), count(lit(1)).as("n_docs"))
      .groupBy("n_splits")
      .agg(count(lit(1)).as("n_clusters"), sum("n_docs").as("n_docs"))
      .orderBy("n_splits")

  val q83Oracle: String =
    s"""WITH RECURSIVE $dedupClusterChainSql,
       |sp AS (SELECT doc_id, cluster_id,
       |         ${graft.ops.Splits.assignSql("doc_id", Corpus.SplitCuts)} AS split
       |       FROM lab),
       |pc AS (SELECT cluster_id, count(DISTINCT split) AS n_splits,
       |         count(*) AS n_docs
       |       FROM sp GROUP BY 1)
       |SELECT CAST(n_splits AS BIGINT) AS n_splits,
       |  count(*) AS n_clusters, CAST(sum(n_docs) AS BIGINT) AS n_docs
       |FROM pc GROUP BY 1 ORDER BY n_splits""".stripMargin

  /** q66: click→purchase attribution — the batch twin of
    * [[graft.streaming.EventStreams.attributionJoin]] (stream-stream
    * interval join; the streaming side is driven through MemoryStream in
    * StreamingSpec, this registration oracles the identical expression on
    * the batch events fixture). Hash equi-join on user_id + event-time
    * range filter; output grows linearly with purchases (each matches the
    * handful of same-user clicks in its 30-minute lookback).
    */
  def q66Attribution(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    graft.streaming.EventStreams
      .attributionJoin(clicks, purchases, "30 MINUTES", "10 minutes")
      .orderBy("user_id", "click_id", "purchase_id")
  }

  val q66Oracle: String =
    """WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id AS p_user, event_id AS purchase_id,
      |             ts AS purchase_ts, value
      |      FROM events WHERE event_type = 'purchase')
      |SELECT user_id, click_id, purchase_id,
      |  epoch_us(purchase_ts) - epoch_us(click_ts) AS lag_us, value
      |FROM c JOIN p ON user_id = p_user
      |  AND purchase_ts > click_ts
      |  AND purchase_ts <= click_ts + INTERVAL 30 MINUTE
      |ORDER BY user_id, click_id, purchase_id""".stripMargin

  /** q199: OUTER ATTRIBUTION — q66's left-outer twin via
    * [[graft.streaming.EventStreams.attributionJoinOuter]]: every click
    * appears, unconverted ones null-padded and flagged, so conversion
    * AND drop-off ride one frame. Registered on the batch events
    * fixture (the streaming side — watermark-evicted outer state — is
    * driven through MemoryStream in StreamingSpec; this oracles the
    * identical expression). Same hash equi-join + range filter shape as
    * q66; output adds one row per unconverted click, still linear.
    */
  def q199AttributionOuter(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    graft.streaming.EventStreams
      .attributionJoinOuter(clicks, purchases, "30 MINUTES", "10 minutes")
      .orderBy("user_id", "click_id", "purchase_id")
  }

  val q199Oracle: String =
    """WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id AS p_user, event_id AS purchase_id,
      |             ts AS purchase_ts, value
      |      FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, c.click_id, p.purchase_id,
      |  epoch_us(p.purchase_ts) - epoch_us(c.click_ts) AS lag_us, p.value,
      |  CAST(CASE WHEN p.purchase_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS unconverted
      |FROM c LEFT JOIN p ON c.user_id = p.p_user
      |  AND p.purchase_ts > c.click_ts
      |  AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
      |ORDER BY user_id, click_id, purchase_id""".stripMargin

  /** q209's TTL window (24 h in epoch-µs). Chosen against the fixture's
    * inter-arrival profile (median per-user gap ≈ 7 h) so both branches
    * of the admission chain — suppression AND re-admission — carry real
    * mass at every scale factor. */
  private val TtlBatchUs = 24L * 3600L * 1000000L

  /** The greedy TTL admission chain over a (key, ts) frame — the batch
    * core shared by [[q209TtlDedupBatch]] and `TtlDedupSpec`'s
    * stream/batch parity assert. Per key, arrivals sorted by event
    * time; the first is ADMITTED and opens a window `[t, t+ttl)`;
    * arrivals inside are SUPPRESSED (counted); the first arrival at or
    * after the expiry is admitted again. Exactly
    * [[graft.streaming.TtlDedupProcessor]]'s candidate chain with the
    * whole corpus as one batch — i.e. the watermark-complete answer the
    * stream converges to under per-key in-order arrival.
    *
    * Shape: one key-hash aggregate collects each key's sorted arrival
    * µs array, then a higher-order `aggregate` fold walks the chain
    * map-side (no UDF, no per-key window sort, no recursion). The
    * per-key array is bounded by the gate's own premise — a TTL dedup
    * gate only ever holds arrivals inside the retention horizon; a key
    * hot enough to overflow an array here would also overflow the
    * streaming gate's state row.
    */
  private[graft] def ttlAdmissions(arrivals: DataFrame, ttlUs: Long): DataFrame = {
    val emptyAdm = array().cast("array<struct<t:bigint,supp:bigint>>")
    val zero = struct(
      emptyAdm.as("adm"), lit(Long.MinValue).as("cur"),
      lit(Long.MinValue).as("exp"), lit(0L).as("supp"))
    // close the open admission into the output array (no-op before the
    // first arrival, when exp still carries the MinValue sentinel)
    def close(acc: Column): Column =
      when(acc("exp") === Long.MinValue, acc("adm"))
        .otherwise(concat(acc("adm"),
          array(struct(acc("cur").as("t"), acc("supp").as("supp")))))
    val step = (acc: Column, t: Column) =>
      when(t >= acc("exp"),
        struct(close(acc).as("adm"), t.as("cur"),
          (t + lit(ttlUs)).as("exp"), lit(0L).as("supp")))
        .otherwise(struct(acc("adm").as("adm"), acc("cur").as("cur"),
          acc("exp").as("exp"), (acc("supp") + lit(1L)).as("supp")))
    arrivals
      .select(col("key"), unix_micros(col("ts")).as("t"))
      .groupBy("key").agg(sort_array(collect_list(col("t"))).as("ts_sorted"))
      .select(col("key"),
        explode(aggregate(col("ts_sorted"), zero, step, close)).as("a"))
      .select(col("key"), timestamp_micros(col("a")("t")).as("first_ts"),
        col("a")("supp").as("n_suppressed"))
  }

  /** q209: TTL DEDUP GATE, BATCH TWIN — the exact semantics
    * [[graft.streaming.TtlDedup]]'s transformWithState gate applies to
    * continual ingest ("seen this key in the last TTL?"), registered as
    * an oracled batch query over the events fixture so the gate's
    * admission chain sits under the driver's cross-engine hash gate
    * (the q170/q33 discipline: every streaming component has an oracled
    * batch twin). Output: one row per ADMISSION (user key, admitted
    * event time, arrivals suppressed by that admission's 24 h window);
    * admissions + suppressions conserve the event count.
    *
    * Scale: one user-keyed exchange; everything after is per-key
    * map-side fold. The oracle walks the same chain with a row-number
    * recursive CTE carrying the admission start — linear in the
    * deepest key, fine for an oracle, which is exactly why the Spark
    * side uses the fold instead.
    */
  def q209TtlDedupBatch(s: SparkSession, d: String): DataFrame =
    ttlAdmissions(
      events(s, d).select(col("user_id").as("key"), col("ts")),
      TtlBatchUs)
      .orderBy("key", "first_ts")

  val q209Oracle: String =
    """WITH RECURSIVE arr AS (
      |  SELECT user_id AS key, ts,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      |  FROM events),
      |chain AS (
      |  SELECT key, rn, ts, ts AS admit_ts FROM arr WHERE rn = 1
      |  UNION ALL
      |  SELECT a.key, a.rn, a.ts,
      |    CASE WHEN a.ts >= c.admit_ts + INTERVAL 24 HOUR
      |      THEN a.ts ELSE c.admit_ts END
      |  FROM chain c JOIN arr a ON a.key = c.key AND a.rn = c.rn + 1)
      |SELECT key, admit_ts AS first_ts,
      |  CAST(count(*) - 1 AS BIGINT) AS n_suppressed
      |FROM chain GROUP BY key, admit_ts
      |ORDER BY key, first_ts""".stripMargin

  /** q218's bucket: 3-token burst capacity, 1 token per DAY — chosen
    * against the fixture's ~2.2 arrivals/user/day so BOTH branches
    * carry real mass (sustained excess drops, bursts ≤ 3 pass). */
  private val RlCapacity = 3L
  private val RlRefillPeriodUs = 24L * 3600L * 1000000L
  private val RlMu = 1000000L
  private val RlHorizonUs = RlCapacity * RlRefillPeriodUs // full refill
  private val RlMod = 1000000007L

  /** The token-bucket recurrence over a (key, ts) frame — the batch
    * core shared by [[q218RateLimit]] and `RateLimitSpec`'s
    * stream/batch parity assert; exactly
    * [[graft.streaming.RateLimitProcessor]]'s per-arrival fold with
    * the whole corpus as one batch. Per key (sorted by event µs):
    * start full (C·10⁶ µtokens); refill min(Δ, H)·10⁶ DIV P per gap;
    * admit iff ≥ 10⁶ µtokens (spend one token). Unlike the TTL gate,
    * the ENTIRE decision state (µtokens, t_prev) carries across
    * batches, so stream and batch agree exactly under any in-order
    * slicing. Output per key: arrivals, admissions, drops, and a
    * mod-p checksum of the admitted event times (q140 discipline — the
    * oracle certifies WHICH arrivals passed, not just how many).
    *
    * Shape: one key-hash aggregate + map-side higher-order fold, the
    * [[ttlAdmissions]] posture.
    */
  private[graft] def rateLimitStats(arrivals: DataFrame): DataFrame = {
    // exact integral division inside the lambda (Column has no `div`;
    // a double `/` would be a float hazard at refill granularity)
    def idiv(a: Column, b: Column): Column =
      org.apache.spark.sql.GraftColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.IntegralDivide(
          org.apache.spark.sql.GraftColumnBridge.expression(a),
          org.apache.spark.sql.GraftColumnBridge.expression(b)))
    val cMu = RlCapacity * RlMu
    val zero = struct(
      lit(cMu).as("mutok"), lit(Long.MinValue).as("tprev"),
      lit(0L).as("nadm"), lit(0L).as("asum"))
    val step = (acc: Column, t: Column) => {
      val m1 = when(acc("tprev") === Long.MinValue, acc("mutok"))
        .otherwise(least(lit(cMu),
          acc("mutok") + idiv(least(t - acc("tprev"), lit(RlHorizonUs))
            * lit(RlMu), lit(RlRefillPeriodUs))))
      val admitted = m1 >= RlMu
      struct(
        when(admitted, m1 - RlMu).otherwise(m1).as("mutok"),
        t.as("tprev"),
        (acc("nadm") + when(admitted, 1L).otherwise(0L)).as("nadm"),
        when(admitted, pmod(acc("asum") + pmod(t, lit(RlMod)), lit(RlMod)))
          .otherwise(acc("asum")).as("asum"))
    }
    arrivals
      .select(col("key"), unix_micros(col("ts")).as("t"))
      .groupBy("key").agg(sort_array(collect_list(col("t"))).as("ts_sorted"))
      .select(col("key"), size(col("ts_sorted")).cast("long").as("n_arrivals"),
        aggregate(col("ts_sorted"), zero, step).as("a"))
      .select(col("key"), col("n_arrivals"),
        col("a")("nadm").as("n_admitted"),
        (col("n_arrivals") - col("a")("nadm")).as("n_dropped"),
        col("a")("asum").as("adm_checksum"))
  }

  /** q218: TOKEN-BUCKET RATE LIMITER, BATCH TWIN — the second
    * continual-ingest gate ([[graft.streaming.RateLimit]]) under the
    * driver's cross-engine gate, the q209 discipline: per-user
    * admission control (3-token burst capacity, 1 token/hour refill)
    * over the events fixture. The DuckDB oracle walks the identical
    * integer recurrence with a row-number recursive CTE carrying
    * (µtokens, t_prev, admissions, checksum).
    */
  def q218RateLimit(s: SparkSession, d: String): DataFrame =
    rateLimitStats(
      events(s, d).select(col("user_id").as("key"), col("ts")))
      .orderBy("key")

  val q218Oracle: String = {
    val cMu = RlCapacity * RlMu
    s"""WITH RECURSIVE arr AS (
       |  SELECT user_id AS key, epoch_us(ts) AS t,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
       |  FROM events),
       |chain AS (
       |  SELECT key, rn, t,
       |    CASE WHEN $cMu >= $RlMu THEN $cMu - $RlMu ELSE $cMu END AS mutok,
       |    CASE WHEN $cMu >= $RlMu THEN 1 ELSE 0 END AS nadm,
       |    CASE WHEN $cMu >= $RlMu THEN t % $RlMod ELSE 0 END AS asum
       |  FROM arr WHERE rn = 1
       |  UNION ALL
       |  SELECT a.key, a.rn, a.t,
       |    CASE WHEN m1 >= $RlMu THEN m1 - $RlMu ELSE m1 END,
       |    c.nadm + CASE WHEN m1 >= $RlMu THEN 1 ELSE 0 END,
       |    CASE WHEN m1 >= $RlMu
       |      THEN (c.asum + a.t % $RlMod) % $RlMod ELSE c.asum END
       |  FROM chain c JOIN arr a ON a.key = c.key AND a.rn = c.rn + 1,
       |    LATERAL (SELECT least($cMu, c.mutok +
       |        least(a.t - c.t, $RlHorizonUs) * $RlMu // $RlRefillPeriodUs)
       |      AS m1) x),
       |fin AS (
       |  SELECT key, rn, nadm, asum,
       |    row_number() OVER (PARTITION BY key ORDER BY rn DESC) AS rr
       |  FROM chain)
       |SELECT key, CAST(rn AS BIGINT) AS n_arrivals,
       |  CAST(nadm AS BIGINT) AS n_admitted,
       |  CAST(rn - nadm AS BIGINT) AS n_dropped,
       |  CAST(asum AS BIGINT) AS adm_checksum
       |FROM fin WHERE rr = 1 ORDER BY key""".stripMargin
  }

  /** Multimodal binary-column statistics: documents cast to opaque BINARY
    * payloads with a kind derived from the source id — real byte-length
    * arithmetic on BinaryType (the fake-decode surface lives in
    * Multimodal + MultimodalSpec). Byte counts differ from n_chars on
    * multi-byte text (zh), so the oracle must measure encoded bytes too.
    */
  def q38MultimodalStats(s: SparkSession, d: String): DataFrame = {
    val bytes = length(col("text").cast("binary")).cast("long")
    val kind = when(pmod(substring(col("source"), 4, 10).cast("int"), lit(3)) === 0, "image")
      .when(pmod(substring(col("source"), 4, 10).cast("int"), lit(3)) === 1, "audio")
      .otherwise("video")
    documents(s, d)
      .groupBy(kind.as("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(bytes).as("total_bytes"),
        round(sum(bytes).cast("double") / count(lit(1)), 4).as("avg_bytes"),
        max(bytes).as("max_bytes"))
      .orderBy("kind")
  }

  val q38Oracle: String =
    """SELECT CASE CAST(substr(source, 4) AS INT) % 3
      |         WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  count(*) AS n_media,
      |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      |  round(CAST(sum(octet_length(encode(text))) AS DOUBLE) / count(*), 4) AS avg_bytes,
      |  CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
      |FROM documents GROUP BY 1 ORDER BY kind""".stripMargin

  /** Embedding-cosine near-dup statistics over a CELL-BOUNDED candidate
    * set (cellCol = an IVF-style coarse assignment) — never all-pairs over
    * the corpus. Pairwise IS quadratic WITHIN a cell, so cells larger than
    * `maxCell` are excluded from the join rather than allowed to blow up
    * one task quadratically (the same degenerate-cluster guard as
    * [[graft.functions.MinHash.candidatePairs]]'s maxBucket). Per
    * surviving cell: pair count, count above the
    * near-dup threshold, and the maximum pair similarity (max is
    * order-independent, so rounding after max is deterministic).
    */
  def embeddingNearDupStats(
      e: DataFrame, cellCol: String, idCol: String, vecCol: String,
      simThreshold: Double, maxCell: Long): DataFrame = {
    val cells = e.groupBy(cellCol).agg(count(lit(1)).as("cell_size"))
      .filter(col("cell_size") > 1 && col("cell_size") <= maxCell)
      .select(cellCol)
    val bounded = e.join(cells, Seq(cellCol))
    val a = bounded.select(col(cellCol), col(idCol).as("id_a"), col(vecCol).as("ea"))
    val b = bounded.select(col(cellCol), col(idCol).as("id_b"), col(vecCol).as("eb"))
    a.join(b, Seq(cellCol))
      .filter(col("id_a") < col("id_b"))
      .select(col(cellCol).cast("long").as(cellCol),
        VectorExpressions.cosine(col("ea"), col("eb")).as("sim"))
      .groupBy(cellCol)
      .agg(
        count(lit(1)).as("n_pairs"),
        count_if(col("sim") > simThreshold).as("n_near_dup"),
        round(max(col("sim")), 4).as("max_sim"))
      .orderBy(cellCol)
  }

  /** q42: [[embeddingNearDupStats]] over the embeddings fixture. The
    * oracle replicates the maxCell guard, so a degenerate fixture cell
    * would be dropped identically on both sides.
    */
  def q42EmbeddingNearDup(s: SparkSession, d: String): DataFrame =
    embeddingNearDupStats(embeddings(s, d), "label", "vec_id", "embedding",
      simThreshold = 0.5, maxCell = 10000L)

  val q42Oracle: String =
    """WITH cells AS (
      |  SELECT label FROM embeddings GROUP BY label
      |  HAVING count(*) > 1 AND count(*) <= 10000),
      |bounded AS (SELECT e.* FROM embeddings e JOIN cells USING (label)),
      |p AS (
      |  SELECT a.label, a.vec_id AS ia, b.vec_id AS ib,
      |         a.embedding AS ea, b.embedding AS eb
      |  FROM bounded a JOIN bounded b
      |    ON a.label = b.label AND a.vec_id < b.vec_id),
      |ex AS (SELECT label, ia, ib, unnest(ea) AS x, unnest(eb) AS y FROM p),
      |sims AS (SELECT label, ia, ib,
      |    sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
      |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
      |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS sim
      |  FROM ex GROUP BY 1, 2, 3)
      |SELECT CAST(label AS BIGINT) AS label,
      |  count(*) AS n_pairs,
      |  CAST(count_if(sim > 0.5) AS BIGINT) AS n_near_dup,
      |  round(max(sim), 4) AS max_sim
      |FROM sims GROUP BY 1 ORDER BY label""".stripMargin

  private val KnnK = 3

  /** q82: BATCH k-NN JOIN — top-[[KnnK]] corpus neighbors for EVERY
    * query in a query set at once (the production embedding workload:
    * retrieval evaluation, cross-corpus linking, k-NN classification —
    * q24/q25 answer ONE query, this answers them all in one plan). The
    * candidate space is cell-restricted exactly like q25's IVF probe
    * (label = the precomputed coarse cell): each query only scores
    * corpus vectors in its own cell, so the join is |Q|·|cell|, never
    * |Q|·|corpus|; per-query top-k comes from a rank window over the
    * (query, sim) candidates — at scale that window partitions by query
    * id, so no single task ever sees more than one query's candidate
    * set, and the (sim DESC, corpus id) order makes the cut total.
    * Queries: vec_id % 50 == 0 plays the query batch; the rest is
    * corpus.
    */
  def q82KnnJoin(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val queries = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("label"),
        col("embedding").as("q_emb"))
    val corpus = e.filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id").as("n_id"), col("label"), col("embedding"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("n_id"))
    corpus.join(queries, Seq("label"))
      .select(col("q_id"), col("n_id"),
        round(VectorExpressions.cosine(col("embedding"), col("q_emb")), 4).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= KnnK)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
      .orderBy("q_id", "rank")
  }

  /** Oracle: same cell-restricted join and the identical-order double
    * cosine (q24 pattern), ranked per query with the same total order.
    */
  val q82Oracle: String =
    s"""WITH q AS (SELECT vec_id AS q_id, label, embedding AS q_emb
       |           FROM embeddings WHERE vec_id % 50 = 0),
       |c AS (SELECT vec_id AS n_id, label, embedding
       |      FROM embeddings WHERE vec_id % 50 <> 0),
       |ex AS (SELECT q.q_id, c.n_id,
       |         unnest(c.embedding) AS x, unnest(q.q_emb) AS y
       |       FROM c JOIN q USING (label)),
       |sims AS (SELECT q_id, n_id,
       |    round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 4) AS sim
       |  FROM ex GROUP BY 1, 2),
       |r AS (SELECT q_id, n_id, sim,
       |        row_number() OVER (PARTITION BY q_id
       |                           ORDER BY sim DESC, n_id) AS rank
       |      FROM sims)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id, sim
       |FROM r WHERE rank <= $KnnK ORDER BY q_id, rank""".stripMargin

  // --- Semantic dedup (q77) ----------------------------------------------

  /** Corpus-proportional centroid seeding: every
    * [[SemDedupSeedStride]]-th vec_id seeds a cell, so K ≈ n/stride GROWS
    * with the corpus and the MEAN cell density stays ~stride at every
    * scale — the within-cell pairwise legs (Σ|cell|²) are then linear in
    * corpus size by construction, not merely guard-bounded. A fixed K
    * would make density grow with n (K=8 measured q77 at ~29× cost on
    * the 10× fixture); with stride seeding the 10× fixture gets 10× the
    * cells at the same density. Seeds stay deterministic and
    * engine-portable: `vec_id % stride = 0` is one predicate in both the
    * Spark plan and the DuckDB oracle CTE, so K can never drift between
    * engine and oracle. At 100 TB the same rule holds (a 10¹⁰-vector
    * corpus seeds ~10⁸ cells — past the broadcast ceiling the assignment
    * stage would swap to the q205 IVF chain; the SEEDING rule is
    * unchanged).
    */
  private val SemDedupSeedStride = 64L
  private val SemDedupTau = 0.5
  private val SemDedupMaxCell = 10000L

  /** The shared corpus-proportional seed set: cell_id = seed vec_id. */
  private def semCentroids(e: DataFrame): DataFrame =
    e.filter(pmod(col("vec_id"), lit(SemDedupSeedStride)) === 0)
      .select(col("vec_id").as("cell_id"), col("embedding").as("c_emb"))

  /** Argmax-ordering grid for cell assignment: cosines quantize to
    * `round(csim · 2⁴⁰)` BEFORE the (csim, cell_id) ordering on BOTH
    * engines, so the assignment never depends on last-ULP agreement
    * between the JVM accumulation loop and DuckDB's
    * `list_cosine_similarity` (one ULP flip at a full-precision
    * near-tie would re-cell a vector and hash-mismatch the gate). A
    * power-of-two grid keeps even the scaling multiply exact on any
    * IEEE engine; a flip now needs the two engines' cosines to
    * straddle a 2⁻⁴⁰ ≈ 9·10⁻¹³ boundary AND the top-2 cells to land on
    * adjacent grid points — and an exact grid TIE breaks on cell_id
    * identically everywhere. */
  private[graft] val ArgmaxGrid = 1099511627776L // 2^40

  /** Argmax-cosine cell assignment against a broadcast centroid set —
    * the shared first stage of semantic dedup (q77) and the k-means
    * update step (q81): one broadcast + a `max(struct)` aggregate whose
    * partials collapse map-side. The N×K candidate rows carry ONLY the
    * 16-byte (csim, cell_id) ordering struct — never the embedding;
    * with corpus-proportional K the candidate leg is n·K = n²/stride
    * rows, and dragging a 64-float array copy through each (a max_by
    * formulation) makes the argmax allocation-bound at 30× (GC-driven
    * 10× run-to-run variance on q139's sweep). The
    * embedding and any kept columns re-attach via one vec_id equi-join
    * against the assignment's own exchange — linear, columnar, and
    * cheap where the struct copies were quadratic. The ordering key is
    * the [[ArgmaxGrid]]-quantized cosine — the (qsim, cell_id) struct
    * is unique per vector (cell ids are distinct), so max(struct) ≡
    * max_by and the argmax is deterministic on both engines without
    * last-ULP float agreement.
    */
  private def assignCells(e: DataFrame, centroids: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val cells = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"),
        struct(
          round(VectorExpressions.cosine(col("embedding"), col("c_emb")) *
            lit(ArgmaxGrid.toDouble)).cast("long").as("qsim"),
          col("cell_id").as("cell_id")).as("o"))
      .groupBy("vec_id").agg(max(col("o")).as("o"))
      .select(col("vec_id"), col("o.cell_id").as("cell_id"))
    e.select(col("vec_id") +: col("embedding") +: keep.map(col): _*)
      .join(cells, Seq("vec_id"))
      .select(col("vec_id") +: col("cell_id") +: col("embedding") +:
        keep.map(col): _*)
  }

  /** SEMANTIC DEDUP (the SemDeDup recipe): cluster the corpus in
    * embedding space, then within each cluster drop every member that is
    * cosine-similar to a lower-id member — the third dedup leg beside
    * exact content hashing (q26/q27) and lexical MinHash/Jaccard
    * (q44/q63): it catches paraphrases and re-renderings that share no
    * surface n-grams at all.
    *
    * Two-stage shape, both stages bounded:
    *
    *  1. ASSIGNMENT — [[assignCells]]: broadcast centroids + map-side
    *     argmax partials. At 100 TB the centroids come from a trained
    *     k-means (K up to ~10^5 still broadcasts in MBs; q81 is the
    *     update step of exactly that training loop); here K
    *     deterministic corpus seeds stand in, like q25's precomputed
    *     IVF cells.
    *  2. WITHIN-CELL PAIRWISE — quadratic only inside a cell, with the
    *     same `maxCell` degenerate-cell guard as q42/candidatePairs;
    *     cells above the bound are excluded, never allowed to blow up
    *     one task. The keep rule (drop x iff a LOWER-id cell-mate is
    *     ≥ tau similar) resolves chains deterministically without a
    *     transitive closure: the lowest member of any similarity chain
    *     always survives, and every other chain member has a lower-id
    *     similar mate by construction. Cross-cell near-dups are missed
    *     by design — that is SemDeDup's stated approximation, and the
    *     price of never comparing across cells.
    *
    * Output is the per-cell audit (members/removed/kept + max pair
    * similarity) so the gate hashes integers plus one rounded double.
    */
  def semanticDedupAudit(e: DataFrame, centroids: DataFrame,
                         tau: Double, maxCell: Long): DataFrame = {
    val assigned = assignCells(e, centroids)
    val liveCells = assigned.groupBy("cell_id")
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > 1 && col("n_members") <= maxCell)
    val m = assigned.join(liveCells.select("cell_id"), Seq("cell_id"))
    val sims = m
      .select(col("cell_id"), col("vec_id").as("ia"), col("embedding").as("ea"))
      .join(m.select(
        col("cell_id"), col("vec_id").as("ib"), col("embedding").as("eb")),
        Seq("cell_id"))
      .filter(col("ia") < col("ib"))
      .select(col("cell_id"), col("ib"),
        VectorExpressions.cosine(col("ea"), col("eb")).as("sim"))
    // one pass over the pairs: max sim per (cell, candidate) decides that
    // candidate's removal AND rolls up to the cell's max — no distinct,
    // no second pairwise scan
    val cagg = sims.groupBy("cell_id", "ib").agg(max(col("sim")).as("mx"))
      .groupBy("cell_id")
      .agg(sum(when(col("mx") >= tau, 1L).otherwise(0L)).as("n_removed"),
        round(max(col("mx")), 4).as("max_sim"))
    // every live cell has >= 2 members, hence >= 1 pair: inner join is total
    liveCells.join(cagg, Seq("cell_id"))
      .select(col("cell_id").cast("long").as("cell_id"), col("n_members"),
        col("n_removed"),
        (col("n_members") - col("n_removed")).as("n_kept"), col("max_sim"))
      .orderBy("cell_id")
  }

  /** q77: [[semanticDedupAudit]] over the embeddings fixture with
    * the corpus-proportional [[semCentroids]] seed set. */
  def q77SemanticDedup(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cents = semCentroids(e)
    semanticDedupAudit(e, cents, SemDedupTau, SemDedupMaxCell)
  }

  /** The q77/q81 shared oracle prefix: centroid seeds + argmax-cosine
    * cell assignment (row_number over ([[ArgmaxGrid]]-quantized csim
    * DESC, cell_id DESC) ≡ the engine's max_by over the (qsim, cell_id)
    * struct); cosine is the same sequential double accumulation as
    * q24/q42, and the grid removes even the last-ULP dependence.
    */
  private def cellAssignCtes: String =
    s"""c AS (SELECT vec_id AS cell_id, embedding AS c_emb
       |      FROM embeddings WHERE vec_id % $SemDedupSeedStride = 0),
       |ax AS (SELECT e.vec_id, c.cell_id,
       |         unnest(e.embedding) AS x, unnest(c.c_emb) AS y
       |       FROM embeddings e CROSS JOIN c),
       |asim AS (SELECT vec_id, cell_id,
       |    sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS csim
       |  FROM ax GROUP BY 1, 2),
       |assigned AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY CAST(round(csim * $ArgmaxGrid)
       |                                       AS BIGINT) DESC,
       |                                  cell_id DESC) AS rn
       |    FROM asim) WHERE rn = 1)""".stripMargin

  /** The oracle replays assignment, the cell-size guard, the
    * within-cell pairwise cosine, and the keep-lowest rule in SQL. */
  val q77Oracle: String =
    s"""WITH $cellAssignCtes,
       |live AS (SELECT cell_id, count(*) AS n_members FROM assigned
       |         GROUP BY 1 HAVING count(*) > 1 AND count(*) <= $SemDedupMaxCell),
       |m AS (SELECT a.cell_id, a.vec_id, e.embedding
       |      FROM assigned a JOIN live USING (cell_id)
       |      JOIN embeddings e USING (vec_id)),
       |p AS (SELECT a.cell_id, a.vec_id AS ia, b.vec_id AS ib,
       |        a.embedding AS ea, b.embedding AS eb
       |      FROM m a JOIN m b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id),
       |px AS (SELECT cell_id, ia, ib, unnest(ea) AS x, unnest(eb) AS y FROM p),
       |sims AS (SELECT cell_id, ia, ib,
       |    sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS sim
       |  FROM px GROUP BY 1, 2, 3),
       |perb AS (SELECT cell_id, ib, max(sim) AS mx FROM sims GROUP BY 1, 2),
       |cagg AS (SELECT cell_id,
       |    CAST(count_if(mx >= $SemDedupTau) AS BIGINT) AS n_removed,
       |    round(max(mx), 4) AS max_sim
       |  FROM perb GROUP BY 1)
       |SELECT CAST(l.cell_id AS BIGINT) AS cell_id, l.n_members,
       |  g.n_removed, l.n_members - g.n_removed AS n_kept, g.max_sim
       |FROM live l JOIN cagg g USING (cell_id) ORDER BY cell_id""".stripMargin

  // --- k-means update step (q81) ------------------------------------------

  private val KmQScale = 1048576L // 2^20: float components quantize exactly

  /** q81: K-MEANS UPDATE STEP (one Lloyd iteration) — the training side
    * of the centroid machinery q25/q77 consume: assign every vector to
    * its argmax-cosine centroid ([[assignCells]], broadcast + map-side
    * partials), then recompute each cell's centroid as the member mean.
    * At 100 TB this IS how embedding-space k-means runs: K bounded
    * (centroids broadcast), one corpus pass per iteration, the shuffle
    * carrying only (cell, dim, partial-sum) triples — never the vectors
    * twice.
    *
    * Exactness discipline: float sums in shuffle order are
    * non-deterministic in the last ulp, so the accumulation is INTEGER —
    * each component is scaled by 2^20 (a power of two: exact on a float
    * value in double) and rounded (half-away-from-zero on both engines),
    * summed as longs, and the mean emerges from ONE exact-operand
    * division at presentation. The drift diagnostic |n·seed − Σmember|
    * (L1 over dims, scaled) stays in integers end-to-end — the
    * convergence signal a k-means driver loop would threshold on.
    *
    * Output: per cell — member count, scaled L1 drift from the seed, and
    * the dim-0 mean as a spot-check double.
    */
  def q81KmeansStep(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cents = semCentroids(e)
    kmeansUpdateAudit(e, cents)
  }

  /** The update rule over explicit inputs (spec seam): e(vec_id,
    * embedding), centroids(cell_id, c_emb). */
  def kmeansUpdateAudit(e: DataFrame, cents: DataFrame): DataFrame = {
    val qx = round(col("x").cast("double") * lit(KmQScale.toDouble)).cast("long")
    val members = assignCells(e, cents)
      .select(col("cell_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("cell_id"), col("pos"), qx.as("qx"))
      .groupBy("cell_id", "pos")
      .agg(sum("qx").as("sumq"), count(lit(1)).as("cnt"))
    val seeds = cents
      .select(col("cell_id"), posexplode(col("c_emb")).as(Seq("pos", "x")))
      .select(col("cell_id"), col("pos"), qx.as("seedq"))
    members.join(seeds, Seq("cell_id", "pos"))
      .groupBy("cell_id")
      .agg(max(col("cnt")).as("n_members"),
        sum(abs(col("cnt") * col("seedq") - col("sumq"))).as("l1_drift_q"),
        sum(when(col("pos") === 0,
          col("sumq").cast("double") / (col("cnt") * lit(KmQScale.toDouble))))
          .as("c0"))
      .select(col("cell_id").cast("long").as("cell_id"), col("n_members"),
        col("l1_drift_q"), col("c0"))
      .orderBy("cell_id")
  }

  /** The oracle replays assignment (shared CTEs), the 2^20 quantization,
    * the integer sums, and the scaled L1 drift; the single c0 division
    * has exact operands on both engines.
    */
  val q81Oracle: String =
    s"""WITH $cellAssignCtes,
       |mem AS (SELECT a.cell_id, e.vec_id, e.embedding
       |        FROM assigned a JOIN embeddings e USING (vec_id)),
       |mq AS (SELECT cell_id, pos,
       |    CAST(round(CAST(x AS DOUBLE) * $KmQScale) AS BIGINT) AS qx
       |  FROM (SELECT cell_id, unnest(embedding) AS x,
       |          unnest(generate_series(1, len(embedding))) AS pos
       |        FROM mem)),
       |ms AS (SELECT cell_id, pos, CAST(sum(qx) AS BIGINT) AS sumq,
       |         count(*) AS cnt
       |       FROM mq GROUP BY 1, 2),
       |sq AS (SELECT cell_id, pos,
       |    CAST(round(CAST(x AS DOUBLE) * $KmQScale) AS BIGINT) AS seedq
       |  FROM (SELECT cell_id, unnest(c_emb) AS x,
       |          unnest(generate_series(1, len(c_emb))) AS pos
       |        FROM c))
       |SELECT CAST(ms.cell_id AS BIGINT) AS cell_id,
       |  CAST(max(cnt) AS BIGINT) AS n_members,
       |  CAST(sum(abs(cnt * seedq - sumq)) AS BIGINT) AS l1_drift_q,
       |  CAST(sum(CASE WHEN ms.pos = 1
       |       THEN CAST(sumq AS DOUBLE) / (cnt * $KmQScale) END) AS DOUBLE) AS c0
       |FROM ms JOIN sq ON ms.cell_id = sq.cell_id AND ms.pos = sq.pos
       |GROUP BY 1 ORDER BY cell_id""".stripMargin

  // --- Cluster-balanced diversity sampling (q216) ---------------------------

  /** Per-cell keep budget = [[DivCoef]]·⌊√n⌋ (whole cell if smaller). */
  private val DivCoef = 4L
  private val DivBuckets = 16L

  /** q216: CLUSTER-BALANCED DIVERSITY SAMPLING — the D4-style
    * de-clustering step after semantic clustering: web-scale corpora
    * concentrate near-duplicate boilerplate into a few MEGA-CLUSTERS,
    * and uniform sampling inherits that skew. Each cell keeps
    * min(n, [[DivCoef]]·⌊√n⌋) members — sublinear in cell size, so a
    * 10⁶-member boilerplate cluster contributes ~4000 docs while a
    * 100-member niche cluster keeps ~40 — selected deterministically
    * by the PORTABLE content-hash order (the q62/q127 discipline:
    * membership is a pure function of vec_id, reproducible across
    * runs, engines, layouts and snapshots; no RNG state).
    *
    * Exact-integer discipline: ⌊√n⌋ from a float seed CORRECTED
    * exactly (s s.t. s² ≤ n < (s+1)²), so a last-ulp sqrt cannot
    * misquota a cell on either engine. The output carries an
    * order-independent membership checksum (sum + bit_xor of kept
    * ids, the q140 discipline), so the oracle certifies the SELECTED
    * SET, not just its size.
    *
    * Scale: assignment is the broadcast-centroid argmax (shared
    * [[assignCells]]); cell stats are |cells| rows (broadcast back);
    * the per-cell selection rank sits behind the (cell, bucket)
    * prefilter, so a mega-cell never sorts on one task.
    */
  def q216DiversitySample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embeddings(s, d)
    val cents = semCentroids(e)
    val assigned = assignCells(e, cents).select("vec_id", "cell_id")
    val stats = assigned.groupBy("cell_id")
      .agg(count(lit(1)).as("n_members"))
      .withColumn("s0",
        floor(sqrt(col("n_members").cast("double"))).cast("long"))
      .withColumn("isq", expr(
        "CASE WHEN (s0+1)*(s0+1) <= n_members THEN s0+1 " +
          "WHEN s0*s0 > n_members THEN s0-1 ELSE s0 END"))
      .withColumn("quota",
        least(col("n_members"), lit(DivCoef) * col("isq")))
    val ord = Seq(col("__h").asc, col("vec_id").asc)
    val wB = Window.partitionBy(col("cell_id"), col("__b")).orderBy(ord: _*)
    val wT = Window.partitionBy(col("cell_id")).orderBy(ord: _*)
    val kept = assigned
      .join(broadcast(stats.select("cell_id", "quota")), Seq("cell_id"))
      .withColumn("__h",
        VectorExpressions.hornerHash(col("vec_id").cast("string")))
      .withColumn("__b", pmod(xxhash64(col("vec_id")), lit(DivBuckets)))
      .withColumn("__br", row_number().over(wB))
      .filter(col("__br") <= col("quota"))
      .drop("__b", "__br")
      .withColumn("rank", row_number().over(wT))
      .filter(col("rank") <= col("quota"))
      .groupBy("cell_id")
      .agg(count(lit(1)).as("n_kept"),
        sum("vec_id").as("kept_sum"),
        expr("bit_xor(vec_id)").as("kept_xor"))
    stats.join(kept, Seq("cell_id"))
      .select(col("cell_id").cast("long").as("cell_id"), col("n_members"),
        col("quota"), col("n_kept"), col("kept_sum"), col("kept_xor"))
      .orderBy("cell_id")
  }

  /** Assignment CTEs shared with q77/q81; isqrt correction, quota,
    * portable-hash rank selection and the membership checksum replayed
    * in SQL. */
  val q216Oracle: String = {
    val h = graft.functions.PolyHash.hornerSql("CAST(a.vec_id AS VARCHAR)")
    s"""WITH $cellAssignCtes,
       |stats AS (SELECT cell_id, count(*) AS n_members
       |          FROM assigned GROUP BY 1),
       |st2 AS (SELECT cell_id, n_members,
       |    CAST(floor(sqrt(CAST(n_members AS DOUBLE))) AS BIGINT) AS s0
       |  FROM stats),
       |st4 AS (SELECT cell_id, n_members,
       |    least(n_members, $DivCoef * (
       |      CASE WHEN (s0+1)*(s0+1) <= n_members THEN s0+1
       |           WHEN s0*s0 > n_members THEN s0-1 ELSE s0 END)) AS quota
       |  FROM st2),
       |r AS (SELECT a.cell_id, a.vec_id, st4.quota,
       |    row_number() OVER (PARTITION BY a.cell_id
       |                       ORDER BY $h, a.vec_id) AS rank
       |  FROM assigned a JOIN st4 USING (cell_id)),
       |kept AS (SELECT cell_id, count(*) AS n_kept,
       |    CAST(sum(vec_id) AS BIGINT) AS kept_sum,
       |    CAST(bit_xor(vec_id) AS BIGINT) AS kept_xor
       |  FROM r WHERE rank <= quota GROUP BY 1)
       |SELECT CAST(cell_id AS BIGINT) AS cell_id, n_members, quota,
       |  n_kept, kept_sum, kept_xor
       |FROM st4 JOIN kept USING (cell_id) ORDER BY cell_id""".stripMargin
  }

  // --- Quality-classifier scoring (q78) -----------------------------------

  private val QcBuckets = 1024L // hashing-trick feature dimension
  private val QcWMod = 21L      // weight quantization: w_int in [-10, 10]

  /** The classifier's per-token weight (over a `token` column): hash →
    * feature bucket → closed-form integer weight. ONE definition shared
    * by scoring (q78) and quality-weighted sampling (q80), so the
    * sampling weights can never drift from the classifier they claim to
    * be proportional to.
    */
  private def tokenWeight: Column = {
    val j = pmod(VectorExpressions.hornerHash(col("token")), lit(QcBuckets))
    pmod(j * lit(37L) + lit(11L), lit(QcWMod)) - lit(10L)
  }

  /** Per-doc integer logit of the hashing-trick linear classifier:
    * tokens hash (portable Horner mod 1e9+7) into [[QcBuckets]] feature
    * buckets; each bucket's weight comes from a closed-form table
    * w(j) = ((j·37 + 11) mod [[QcWMod]]) − 10, integer-quantized to
    * tenths exactly as production fasttext-style filters quantize for
    * speed. The logit is a plain integer SUM, so scoring is exact on any
    * engine — the only doubles appear at the final ÷10 presentation
    * step, which is a single exact-operand division.
    */
  def qualityLogits(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), explode(toks(col("text"))).as("token"))
      .select(col("doc_id"), col("source"), tokenWeight.as("w"))
      .groupBy("doc_id", "source")
      .agg(sum(col("w")).as("logit"))

  /** q78: QUALITY-CLASSIFIER SCORING — linear model inference over the
    * corpus, the fasttext-quality-filter shape every production pipeline
    * runs next to rule-based filters (q46 Gopher): hashing-trick
    * features (no vocabulary table to ship — the hash IS the feature
    * index), a fixed weight table, keep iff logit ≥ 0. A trained model's
    * weights would arrive as a literal array; the closed-form table here
    * is that array in generator form, which keeps the DuckDB oracle able
    * to compute the identical weights from the identical arithmetic.
    *
    * Scale shape: explode → codegen'd hash+weight arithmetic → two-level
    * integer aggregation ((doc) then (source)) — the q73/q75 discipline:
    * map-side partials collapse each doc's tokens before the shuffle,
    * and nothing wider than (doc_id, source, long) ever moves. No UDF,
    * no float accumulation, no model broadcast.
    */
  def q78QualityScore(s: SparkSession, d: String): DataFrame =
    qualityLogits(documents(s, d))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count_if(col("logit") >= 0).as("n_keep"),
        (sum(col("logit")).cast("double") / (lit(10.0) * count(lit(1))))
          .as("avg_score"))
      .orderBy("source")

  /** The oracle replays hash → bucket → weight → logit → per-source
    * rollup in SQL from the same constants; every aggregate is integer
    * until the single final division.
    */
  val q78Oracle: String = {
    import graft.functions.PolyHash
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
       |  FROM documents),
       |f AS (SELECT doc_id, source,
       |    ((${PolyHash.hornerSql("token")} % $QcBuckets) * 37 + 11) % $QcWMod - 10 AS w
       |  FROM t),
       |dl AS (SELECT doc_id, source, CAST(sum(w) AS BIGINT) AS logit
       |       FROM f GROUP BY doc_id, source)
       |SELECT source, count(*) AS n_docs,
       |  CAST(count_if(logit >= 0) AS BIGINT) AS n_keep,
       |  CAST(sum(logit) AS DOUBLE) / (10.0 * count(*)) AS avg_score
       |FROM dl GROUP BY source ORDER BY source""".stripMargin
  }

  // --- Quality-weighted sampling (q80) ------------------------------------

  private val WsM = 1000000L  // hash threshold modulus
  private val WsWMax = 100L   // weight ceiling == acceptance denominator

  /** q80: QUALITY-WEIGHTED DETERMINISTIC SAMPLING — importance
    * resampling for corpus curation: each document is kept with
    * probability proportional to its classifier weight (the q78 logit,
    * shifted and clamped into [1, [[WsWMax]]]), decided by the
    * content-hash-threshold trick (q69) generalized from one fixed rate
    * per stratum to a PER-DOCUMENT rate: keep iff h·Wmax < w·M with h a
    * salted content hash in [0, M). Everything is exact integer
    * arithmetic (the cross-multiplication sidesteps any rational or
    * float boundary), so the selection is reproducible across runs,
    * engines, layouts, and snapshots — the property that makes a
    * curation decision re-derivable months later, which per-row RNG
    * sampling fundamentally cannot give.
    *
    * Scale shape: one corpus pass — the salted doc hash rides the same
    * scan as the token explode (carried through the per-doc aggregate as
    * a grouping column, 8 bytes), then the q73/q75 two-level integer
    * aggregation. Map-only decision, one (doc) + one (source) shuffle,
    * no joins, no RNG state.
    */
  def q80WeightedSample(s: SparkSession, d: String): DataFrame = {
    val perDoc = documents(s, d)
      .select(col("doc_id"), col("source"),
        pmod(VectorExpressions.hornerHash(concat(lit("q80:"), col("text"))),
          lit(WsM)).as("h"),
        explode(toks(col("text"))).as("token"))
      .select(col("doc_id"), col("source"), col("h"), tokenWeight.as("w"))
      .groupBy("doc_id", "source", "h").agg(sum("w").as("logit"))
      .withColumn("wgt",
        greatest(least(col("logit") + lit(50L), lit(WsWMax)), lit(1L)))
      .withColumn("keep", col("h") * lit(WsWMax) < col("wgt") * lit(WsM))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count_if(col("keep")).as("n_kept"),
        sum(col("wgt")).as("sum_w"),
        (count_if(col("keep")).cast("double") / count(lit(1))).as("kept_frac"))
      .orderBy("source")
  }

  /** The oracle replays salt-hash, logit, clamp, and the integer
    * cross-multiplication from the same constants; the doc hash is
    * computed once per document (its own CTE) rather than per token.
    */
  val q80Oracle: String = {
    import graft.functions.PolyHash
    s"""WITH d0 AS (
       |  SELECT doc_id, source, text,
       |    ${PolyHash.hornerSql("'q80:' || text")} % $WsM AS h
       |  FROM documents),
       |t AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
       |  FROM d0),
       |f AS (SELECT doc_id,
       |    ((${PolyHash.hornerSql("token")} % $QcBuckets) * 37 + 11) % $QcWMod - 10 AS w
       |  FROM t),
       |dl AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS logit FROM f GROUP BY doc_id),
       |dd AS (SELECT d0.source, d0.h,
       |    greatest(least(dl.logit + 50, $WsWMax), 1) AS wgt
       |  FROM d0 JOIN dl USING (doc_id))
       |SELECT source, count(*) AS n_docs,
       |  CAST(count_if(h * $WsWMax < wgt * $WsM) AS BIGINT) AS n_kept,
       |  CAST(sum(wgt) AS BIGINT) AS sum_w,
       |  CAST(count_if(h * $WsWMax < wgt * $WsM) AS DOUBLE) / count(*) AS kept_frac
       |FROM dd GROUP BY source ORDER BY source""".stripMargin
  }

  /** Benchmark DECONTAMINATION — the training-data operation next to dedup:
    * flag train documents sharing long-substring content with a held-out
    * benchmark split, via winnowed rolling-hash fingerprint overlap (the
    * MOSS matching scheme over 20-char grams ≈ 3–4 word n-grams, window 8
    * — long enough that unrelated docs rarely collide; on the fixture the
    * two planted cross-split near-dups score 108 and 26 collisions vs a
    * background of ≤3). Split: doc_id % 5 = 0 stands in for the benchmark.
    *
    * 100 TB posture: the benchmark fingerprint set is SMALL (benchmarks
    * are bounded) — distinct'd and broadcast, so the train corpus is
    * never shuffled: scan → fingerprint expression → explode → broadcast
    * semi-join → per-doc count partials. Outer explode + attribute filter
    * for the same Generate-inferred-filter reason as candidatePairs.
    * The decision rule (n ≥ 10) is part of the output so the threshold is
    * oracle-checked too.
    */
  def q45Decontaminate(s: SparkSession, d: String): DataFrame = {
    val fps = documents(s, d)
      .filter(col("lang") === "en" && length(col("text")) >= 20)
      .select(col("doc_id"),
        VectorExpressions.rollingFingerprints(col("text"), 20, 8).as("fps"))
    val bench = fps.filter(col("doc_id") % 5 === 0)
      .select(explode_outer(col("fps")).as("fp"))
      .filter(col("fp").isNotNull)
      .distinct()
    val train = fps.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), explode_outer(col("fps")).as("fp"))
      .filter(col("fp").isNotNull)
    train.join(broadcast(bench), Seq("fp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_collisions"))
      .withColumn("contaminated", col("n_collisions") >= 10)
      .orderBy("doc_id")
  }

  val q45Oracle: String = {
    import graft.functions.PolyHash
    s"""WITH g AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, length(text) - 19), i -> substr(text, i, 20)) AS grams
       |  FROM documents WHERE lang = 'en' AND length(text) >= 20),
       |h AS (
       |  SELECT doc_id, list_transform(grams, s -> ${PolyHash.hornerSql("s")}) AS hs
       |  FROM g),
       |w AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(hs) - 7),
       |                               j -> list_aggregate(hs[j:j+7], 'min'))) AS fps
       |  FROM h WHERE len(hs) >= 8),
       |bench AS (SELECT DISTINCT unnest(fps) AS fp FROM w WHERE doc_id % 5 = 0),
       |train AS (SELECT doc_id, unnest(fps) AS fp FROM w WHERE doc_id % 5 <> 0)
       |SELECT t.doc_id, count(*) AS n_collisions, count(*) >= 10 AS contaminated
       |FROM train t JOIN bench b USING (fp)
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
  }

  // --- Text analysis ------------------------------------------------------

  private val stopEn = Seq("the", "a", "of", "and", "is", "to", "in")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "ein")
  private val stopEs = Seq("el", "la", "los", "de", "y", "es", "un")
  private val stopFr = Seq("le", "la", "les", "de", "et", "est", "un")
  private val stopZh = Seq("的", "了", "是", "在", "我")

  private def stopCount(t: Column, words: Seq[String]): Column =
    size(filter(t, w => array_contains(array(words.map(lit): _*), w)))

  /** Stopword-profile language prediction for a raw text column — argmax
    * over five language profiles with a fixed priority order for ties.
    * Exposed for direct testing (LangIdSpec) and used by q31.
    */
  def langPredict(text: Column): Column = {
    val t = toks(lower(text))
    val (sEn, sDe, sEs, sFr, sZh) =
      (stopCount(t, stopEn), stopCount(t, stopDe), stopCount(t, stopEs),
        stopCount(t, stopFr), stopCount(t, stopZh))
    when(sEn >= sDe && sEn >= sEs && sEn >= sFr && sEn >= sZh, "en")
      .when(sDe >= sEs && sDe >= sFr && sDe >= sZh, "de")
      .when(sEs >= sFr && sEs >= sZh, "es")
      .when(sFr >= sZh, "fr")
      .otherwise("zh")
  }

  /** Token counting + quality scoring per language: doc counts, average
    * token/char lengths, corpus stopword ratio. Pure column expressions —
    * the whole quality pass is one codegen'd scan + one tiny agg shuffle.
    */
  def q30TextStats(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    documents(s, d)
      .select(col("lang"), col("n_chars"),
        size(t).as("n_tokens"),
        stopCount(t, stopEn).as("n_stop"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        avgD(col("n_tokens"), 4).as("avg_tokens"),
        avgD(col("n_chars"), 4).as("avg_chars"),
        round(sum(col("n_stop")).cast("double") / sum(col("n_tokens")), 4)
          .as("stopword_ratio"))
      .orderBy("lang")
  }

  val q30Oracle: String =
    """SELECT lang, count(*) AS n_docs,
      |  round(CAST(sum(CAST(n_tokens AS DECIMAL(38,10))) AS DOUBLE) / count(n_tokens), 4) AS avg_tokens,
      |  round(CAST(sum(CAST(n_chars AS DECIMAL(38,10))) AS DOUBLE) / count(n_chars), 4) AS avg_chars,
      |  round(CAST(sum(n_stop) AS DOUBLE) / sum(n_tokens), 4) AS stopword_ratio
      |FROM (SELECT lang, n_chars, len(t) AS n_tokens,
      |        len(list_filter(t, w -> w IN ('the','a','of','and','is','to','in'))) AS n_stop
      |      FROM (SELECT lang, n_chars, regexp_split_to_array(trim(text), '\s+') AS t
      |            FROM documents))
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Language-ID via stopword-profile scoring: count hits against five
    * language profiles, predict the argmax (fixed priority order breaks
    * ties deterministically). On the synthetic fixture every text scores
    * as English — the registered query certifies determinism and the
    * confusion-matrix shape; LangIdSpec proves accuracy on real
    * multilingual sentences. One scan, no shuffle beyond the final agg.
    */
  def q31LangId(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"), langPredict(col("text")).as("lang_pred"))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "lang_pred")

  val q31Oracle: String =
    """WITH scored AS (
      |  SELECT lang,
      |    len(list_filter(t, w -> w IN ('the','a','of','and','is','to','in'))) AS s_en,
      |    len(list_filter(t, w -> w IN ('der','die','das','und','ist','ein'))) AS s_de,
      |    len(list_filter(t, w -> w IN ('el','la','los','de','y','es','un'))) AS s_es,
      |    len(list_filter(t, w -> w IN ('le','la','les','de','et','est','un'))) AS s_fr,
      |    len(list_filter(t, w -> w IN ('的','了','是','在','我'))) AS s_zh
      |  FROM (SELECT lang, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents))
      |SELECT lang,
      |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |       WHEN s_fr >= s_zh THEN 'fr'
      |       ELSE 'zh' END AS lang_pred,
      |  count(*) AS n_docs
      |FROM scored GROUP BY 1, 2 ORDER BY lang, lang_pred""".stripMargin

  /** Unicode TEXT NORMALIZATION audit — NFC composition, lowercasing,
    * whitespace collapse (graft.functions.TextNorm.normalizeDoc; the pass
    * that must run BEFORE any content-hash dedup, since canonically-
    * equivalent byte sequences otherwise slip past it). Per language:
    * how many docs normalization changes, and exact char counts before/
    * after. One codegen'd scan (the NFC kernel is a native expression,
    * static call per row) + one tiny agg shuffle.
    */
  def q47Normalize(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextNorm
    val norm = TextNorm.normalizeDoc(col("text"))
    documents(s, d)
      .select(col("lang"), col("text"), norm.as("norm"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        count_if(col("norm") =!= col("text")).as("n_changed"),
        sum(length(col("text"))).as("chars_before"),
        sum(length(col("norm"))).as("chars_after"))
      .orderBy("lang")
  }

  val q47Oracle: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(count_if(norm <> text) AS BIGINT) AS n_changed,
      |  CAST(sum(length(text)) AS BIGINT) AS chars_before,
      |  CAST(sum(length(norm)) AS BIGINT) AS chars_after
      |FROM (SELECT lang, text,
      |        trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS norm
      |      FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Gopher-style QUALITY FILTERING with per-rule drop accounting — the
    * decision operator the q30/q41 quality signals feed (Rae et al. 2021
    * §A1.1-style rules, thresholds adapted to the fixture's 10–99-token
    * docs): R1 length (≥ 30 tokens), R2 mean word length in [3, 10], R3
    * ≥ 2 English stopwords (in an English pipeline this is also the
    * cheap wrong-language drop — the fixture's non-en docs mostly fail
    * it). Per language: doc count, kept count, and how many docs each
    * rule would drop (rules counted independently — the standard audit
    * view for tuning thresholds). Pure column expressions: one codegen'd
    * scan + one tiny agg shuffle at any corpus size.
    */
  def q46QualityFilter(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    val nTok = size(t)
    val meanWordLen = length(regexp_replace(col("text"), " ", "")).cast("double") / nTok
    val nStop = stopCount(t, stopEn)
    val r1 = nTok >= 30
    val r2 = meanWordLen >= 3.0 && meanWordLen <= 10.0
    val r3 = nStop >= 2
    documents(s, d)
      .select(col("lang"), r1.as("r1"), r2.as("r2"), r3.as("r3"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        count_if(col("r1") && col("r2") && col("r3")).as("n_kept"),
        count_if(!col("r1")).as("n_too_short"),
        count_if(!col("r2")).as("n_bad_word_len"),
        count_if(!col("r3")).as("n_few_stopwords"))
      .orderBy("lang")
  }

  val q46Oracle: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(count_if(r1 AND r2 AND r3) AS BIGINT) AS n_kept,
      |  CAST(count_if(NOT r1) AS BIGINT) AS n_too_short,
      |  CAST(count_if(NOT r2) AS BIGINT) AS n_bad_word_len,
      |  CAST(count_if(NOT r3) AS BIGINT) AS n_few_stopwords
      |FROM (
      |  SELECT lang,
      |    len(t) >= 30 AS r1,
      |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(t) BETWEEN 3.0 AND 10.0 AS r2,
      |    len(list_filter(t, w -> w IN ('the','a','of','and','is','to','in'))) >= 2 AS r3
      |  FROM (SELECT lang, text, regexp_split_to_array(trim(text), '\s+') AS t
      |        FROM documents))
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** q70: intra-document REPETITION — the duplicate-bigram-fraction
    * quality signal q46's rule set lacks (boilerplate, scraped nav bars,
    * and generation loops all show up as a document repeating its own
    * n-grams). Per source: docs flagged repetitive (duplicate fraction
    * > 20%, i.e. 5·distinct < 4·total in pure integers — no float
    * boundary) plus the raw gram totals so callers can tune the cut.
    *
    * Shape: explode the bigram stream and count per (doc, gram), then
    * roll up per doc and per source — the same codegen'd explode-scan
    * q55 uses. A per-doc `transform`+`array_distinct` array formulation
    * would be map-only, but Spark's higher-order functions run
    * interpreted (CodegenFallback) and measured 10× slower (5.2 s vs
    * 0.5 s at sf0.1); the gram-stream shuffle is O(corpus tokens) of
    * (hash-sized) rows with map-side partial counts — the standard
    * exact-distinct trade.
    */
  def q70Repetition(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    documents(s, d)
      .filter(size(t) >= 2)
      .select(col("source"), col("doc_id"), t.as("t"))
      .select(col("source"), col("doc_id"),
        explode(sequence(lit(0), size(col("t")) - 2)).as("i"), col("t"))
      .select(col("source"), col("doc_id"),
        concat_ws(" ", element_at(col("t"), col("i") + 1),
          element_at(col("t"), col("i") + 2)).as("gram"))
      .groupBy("source", "doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("source", "doc_id")
      .agg(sum("cnt").as("n_grams"), count(lit(1)).as("n_distinct"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count_if(lit(5) * col("n_distinct") < lit(4) * col("n_grams"))
          .as("n_repetitive"),
        sum("n_grams").as("total_grams"),
        sum("n_distinct").as("total_distinct"))
      .orderBy("source")
  }

  val q70Oracle: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(count_if(5 * n_distinct < 4 * n_grams) AS BIGINT) AS n_repetitive,
      |  CAST(sum(n_grams) AS BIGINT) AS total_grams,
      |  CAST(sum(n_distinct) AS BIGINT) AS total_distinct
      |FROM (
      |  SELECT source,
      |    CAST(len(g) AS BIGINT) AS n_grams,
      |    CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct
      |  FROM (
      |    SELECT source,
      |      list_transform(generate_series(1, len(t) - 1),
      |                     i -> t[i] || ' ' || t[i + 1]) AS g
      |    FROM (SELECT source, regexp_split_to_array(trim(text), '\s+') AS t
      |          FROM documents)
      |    WHERE len(t) >= 2))
      |GROUP BY source ORDER BY source""".stripMargin

  /** Document fingerprinting via rolling hash + winnowing (the MOSS
    * scheme): character 8-grams hashed with a Horner-rule polynomial hash
    * (base 257 mod 1e9+7 — pure integer arithmetic, so BOTH engines
    * compute bit-identical hashes, unlike xxhash64), then winnowed by
    * taking the minimum in each sliding window of 4 — a document's
    * fingerprint set is robust to local edits. Native single-pass
    * expression (same integer math as the oracle's list_reduce Horner;
    * both sides segment and hash by CODE POINT, so parity covers non-BMP
    * text too); one scan, no shuffle before the final sort. The lang='en'
    * restriction is a corpus choice, not a parity requirement.
    */
  def q40Fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(col("lang") === "en" && length(col("text")) >= 8)
      .select(col("doc_id"),
        (length(col("text")) - 7).cast("long").as("n_grams"),
        VectorExpressions.rollingFingerprints(col("text"), 8, 4).as("fps"))
      .select(col("doc_id"), col("n_grams"),
        size(col("fps")).cast("long").as("n_fingerprints"),
        array_min(col("fps")).as("min_fp"))
      .orderBy("doc_id")

  val q40Oracle: String =
    """WITH g AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(1, length(text) - 7), i -> substr(text, i, 8)) AS grams
      |  FROM documents WHERE lang = 'en' AND length(text) >= 8),
      |h AS (
      |  SELECT doc_id, list_transform(grams, s ->
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        [CAST(ord(c) AS BIGINT) for c in regexp_split_to_array(s, '')]),
      |      (acc, x) -> (acc * 257 + x) % 1000000007)) AS hs
      |  FROM g),
      |w AS (
      |  SELECT doc_id, len(hs) AS n_grams,
      |    list_distinct(list_transform(generate_series(1, len(hs) - 3),
      |                                 j -> list_aggregate(hs[j:j+3], 'min'))) AS fps
      |  FROM h)
      |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
      |  CAST(len(fps) AS BIGINT) AS n_fingerprints,
      |  CAST(list_aggregate(fps, 'min') AS BIGINT) AS min_fp
      |FROM w ORDER BY doc_id""".stripMargin

  /** BPE-ish regex tokenization + punctuation-quality scoring — the
    * GPT-2-style pre-tokenizer pattern minus lookahead (the oracle's
    * regex engine is RE2, which has none): contraction suffixes, space-
    * prefixed letter/digit runs, punctuation runs. Per-language token
    * counts and punctuation ratio complete the quality-signal set
    * (length/stopword ratios live in q30).
    */
  def q41BpeQuality(s: SparkSession, d: String): DataFrame = {
    val bpe = regexp_extract_all(col("text"),
      lit("'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"), lit(0))
    val punct = length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", ""))
    documents(s, d)
      .select(col("lang"), col("n_chars"),
        size(bpe).as("n_bpe"), punct.as("n_punct"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bpe")).cast("long").as("total_bpe_tokens"),
        round(sum(col("n_bpe")).cast("double") / count(lit(1)), 4).as("avg_bpe_tokens"),
        round(sum(col("n_punct")).cast("double") / sum(col("n_chars")), 6).as("punct_ratio"))
      .orderBy("lang")
  }

  val q41Oracle: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
      |  round(CAST(sum(n_bpe) AS DOUBLE) / count(*), 4) AS avg_bpe_tokens,
      |  round(CAST(sum(n_punct) AS DOUBLE) / sum(n_chars), 6) AS punct_ratio
      |FROM (
      |  SELECT lang, n_chars,
      |    len(regexp_extract_all(text,
      |      '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS n_bpe,
      |    length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS n_punct
      |  FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // --- Event-stream analytics (batch plans that port 1:1 to streaming) ----

  /** Tumbling 1-day windows × event type — `window()` is the exact operator
    * Structured Streaming uses, so this plan is the batch twin of the
    * streaming job in StreamingSpec. Partial aggregation makes the shuffle
    * carry only (day, type) partials regardless of input size.
    */
  def q32EventWindows(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumD(col("value"), 2).as("total_value"))
      .select(to_date(col("w.start")).as("day"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy("day", "event_type")

  val q32Oracle: String =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      |  count(*) AS n_events,
      |  CAST(round(sum(CAST(value AS DECIMAL(38,10))), 2) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  /** Gap-based sessionization (30-min inactivity) via lag + running sum —
    * the batch formulation of `session_window`. Partitioned by `user_id`
    * (high-cardinality), so the window shuffle spreads evenly at any scale;
    * the output is bounded by |users|.
    */
  def q33Sessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id")
      .agg(max("session_id").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Native session windows: the same 30-minute-gap sessionization as q33
    * but through Spark's `session_window` operator — certified against an
    * INDEPENDENT SQL formulation (the lag + running-sum oracle), so the
    * built-in operator's merge semantics are cross-checked rather than
    * assumed. Boundary note: session_window starts a new session at
    * gap == exactly 30:00.000000 while the lag formulation keeps it; with
    * continuous microsecond timestamps the tie has measure zero.
    */
  def q39SessionWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n")) // one row per closed session
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n").as("n_events"))
      .orderBy("user_id")

  /** Backward AS-OF join over the event stream: every click enriched with
    * the user's most recent prior-or-simultaneous purchase value
    * ([[graft.ops.AsOf.joinBackward]] — union + keyed window carry-
    * forward; one shuffle, no range join). The right side is unique per
    * (user_id, ts) in the fixture (asserted by the count parity below
    * holding), so the match is well-defined; the oracle is DuckDB's
    * NATIVE `ASOF LEFT JOIN` — the built-in operator cross-checks the
    * composed formulation. Timestamps stay internal (µs vs ns rendering
    * differs across engines); the output carries only ids and the matched
    * value.
    */
  def q48AsofJoin(s: SparkSession, d: String): DataFrame = {
    import graft.ops.AsOf
    val e = events(s, d)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("purchase_value"))
    AsOf.joinBackward(clicks, purchases, Seq("user_id"), "ts")
      .select(col("event_id"), col("user_id"), col("purchase_value"))
      .orderBy("event_id")
  }

  val q48Oracle: String =
    """WITH p AS (SELECT user_id, ts, value AS purchase_value
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
      |SELECT c.event_id, c.user_id, p.purchase_value
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
      |ORDER BY c.event_id""".stripMargin

  val q33Oracle: String =
    """WITH lagged AS (
      |  SELECT user_id, ts, event_id,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL '30 minutes'
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM lagged),
      |sessions AS (
      |  SELECT user_id,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged)
      |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
      |  count(*) AS n_events
      |FROM sessions GROUP BY user_id ORDER BY user_id""".stripMargin

  private val SpanK = 5
  private val SpanMin = 12
  private val SpanDfCap = 64

  /** q88: SHARED-SPAN DETECTION (exact-substring dedup) — the technique
    * from suffix-array training-data dedup, re-expressed relationally:
    * find document pairs sharing a VERBATIM token span of at least
    * [[SpanMin]] tokens. MinHash/Jaccard (q37/q28) measure whole-document
    * similarity; this catches the orthogonal failure mode — two otherwise
    * different documents embedding the same boilerplate paragraph or
    * copied passage — which set-similarity dilutes below threshold.
    *
    * Relational formulation (no suffix array needed):
    *   1. every [[SpanK]]-token gram with its POSITION: (doc, pos, gram);
    *   2. gram equi-self-join (id_a < id_b) → aligned occurrences;
    *   3. a shared span is a RUN of consecutive positions at constant
    *      offset diff = pos_a − pos_b: the gaps-and-islands trick
    *      (island = pos_a − row_number over (pair, diff) ordered pos_a)
    *      groups each maximal run; a run of m grams is a span of
    *      m + k − 1 tokens. Within one (pair, diff) group positions are
    *      unique (pos_b = pos_a − diff is determined), so row_number is
    *      total and the island keys are engine-identical.
    *
    * Audit output per flagged pair: longest span + number of qualifying
    * spans, both exact integers.
    *
    * Scale shape: the frequency guard (grams occurring > [[SpanDfCap]]
    * times are dropped — the [[graft.functions.MinHash.oversizedBuckets]]
    * discipline) bounds the self-join to cap² rows per gram, at the
    * documented cost of missing spans built ENTIRELY from ultra-common
    * grams. The join shuffles (doc, pos) pairs keyed by gram; islands
    * need one window shuffle keyed by (pair, diff). Production would key
    * the join on a 64-bit gram hash ([[graft.functions.PolyHash]] /
    * xxhash64) instead of the gram string to narrow the shuffle — the
    * string key is kept here so the oracle replays byte-identically.
    */
  def q88SharedSpans(s: SparkSession, d: String): DataFrame =
    sharedSpansAudit(documents(s, d))

  /** The q88 chain over any (doc_id, text) frame — separated so specs can
    * drive it with crafted corpora. */
  def sharedSpansAudit(docs: DataFrame): DataFrame = {
    val t = split(trim(col("text")), "\\s+")
    def el(k: Int): Column = element_at(col("t"), col("pos") + k)
    val grams = docs
      .select(col("doc_id"), t.as("t"))
      .filter(size(col("t")) >= SpanK)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")) - (SpanK - 1))).as("pos"),
        col("t"))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", (0 until SpanK).map(el): _*).as("gram"))
    val keep = grams.groupBy("gram").agg(count(lit(1)).as("c"))
      .filter(col("c") <= SpanDfCap)
    val gg = grams.join(keep.select("gram"), Seq("gram"))
    val wI = Window.partitionBy("id_a", "id_b", "diff").orderBy("pos_a")
    gg.select(col("gram"), col("doc_id").as("id_a"), col("pos").as("pos_a"))
      .join(gg.select(col("gram"), col("doc_id").as("id_b"),
        col("pos").as("pos_b")), Seq("gram"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pos_a"),
        (col("pos_a") - col("pos_b")).as("diff"))
      .withColumn("island", col("pos_a") - row_number().over(wI))
      .groupBy("id_a", "id_b", "diff", "island")
      .agg((count(lit(1)) + (SpanK - 1)).as("span"))
      .groupBy("id_a", "id_b")
      .agg(max("span").as("max_span"),
        sum(when(col("span") >= SpanMin, 1L).otherwise(0L)).as("n_spans"))
      .filter(col("max_span") >= SpanMin)
      .orderBy("id_a", "id_b")
  }

  val q88Oracle: String = {
    val gramExpr = (0 until SpanK).map(k => s"t[pos + $k]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents),
       |gi AS (SELECT doc_id, t,
       |         unnest(generate_series(1, len(t) - ${SpanK - 1})) AS pos
       |       FROM toks WHERE len(t) >= $SpanK),
       |g AS (SELECT doc_id, pos, $gramExpr AS gram FROM gi),
       |cnt AS (SELECT gram, count(*) AS c FROM g GROUP BY 1),
       |gg AS (SELECT g.doc_id, g.pos, g.gram
       |       FROM g JOIN cnt USING (gram) WHERE c <= $SpanDfCap),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a,
       |        a.pos - b.pos AS diff
       |      FROM gg a JOIN gg b ON a.gram = b.gram AND a.doc_id < b.doc_id),
       |isl AS (SELECT id_a, id_b, diff, pos_a,
       |          pos_a - row_number() OVER (PARTITION BY id_a, id_b, diff
       |                                     ORDER BY pos_a) AS island
       |        FROM p),
       |sp AS (SELECT id_a, id_b, count(*) + ${SpanK - 1} AS span
       |       FROM isl GROUP BY id_a, id_b, diff, island)
       |SELECT id_a, id_b, CAST(max(span) AS BIGINT) AS max_span,
       |  CAST(sum(CASE WHEN span >= $SpanMin THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_spans
       |FROM sp GROUP BY id_a, id_b HAVING max(span) >= $SpanMin
       |ORDER BY id_a, id_b""".stripMargin
  }

  private val ProjDims = 16
  private val ProjIds = 20L
  private val ProjSignA = graft.functions.PolyHash.coefA(50)
  private val ProjSignB = graft.functions.PolyHash.coefB(50)
  private val ProjSignC = 12345L

  /** q94: RANDOM-PROJECTION SKETCH — dimensionality reduction of the
    * 64-dim embeddings to [[ProjDims]] components with a ±1 sign matrix
    * (the database-style Johnson-Lindenstrauss sketch: Achlioptas signs,
    * no Gaussians) — the IO lever that turns a 256-byte vector into a
    * 16-component sketch for coarse candidate filtering in front of
    * exact reranking (q24/q43). Everything is exact integer arithmetic:
    * inputs are the q43 int8 QUANTIZATION CODES (integers by
    * construction, replayed identically by the oracle's round
    * formulation), and the sign s(i, j) = 1 − 2·((A·i + B·j + C) mod p
    * mod 2) comes from the portable [[graft.functions.PolyHash]] affine
    * family — the mod-p wrap scrambles the parity, and both engines
    * compute the same 64-bit products. Output: the full sketch matrix
    * for a pinned id set, exact longs.
    *
    * Scale shape: the registered query pins vec_id ≤ [[ProjIds]] and the
    * filter pushes to the scan; the projection itself is
    * explode(codes) × explode(dims) + one (vec, dim)-keyed aggregation —
    * per-vector cost dims·k, corpus-independent. At production scale the
    * kernel would fuse into a native per-row expression (one array in,
    * 16 longs out, no explode); the relational formulation is kept
    * because the oracle replays it clause-for-clause.
    */
  def q94RandomProjection(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Quantize
    embeddings(s, d)
      .filter(col("vec_id") <= ProjIds)
      .select(col("vec_id"),
        posexplode(Quantize.quantize(col("embedding")).getField("codes"))
          .as(Seq("i", "code")))
      .select(col("vec_id"), col("i"), col("code"),
        explode(sequence(lit(0), lit(ProjDims - 1))).as("dim"))
      .withColumn("sign",
        lit(1) - lit(2) * (pmod(lit(ProjSignA) * col("i")
          + lit(ProjSignB) * col("dim") + lit(ProjSignC),
          lit(graft.functions.PolyHash.Mod)) % 2))
      .groupBy("vec_id", "dim")
      .agg(sum(col("code").cast("long") * col("sign")).as("y"))
      .orderBy("vec_id", "dim")
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("y"))
  }

  val q94Oracle: String = {
    val p = graft.functions.PolyHash.Mod
    s"""WITH q AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_min(embedding) AS DOUBLE) AS mn,
       |    CAST(list_max(embedding) AS DOUBLE) AS mx
       |  FROM embeddings WHERE vec_id <= $ProjIds),
       |gi AS (SELECT vec_id, embedding, mn, mx,
       |         unnest(generate_series(1, len(embedding))) AS i1
       |       FROM q),
       |codes AS (
       |  SELECT vec_id, i1 - 1 AS i,
       |    CASE WHEN mx = mn THEN 0
       |         ELSE CAST(round((CAST(embedding[i1] AS DOUBLE) - mn)
       |                         / ((mx - mn) / 255.0)) AS BIGINT) END AS code
       |  FROM gi),
       |proj AS (
       |  SELECT vec_id, i, code, unnest(generate_series(0, ${ProjDims - 1})) AS dim
       |  FROM codes)
       |SELECT vec_id, CAST(dim AS BIGINT) AS dim,
       |  CAST(sum(code * (1 - 2 * (($ProjSignA * i + $ProjSignB * dim + $ProjSignC)
       |                            % $p % 2))) AS BIGINT) AS y
       |FROM proj GROUP BY vec_id, dim ORDER BY vec_id, dim""".stripMargin
  }

  // --- Asymmetric containment (q97) ---------------------------------------

  private val ContShingleN  = 4
  private val ContMaxDf     = 50
  private val ContMinPpm    = 500000L // report pairs ≥ 50% contained
  private val ContMaxRows   = 500

  /** q97: ASYMMETRIC CONTAINMENT — the quote/subset detector Jaccard
    * misses: a short document wholly embedded in a long one scores low
    * symmetric Jaccard (union is large) but containment
    * |A∩B| / min(|A|,|B|) ≈ 1. Profiles are distinct
    * [[ContShingleN]]-token shingles with corpus document frequency
    * ≤ [[ContMaxDf]] — long shingles so sharing implies real overlap,
    * and the df cap drops boilerplate: a shingle in thousands of
    * documents identifies none of them, while the cap bounds the pair
    * fan-out per shingle type at df² ≤ 2 500, keeping candidate
    * generation linear in shingle types (never all-pairs). Containment
    * is exact integer `inter · 10⁶ div min(|A|,|B|)` over the capped
    * profiles — no floats anywhere.
    *
    * Scale shape: the df guard is a windowed count by shingle; each
    * profile's size is a per-doc count of its capped shingles, joined
    * once onto them (AQE broadcasts it when the doc count is small,
    * which keeps the shingle partitioning, so the operator's key
    * exchange is elided); and the shared-shingle count is the
    * set-overlap operator ([[graft.functions.Overlap]], documents as
    * members, shingles as keys) over the shingles with df ≥ 2, so no
    * pair row exists before counting and each pair carries both
    * sizes. Output is threshold-filtered AND capped at
    * [[ContMaxRows]] under a total order (cont desc, doc_a, doc_b) —
    * bounded even on an all-duplicate corpus.
    */
  def q97Containment(s: SparkSession, d: String): DataFrame =
    containmentAudit(documents(s, d))

  /** Core of q97 over any frame with (doc_id, text) — see q97 scaladoc. */
  private[queries] def containmentAudit(docs: DataFrame): DataFrame = {
    val t = toks(lower(col("text")))
    val grams = graft.functions.MinHash.shingles(t, ContShingleN)
    val f = docs
      .filter(size(t) >= ContShingleN)
      .select(col("doc_id"), explode(grams).as("g"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("df") <= ContMaxDf)
    // a profile's size counts its singleton shingles too, but only the
    // shingles two profiles share reach the pair count
    val members = f.join(f.groupBy("doc_id").agg(count(lit(1)).as("sz")), "doc_id")
      .filter(col("df") >= 2)
    Overlap.pairs(Overlap.postings(members, "g", "doc_id", "sz"), 1)
      .select(col("u").as("doc_a"), col("v").as("doc_b"),
        col("common").as("inter"), col("szu").as("size_a"),
        col("szv").as("size_b"))
      .withColumn("cont_ppm",
        expr("inter * 1000000L div least(size_a, size_b)"))
      .filter(col("cont_ppm") >= ContMinPpm)
      .orderBy(col("cont_ppm").desc, col("doc_a"), col("doc_b"))
      .limit(ContMaxRows)
  }

  val q97Oracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(list_transform(
       |      generate_series(1, len(t) - ${ContShingleN - 1}),
       |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])))
       |      AS g
       |  FROM t WHERE len(t) >= $ContShingleN),
       |dfx AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
       |f AS (SELECT sh.doc_id, sh.g FROM sh JOIN dfx USING (g)
       |      WHERE dfx.df <= $ContMaxDf),
       |sz AS (SELECT doc_id, count(*) AS sz FROM f GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM f a JOIN f b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |c AS (
       |  SELECT doc_a, doc_b, inter, sa.sz AS size_a, sb.sz AS size_b,
       |    CAST(inter * 1000000 // least(sa.sz, sb.sz) AS BIGINT) AS cont_ppm
       |  FROM pairs
       |  JOIN sz sa ON sa.doc_id = doc_a
       |  JOIN sz sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, inter, size_a, size_b, cont_ppm
       |FROM c WHERE cont_ppm >= $ContMinPpm
       |ORDER BY cont_ppm DESC, doc_a, doc_b LIMIT $ContMaxRows""".stripMargin

  // --- BPE merge step (q98) -----------------------------------------------

  private val BpeTopK = 20

  /** q98: BPE PAIR-MERGE STEP — the inner loop of byte-pair-encoding
    * tokenizer training, run the way production BPE trainers run it: on
    * WORD TYPES weighted by corpus frequency, never on raw text. Each
    * word type is a symbol sequence (its characters, closed by an
    * end-of-word marker `</w>`); every adjacent symbol pair contributes
    * the word's corpus frequency, and the top pair is the next merge
    * rule. One step is the whole algorithm's data-plane: training k
    * merges re-runs this query k times over a shrinking symbol table.
    *
    * Scale shape: the corpus is scanned ONCE, collapsing immediately to
    * the word-type frequency table (vocabulary-sized — the 100 TB corpus
    * becomes millions of rows after the first aggregate), so the
    * pair explode — 1 row per symbol occurrence — runs over types, not
    * tokens: a 10¹⁴-token corpus with a 10⁸-type vocabulary explodes
    * 10⁹ rows, not 10¹⁵. Two shuffles (word, pair), both with map-side
    * partial aggregation; exact integer weights; bounded
    * TakeOrderedAndProject over a total order (weight desc, pair asc).
    * The pair count is [[bpePairWeights]], the same definition every
    * q109 round ranks. Character indexing is codepoint-based on both
    * engines — identical on this corpus (ASCII; for arbitrary Unicode
    * the symbol alphabet would be bytes, as in byte-level BPE).
    */
  def q98BpeMergeStep(s: SparkSession, d: String): DataFrame =
    bpeMergeStep(documents(s, d))

  /** Core of q98 over any frame with a `text` column — see q98 scaladoc. */
  private[queries] def bpeMergeStep(docs: DataFrame): DataFrame =
    bpePairWeights(bpeTypes(docs))
      .select(concat(col("a"), lit(" "), col("b")).as("pair"),
        col("n_contexts"), col("weight"))
      .orderBy(col("weight").desc, col("pair"))
      .limit(BpeTopK)

  /** The BPE word-type table of a frame with a `text` column: one row
    * per lower-cased, whitespace-split word type, `(w, f, seq)`, with `f`
    * its corpus frequency and `seq` its symbols — one per code point,
    * then the end-of-word marker `</w>` — joined by single spaces.
    * [[toks]] splits on whitespace, so no symbol holds a space and
    * `split(seq, ' ')` gives the symbols back. (`split` on the empty
    * pattern cuts a string into its code points.) */
  private[queries] def bpeTypes(docs: DataFrame): DataFrame =
    docs
      .select(explode(toks(lower(col("text")))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(col("w"), col("f"),
        concat_ws(" ", split(col("w"), ""), lit("</w>")).as("seq"))

  /** Adjacent-symbol pair weights over a BPE type table `(f, seq)`: one
    * row per distinct pair `(a, b, weight, n_contexts)`, `weight` = Σ f
    * over the pair's occurrences, `n_contexts` their count. The one pair
    * count q98 and every q109 round rank. */
  private def bpePairWeights(types: DataFrame): DataFrame = {
    val n = size(col("syms")) - 1
    types
      .select(col("f"), split(col("seq"), " ").as("syms"))
      .select(col("f"), explode(arrays_zip(
        slice(col("syms"), lit(1), n), slice(col("syms"), lit(2), n))).as("p"))
      .groupBy(col("p")("0").as("a"), col("p")("1").as("b"))
      .agg(sum("f").as("weight"), count(lit(1)).as("n_contexts"))
  }

  /** Apply the merge `(a, b)` to a `seq` column: every greedy leftmost
    * non-overlapping occurrence of the symbol pair becomes the symbol
    * `a || b`. The pattern is anchored on symbol boundaries (a space or
    * an end of the string), and a regex scan matches left to right
    * without overlap, which is exactly the classic algorithm's
    * application order (in `a a a </w>`, `a·a` merges once). */
  private[queries] def bpeMerge(seq: Column, a: String, b: String): Column = {
    import java.util.regex.{Matcher, Pattern}
    regexp_replace(seq,
      s"(?<![^ ])${Pattern.quote(a)} ${Pattern.quote(b)}(?![^ ])",
      Matcher.quoteReplacement(a + b))
  }

  val q98Oracle: String =
    s"""WITH w AS (
       |  SELECT w, count(*) AS f FROM (
       |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
       |    FROM documents)
       |  WHERE len(w) >= 1 GROUP BY w),
       |p AS (
       |  SELECT f, unnest(list_transform(generate_series(1, len(w)),
       |    i -> w[i] || ' ' ||
       |         CASE WHEN i = len(w) THEN '</w>' ELSE w[i + 1] END)) AS pair
       |  FROM w)
       |SELECT pair, count(*) AS n_contexts, CAST(sum(f) AS BIGINT) AS weight
       |FROM p GROUP BY pair ORDER BY weight DESC, pair LIMIT $BpeTopK""".stripMargin

  // --- Near-dup flow matrix (q101) ----------------------------------------

  /** q101: NEAR-DUP FLOW MATRIX — the q44 LSH near-dup pairs rolled up to
    * the source level: which source pairs exchange near-duplicate
    * content. The diagonal (same source on both sides) measures internal
    * duplication — a crawler re-fetching itself; off-diagonal entries are
    * syndication/mirror flow between domains, the signal that drives
    * "keep one canonical domain per mirror family" curation rules.
    * Composition, not re-derivation: the pair generator IS
    * [[graft.functions.MinHash.candidatePairs]] with q44's exact
    * parameters, so flow-matrix counts reconcile with q44's pair list by
    * construction.
    *
    * Scale shape: q44's banded candidate generation (never all-pairs),
    * then two hash joins of the pair list against the (doc_id, source)
    * projection — pair-list-sized, orders below the corpus — and a
    * sources²-bounded rollup. The matrix is symmetric, so pairs are
    * canonicalized (least, greatest) before counting.
    */
  def q101NearDupFlow(s: SparkSession, d: String): DataFrame = {
    import graft.functions.MinHash
    val docs = documents(s, d).filter(col("lang") === "en")
    val pairs = MinHash.candidatePairs(
      docs.select(col("doc_id"), toks(col("text")).as("tokens")),
      "doc_id", "tokens",
      shingleN = 2, k = 64, nBands = 8,
      minJaccard = 0.5, maxBucket = 100, portable = true)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")), Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")), Seq("id_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  val q101Oracle: String =
    s"""WITH $lshPairChainSql,
       |np AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5),
       |f AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |    greatest(da.source, db.source) AS source_b
       |  FROM np
       |  JOIN documents da ON da.doc_id = np.id_a
       |  JOIN documents db ON db.doc_id = np.id_b)
       |SELECT source_a, source_b, count(*) AS n_pairs
       |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- LSH calibration audit (q104) ---------------------------------------

  /** q104: LSH CALIBRATION AUDIT — does the MinHash estimate actually
    * track the true Jaccard at the operating point? For every q44
    * candidate pair the query computes BOTH similarities — the
    * signature-agreement estimate (already carried by the pair list as
    * `matches`/64) and the EXACT distinct-shingle Jaccard — and rolls
    * them up per signature-agreement level: how many pairs the band
    * produced at each level, how many the estimator over- vs
    * under-states, and the exact-Jaccard envelope (min/max ppm). This is
    * the monitoring table that catches a mis-sized signature (k too
    * small → wide envelopes), a broken hash family (over/under counts
    * skew one-sided), or threshold drift before a dedup purge acts on
    * bad estimates. Composition, not re-derivation: the pair generator
    * IS [[graft.functions.MinHash.candidatePairs]] with q44's exact
    * parameters, so every audited pair is a pair q44 emits.
    *
    * Over/under verdicts are integer CROSS-MULTIPLICATION —
    * `matches · union  vs  64 · inter` — never a float compare, and the
    * estimate's `matches` recovers exactly from `est · 64` (dyadic
    * rational, exact in a double). Scale shape: the exact side joins the
    * banded, guarded pair list (orders below the corpus) to per-doc
    * distinct-shingle postings — expansion is |pairs| × shingles/doc,
    * pair-bounded — then aggregates to ≤ k+1 rows. The corpus is
    * RE-SCANNED per branch (pair chain + the three shingle-posting
    * uses: sizes and the two pair joins — ReuseCheck reports 4 scans),
    * each scan pruned to (doc_id, text, lang); at 100 TB recomputing a
    * compiled kernel over a pruned columnar scan beats materializing a
    * shingle table an order larger than the corpus between uses. Zero-overlap
    * collision pairs are kept (left join + coalesce): they are the
    * estimator's worst failure mode, exactly what the audit must count.
    */
  def q104LshCalibration(s: SparkSession, d: String): DataFrame = {
    import graft.functions.MinHash
    val docs = documents(s, d).filter(col("lang") === "en")
    val pairs = MinHash.candidatePairs(
      docs.select(col("doc_id"), toks(col("text")).as("tokens")),
      "doc_id", "tokens",
      shingleN = 2, k = 64, nBands = 8,
      minJaccard = 0.5, maxBucket = 100, portable = true)
      .select(col("id_a"), col("id_b"),
        round(col("est_jaccard") * 64).cast("long").as("matches"))
    val sh = docs.select(col("doc_id"),
      explode(MinHash.shingles(toks(col("text")), 2)).as("g"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("id_a"), col("g")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("g")), Seq("id_b", "g"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("id_a", "id_b"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .join(sz.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sz.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("unn", col("sz_a") + col("sz_b") - col("inter"))
      .groupBy(col("matches").as("sig_matches"))
      .agg(count(lit(1)).as("n_pairs"),
        count_if(col("matches") * col("unn") > lit(64L) * col("inter")).as("n_over"),
        count_if(col("matches") * col("unn") < lit(64L) * col("inter")).as("n_under"),
        count_if(col("matches") * col("unn") === lit(64L) * col("inter")).as("n_exact"),
        min(expr("inter * 1000000L div unn")).as("min_exact_ppm"),
        max(expr("inter * 1000000L div unn")).as("max_exact_ppm"))
      .orderBy(col("sig_matches").desc)
  }

  val q104Oracle: String =
    s"""WITH $lshPairChainSql,
       |np AS (SELECT id_a, id_b,
       |         CAST(round(est_jaccard * 64) AS BIGINT) AS matches
       |       FROM est WHERE est_jaccard >= 0.5),
       |sh2 AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |      generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1]))) AS g
       |  FROM t WHERE len(t) >= 2),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY 1),
       |ix AS (
       |  SELECT np.id_a, np.id_b, count(*) AS inter
       |  FROM np
       |  JOIN sh2 a ON a.doc_id = np.id_a
       |  JOIN sh2 b ON b.doc_id = np.id_b AND b.g = a.g
       |  GROUP BY 1, 2),
       |c AS (
       |  SELECT np.matches, coalesce(ix.inter, 0) AS inter,
       |    sa.sz + sb.sz - coalesce(ix.inter, 0) AS unn
       |  FROM np
       |  LEFT JOIN ix ON ix.id_a = np.id_a AND ix.id_b = np.id_b
       |  JOIN sz sa ON sa.doc_id = np.id_a
       |  JOIN sz sb ON sb.doc_id = np.id_b)
       |SELECT matches AS sig_matches, count(*) AS n_pairs,
       |  count(*) FILTER (WHERE matches * unn > 64 * inter) AS n_over,
       |  count(*) FILTER (WHERE matches * unn < 64 * inter) AS n_under,
       |  count(*) FILTER (WHERE matches * unn = 64 * inter) AS n_exact,
       |  min(inter * 1000000 // unn) AS min_exact_ppm,
       |  max(inter * 1000000 // unn) AS max_exact_ppm
       |FROM c GROUP BY 1 ORDER BY 1 DESC""".stripMargin

  // --- Cluster-label purity per source (q105) -----------------------------

  /** q105: CLUSTER-LABEL PURITY PER SOURCE — the first cross-modal query:
    * documents joined 1:1 to their embedding-space cluster labels
    * (vec_id ≡ doc_id), rolled up to "which cluster dominates each
    * source and how decisively". High purity means the domain is
    * topically monolithic (a recipes site in one cluster); low purity
    * means mixed content — exactly the signal that decides whether a
    * mixture weight should apply at source granularity or needs
    * cluster-level splitting. The reference's market→dim enrichment
    * join (`scripts/integrate_weather_sales.py:96` joining per-market
    * facts to market metadata) is the same 1:1-key enrichment shape.
    *
    * Scale shape: an equi-join of two corpus-sized tables on their
    * shared id — hash-shuffle both sides once (or zero shuffles off
    * id-bucketed warehouse layouts, the q60 posture; the fixture tables
    * are unbucketed so the plan shows the two exchanges) — then a
    * (source × label) aggregate, orders below the corpus, and a
    * |sources|-sized argmax via the q57 row_number pattern. Purity is
    * exact ppm; ties on the top label break to the LOWEST label id so
    * the argmax is total.
    */
  def q105LabelPurity(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = documents(s, d).select(col("doc_id"), col("source"))
      .join(graft.Tables.embeddings(s, d)
        .select(col("vec_id").as("doc_id"), col("label")), Seq("doc_id"))
      .groupBy("source", "label").agg(count(lit(1)).as("n"))
    cells
      .withColumn("n_docs", sum("n").over(Window.partitionBy("source")))
      .withColumn("n_labels", count(lit(1)).over(Window.partitionBy("source")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("n").desc, col("label").asc)))
      .filter(col("rn") === 1)
      .select(col("source"), col("n_docs"),
        col("n_labels"),
        col("label").cast("long").as("top_label"), col("n").as("top_n"),
        expr("n * 1000000L div n_docs").as("purity_ppm"))
      .orderBy("source")
  }

  val q105Oracle: String =
    """WITH c AS (
      |  SELECT d.source, e.label, count(*) AS n
      |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT source, label, n,
      |    CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS n_docs,
      |    count(*) OVER (PARTITION BY source) AS n_labels,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY n DESC, label) AS rn
      |  FROM c)
      |SELECT source, n_docs, n_labels, CAST(label AS BIGINT) AS top_label,
      |  n AS top_n, n * 1000000 // n_docs AS purity_ppm
      |FROM r WHERE rn = 1 ORDER BY source""".stripMargin

  // --- IVF recall audit (q106) --------------------------------------------

  /** Audit sampling rate: every N-th vector is a recall query point. */
  private val RecallQueryMod = 50L
  /** Absolute cap on query points — bounds the broadcast and the
    * fan-out at ANY corpus size (ids are range-capped, not counted, so
    * the cap needs no extra pass). */
  private val RecallMaxQueries = 1000L
  /** Neighborhood size the recall is measured at (recall@K). */
  private val RecallK = 10
  /** Bucket count for the group-top-K prefilter (q68 pattern). */
  private val RecallBuckets = 16

  /** q106: IVF RECALL AUDIT — the q104 idea applied to the OTHER
    * approximate index: for a deterministic query sample (every
    * [[RecallQueryMod]]-th vector), how many of the exact cosine top-
    * [[RecallK]] neighbors does the q25 IVF probe (same-cell candidates
    * only) actually return? The output recall histogram (overlap level →
    * query count) is the dial a 100 TB ANN deployment watches when
    * tuning cell count / probe width; AnnRecallSpec pins a floor on this
    * same quantity in-test, this query makes it a monitorable table.
    *
    * ONE corpus pass, no self-join: every (query, candidate) cosine is
    * scored once, then TWO conditional ranks — rank among all candidates
    * and rank within the query's cell — come from windows over the same
    * frame, and a candidate is a recall hit iff both ranks clear
    * [[RecallK]]. Rankings order by the RAW double similarity (identical
    * across engines — same sequential accumulation, see q24) with vec_id
    * tiebreak, so the cutoff is total. The per-query partitions are
    * corpus-sized at scale, so both windows sit behind the q68
    * bucket-top-K prefilter ((q_id, bucket, in_cell) groups — keeping
    * per-bucket top-K provably preserves every global top-K row and
    * their relative ranks); nothing ever sorts a full partition on one
    * task. Query fan-out is |sample| × corpus, and the sample is
    * DOUBLY bounded — rate ([[RecallQueryMod]]) times an absolute id
    * cap ([[RecallMaxQueries]]) — so the broadcast stays small at any
    * corpus size.
    */
  def q106IvfRecall(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embeddings(s, d)
    val q = e.filter(pmod(col("vec_id"), lit(RecallQueryMod)) === 0 &&
        col("vec_id") < lit(RecallQueryMod * RecallMaxQueries))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val ord = Seq(col("sim").desc, col("vec_id").asc)
    val wBucket = Window.partitionBy(col("q_id"), col("__b"), col("in_cell"))
      .orderBy(ord: _*)
    val wAll = Window.partitionBy(col("q_id")).orderBy(ord: _*)
    val wCell = Window.partitionBy(col("q_id"), col("in_cell")).orderBy(ord: _*)
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (col("label") === col("q_label")).as("in_cell"),
        VectorExpressions.cosine(col("embedding"), col("q_emb")).as("sim"))
      .withColumn("__b", pmod(xxhash64(col("vec_id")), lit(RecallBuckets)))
      .withColumn("__br", row_number().over(wBucket))
      .filter(col("__br") <= RecallK)
      .drop("__b", "__br")
      .withColumn("rn_all", row_number().over(wAll))
      .withColumn("rn_cell", row_number().over(wCell))
      .groupBy("q_id")
      .agg(count_if(col("rn_all") <= RecallK && col("in_cell") &&
        col("rn_cell") <= RecallK).as("n_overlap"))
      .groupBy("n_overlap").agg(count(lit(1)).as("n_queries"))
      .orderBy(col("n_overlap").desc)
  }

  val q106Oracle: String =
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
       |  FROM embeddings WHERE vec_id % $RecallQueryMod = 0
       |    AND vec_id < ${RecallQueryMod * RecallMaxQueries}),
       |ex AS (
       |  SELECT q.q_id, e.vec_id, e.label = q.q_label AS in_cell,
       |    unnest(e.embedding) AS x, unnest(q.q_emb) AS y
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id),
       |sims AS (
       |  SELECT q_id, vec_id, any_value(in_cell) AS in_cell,
       |    sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS sim
       |  FROM ex GROUP BY q_id, vec_id),
       |r AS (
       |  SELECT q_id, in_cell,
       |    row_number() OVER (PARTITION BY q_id
       |                       ORDER BY sim DESC, vec_id) AS rn_all,
       |    row_number() OVER (PARTITION BY q_id, in_cell
       |                       ORDER BY sim DESC, vec_id) AS rn_cell
       |  FROM sims),
       |o AS (
       |  SELECT q_id, count(*) FILTER (
       |    WHERE rn_all <= $RecallK AND in_cell AND rn_cell <= $RecallK)
       |    AS n_overlap
       |  FROM r GROUP BY 1)
       |SELECT n_overlap, count(*) AS n_queries
       |FROM o GROUP BY 1 ORDER BY 1 DESC""".stripMargin

  // --- Retrieval ranking-quality metrics (q194) ----------------------------

  /** 2520 = lcm(1..10): reciprocal ranks at K ≤ [[RecallK]] are EXACT
    * integers 2520/r — no float division anywhere in MRR. */
  private val RrLcm = 2520L
  /** NDCG discount weights round(10⁶ / log₂(r+1)) for r = 1..K,
    * computed ONCE here and embedded as LITERALS in both engines'
    * plans — the logarithm never runs at query time, so the metric is
    * bit-identical cross-engine by construction. */
  private val NdcgW: Seq[Long] =
    (1 to RecallK).map(r => Math.round(1e6 / (Math.log(r + 1.0) / Math.log(2.0))))
  /** Ideal-DCG prefix sums P(j) = Σ_{r≤j} W(r). */
  private val NdcgP: Seq[Long] = NdcgW.scanLeft(0L)(_ + _).tail
  private def ndcgWeightCase(rankCol: String): String =
    s"CASE $rankCol " + (1 to RecallK)
      .map(r => s"WHEN $r THEN ${NdcgW(r - 1)}").mkString(" ") + " ELSE 0 END"
  private def idcgCase(rCol: String): String =
    s"CASE $rCol " + (1 to RecallK)
      .map(j => s"WHEN $j THEN ${NdcgP(j - 1)}").mkString(" ") + " ELSE 0 END"

  /** q194: RETRIEVAL RANKING METRICS — the evaluation leg the
    * similarity-search ring was missing: q106 audits RECALL of the
    * approximate index against exact search; this scores the exact
    * search itself against labeled ground truth (relevant = same
    * label), per label cell: MRR@K, hit@1/5/K, and micro-averaged
    * NDCG@K — the standard intrinsic embedding-quality panel every
    * retrieval deployment tracks release-over-release.
    *
    * Everything is exact-integer: reciprocal ranks are 2520/r
    * ([[RrLcm]] = lcm(1..10) — exact), NDCG discounts are SHARED
    * LITERAL weights ([[NdcgW]], log precomputed at plan-build), ideal
    * DCG is a prefix-sum literal over min(relevant_in_corpus, K), and
    * NDCG is aggregated micro (Σdcg·10⁶ DIV Σidcg — ratio of sums, no
    * per-query NULL propagation when a label has no other members).
    *
    * Scale shape: the q106 skeleton verbatim — doubly-bounded query
    * sample (rate × absolute id cap) broadcast against ONE corpus
    * pass; per-query partitions sit behind the (q_id, bucket)
    * top-K prefilter so no task sorts a corpus-sized partition;
    * per-label relevant counts ride a separate |labels|-row aggregate
    * joined in at label cardinality. Output: |labels| rows.
    */
  def q194RetrievalMetrics(s: SparkSession, d: String): DataFrame =
    retrievalMetrics(embeddings(s, d))

  /** The q194 chain over any (vec_id, label, embedding) frame —
    * separated so specs can drive it with crafted vector layouts. */
  def retrievalMetrics(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = e.filter(pmod(col("vec_id"), lit(RecallQueryMod)) === 0 &&
        col("vec_id") < lit(RecallQueryMod * RecallMaxQueries))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val labelCnt = e.groupBy(col("label").as("q_label"))
      .agg(count(lit(1)).as("lc"))
    val ord = Seq(col("sim").desc, col("vec_id").asc)
    val wBucket = Window.partitionBy("q_id", "__b").orderBy(ord: _*)
    val wAll = Window.partitionBy("q_id").orderBy(ord: _*)
    val perQ = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("vec_id"),
        (col("label") === col("q_label")).as("rel"),
        VectorExpressions.cosine(col("embedding"), col("q_emb")).as("sim"))
      .withColumn("__b", pmod(xxhash64(col("vec_id")), lit(RecallBuckets)))
      .withColumn("__br", row_number().over(wBucket))
      .filter(col("__br") <= RecallK)
      .drop("__b", "__br")
      .withColumn("rnk", row_number().over(wAll))
      .filter(col("rnk") <= RecallK)
      .groupBy("q_id", "q_label")
      .agg(
        min(when(col("rel"), col("rnk"))).as("first_rel"),
        count_if(col("rel") && col("rnk") === 1).as("rel1"),
        count_if(col("rel") && col("rnk") <= 5).as("rel5"),
        count_if(col("rel")).as("relk"),
        coalesce(sum(when(col("rel"),
          expr(ndcgWeightCase("rnk")))), lit(0L)).as("dcg"))
      .join(labelCnt, Seq("q_label"))
      .withColumn("idcg",
        expr(idcgCase(s"least(lc - 1, $RecallK)")))
    perQ.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        coalesce(sum(expr(s"$RrLcm DIV first_rel")), lit(0L)).as("rr_sum"),
        count_if(col("rel1") > 0).as("h1"),
        count_if(col("rel5") > 0).as("h5"),
        count_if(col("relk") > 0).as("hk"),
        sum(col("dcg")).as("dcg_sum"),
        sum(col("idcg")).as("idcg_sum"))
      .select(col("label"), col("n_queries"),
        expr(s"rr_sum * 1000000 DIV ($RrLcm * n_queries)").as("mrr_ppm"),
        expr("h1 * 1000000 DIV n_queries").as("hit1_ppm"),
        expr("h5 * 1000000 DIV n_queries").as("hit5_ppm"),
        expr("hk * 1000000 DIV n_queries").as(s"hit${RecallK}_ppm"),
        expr("CASE WHEN idcg_sum > 0 THEN " +
          "CAST(dcg_sum AS DECIMAL(38,0)) * 1000000 DIV idcg_sum END")
          .cast("long").as("ndcg_ppm"))
      .orderBy("label")
  }

  val q194Oracle: String =
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
       |  FROM embeddings WHERE vec_id % $RecallQueryMod = 0
       |    AND vec_id < ${RecallQueryMod * RecallMaxQueries}),
       |lc AS (SELECT label AS q_label, count(*) AS lc
       |       FROM embeddings GROUP BY 1),
       |ex AS (
       |  SELECT q.q_id, q.q_label, e.vec_id,
       |    e.label = q.q_label AS rel,
       |    unnest(e.embedding) AS x, unnest(q.q_emb) AS y
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id),
       |sims AS (
       |  SELECT q_id, any_value(q_label) AS q_label, vec_id,
       |    any_value(rel) AS rel,
       |    sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS sim
       |  FROM ex GROUP BY q_id, vec_id),
       |r AS (
       |  SELECT q_id, q_label, rel,
       |    row_number() OVER (PARTITION BY q_id
       |                       ORDER BY sim DESC, vec_id) AS rnk
       |  FROM sims),
       |pq AS (
       |  SELECT q_id, any_value(r.q_label) AS q_label,
       |    min(rnk) FILTER (WHERE rel) AS first_rel,
       |    count(*) FILTER (WHERE rel AND rnk = 1) AS rel1,
       |    count(*) FILTER (WHERE rel AND rnk <= 5) AS rel5,
       |    count(*) FILTER (WHERE rel) AS relk,
       |    coalesce(sum(${ndcgWeightCase("rnk")}) FILTER (WHERE rel), 0)
       |      AS dcg,
       |    any_value(${idcgCase(s"least(lc.lc - 1, $RecallK)")}) AS idcg
       |  FROM r JOIN lc USING (q_label) WHERE rnk <= $RecallK
       |  GROUP BY q_id),
       |g AS (
       |  SELECT q_label AS label, count(*) AS n,
       |    coalesce(sum($RrLcm // first_rel), 0) AS rr_sum,
       |    count(*) FILTER (WHERE rel1 > 0) AS h1,
       |    count(*) FILTER (WHERE rel5 > 0) AS h5,
       |    count(*) FILTER (WHERE relk > 0) AS hk,
       |    sum(dcg) AS dcg_sum, sum(idcg) AS idcg_sum
       |  FROM pq GROUP BY 1)
       |SELECT label, CAST(n AS BIGINT) AS n_queries,
       |  CAST(rr_sum * 1000000 // ($RrLcm * n) AS BIGINT) AS mrr_ppm,
       |  CAST(h1 * 1000000 // n AS BIGINT) AS hit1_ppm,
       |  CAST(h5 * 1000000 // n AS BIGINT) AS hit5_ppm,
       |  CAST(hk * 1000000 // n AS BIGINT) AS hit${RecallK}_ppm,
       |  CAST(CASE WHEN idcg_sum > 0 THEN
       |    CAST(dcg_sum AS HUGEINT) * 1000000 // idcg_sum END AS BIGINT)
       |    AS ndcg_ppm
       |FROM g ORDER BY label""".stripMargin

  // --- Cross-modal retrieval evaluation (q212) ------------------------------

  /** q212's query-panel rate (denser than q106's — the image-kind
    * filter already thins the panel by ~3×). */
  private val XModalQueryMod = 20L

  /** q212: CROSS-MODAL RETRIEVAL EVALUATION — q194's ranking-metric
    * panel over a cross-modal protocol: queries are IMAGE-kind
    * payloads' embeddings, the candidate pool is the OTHER modalities
    * (audio/video kinds — the q38 source-id kind rule), relevance =
    * shared label across the modality boundary. This is the
    * text↔image/audio alignment scorecard a multimodal training run
    * tracks (CLIP-style: does the shared embedding space place an
    * image's neighbors among the RIGHT other-modality items?): q194
    * says the space ranks well within itself, q212 says whether that
    * survives crossing modalities — the number that decides if
    * cross-modal retrieval/dedup (q198/q200/q204's semantic
    * complement) can be trusted.
    *
    * Differences from q194, both forced by the protocol: the ideal-DCG
    * pool is the relevant count IN THE CANDIDATE MODALITIES (no self
    * exclusion — a query is never in the pool, the modalities are
    * disjoint), and a label with no candidate-pool members degrades to
    * NULL ndcg via a LEFT join (never drops the query row).
    *
    * Scale: the q106 skeleton — kind attaches by one id-keyed join
    * (shuffle-free off id-bucketed layouts), the doubly-bounded query
    * panel broadcasts, ONE candidate-pool pass scores every pair, rank
    * windows sit behind the (q_id, bucket) top-K prefilter, metrics are
    * exact integers (2520/r reciprocal ranks, literal NDCG weights).
    */
  def q212CrossModalMetrics(s: SparkSession, d: String): DataFrame = {
    val kind = pmod(substring(col("source"), 4, 10).cast("int"), lit(3))
    crossModalMetrics(embeddings(s, d)
      .join(documents(s, d).select(col("doc_id"), kind.as("kind")),
        col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("label"), col("embedding"), col("kind")))
  }

  /** The q212 chain over any (vec_id, label, embedding, kind) frame —
    * separated so specs can drive it with crafted vector layouts. */
  private[graft] def crossModalMetrics(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = ev.filter(col("kind") === 0 &&
        pmod(col("vec_id"), lit(XModalQueryMod)) === 0 &&
        col("vec_id") < lit(XModalQueryMod * RecallMaxQueries))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val cand = ev.filter(col("kind") =!= 0)
    val labelCnt = cand.groupBy(col("label").as("q_label"))
      .agg(count(lit(1)).as("lc"))
    val ord = Seq(col("sim").desc, col("vec_id").asc)
    val wBucket = Window.partitionBy("q_id", "__b").orderBy(ord: _*)
    val wAll = Window.partitionBy("q_id").orderBy(ord: _*)
    val perQ = cand.crossJoin(broadcast(q))
      .select(col("q_id"), col("q_label"), col("vec_id"),
        (col("label") === col("q_label")).as("rel"),
        VectorExpressions.cosine(col("embedding"), col("q_emb")).as("sim"))
      .withColumn("__b", pmod(xxhash64(col("vec_id")), lit(RecallBuckets)))
      .withColumn("__br", row_number().over(wBucket))
      .filter(col("__br") <= RecallK)
      .drop("__b", "__br")
      .withColumn("rnk", row_number().over(wAll))
      .filter(col("rnk") <= RecallK)
      .groupBy("q_id", "q_label")
      .agg(
        min(when(col("rel"), col("rnk"))).as("first_rel"),
        count_if(col("rel") && col("rnk") === 1).as("rel1"),
        count_if(col("rel") && col("rnk") <= 5).as("rel5"),
        count_if(col("rel")).as("relk"),
        coalesce(sum(when(col("rel"),
          expr(ndcgWeightCase("rnk")))), lit(0L)).as("dcg"))
      .join(labelCnt, Seq("q_label"), "left")
      .withColumn("idcg",
        expr(idcgCase(s"least(coalesce(lc, 0), $RecallK)")))
    perQ.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        coalesce(sum(expr(s"$RrLcm DIV first_rel")), lit(0L)).as("rr_sum"),
        count_if(col("rel1") > 0).as("h1"),
        count_if(col("rel5") > 0).as("h5"),
        count_if(col("relk") > 0).as("hk"),
        sum(col("dcg")).as("dcg_sum"),
        sum(col("idcg")).as("idcg_sum"))
      .select(col("label").cast("long").as("label"), col("n_queries"),
        expr(s"rr_sum * 1000000 DIV ($RrLcm * n_queries)").as("mrr_ppm"),
        expr("h1 * 1000000 DIV n_queries").as("hit1_ppm"),
        expr("h5 * 1000000 DIV n_queries").as("hit5_ppm"),
        expr("hk * 1000000 DIV n_queries").as(s"hit${RecallK}_ppm"),
        expr("CASE WHEN idcg_sum > 0 THEN " +
          "CAST(dcg_sum AS DECIMAL(38,0)) * 1000000 DIV idcg_sum END")
          .cast("long").as("ndcg_ppm"))
      .orderBy("label")
  }

  val q212Oracle: String =
    s"""WITH k AS (
       |  SELECT doc_id, TRY_CAST(substr(source, 4) AS INT) % 3 AS kind
       |  FROM documents),
       |ev AS (
       |  SELECT e.vec_id, e.label, e.embedding, k.kind
       |  FROM embeddings e JOIN k ON k.doc_id = e.vec_id),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
       |  FROM ev WHERE kind = 0 AND vec_id % $XModalQueryMod = 0
       |    AND vec_id < ${XModalQueryMod * RecallMaxQueries}),
       |cand AS (SELECT * FROM ev WHERE kind <> 0),
       |lc AS (SELECT label AS q_label, count(*) AS lc FROM cand GROUP BY 1),
       |ex AS (
       |  SELECT q.q_id, q.q_label, e.vec_id,
       |    e.label = q.q_label AS rel,
       |    unnest(e.embedding) AS x, unnest(q.q_emb) AS y
       |  FROM cand e CROSS JOIN q),
       |sims AS (
       |  SELECT q_id, any_value(q_label) AS q_label, vec_id,
       |    any_value(rel) AS rel,
       |    sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS sim
       |  FROM ex GROUP BY q_id, vec_id),
       |r AS (
       |  SELECT q_id, q_label, rel,
       |    row_number() OVER (PARTITION BY q_id
       |                       ORDER BY sim DESC, vec_id) AS rnk
       |  FROM sims),
       |pq AS (
       |  SELECT q_id, any_value(r.q_label) AS q_label,
       |    min(rnk) FILTER (WHERE rel) AS first_rel,
       |    count(*) FILTER (WHERE rel AND rnk = 1) AS rel1,
       |    count(*) FILTER (WHERE rel AND rnk <= 5) AS rel5,
       |    count(*) FILTER (WHERE rel) AS relk,
       |    coalesce(sum(${ndcgWeightCase("rnk")}) FILTER (WHERE rel), 0)
       |      AS dcg,
       |    any_value(${idcgCase(s"least(coalesce(lc.lc, 0), $RecallK)")})
       |      AS idcg
       |  FROM r LEFT JOIN lc USING (q_label) WHERE rnk <= $RecallK
       |  GROUP BY q_id),
       |g AS (
       |  SELECT q_label AS label, count(*) AS n,
       |    coalesce(sum($RrLcm // first_rel), 0) AS rr_sum,
       |    count(*) FILTER (WHERE rel1 > 0) AS h1,
       |    count(*) FILTER (WHERE rel5 > 0) AS h5,
       |    count(*) FILTER (WHERE relk > 0) AS hk,
       |    sum(dcg) AS dcg_sum, sum(idcg) AS idcg_sum
       |  FROM pq GROUP BY 1)
       |SELECT CAST(label AS BIGINT) AS label, CAST(n AS BIGINT) AS n_queries,
       |  CAST(rr_sum * 1000000 // ($RrLcm * n) AS BIGINT) AS mrr_ppm,
       |  CAST(h1 * 1000000 // n AS BIGINT) AS hit1_ppm,
       |  CAST(h5 * 1000000 // n AS BIGINT) AS hit5_ppm,
       |  CAST(hk * 1000000 // n AS BIGINT) AS hit${RecallK}_ppm,
       |  CAST(CASE WHEN idcg_sum > 0 THEN
       |    CAST(dcg_sum AS HUGEINT) * 1000000 // idcg_sum END AS BIGINT)
       |    AS ndcg_ppm
       |FROM g ORDER BY label""".stripMargin

  // --- IVF probe-width sweep (q195) ----------------------------------------

  /** Widest probe the sweep evaluates (nprobe = 1..[[SweepMaxProbe]]). */
  private val SweepMaxProbe = 4

  /** q195: IVF PROBE-WIDTH SWEEP — the tuning dial q106 leaves implicit:
    * q106 audits recall at ONE index configuration; this publishes the
    * whole recall/cost frontier — for nprobe = 1..[[SweepMaxProbe]]
    * probed cells per query, exact recall@K against exhaustive search
    * AND the exact share of the corpus scanned. The two columns are the
    * axes every ANN capacity plan trades on: a 100 TB deployment reads
    * this table and picks the nprobe where the recall curve flattens.
    *
    * Cell ranking is EXACT-INTEGER: components quantize at 2^20 (the
    * q110/q81 discipline — float·2^20 is exact in double, round is
    * half-away in both engines), cell centroid direction is the integer
    * component-sum vector (same direction as the mean — the 1/n cancels
    * in cosine), dots and norms are exact integer sums, and the only
    * float is one correctly-rounded divide/sqrt per (query, cell) —
    * bit-identical cross-engine. Candidate scoring then reuses the
    * q106 skeleton (bucket-prefiltered per-cell top-K; the global
    * top-K survives per-cell top-K by containment, so rn_all ≤ K is the
    * exact-hit flag). The nested probe sets (cells(1) ⊂ … ⊂ cells(P))
    * make the sweep ONE pass: each candidate explodes to the probe
    * widths that can see it (≤ P bounded rows each), and a per-(query,
    * nprobe) rank window reads the retrieved set.
    *
    * Scale: the query panel is the q106 doubly-bounded broadcast; cell
    * stats are |cells|·dims-sized aggregates; everything after the one
    * corpus scoring pass is (queries · cells · K)-bounded.
    */
  def q195IvfSweep(s: SparkSession, d: String): DataFrame =
    ivfSweep(embeddings(s, d))

  /** The q195 chain over any (vec_id, label, embedding) frame. */
  def ivfSweep(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def big(c: Column): Column = c.cast("decimal(38,0)")
    def quant(c: Column): Column =
      round(c.cast("double") * 1048576, 0).cast("long")
    val q = e.filter(pmod(col("vec_id"), lit(RecallQueryMod)) === 0 &&
        col("vec_id") < lit(RecallQueryMod * RecallMaxQueries))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // integer cell stats: component sums (direction of the centroid),
    // their norm, and member counts — the member count rides the SAME
    // (label, dim) aggregate (every vector contributes one row per dim,
    // so any dim's row count IS the cell population — no separate
    // corpus-scanning count aggregate and join)
    val cellSums = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(sum(quant(col("x"))).as("s"), count(lit(1)).as("nc"))
    val cellNorm = cellSums.groupBy("label")
      .agg(sum(big(col("s")) * big(col("s"))).as("norm2"),
        max(col("nc")).as("n_cell"))
    val qFlat = broadcast(q
      .select(col("q_id"), posexplode(col("q_emb")).as(Seq("dim", "qx")))
      .select(col("q_id"), col("dim"), quant(col("qx")).as("qq")))
    // exact-integer dot per (query, cell); ONE correctly-rounded float
    // per pair for the ordering
    val ranked = qFlat.join(cellSums, Seq("dim"))
      .groupBy("q_id", "label")
      .agg(sum(big(col("qq")) * big(col("s"))).as("dot"))
      .join(cellNorm, Seq("label"))
      .withColumn("cscore", expr(
        """CASE WHEN norm2 > 0
          |  THEN CAST(dot AS DOUBLE) / sqrt(CAST(norm2 AS DOUBLE))
          |  ELSE -2.0 END""".stripMargin))
      .withColumn("cell_rank", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(col("cscore").desc, col("label"))))
      .filter(col("cell_rank") <= SweepMaxProbe)
      .select(col("q_id"), col("label"), col("cell_rank"), col("n_cell"))
      .localCheckpoint(eager = true)
    // candidate scoring: q106 skeleton — per-(query, cell) top-K under
    // the bucket prefilter; rn_all ≤ K is exact by containment
    val ord = Seq(col("sim").desc, col("vec_id").asc)
    val wBucket = Window.partitionBy("q_id", "label", "__b").orderBy(ord: _*)
    val wCell = Window.partitionBy("q_id", "label").orderBy(ord: _*)
    val wAll = Window.partitionBy("q_id").orderBy(ord: _*)
    val cand = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        VectorExpressions.cosine(col("embedding"), col("q_emb")).as("sim"))
      .withColumn("__b", pmod(xxhash64(col("vec_id")), lit(RecallBuckets)))
      .withColumn("__br", row_number().over(wBucket))
      .filter(col("__br") <= RecallK)
      .drop("__b", "__br")
      .withColumn("rn_cell", row_number().over(wCell))
      .filter(col("rn_cell") <= RecallK)
      .withColumn("rn_all", row_number().over(wAll))
    // hits per probe width, from surviving candidates ONLY — a probe
    // width whose probed cells retrieve nothing contributes no row here
    // and must still appear in the sweep with 0 hits, so the output
    // frame is driven from `cost` (below) and LEFT-joins this.
    val perP = cand.join(ranked.drop("n_cell"), Seq("q_id", "label"))
      .withColumn("p", explode(sequence(col("cell_rank"), lit(SweepMaxProbe))))
      .withColumn("rn_p", row_number().over(
        Window.partitionBy("q_id", "p").orderBy(ord: _*)))
      .filter(col("rn_p") <= RecallK)
      .groupBy("p")
      .agg(count_if(col("rn_all") <= RecallK).as("hits"))
    // the per-p spine: `ranked` always has cell_rank=1 per query, so
    // exploding to SweepMaxProbe covers EVERY probe width even when a
    // width retrieves zero candidates (e.g. the query's best cell is
    // its own singleton), so no width's row can drop out.
    val cost = ranked
      .withColumn("p", explode(sequence(col("cell_rank"), lit(SweepMaxProbe))))
      .groupBy("p").agg(sum(col("n_cell")).as("scanned"))
    // denominators come from the panel and the corpus, NOT from
    // surviving candidate rows: an empty-probe query must count as 0
    // hits in recall, not vanish from the denominator.
    val nq = q.agg(count(lit(1)).as("n_queries")).withColumn("__k", lit(1))
    val corpus = e.agg(count(lit(1)).as("n_corpus")).withColumn("__k", lit(1))
    cost.join(perP, Seq("p"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .withColumn("__k", lit(1))
      .join(broadcast(nq), Seq("__k"))
      .join(broadcast(corpus), Seq("__k"))
      .select(col("p").cast("long").as("probe_cells"),
        col("n_queries"), col("hits"),
        expr(s"hits * 1000000 DIV ($RecallK * n_queries)").as("recall_ppm"),
        col("scanned"),
        expr("CAST(CAST(scanned AS DECIMAL(38,0)) * 1000000" +
          " DIV (n_queries * n_corpus) AS BIGINT)").as("scanned_share_ppm"))
      .orderBy("probe_cells")
  }

  val q195Oracle: String =
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb
       |  FROM embeddings WHERE vec_id % $RecallQueryMod = 0
       |    AND vec_id < ${RecallQueryMod * RecallMaxQueries}),
       |corpus AS (SELECT count(*) AS n_corpus FROM embeddings),
       |ce AS (
       |  SELECT label, i AS dim,
       |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT) AS qc
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
       |cs AS (SELECT label, dim, CAST(sum(qc) AS BIGINT) AS s
       |       FROM ce GROUP BY 1, 2),
       |cn AS (SELECT label, sum(CAST(s AS HUGEINT) * s) AS norm2
       |       FROM cs GROUP BY 1),
       |cc AS (SELECT label, count(*) AS n_cell FROM embeddings GROUP BY 1),
       |qv AS (
       |  SELECT q_id, i AS dim,
       |    CAST(round(CAST(q_emb[i] AS DOUBLE) * 1048576) AS BIGINT) AS qq
       |  FROM q, unnest(generate_series(1, len(q_emb))) AS t(i)),
       |dots AS (
       |  SELECT q_id, label, sum(CAST(qq AS HUGEINT) * s) AS dot
       |  FROM qv JOIN cs USING (dim) GROUP BY 1, 2),
       |ranked AS (
       |  SELECT q_id, label,
       |    row_number() OVER (PARTITION BY q_id ORDER BY
       |      CASE WHEN norm2 > 0
       |        THEN CAST(dot AS DOUBLE) / sqrt(CAST(norm2 AS DOUBLE))
       |        ELSE -2.0 END DESC, label) AS cell_rank
       |  FROM dots JOIN cn USING (label)),
       |pr AS (SELECT * FROM ranked WHERE cell_rank <= $SweepMaxProbe),
       |ex AS (
       |  SELECT q.q_id, e.vec_id, e.label,
       |    unnest(e.embedding) AS x, unnest(q.q_emb) AS y
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id),
       |sims AS (
       |  SELECT q_id, vec_id, any_value(label) AS label,
       |    sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS sim
       |  FROM ex GROUP BY q_id, vec_id),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id, label
       |            ORDER BY sim DESC, vec_id) AS rn_cell
       |  FROM sims),
       |r2 AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |            ORDER BY sim DESC, vec_id) AS rn_all
       |  FROM r WHERE rn_cell <= $RecallK),
       |pp AS (
       |  SELECT r2.q_id, r2.vec_id, r2.sim, r2.rn_all, t.p
       |  FROM r2 JOIN pr USING (q_id, label),
       |    unnest(generate_series(pr.cell_rank, $SweepMaxProbe)) AS t(p)),
       |rp AS (
       |  SELECT q_id, p, rn_all,
       |    row_number() OVER (PARTITION BY q_id, p
       |                       ORDER BY sim DESC, vec_id) AS rn_p
       |  FROM pp),
       |h AS (
       |  SELECT p, count(*) FILTER (WHERE rn_all <= $RecallK) AS hits
       |  FROM rp WHERE rn_p <= $RecallK GROUP BY 1),
       |nq AS (SELECT count(*) AS n_queries FROM q),
       |cost AS (
       |  SELECT t.p, sum(cc.n_cell) AS scanned
       |  FROM pr JOIN cc USING (label),
       |    unnest(generate_series(pr.cell_rank, $SweepMaxProbe)) AS t(p)
       |  GROUP BY 1)
       |SELECT CAST(p AS BIGINT) AS probe_cells,
       |  CAST(n_queries AS BIGINT) AS n_queries,
       |  CAST(coalesce(hits, 0) AS BIGINT) AS hits,
       |  CAST(coalesce(hits, 0) * 1000000 // ($RecallK * n_queries) AS BIGINT)
       |    AS recall_ppm,
       |  CAST(scanned AS BIGINT) AS scanned,
       |  CAST(CAST(scanned AS HUGEINT) * 1000000
       |    // (n_queries * n_corpus) AS BIGINT) AS scanned_share_ppm
       |FROM cost LEFT JOIN h USING (p)
       |  CROSS JOIN nq CROSS JOIN corpus ORDER BY 1""".stripMargin

  // --- Embedding norm spectrum (q110) -------------------------------------

  /** q110: EMBEDDING NORM SPECTRUM — numeric-health audit of the vector
    * column: the q100 power-of-two banding applied to each embedding's
    * squared L2 norm. Collapsed or exploding norms are the classic
    * signatures of a broken encoder export, a bad normalization pass, or
    * zero-filled rows from a failed decode — any of which silently
    * poisons cosine-based dedup (q42/q77) and ANN (q24/q25) long before
    * accuracy metrics notice. Bands of the EXACT integer-quantized norm
    * ([[graft.functions.VectorExpressions.QuantNormSq]] — components
    * scaled 2^20, rounded half-away-from-zero, squared and summed as
    * longs) make the table bit-identical across engines: no float sum,
    * no libm log.
    *
    * Scale shape: one embeddings scan through a compiled kernel, one
    * vector-sized aggregate to ≤ 64 bands (the distinct-label count
    * rides the same aggregate), share denominators window over the band
    * frame. Identical skeleton to q100/q108 — the spectrum operator
    * generalizing across a third axis (vocabulary, users, vectors).
    */
  def q110NormSpectrum(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    embeddings(s, d)
      .select(col("label"),
        VectorExpressions.quantNormSq(col("embedding")).as("norm2"))
      .groupBy(length(bin(col("norm2"))).cast("long").as("band"))
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("label")).as("n_labels"),
        min("norm2").as("min_q2"), max("norm2").as("max_q2"))
      .withColumn("share_ppm",
        expr("CAST(n_vecs AS DECIMAL(38,0)) * 1000000 div " +
          "sum(n_vecs) OVER ()").cast("long"))
      .select(col("band"), col("n_vecs"), col("n_labels"),
        col("min_q2"), col("max_q2"), col("share_ppm"))
      .orderBy(col("band").desc)
  }

  val q110Oracle: String =
    """WITH ex AS (
      |  SELECT vec_id, label,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS qc
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, any_value(label) AS label,
      |    CAST(sum(qc * qc) AS BIGINT) AS norm2
      |  FROM ex GROUP BY vec_id),
      |b AS (
      |  SELECT CAST(length(bin(norm2)) AS BIGINT) AS band, count(*) AS n_vecs,
      |    count(DISTINCT label) AS n_labels,
      |    min(norm2) AS min_q2, max(norm2) AS max_q2
      |  FROM n GROUP BY 1)
      |SELECT band, n_vecs, n_labels, min_q2, max_q2,
      |  CAST(CAST(n_vecs AS HUGEINT) * 1000000
      |       // sum(n_vecs) OVER () AS BIGINT) AS share_ppm
      |FROM b ORDER BY band DESC""".stripMargin

  // --- Multi-round BPE trainer (q109) -------------------------------------

  /** Merge rounds the trainer unrolls (the learned merge table size). */
  private[queries] val BpeTrainRounds = 3

  /** q109: BPE TRAINER — q98 closed into the actual training loop: per
    * round, count adjacent-symbol pair weights over the word-type table,
    * pick the best pair (weight DESC, then lexicographic — a total
    * order), APPLY the merge greedy-leftmost-non-overlapping (the
    * classic algorithm's semantics: in `aaaa`, `a·a` merges at
    * positions 1 and 3, never 2), and repeat on the rewritten symbol
    * table. The output is the merge-rule table itself — the artifact a
    * BPE tokenizer ships.
    *
    * The sequential-looking greedy application is one string rewrite
    * ([[bpeMerge]]): each type's symbols live in one space-joined `seq`,
    * and a boundary-anchored regex scan over it matches left to right
    * without overlap — exactly leftmost non-overlapping.
    *
    * Scale shape: the corpus collapses to the word-type table
    * ([[bpeTypes]], q98's observation — types, not tokens) in the FIRST
    * aggregate, snapshotted once (eager localCheckpoint); it stays
    * distributed and vocabulary-sized. Each round then runs ONE pair
    * aggregate over it ([[bpePairWeights]]; two jobs under AQE), and the
    * 1-row best pair comes to the driver exactly like a production
    * trainer holds its merge table (the oracle selects the same row via
    * scalar CTEs — identical because the selection order is total). The
    * merge itself is a lazy, narrow `regexp_replace` on `seq`: no
    * window, no shuffle, no snapshot, so round r re-applies the r − 1
    * earlier rewrites to the snapshot's rows. That is cheap while the
    * rounds are the fixed [[BpeTrainRounds]]; the bounded driver loop is
    * the plan, not a scaling hazard.
    */
  def q109BpeTrain(s: SparkSession, d: String): DataFrame =
    bpeTrain(docs = documents(s, d))

  /** Core of q109 over any frame with a `text` column — see q109 scaladoc. */
  private[queries] def bpeTrain(docs: DataFrame): DataFrame =
    Snapshots.using(bpeTypes(docs))(types => bpeTrainCore(types)._1)

  /** The trainer loop over a type table `(w, f, seq)`, returning BOTH
    * artifacts: the merge-rule table (q109's output, a driver-side
    * frame) and the final type table, its `seq` rewritten by every merge
    * — which IS the encoded corpus at word-type granularity (q118
    * aggregates it). The final table is a lazy plan over `types`, so the
    * caller keeps `types` alive while it reads that table.
    */
  private[queries] def bpeTrainCore(types: DataFrame): (DataFrame, DataFrame) = {
    import types.sparkSession.implicits._
    val merges = Seq.newBuilder[(Long, String, String, Long, Long)]
    var state = types
    var r = 1
    var exhausted = false
    while (r <= BpeTrainRounds && !exhausted) {
      val best = bpePairWeights(state)
        .orderBy(col("weight").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true // degenerate corpus: nothing left to merge
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((r.toLong, a, b, best(0).getLong(2), best(0).getLong(3)))
        state = state.withColumn("seq", bpeMerge(col("seq"), a, b))
        r += 1
      }
    }
    (merges.result()
      .toDF("round", "merge_a", "merge_b", "weight", "n_contexts")
      .orderBy("round"),
      state)
  }

  /** The q109 CTE chain: s1 (character symbol table) through
    * s[[BpeTrainRounds]]+1 (final symbols after every merge round), with
    * per-round best-pair CTEs b1..bR. Shared by the q109 (merge table)
    * and q118 (encoded-corpus stats) oracles.
    */
  private def bpeChainSql: String = {
    val init =
      """s1 AS (
        |  SELECT w, f, pos,
        |    CASE WHEN pos <= len(w) THEN w[pos] ELSE '</w>' END AS sym
        |  FROM (
        |    SELECT w, f, unnest(generate_series(1, len(w) + 1)) AS pos
        |    FROM (
        |      SELECT w, count(*) AS f FROM (
        |        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |        FROM documents)
        |      WHERE len(w) >= 1 GROUP BY w)))""".stripMargin
    val rounds = (1 to BpeTrainRounds).map { i =>
      s"""p$i AS (
         |  SELECT w, f, pos, sym,
         |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt,
         |    row_number() OVER (PARTITION BY w ORDER BY pos) AS rn
         |  FROM s$i),
         |b$i AS (
         |  SELECT sym AS a, nxt AS b, CAST(sum(f) AS BIGINT) AS weight,
         |    count(*) AS n_contexts
         |  FROM p$i WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  ORDER BY weight DESC, a, b LIMIT 1),
         |m$i AS (
         |  SELECT p.*, b.a, b.b, (p.sym = b.a AND p.nxt = b.b) AS elig
         |  FROM p$i p CROSS JOIN b$i b),
         |k$i AS (
         |  SELECT *, CASE WHEN elig THEN rn -
         |      row_number() OVER (PARTITION BY w, elig ORDER BY rn) END AS isl
         |  FROM m$i),
         |t$i AS (
         |  SELECT *, elig AND (row_number()
         |      OVER (PARTITION BY w, isl ORDER BY rn) % 2 = 1) AS take
         |  FROM k$i),
         |s${i + 1} AS (
         |  SELECT w, f, pos,
         |    CASE WHEN take THEN a || b ELSE sym END AS sym
         |  FROM (SELECT *, lag(take) OVER (PARTITION BY w ORDER BY rn)
         |          AS prev_take FROM t$i)
         |  WHERE NOT coalesce(prev_take, FALSE))""".stripMargin
    }
    s"""$init,
       |${rounds.mkString(",\n")}""".stripMargin
  }

  val q109Oracle: String = {
    val out = (1 to BpeTrainRounds)
      .map(i => s"SELECT CAST($i AS BIGINT) AS round, a AS merge_a, " +
        s"b AS merge_b, weight, n_contexts FROM b$i")
      .mkString("\n      UNION ALL ")
    s"""WITH $bpeChainSql
       |$out
       |ORDER BY round""".stripMargin
  }

  // --- BPE encoding stats (q118) ------------------------------------------

  private val BpeEncodeTopK = 20L

  /** q118: BPE ENCODING — the apply side of the q109 trainer, closing
    * the tokenizer loop: after the learned merge table is applied to the
    * word-type table (greedy leftmost-non-overlapping per round — the
    * exact semantics a shipped BPE encoder runs), the final symbol
    * table IS the encoded corpus at word-type granularity. The output is
    * the encoder's working vocabulary profile: the [[BpeEncodeTopK]]
    * highest-mass symbols with exact corpus token frequency (type
    * frequency × occurrences within type) and the count of word types
    * containing them — merged symbols ranking above their constituent
    * characters is the visible proof the merges took effect.
    *
    * Scale shape: everything after the first aggregate is
    * vocabulary-sized (the q98/q109 observation — types, not tokens).
    * The q109 trainer runs on the type-table snapshot (one pair aggregate
    * per round); its merges stay lazy `seq` rewrites, so the result's
    * plan reads the snapshot through the rounds' narrow rewrites and
    * owns it. The final rollup explodes each type's symbols and
    * collapses (type × symbol) rows to the symbol vocabulary with
    * map-side partials, and top-k is a bounded TakeOrderedAndProject.
    * Total order (corpus_freq DESC, sym).
    */
  def q118BpeEncode(s: SparkSession, d: String): DataFrame = {
    val (_, state) = bpeTrainCore(
      bpeTypes(documents(s, d)).localCheckpoint(eager = true))
    state.select(col("w"), col("f"), explode(split(col("seq"), " ")).as("sym"))
      .groupBy("sym")
      .agg(sum("f").as("corpus_freq"), countDistinct("w").as("n_types"))
      .orderBy(col("corpus_freq").desc, col("sym"))
      .limit(BpeEncodeTopK.toInt)
      .withColumn("rank", row_number()
        .over(Window.partitionBy(lit(1))
          .orderBy(col("corpus_freq").desc, col("sym"))).cast("long"))
      .select(col("rank"), col("sym"),
        length(col("sym")).cast("long").as("sym_len"),
        col("corpus_freq"), col("n_types"))
      .orderBy("rank")
  }

  val q118Oracle: String =
    s"""WITH $bpeChainSql,
       |enc AS (
       |  SELECT sym, CAST(sum(f) AS BIGINT) AS corpus_freq,
       |    count(DISTINCT w) AS n_types
       |  FROM s${BpeTrainRounds + 1} GROUP BY 1),
       |r AS (
       |  SELECT *, row_number() OVER (ORDER BY corpus_freq DESC, sym) AS rank
       |  FROM enc)
       |SELECT CAST(rank AS BIGINT) AS rank, sym,
       |  CAST(length(sym) AS BIGINT) AS sym_len, corpus_freq, n_types
       |FROM r WHERE rank <= $BpeEncodeTopK ORDER BY rank""".stripMargin

  // --- Corpus datasheet (q120) --------------------------------------------

  /** q120: CORPUS DATASHEET — the per-source "model card for data" a
    * release pipeline publishes with every snapshot (Datasheets for
    * Datasets, run as a query): volume (docs, tokens), exact-duplicate
    * mass (64-bit content hashes — the q26 discipline, oracle-certified
    * collision-free against raw text), language spread (distinct
    * languages, argmax language and its exact ppm share), and the
    * quality-classifier pass rate (the q78 model — shared definition,
    * so the datasheet can never drift from the filter it describes).
    *
    * Scale shape: ONE corpus scan computes a per-document stats frame
    * (token count and logit from the exploded pass; content hash,
    * source, lang carried through the doc-level aggregate), materialized
    * once (eager localCheckpoint — doc-cardinality rows of fixed-width
    * scalars, the corpus-stats table every warehouse keeps anyway).
    * Everything else — totals + distinct-hash dedup + language distinct
    * riding ONE source-level aggregate, argmax language from a
    * (source, lang)-sized re-agg — reads that frame, never the corpus.
    */
  def q120Datasheet(s: SparkSession, d: String): DataFrame = {
    val docStats = documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"),
        xxhash64(col("text")).as("h"), explode(toks(col("text"))).as("token"))
      .select(col("doc_id"), col("source"), col("lang"), col("h"),
        tokenWeight.as("w"))
      .groupBy("doc_id")
      .agg(any_value(col("source")).as("source"),
        any_value(col("lang")).as("lang"),
        any_value(col("h")).as("h"),
        count(lit(1)).as("n_toks"),
        sum(col("w")).as("logit"))
      .localCheckpoint(eager = true)
    val tot = docStats.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        countDistinct(col("h")).as("n_distinct_hash"),
        countDistinct(col("lang")).as("n_langs"),
        count_if(col("logit") >= 0).as("n_keep"))
    val wLang = Window.partitionBy("source")
      .orderBy(col("lcnt").desc, col("lang"))
    val topLang = docStats.groupBy("source", "lang")
      .agg(count(lit(1)).as("lcnt"))
      .withColumn("r", row_number().over(wLang))
      .filter(col("r") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("lcnt"))
    tot.join(topLang, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_docs") - col("n_distinct_hash")).as("dup_docs"),
        expr("CAST(n_docs - n_distinct_hash AS DECIMAL(38,0)) * 1000000 div n_docs")
          .cast("long").as("dup_ppm"),
        col("n_langs"), col("top_lang"),
        expr("CAST(lcnt AS DECIMAL(38,0)) * 1000000 div n_docs")
          .cast("long").as("top_lang_ppm"),
        expr("CAST(n_keep AS DECIMAL(38,0)) * 1000000 div n_docs")
          .cast("long").as("keep_ppm"))
      .orderBy("source")
  }

  val q120Oracle: String = {
    import graft.functions.PolyHash
    s"""WITH t AS (
       |  SELECT doc_id, source, lang, text,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
       |  FROM documents),
       |f AS (SELECT doc_id, source, lang, text,
       |    ((${PolyHash.hornerSql("token")} % $QcBuckets) * 37 + 11) % $QcWMod - 10 AS w
       |  FROM t),
       |dl AS (SELECT doc_id, any_value(source) AS source,
       |    any_value(lang) AS lang, any_value(text) AS text,
       |    count(*) AS n_toks, CAST(sum(w) AS BIGINT) AS logit
       |  FROM f GROUP BY doc_id),
       |tot AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |    count(DISTINCT text) AS n_distinct_hash,
       |    count(DISTINCT lang) AS n_langs,
       |    CAST(count_if(logit >= 0) AS BIGINT) AS n_keep
       |  FROM dl GROUP BY source),
       |lc AS (SELECT source, lang, count(*) AS lcnt FROM dl GROUP BY 1, 2),
       |tl AS (SELECT source, lang AS top_lang, lcnt FROM (
       |    SELECT *, row_number() OVER (PARTITION BY source
       |        ORDER BY lcnt DESC, lang) AS r FROM lc) WHERE r = 1)
       |SELECT t.source, t.n_docs, t.n_tokens,
       |  t.n_docs - t.n_distinct_hash AS dup_docs,
       |  CAST(CAST(t.n_docs - t.n_distinct_hash AS HUGEINT) * 1000000
       |       // t.n_docs AS BIGINT) AS dup_ppm,
       |  t.n_langs, l.top_lang,
       |  CAST(CAST(l.lcnt AS HUGEINT) * 1000000 // t.n_docs AS BIGINT)
       |    AS top_lang_ppm,
       |  CAST(CAST(t.n_keep AS HUGEINT) * 1000000 // t.n_docs AS BIGINT)
       |    AS keep_ppm
       |FROM tot t JOIN tl l USING (source)
       |ORDER BY t.source""".stripMargin
  }

  // --- Boilerplate n-gram audit (q111) ------------------------------------

  private val BoilerShingleN = 5
  private val BoilerMinDf    = 2L

  /** q111: BOILERPLATE N-GRAM AUDIT — the C4/RefinedWeb boilerplate
    * detector run as a per-source profile: a [[BoilerShingleN]]-token
    * shingle that recurs across ≥ [[BoilerMinDf]] DISTINCT documents of
    * the same source is navigation chrome, a cookie banner, a footer —
    * template text, not content. The audit reports, per source, how much
    * of the corpus that template mass is: distinct boilerplate shingle
    * types, documents touched (and their exact ppm share), total
    * (doc, shingle) incidences, and the worst shingle's document
    * frequency. Downstream, the flagged shingles are exactly the removal
    * list a C4-style line-dedup pass consumes.
    *
    * Shape (de-sorted): gram document frequencies come from a
    * `groupBy(source, g)` — a pure HASH exchange with map-side partial
    * aggregation — and the (doc, gram) incidence stream is then joined
    * back to the df≥[[BoilerMinDf]] gram set with a SHUFFLE_HASH hint,
    * so no stage ever sorts the corpus-sized shingle stream. (A
    * `count().over(Window.partitionBy(source, g))` formulation would drag
    * a corpus-sized SORT into the window exchange — at 100 TB that sort,
    * not the hash, is the bottleneck.) The price: the
    * tokenize/shingle/explode subtree is evaluated twice (df side + probe
    * side) — doubled map CPU bought zero corpus-wide sort/spill, the
    * right trade at scale where sorts spill and CPU scales with
    * executors. The hash build side is the df-guarded gram TYPE set
    * (template mass only), orders of magnitude below shingle volume.
    * Per-source doc totals come straight off the documents table
    * (column-pruned scan of `source` only) and join the audit at sources
    * cardinality.
    *
    * 100 TB: "source" is a registered domain (cardinality 10⁷⁺), so the
    * (source, shingle) partitioning is fine-grained and skew-free; the
    * rollup input after the df guard is boilerplate incidences only.
    * Fixture sources are 10–20 values, fine at test scale. Ppm
    * arithmetic is decimal(38,0) integer division — hash-exact.
    */
  def q111Boilerplate(s: SparkSession, d: String): DataFrame =
    boilerplateAudit(documents(s, d))

  /** Core of q111 over any frame with (doc_id, source, text) — see the
    * q111 scaladoc. */
  private[queries] def boilerplateAudit(docs: DataFrame): DataFrame = {
    val t = toks(lower(col("text")))
    val grams = graft.functions.MinHash.shingles(t, BoilerShingleN)
    val pairs = docs.select(col("source"), col("doc_id"), explode(grams).as("g"))
    val boiler = pairs.groupBy("source", "g")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= BoilerMinDf)
    val audit = pairs.join(boiler.hint("shuffle_hash"), Seq("source", "g"))
      .groupBy("source")
      .agg(
        countDistinct(col("g")).as("n_boiler_grams"),
        countDistinct(col("doc_id")).as("n_docs_affected"),
        count(lit(1)).as("incidences"),
        max(col("df")).as("max_df"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(audit, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_boiler_grams"), lit(0L)).as("n_boiler_grams"),
        coalesce(col("n_docs_affected"), lit(0L)).as("n_docs_affected"),
        coalesce(col("incidences"), lit(0L)).as("incidences"),
        coalesce(col("max_df"), lit(0L)).as("max_df"))
      .withColumn("affected_ppm",
        expr("CAST(n_docs_affected AS DECIMAL(38,0)) * 1000000 div n_docs")
          .cast("long"))
      .orderBy("source")
  }

  val q111Oracle: String = {
    val n = BoilerShingleN
    val joins = (1 until n).map(j => s"t[i + $j]").mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT source, doc_id,
       |    unnest(list_distinct(list_transform(
       |      generate_series(1, len(t) - ${n - 1}),
       |      i -> t[i] || ' ' || $joins))) AS g
       |  FROM t WHERE len(t) >= $n),
       |dfx AS (SELECT source, g, count(*) AS df FROM sh GROUP BY 1, 2),
       |boiler AS (SELECT source, g, df FROM dfx WHERE df >= $BoilerMinDf),
       |tot AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
       |aff AS (
       |  SELECT sh.source,
       |    count(DISTINCT sh.g) AS n_boiler_grams,
       |    count(DISTINCT sh.doc_id) AS n_docs_affected,
       |    count(*) AS incidences,
       |    max(b.df) AS max_df
       |  FROM sh JOIN boiler b ON b.source = sh.source AND b.g = sh.g
       |  GROUP BY 1)
       |SELECT t.source, t.n_docs,
       |  coalesce(a.n_boiler_grams, 0) AS n_boiler_grams,
       |  coalesce(a.n_docs_affected, 0) AS n_docs_affected,
       |  coalesce(a.incidences, 0) AS incidences,
       |  coalesce(a.max_df, 0) AS max_df,
       |  CAST(CAST(coalesce(a.n_docs_affected, 0) AS HUGEINT) * 1000000
       |       // t.n_docs AS BIGINT) AS affected_ppm
       |FROM tot t LEFT JOIN aff a USING (source)
       |ORDER BY source""".stripMargin
  }

  // --- Late-interaction retrieval (q112) ----------------------------------

  /** Query "documents" for q112: the first [[MaxSimQVecs]] vectors (by
    * vec_id) of each of these labels act as multi-vector queries.
    */
  private val MaxSimQLabels = Seq(0, 1, 2)
  private val MaxSimQVecs   = 8

  /** q112: LATE-INTERACTION RETRIEVAL (ColBERT-style MaxSim) — the
    * multi-vector retrieval operator single-vector ANN (q24/q25/q43)
    * cannot express: a query is a SET of token vectors, a candidate is a
    * SET of token vectors (here: a label's vectors), and the score is
    * Σ_{q ∈ query} max_{d ∈ candidate} ⟨q, d⟩ — each query token aligns
    * with its best-matching candidate token independently. Scores are
    * the exact integer-quantized dot
    * ([[graft.functions.VectorExpressions.QuantDot]] — both operands
    * quantized ·2^20, products summed as longs), so the score matrix is
    * bit-identical across engines: no float dot, no tie ambiguity.
    *
    * Scale shape: the query set is tiny and bounded
    * (|labels|·[[MaxSimQVecs]] rows) → broadcast; ONE corpus scan
    * computes every (query-vec, candidate-vec) dot in the map stage, and
    * the two-level reduction (max per query-vec × candidate-group, then
    * sum per query-group × candidate-group) collapses to |queries| ×
    * |candidates| rows with map-side partial aggregation — no shuffle
    * ever carries vector payloads, only (ids, long score). The corpus
    * side is never re-partitioned: at 10⁹ candidate groups the result is
    * group-count-sized, and a per-query top-k (not taken here — the
    * score matrix IS the output) would bolt on the q68 bucket prefilter.
    */
  def q112MaxSim(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val wq = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val q = e
      .filter(col("label").isInCollection(MaxSimQLabels))
      .withColumn("qrank", row_number().over(wq))
      .filter(col("qrank") <= MaxSimQVecs)
      .select(col("label").cast("long").as("q_label"),
        col("vec_id").as("q_vec"), col("embedding").as("q_emb"))
    e.crossJoin(broadcast(q))
      .select(col("q_label"), col("q_vec"),
        col("label").cast("long").as("d_label"),
        VectorExpressions.quantDot(col("q_emb"), col("embedding")).as("dot"))
      .groupBy(col("q_label"), col("q_vec"), col("d_label"))
      .agg(max(col("dot")).as("best"))
      .groupBy(col("q_label"), col("d_label"))
      .agg(sum(col("best")).as("maxsim"), count(lit(1)).as("n_qvecs"))
      .orderBy(col("q_label"), col("maxsim").desc, col("d_label"))
  }

  val q112Oracle: String = {
    val labels = MaxSimQLabels.mkString(", ")
    s"""WITH q AS (
       |  SELECT CAST(label AS BIGINT) AS q_label, vec_id AS q_vec,
       |    embedding AS q_emb
       |  FROM (SELECT *, row_number() OVER (PARTITION BY label
       |          ORDER BY vec_id) AS qrank
       |        FROM embeddings WHERE label IN ($labels))
       |  WHERE qrank <= $MaxSimQVecs),
       |dots AS (
       |  SELECT q.q_label, q.q_vec, CAST(e.label AS BIGINT) AS d_label,
       |    e.vec_id AS d_vec,
       |    (SELECT CAST(sum(
       |       CAST(round(CAST(a AS DOUBLE) * 1048576) AS BIGINT)
       |       * CAST(round(CAST(b AS DOUBLE) * 1048576) AS BIGINT)) AS BIGINT)
       |     FROM (SELECT unnest(q.q_emb) AS a, unnest(e.embedding) AS b)) AS dot
       |  FROM embeddings e CROSS JOIN q),
       |best AS (
       |  SELECT q_label, q_vec, d_label, max(dot) AS best
       |  FROM dots GROUP BY 1, 2, 3)
       |SELECT q_label, d_label, CAST(sum(best) AS BIGINT) AS maxsim,
       |  count(*) AS n_qvecs
       |FROM best GROUP BY 1, 2
       |ORDER BY q_label, maxsim DESC, d_label""".stripMargin
  }

  // --- Edit-distance candidate verification (q113) ------------------------

  /** Looser estimator cut than q44's 0.5: q113 deliberately admits
    * borderline candidates so the exact verifier has false positives to
    * reject — the two-stage recall/precision split every production
    * near-dup pipeline runs (LSH for recall, exact distance for
    * precision). 0.25 is a multiple of 1/64, so the cut is dyadic-exact
    * on both engines.
    */
  private val EditVerifyMinEst = 0.25
  private val EditVerifySimPpm = 800000L

  /** q113: EDIT-DISTANCE VERIFICATION — the exact-precision stage after
    * LSH recall: every candidate pair the q44 banding machinery emits
    * (at the looser [[EditVerifyMinEst]] cut) is re-scored with true
    * character-level Levenshtein distance, and `verified` marks pairs
    * whose exact similarity `(max_len − dist) / max_len` clears
    * [[EditVerifySimPpm]]. MinHash estimates Jaccard over bigram SETS —
    * it cannot see ordering or repetition; edit distance can, so this is
    * the stage that kills the estimator's false positives before a purge
    * (q72) acts on them. Both engines run classic unit-cost Levenshtein
    * (`levenshtein()` builtins), and similarity is integer-ppm — exact.
    *
    * Scale shape: candidate pairs ≪ corpus (banding + bucket guard
    * bound them), so texts are fetched by ONE corpus scan map-side
    * semi-joined against the broadcast pair list exploded to (pair,
    * role, id) — never a corpus shuffle, never a second scan — then a
    * pair-keyed aggregate reassembles (text_a, text_b) and the O(len²)
    * verifier runs data-parallel over pairs. At 100 TB the verifier's
    * cost is |candidates| · len² — independent of corpus size, the
    * whole point of verifying AFTER banding.
    */
  def q113EditVerify(s: SparkSession, d: String): DataFrame = {
    import graft.functions.MinHash
    val docs = documents(s, d)
      .filter(col("lang") === "en")
    val pairs = MinHash.candidatePairs(
        docs.select(col("doc_id"), toks(col("text")).as("tokens")),
        "doc_id", "tokens", shingleN = 2, k = 64, nBands = 8,
        minJaccard = EditVerifyMinEst, maxBucket = 100, portable = true)
      .select(col("id_a"), col("id_b"))
    val roles = pairs.select(
      explode(array(
        struct(col("id_a").as("doc_id"), lit("a").as("role"),
          col("id_a").as("id_a"), col("id_b").as("id_b")),
        struct(col("id_b").as("doc_id"), lit("b").as("role"),
          col("id_a").as("id_a"), col("id_b").as("id_b")))).as("r"))
      .select(col("r.doc_id"), col("r.role"), col("r.id_a"), col("r.id_b"))
    docs.select(col("doc_id"), col("text"))
      .join(broadcast(roles), Seq("doc_id"))
      .groupBy("id_a", "id_b")
      .agg(
        max(when(col("role") === "a", col("text"))).as("text_a"),
        max(when(col("role") === "b", col("text"))).as("text_b"))
      .select(col("id_a"), col("id_b"),
        length(col("text_a")).cast("long").as("len_a"),
        length(col("text_b")).cast("long").as("len_b"),
        levenshtein(col("text_a"), col("text_b")).cast("long").as("edit_dist"))
      .withColumn("sim_ppm",
        expr("CAST(greatest(len_a, len_b) - edit_dist AS DECIMAL(38,0)) " +
          "* 1000000 div greatest(len_a, len_b)").cast("long"))
      .withColumn("verified", col("sim_ppm") >= EditVerifySimPpm)
      .orderBy("id_a", "id_b")
  }

  val q113Oracle: String =
    s"""WITH $lshPairChainSql,
       |cand2 AS (SELECT id_a, id_b FROM est
       |          WHERE est_jaccard >= $EditVerifyMinEst),
       |tx AS (
       |  SELECT c.id_a, c.id_b, da.text AS text_a, db.text AS text_b
       |  FROM cand2 c
       |  JOIN documents da ON da.doc_id = c.id_a
       |  JOIN documents db ON db.doc_id = c.id_b),
       |v AS (
       |  SELECT id_a, id_b,
       |    CAST(length(text_a) AS BIGINT) AS len_a,
       |    CAST(length(text_b) AS BIGINT) AS len_b,
       |    CAST(levenshtein(text_a, text_b) AS BIGINT) AS edit_dist
       |  FROM tx)
       |SELECT id_a, id_b, len_a, len_b, edit_dist,
       |  CAST(CAST(greatest(len_a, len_b) - edit_dist AS HUGEINT) * 1000000
       |       // greatest(len_a, len_b) AS BIGINT) AS sim_ppm,
       |  (CAST(CAST(greatest(len_a, len_b) - edit_dist AS HUGEINT) * 1000000
       |       // greatest(len_a, len_b) AS BIGINT) >= $EditVerifySimPpm)
       |    AS verified
       |FROM v ORDER BY id_a, id_b""".stripMargin

  // --- Per-source adaptive quality cutoff (q114) --------------------------

  /** q114: ADAPTIVE QUALITY CUTOFF — per-source dynamic thresholds, the
    * production refinement of global quality filtering (q78's fixed
    * `logit ≥ 0`): each source keeps its own top 75% by classifier
    * score, so a uniformly-weaker source is trimmed against ITSELF
    * rather than annihilated by a global bar (and a strong source still
    * sheds its worst quartile). The threshold is the exact lower
    * quartile — the logit at ascending rank ⌈n/4⌉ — and the report per
    * source is (docs, threshold, docs strictly below it, exact ppm drop
    * rate). Ties at the threshold stay IN (strictly-below semantics), so
    * drop_ppm < 250 000 exactly when the threshold value is tied — the
    * kind of boundary the integer formulation makes bit-reproducible.
    *
    * Scale shape: the q78 scoring pass (explode → codegen'd weights →
    * per-doc integer sum) collapses immediately to a per-(source, logit)
    * HISTOGRAM — the q50/q59 exact-quantile discipline: quantile
    * selection and below-threshold mass both come from a running sum
    * over the histogram (rows = source × distinct logits, thousands of
    * rows where a per-doc sort would be billions), so no doc-level sort,
    * no percentile buffer, no second scoring pass. The only doc-level
    * shuffle is the scoring aggregate itself.
    */
  def q114AdaptiveCutoff(s: SparkSession, d: String): DataFrame = {
    val wCum = Window.partitionBy("source").orderBy("logit")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSrc = Window.partitionBy("source")
    qualityLogits(documents(s, d))
      .groupBy("source", "logit").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n_docs", sum("cnt").over(wSrc))
      .withColumn("target", expr("(n_docs + 3) div 4"))
      .filter(col("cum") >= col("target") &&
        col("cum") - col("cnt") < col("target"))
      .select(col("source"), col("n_docs"),
        col("logit").as("thr_logit"),
        (col("cum") - col("cnt")).as("n_dropped"),
        expr("CAST((cum - cnt) AS DECIMAL(38,0)) * 1000000 div n_docs")
          .cast("long").as("drop_ppm"))
      .orderBy("source")
  }

  val q114Oracle: String = {
    import graft.functions.PolyHash
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
       |  FROM documents),
       |f AS (SELECT doc_id, source,
       |    ((${PolyHash.hornerSql("token")} % $QcBuckets) * 37 + 11) % $QcWMod - 10 AS w
       |  FROM t),
       |dl AS (SELECT doc_id, source, CAST(sum(w) AS BIGINT) AS logit
       |       FROM f GROUP BY doc_id, source),
       |h AS (SELECT source, logit, count(*) AS cnt FROM dl GROUP BY 1, 2),
       |c AS (SELECT source, logit, cnt,
       |    sum(cnt) OVER (PARTITION BY source ORDER BY logit
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(cnt) OVER (PARTITION BY source) AS n_docs
       |  FROM h),
       |x AS (SELECT *, (n_docs + 3) // 4 AS target FROM c)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, logit AS thr_logit,
       |  CAST(cum - cnt AS BIGINT) AS n_dropped,
       |  CAST(CAST(cum - cnt AS HUGEINT) * 1000000 // n_docs AS BIGINT)
       |    AS drop_ppm
       |FROM x WHERE cum >= target AND cum - cnt < target
       |ORDER BY source""".stripMargin
  }

  // --- Hard-negative mining (q115) ----------------------------------------

  private val HnPerCell = 10L

  /** q115: HARD-NEGATIVE MINING — the contrastive-training data op: the
    * pairs an embedding model most needs to see are SAME-CELL (the
    * space already confuses them) but DIFFERENT-LABEL (it shouldn't).
    * Within each q77/q81 cell, every cross-label pair is scored with the
    * exact integer-quantized dot ([[graft.functions.VectorExpressions.QuantDot]])
    * and the [[HnPerCell]] hardest (highest-dot) pairs per cell are
    * reported — bounded output even on a pathological corpus.
    *
    * Scale shape: assignment is the q77/q81 broadcast-argmax pass (same
    * centroid set — the mined negatives correspond to the cells the
    * dedup/training loop actually maintains); the pairwise stage is
    * quadratic only within a cell with the same cell-size guard as q77,
    * and the per-cell top-k rides the (cell) partitioning the self-join
    * already hashed on — one exchange chain, never a global sort. Label
    * rides the assignment's existing max_by struct (no corpus re-join).
    */
  def q115HardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cents = semCentroids(e)
    val assigned = assignCells(e, cents, keep = Seq("label"))
      .withColumn("csz", count(lit(1)).over(Window.partitionBy("cell_id")))
      .filter(col("csz") > 1 && col("csz") <= SemDedupMaxCell)
    val a = assigned.select(col("cell_id"), col("vec_id").as("vec_a"),
      col("label").as("label_a"), col("embedding").as("emb_a"))
    val b = assigned.select(col("cell_id"), col("vec_id").as("vec_b"),
      col("label").as("label_b"), col("embedding").as("emb_b"))
    val wCell = Window.partitionBy("cell_id")
      .orderBy(col("dot").desc, col("vec_a"), col("vec_b"))
    a.join(b, Seq("cell_id"))
      .filter(col("vec_a") < col("vec_b") && col("label_a") =!= col("label_b"))
      .select(col("cell_id"), col("vec_a"), col("vec_b"),
        col("label_a").cast("long").as("label_a"),
        col("label_b").cast("long").as("label_b"),
        VectorExpressions.quantDot(col("emb_a"), col("emb_b")).as("dot"))
      .withColumn("rank", row_number().over(wCell).cast("long"))
      .filter(col("rank") <= HnPerCell)
      .select(col("cell_id"), col("rank"), col("vec_a"), col("vec_b"),
        col("label_a"), col("label_b"), col("dot"))
      .orderBy("cell_id", "rank")
  }

  val q115Oracle: String =
    s"""WITH $cellAssignCtes,
       |lab AS (SELECT a.vec_id, a.cell_id, e.label, e.embedding
       |        FROM assigned a JOIN embeddings e USING (vec_id)),
       |live AS (SELECT cell_id FROM lab GROUP BY 1
       |         HAVING count(*) > 1 AND count(*) <= $SemDedupMaxCell),
       |m AS (SELECT lab.* FROM lab JOIN live USING (cell_id)),
       |p AS (SELECT a.cell_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |        CAST(a.label AS BIGINT) AS label_a,
       |        CAST(b.label AS BIGINT) AS label_b,
       |        a.embedding AS ea, b.embedding AS eb
       |      FROM m a JOIN m b ON a.cell_id = b.cell_id
       |        AND a.vec_id < b.vec_id AND a.label <> b.label),
       |px AS (SELECT cell_id, vec_a, vec_b, label_a, label_b,
       |         unnest(ea) AS x, unnest(eb) AS y FROM p),
       |dots AS (SELECT cell_id, vec_a, vec_b, label_a, label_b,
       |    CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)
       |             * CAST(round(CAST(y AS DOUBLE) * 1048576) AS BIGINT))
       |         AS BIGINT) AS dot
       |  FROM px GROUP BY 1, 2, 3, 4, 5),
       |r AS (SELECT *, row_number() OVER (PARTITION BY cell_id
       |        ORDER BY dot DESC, vec_a, vec_b) AS rank
       |      FROM dots)
       |SELECT CAST(cell_id AS BIGINT) AS cell_id, CAST(rank AS BIGINT) AS rank,
       |  vec_a, vec_b, label_a, label_b, dot
       |FROM r WHERE rank <= $HnPerCell ORDER BY cell_id, rank""".stripMargin

  // --- Unigram surprisal banding (q121) -----------------------------------

  /** q121: UNIGRAM SURPRISAL BANDING — the CCNet/KenLM perplexity-bucket
    * filter (Wenzek et al. 2020 split web text into head/middle/tail by
    * LM perplexity before training) run with an exact integer score. A
    * token's unigram surprisal is −log2 p(w) = log2 N − log2 c(w); since
    * log2 N is corpus-constant, banding documents by their MEAN token
    * frequency band bitlen(c) = floor(log2 c)+1 (exact via
    * `length(bin(c))` — the q100 discipline, never a libm log that could
    * misband counts adjacent to 2^k) produces the identical ordering and
    * the identical head/middle/tail split. A doc scores the exact
    * milli-mean of its tokens' bands (`sum·1000 div n`); the corpus
    * rolls up per whole band: docs, token volume, the min/max milli-mean
    * inside the band, and the band's doc share in ppm. Low bands = docs
    * made of rare types (OCR noise, gibberish, encoding damage); top
    * bands = docs of only the commonest types (boilerplate, template
    * chrome) — both tails are exactly what the CCNet bucket filter cuts.
    *
    * Scale shape: the token stream is scanned twice rather than
    * materialized — pass 1 builds the vocabulary (token counts with
    * map-side partials; the ONLY vocabulary-sized shuffle), pass 2
    * re-explodes and joins the stream to the vocabulary on the token key
    * (both sides hash-partitioned by token; no window over a token's
    * document list, which for a head token like "the" would single-
    * partition a billion rows). Caching the exploded stream to save the
    * re-scan would materialize a corpus-sized intermediate — strictly
    * worse at 100 TB than a second columnar scan of one string column.
    * The per-doc rollup is the second (doc-keyed) shuffle; the band
    * rollup is ≤ 64 rows with the ppm denominator a window over that
    * tiny frame.
    */
  def q121Surprisal(s: SparkSession, d: String): DataFrame = {
    def tokStream = documents(s, d)
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
    val vocab = tokStream.groupBy("w").agg(count(lit(1)).as("c"))
      .select(col("w"), length(bin(col("c"))).cast("long").as("fb"))
    tokStream.join(vocab, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("fb").as("sum_fb"))
      .select(col("n_toks"),
        expr("sum_fb * 1000L div n_toks").as("milli_band"))
      .groupBy(expr("milli_band div 1000").as("band"))
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
        min("milli_band").as("min_milli"), max("milli_band").as("max_milli"))
      .withColumn("doc_share_ppm",
        expr("CAST(n_docs AS DECIMAL(38,0)) * 1000000 div " +
          "sum(n_docs) OVER ()").cast("long"))
      .orderBy("band")
  }

  val q121Oracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |  FROM documents),
      |v AS (SELECT w, CAST(length(bin(count(*))) AS BIGINT) AS fb
      |      FROM t GROUP BY w),
      |dl AS (SELECT doc_id, count(*) AS n_toks,
      |    CAST(sum(fb) * 1000 // count(*) AS BIGINT) AS milli_band
      |  FROM t JOIN v USING (w) GROUP BY doc_id),
      |b AS (SELECT milli_band // 1000 AS band, count(*) AS n_docs,
      |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
      |    min(milli_band) AS min_milli, max(milli_band) AS max_milli
      |  FROM dl GROUP BY 1)
      |SELECT band, n_docs, n_tokens, min_milli, max_milli,
      |  CAST(CAST(n_docs AS HUGEINT) * 1000000
      |       // sum(n_docs) OVER () AS BIGINT) AS doc_share_ppm
      |FROM b ORDER BY band""".stripMargin

  // --- Quality-signal agreement (q122) ------------------------------------

  /** q122: QUALITY-SIGNAL AGREEMENT — the calibration audit a pipeline
    * runs before swapping its rule filter for a learned one: how often do
    * the Gopher rules (q46's R1∧R2∧R3 keep decision — shared thresholds,
    * so this audit can never drift from the filter it grades) and the
    * hashing-trick classifier (q78's logit ≥ 0 — shared weights) agree,
    * and how much of that agreement is luck? Per language: the full
    * confusion matrix, raw agreement in ppm, and Cohen's kappa in exact
    * ppm — kappa = (N·(a+d) − PE) / (N² − PE) with
    * PE = (a+b)(a+c) + (c+d)(b+d), evaluated in decimal(38,0) integers
    * (N² at a 10¹¹-doc corpus overflows a long) with the division done
    * on magnitudes and the sign reapplied, so floor-vs-trunc integer
    * division can never diverge between engines on a negative kappa.
    * NULL kappa when N² = PE (a degenerate single-cell marginal — kappa
    * is undefined, and the audit says so rather than inventing a 0).
    *
    * Scale shape: ONE corpus scan computes both signals — the classifier
    * logit rides the exploded token pass (sum of hashed weights), the
    * rules ride the same aggregate (token count from the explode,
    * stopword hits via count_if on the exploded token, mean word length
    * from the carried text) — then a languages-sized conditional rollup
    * and pure post-agg integer arithmetic. No second scan, no join, no
    * window; nothing after the doc-level aggregate exceeds |languages|
    * rows.
    */
  def q122SignalKappa(s: SparkSession, d: String): DataFrame = {
    val docSig = documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        explode(toks(col("text"))).as("token"))
      .select(col("doc_id"), col("lang"), col("text"), col("token"),
        tokenWeight.as("w"))
      .groupBy("doc_id")
      .agg(any_value(col("lang")).as("lang"),
        any_value(col("text")).as("text"),
        count(lit(1)).as("n_toks"),
        sum("w").as("logit"),
        count_if(col("token").isInCollection(stopEn)).as("n_stop"))
    val meanWordLen =
      length(regexp_replace(col("text"), " ", "")).cast("double") / col("n_toks")
    val rulesKeep = col("n_toks") >= 30 &&
      meanWordLen >= 3.0 && meanWordLen <= 10.0 && col("n_stop") >= 2
    val pe = "(CAST(n_both_keep + n_rules_only AS DECIMAL(38,0)) * " +
      "(n_both_keep + n_clf_only) + " +
      "CAST(n_clf_only + n_both_drop AS DECIMAL(38,0)) * " +
      "(n_rules_only + n_both_drop))"
    docSig
      .select(col("lang"), rulesKeep.as("rk"), (col("logit") >= 0).as("ck"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count_if(col("rk") && col("ck")).as("n_both_keep"),
        count_if(col("rk") && !col("ck")).as("n_rules_only"),
        count_if(!col("rk") && col("ck")).as("n_clf_only"),
        count_if(!col("rk") && !col("ck")).as("n_both_drop"))
      .withColumn("num", expr("CAST(n_docs AS DECIMAL(38,0)) * " +
        s"(n_both_keep + n_both_drop) - $pe"))
      .withColumn("den",
        expr(s"CAST(n_docs AS DECIMAL(38,0)) * n_docs - $pe"))
      .withColumn("agree_ppm",
        expr("CAST(n_both_keep + n_both_drop AS DECIMAL(38,0)) * 1000000 " +
          "div n_docs").cast("long"))
      .withColumn("kappa_ppm", expr("CASE WHEN den = 0 THEN NULL ELSE " +
        "(CASE WHEN num < 0 THEN -1 ELSE 1 END) * " +
        "(abs(num) * 1000000 div abs(den)) END").cast("long"))
      .select(col("lang"), col("n_docs"), col("n_both_keep"),
        col("n_rules_only"), col("n_clf_only"), col("n_both_drop"),
        col("agree_ppm"), col("kappa_ppm"))
      .orderBy("lang")
  }

  val q122Oracle: String = {
    import graft.functions.PolyHash
    s"""WITH t AS (
       |  SELECT doc_id, lang, text,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
       |  FROM documents),
       |f AS (SELECT doc_id, lang, text,
       |    ((${PolyHash.hornerSql("token")} % $QcBuckets) * 37 + 11) % $QcWMod - 10 AS w,
       |    token IN ('the','a','of','and','is','to','in') AS is_stop
       |  FROM t),
       |dl AS (SELECT doc_id, any_value(lang) AS lang,
       |    any_value(text) AS text, count(*) AS n_toks,
       |    CAST(sum(w) AS BIGINT) AS logit, count_if(is_stop) AS n_stop
       |  FROM f GROUP BY doc_id),
       |fl AS (SELECT lang,
       |    (n_toks >= 30
       |     AND CAST(length(replace(text, ' ', '')) AS DOUBLE) / n_toks
       |         BETWEEN 3.0 AND 10.0
       |     AND n_stop >= 2) AS rk,
       |    logit >= 0 AS ck
       |  FROM dl),
       |cm AS (SELECT lang, count(*) AS n_docs,
       |    CAST(count_if(rk AND ck) AS BIGINT) AS n_both_keep,
       |    CAST(count_if(rk AND NOT ck) AS BIGINT) AS n_rules_only,
       |    CAST(count_if(NOT rk AND ck) AS BIGINT) AS n_clf_only,
       |    CAST(count_if(NOT rk AND NOT ck) AS BIGINT) AS n_both_drop
       |  FROM fl GROUP BY lang),
       |k AS (SELECT *,
       |    CAST(n_docs AS HUGEINT) * (n_both_keep + n_both_drop)
       |      - (CAST(n_both_keep + n_rules_only AS HUGEINT)
       |           * (n_both_keep + n_clf_only)
       |         + CAST(n_clf_only + n_both_drop AS HUGEINT)
       |           * (n_rules_only + n_both_drop)) AS num,
       |    CAST(n_docs AS HUGEINT) * n_docs
       |      - (CAST(n_both_keep + n_rules_only AS HUGEINT)
       |           * (n_both_keep + n_clf_only)
       |         + CAST(n_clf_only + n_both_drop AS HUGEINT)
       |           * (n_rules_only + n_both_drop)) AS den
       |  FROM cm)
       |SELECT lang, n_docs, n_both_keep, n_rules_only, n_clf_only,
       |  n_both_drop,
       |  CAST(CAST(n_both_keep + n_both_drop AS HUGEINT) * 1000000
       |       // n_docs AS BIGINT) AS agree_ppm,
       |  CAST(CASE WHEN den = 0 THEN NULL ELSE
       |    (CASE WHEN num < 0 THEN -1 ELSE 1 END)
       |      * (abs(num) * 1000000 // abs(den)) END AS BIGINT) AS kappa_ppm
       |FROM k ORDER BY lang""".stripMargin
  }

  // --- Embedding dimension audit (q126) -----------------------------------

  /** q126: EMBEDDING DIMENSION AUDIT — per-coordinate health of the
    * vector column, the complement of q110's per-VECTOR norm spectrum:
    * a dimension that is constant across the corpus ("dead" — min = max,
    * typically a zeroed coordinate from a truncated export or a frozen
    * neuron) contributes nothing to any distance and silently shrinks
    * the effective embedding dimensionality that ANN (q24/q25) and
    * semantic dedup (q77) budget for; a dimension whose range dwarfs the
    * others dominates every unnormalized dot product. The audit reports,
    * per coordinate: population, exact quantized sum (the ·2^20
    * half-away-from-zero quantization shared with the q110/q112 kernels,
    * so the audit can never disagree with the distances the engine
    * actually computes), min/max, zero-component count (sparsity), and
    * the dead-dimension verdict.
    *
    * All-integer output — no float accumulation, no division — so the
    * gate hashes exactly. Scale shape: one vector scan, posexplode to
    * (coordinate, component), map-side partial aggregation into a
    * |dims|-row rollup: the shuffle carries |dims| partial rows per
    * task, nothing corpus-sized moves.
    */
  def q126DimAudit(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select((col("pos0") + 1).cast("long").as("pos"),
        round(col("x").cast("double") * lit(1048576L)).cast("long").as("qc"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("qc")).as("sum_q"),
        min(col("qc")).as("min_q"),
        max(col("qc")).as("max_q"),
        count_if(col("qc") === 0L).as("n_zero"))
      .withColumn("dead", col("min_q") === col("max_q"))
      .orderBy("pos")

  val q126Oracle: String =
    """WITH ex AS (
      |  SELECT CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS qc,
      |    unnest(generate_series(1, len(embedding))) AS pos
      |  FROM embeddings)
      |SELECT CAST(pos AS BIGINT) AS pos, count(*) AS n_vecs,
      |  CAST(sum(qc) AS BIGINT) AS sum_q,
      |  min(qc) AS min_q, max(qc) AS max_q,
      |  CAST(count_if(qc = 0) AS BIGINT) AS n_zero,
      |  min(qc) = max(qc) AS dead
      |FROM ex GROUP BY pos ORDER BY pos""".stripMargin

  // --- kNN-graph triangle census (q139) -----------------------------------

  /** q139 graph degree bound: each vector contributes its top-5 cosine
    * neighbors; union symmetrization caps degree at 10 + incoming. */
  private val TriKnnK = 5

  /** q139/q151 candidate-cell stride: the kNN graph's
    * candidate blocks are (label × corpus-proportional cell), with one
    * seed per [[KnnCellStride]] vec_ids — the [[semCentroids]] rule at a
    * coarser stride, so the mean block is ~stride/|labels| (~25) members
    * at EVERY corpus size. Label-only blocking densifies under growth
    * (each label block grows with n, the candidate join with n² — the
    * sf3 sweep measured q151 at exponent 1.52); with stride seeding the
    * block count grows with the corpus instead and Σ|block|² stays
    * linear. The graph becomes the standard ANN-graph approximation:
    * neighbors are found within the coarse cell, cross-cell edges are
    * missed by design (the q77/q166 posture). */
  private val KnnCellStride = 256L

  /** q139/q151 degenerate-block guard, same role as q42/q166's maxCell:
    * a pathological (label, cell) block is excluded outright rather than
    * allowed to run a quadratic task. At fixture uniformity no block
    * approaches it. */
  private val KnnMaxBlock = 10000L

  /** q139: TRIANGLE CENSUS of the semantic k-NN graph — the structure
    * audit ABOVE pairwise similarity: q42 counts near-dup PAIRS, q63
    * finds connected components, but neither says how CLUMPED the
    * embedding space is. The global clustering coefficient
    * (transitivity = 3·triangles / wedges) does: high transitivity means
    * near-dups come in tight cliques (template families — purge-friendly),
    * low means chains/hubs (LSH bucket-joins will over-merge). Graph
    * construction is the ANN-graph discipline — candidates restricted
    * to (label × [[KnnCellStride]]-seeded corpus-proportional cell),
    * rank window over (rounded sim DESC, id ASC), top-[[TriKnnK]] per
    * vector, symmetrized by UNION into undirected (lo, hi) edges.
    *
    * Scale shape: the candidate join is density-PINNED, not
    * just guard-bounded — block count grows with the corpus while mean
    * block density stays ~stride/|labels|, so Σ|block|² is linear in n
    * (label-only blocking densifies: the sf3 sweep measured the graph
    * family at exponent 1.52); after it, everything is EDGE-sized with
    * bounded degree —
    * wedges ≤ n·C(deg,2), and the triangle join is the ordered-adjacency
    * enumeration (each triangle x<y<z found exactly once as wedge
    * (x,y),(x,z) closed by edge (y,z) — the a<b<c direction cuts the 6×
    * symmetric blow-up). Node/degree stats ride the edge frame, not the
    * corpus. Exact integers throughout the census; sims only order the
    * rank window (4-dp rounded, the cross-engine-stable q82 form).
    */
  /** Shared Spark-side kNN edge builder for q139/q151 — the exact plan
    * the [[KnnEdgeCtes]] oracle chain mirrors: corpus-proportional cell
    * assignment ([[assignCells]] against the [[KnnCellStride]] seed
    * set), (label, cell)-restricted candidate scoring under the
    * [[KnnMaxBlock]] guard, (rounded-sim DESC, id) rank window,
    * top-[[TriKnnK]] per vector, union-symmetrized undirected (lo, hi)
    * edges. One assignment exchange feeds both join sides; the
    * candidate join is Σ|block|² with block density pinned at
    * ~stride/|labels| — linear in the corpus at every scale. The edge
    * set (≤ 2·[[TriKnnK]]·n rows of 3 longs — linear and narrow) is
    * eagerly checkpointed: q139 reads it five ways (degree/edge
    * rollups + the 3-way triangle join) and q151 re-joins it every
    * PageRank iteration — without the cut each consumer would replay
    * the assignment + candidate join (the q173 items discipline). */
  private def knnEdges(s: SparkSession, d: String): DataFrame = {
    val e0 = embeddings(s, d)
    val cents = e0.filter(pmod(col("vec_id"), lit(KnnCellStride)) === 0)
      .select(col("vec_id").as("cell_id"), col("embedding").as("c_emb"))
    val e = assignCells(e0, cents, keep = Seq("label"))
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy("label", "cell_id")))
      .filter(col("bsz") <= KnnMaxBlock)
    val a = e.select(col("label"), col("cell_id"), col("vec_id").as("ia"),
      col("embedding").as("ea"))
    val b = e.select(col("label"), col("cell_id"), col("vec_id").as("ib"),
      col("embedding").as("eb"))
    val wA = Window.partitionBy("label", "ia")
      .orderBy(col("sim").desc, col("ib"))
    a.join(b, Seq("label", "cell_id")).filter(col("ia") =!= col("ib"))
      .select(col("label"), col("ia"), col("ib"),
        round(VectorExpressions.cosine(col("ea"), col("eb")), 4).as("sim"))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= TriKnnK)
      .select(col("label"), least(col("ia"), col("ib")).as("lo"),
        greatest(col("ia"), col("ib")).as("hi"))
      .distinct()
      .localCheckpoint(eager = true)
  }

  def q139KnnTriangles(s: SparkSession, d: String): DataFrame = {
    val edges = knnEdges(s, d)
    val degRoll = edges
      .select(col("label"), explode(array(col("lo"), col("hi"))).as("v"))
      .groupBy("label", "v").agg(count(lit(1)).as("deg"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"),
        expr("sum(deg * (deg - 1)) DIV 2").as("n_wedges"))
    val eRoll = edges.groupBy("label").agg(count(lit(1)).as("n_edges"))
    val tri = edges.as("e1")
      .join(edges.as("e2"),
        col("e2.label") === col("e1.label") && col("e2.lo") === col("e1.lo") &&
          col("e2.hi") > col("e1.hi"))
      .join(edges.as("e3"),
        col("e3.label") === col("e1.label") && col("e3.lo") === col("e1.hi") &&
          col("e3.hi") === col("e2.hi"))
      .groupBy(col("e1.label").as("label"))
      .agg(count(lit(1)).as("n_triangles"))
    degRoll.join(eRoll, Seq("label"))
      .join(tri, Seq("label"), "left")
      .select(col("label").cast("long").as("label"), col("n_nodes"),
        col("n_edges"), col("n_wedges"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("transitivity_ppm",
        expr("CASE WHEN n_wedges > 0 THEN " +
          "n_triangles * 3 * 1000000 DIV n_wedges END"))
      .orderBy("label")
  }

  /** Shared oracle CTE chain building the q139/q151 kNN edge set — kept
    * as one string so the two oracles can never drift apart on graph
    * construction. Ends with the `edges` CTE (undirected (lo, hi)).
    * The assignment leg re-derives the [[KnnCellStride]] seeding and the
    * argmax-cosine cell (row_number over ([[ArgmaxGrid]]-quantized csim
    * DESC, cell_id DESC) ≡ the engine's max_by on the (qsim, cell_id)
    * struct); BOTH cosine legs use `list_cosine_similarity` on DOUBLE[]
    * — the sims leg rounds at 4 dp and the assignment leg at the 2⁴⁰
    * grid, so neither depends on last-ULP agreement between DuckDB's
    * kernel and the JVM loop. An unnest form would materialize n·K·64
    * assignment rows — ~900M at 30×, which times the sf3 oracle out;
    * the list form stays per-pair-row and completes. */
  private val KnnEdgeCtes: String =
    s"""kc AS (SELECT vec_id AS cell_id, embedding AS c_emb
       |       FROM embeddings WHERE vec_id % $KnnCellStride = 0),
       |kasim AS (SELECT e.vec_id, c.cell_id,
       |    list_cosine_similarity(e.embedding::DOUBLE[],
       |                           c.c_emb::DOUBLE[]) AS csim
       |  FROM embeddings e CROSS JOIN kc c),
       |kassigned AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY CAST(round(csim * $ArgmaxGrid)
       |                                       AS BIGINT) DESC,
       |                                  cell_id DESC) AS rn
       |    FROM kasim) WHERE rn = 1),
       |kb AS (SELECT e.vec_id, e.label, e.embedding, a.cell_id
       |       FROM embeddings e JOIN kassigned a USING (vec_id)),
       |kblk AS (SELECT label, cell_id FROM kb GROUP BY 1, 2
       |         HAVING count(*) <= $KnnMaxBlock),
       |kbe AS (SELECT kb.* FROM kb JOIN kblk USING (label, cell_id)),
       |sims AS (
       |  SELECT a.label, a.vec_id AS ia, b.vec_id AS ib,
       |    round(list_cosine_similarity(a.embedding::DOUBLE[],
       |                                 b.embedding::DOUBLE[]), 4) AS sim
       |  FROM kbe a JOIN kbe b USING (label, cell_id)
       |  WHERE a.vec_id <> b.vec_id),
       |dkt AS (
       |  SELECT label, ia, ib,
       |    row_number() OVER (PARTITION BY label, ia
       |                       ORDER BY sim DESC, ib) AS rn
       |  FROM sims),
       |edges AS (
       |  SELECT DISTINCT label, least(ia, ib) AS lo, greatest(ia, ib) AS hi
       |  FROM dkt WHERE rn <= $TriKnnK)""".stripMargin

  val q139Oracle: String =
    s"""WITH $KnnEdgeCtes,
       |deg AS (
       |  SELECT label, v, count(*) AS deg FROM (
       |    SELECT label, lo AS v FROM edges
       |    UNION ALL SELECT label, hi AS v FROM edges)
       |  GROUP BY 1, 2),
       |droll AS (
       |  SELECT label, count(*) AS n_nodes,
       |    sum(deg * (deg - 1)) // 2 AS n_wedges
       |  FROM deg GROUP BY 1),
       |eroll AS (SELECT label, count(*) AS n_edges FROM edges GROUP BY 1),
       |tri AS (
       |  SELECT e1.label, count(*) AS n_triangles
       |  FROM edges e1
       |  JOIN edges e2 ON e2.label = e1.label AND e2.lo = e1.lo
       |                AND e2.hi > e1.hi
       |  JOIN edges e3 ON e3.label = e1.label AND e3.lo = e1.hi
       |                AND e3.hi = e2.hi
       |  GROUP BY 1)
       |SELECT CAST(droll.label AS BIGINT) AS label, droll.n_nodes,
       |  eroll.n_edges,
       |  CAST(droll.n_wedges AS BIGINT) AS n_wedges,
       |  CAST(coalesce(tri.n_triangles, 0) AS BIGINT) AS n_triangles,
       |  CAST(CASE WHEN droll.n_wedges > 0 THEN
       |    coalesce(tri.n_triangles, 0) * 3 * 1000000 // droll.n_wedges END
       |    AS BIGINT) AS transitivity_ppm
       |FROM droll JOIN eroll ON eroll.label = droll.label
       |LEFT JOIN tri ON tri.label = droll.label
       |ORDER BY label""".stripMargin

  // --- Reciprocal-rank fusion (q150) --------------------------------------

  /** q150 knobs: queries are the first [[RrfNQueries]] vec_ids (their
    * cells are searched; they are excluded from the corpus), RRF uses
    * the standard k = [[RrfK]] (Cormack et al. 2009), and the fused
    * list keeps [[RrfTopN]] per query. */
  private val RrfNQueries = 8L
  private val RrfK = 60L
  private val RrfTopN = 5

  /** q150: RECIPROCAL-RANK FUSION — the standard way a retrieval stack
    * combines rankers with incomparable scores (an exact float ranker
    * and its int8-quantized fast path here; in production: BM25 +
    * dense, or several embedding models): RRF(doc) = Σ_r 1/(k + rank_r)
    * depends only on RANKS, so no score calibration is needed, and a
    * doc must rank well under SEVERAL rankers to fuse high — exactly
    * why RRF is the robust default for hybrid search. Scores are exact
    * scaled integers: 10⁹ div (k + rank) summed over the two rankers
    * (pure rank arithmetic — no float fusion), so the gate hashes the
    * fused list bit-for-bit.
    *
    * Both rankings come off ONE cell-restricted candidate join (q25's
    * IVF discipline — queries broadcast, candidates bounded by |cell|,
    * never corpus²): the pair frame computes the exact cosine AND the
    * quantized-roundtrip cosine (q43's fused kernel) side by side, then
    * two rank windows over the same frame. The quantized rank is
    * DELIBERATELY derived from reconstructed vectors — the fusion's
    * value is precisely that it absorbs quantization rank-flips, which
    * the spec asserts by bounding fused-vs-exact rank displacement.
    *
    * Scale shape: one embeddings scan + a broadcast of [[RrfNQueries]]
    * query rows; rank windows partition per query over cell-bounded
    * frames; the fused top-[[RrfTopN]] rides the same frame.
    */
  def q150RrfFusion(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Quantize
    val e = embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"),
        Quantize.roundTrip(col("embedding")).as("rt"))
    val q = e.filter(col("vec_id") < RrfNQueries)
      .select(col("vec_id").as("q_id"), col("label"),
        col("embedding").as("q_emb"), col("rt").as("q_rt"))
    val pairs = e.filter(col("vec_id") >= RrfNQueries)
      .join(broadcast(q), Seq("label"))
      .select(col("q_id"), col("vec_id"),
        round(VectorExpressions.cosine(col("embedding"), col("q_emb")), 4)
          .as("sim_cos"),
        round(VectorExpressions.cosine(col("rt"), col("q_rt")), 4)
          .as("sim_q"))
    val wQ = Window.partitionBy("q_id")
    val ranked = pairs
      .withColumn("rank_cos",
        row_number().over(wQ.orderBy(col("sim_cos").desc, col("vec_id"))))
      .withColumn("rank_quant",
        row_number().over(wQ.orderBy(col("sim_q").desc, col("vec_id"))))
      .withColumn("rrf_ppb",
        expr(s"1000000000 DIV ($RrfK + rank_cos)" +
          s" + 1000000000 DIV ($RrfK + rank_quant)"))
    ranked
      .withColumn("fused_rank",
        row_number().over(wQ.orderBy(col("rrf_ppb").desc, col("vec_id"))))
      .filter(col("fused_rank") <= RrfTopN)
      .select(col("q_id"), col("fused_rank"), col("vec_id"), col("rrf_ppb"),
        col("rank_cos").cast("long").as("rank_cos"),
        col("rank_quant").cast("long").as("rank_quant"))
      .orderBy("q_id", "fused_rank")
  }

  val q150Oracle: String =
    s"""WITH deq AS (
       |  SELECT vec_id, label, embedding,
       |    CASE WHEN list_max(embedding) = list_min(embedding)
       |         THEN list_transform(embedding, x -> CAST(list_min(embedding) AS DOUBLE))
       |         ELSE list_transform(embedding, x ->
       |           CAST(list_min(embedding) AS DOUBLE)
       |           + round((CAST(x AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE))
       |                   / ((CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0))
       |             * ((CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0))
       |    END AS rt
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, label, embedding AS q_emb, rt AS q_rt
       |      FROM deq WHERE vec_id < $RrfNQueries),
       |ex AS (
       |  SELECT q.q_id, e.vec_id,
       |    unnest(e.embedding) AS x, unnest(q.q_emb) AS y,
       |    unnest(e.rt) AS xr, unnest(q.q_rt) AS yr
       |  FROM deq e JOIN q ON e.label = q.label
       |  WHERE e.vec_id >= $RrfNQueries),
       |sims AS (
       |  SELECT q_id, vec_id,
       |    round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 4) AS sim_cos,
       |    round(sum(xr * yr) / (sqrt(sum(xr * xr)) * sqrt(sum(yr * yr))), 4)
       |      AS sim_q
       |  FROM ex GROUP BY 1, 2),
       |ranked AS (
       |  SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim_cos DESC, vec_id)
       |      AS rank_cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim_q DESC, vec_id)
       |      AS rank_quant
       |  FROM sims),
       |fused AS (
       |  SELECT q_id, vec_id, rank_cos, rank_quant,
       |    1000000000 // ($RrfK + rank_cos)
       |      + 1000000000 // ($RrfK + rank_quant) AS rrf_ppb
       |  FROM ranked),
       |top AS (
       |  SELECT q_id, vec_id, rrf_ppb, rank_cos, rank_quant,
       |    row_number() OVER (PARTITION BY q_id ORDER BY rrf_ppb DESC, vec_id)
       |      AS fused_rank
       |  FROM fused)
       |SELECT q_id, CAST(fused_rank AS BIGINT) AS fused_rank, vec_id,
       |  CAST(rrf_ppb AS BIGINT) AS rrf_ppb,
       |  CAST(rank_cos AS BIGINT) AS rank_cos,
       |  CAST(rank_quant AS BIGINT) AS rank_quant
       |FROM top WHERE fused_rank <= $RrfTopN
       |ORDER BY q_id, fused_rank""".stripMargin

  // --- Integer fixed-point PageRank (q151) --------------------------------

  /** q151 knobs: damping 85/100, [[PrIters]] synchronous iterations,
    * rank mass held in [[PrUnit]]-scaled integer units. */
  private val PrIters = 3
  private val PrUnit = 1000000000000L // 1e12

  /** q151: PAGERANK over the semantic k-NN graph — the authority score
    * that turns "these documents are similar" (q139's edges) into
    * "THESE are the canonical centers": in a near-dup cluster the
    * highest-PageRank node is the best keep candidate (the q125
    * survivorship pick, but structure-derived instead of quality-
    * derived), and hub nodes flag LSH over-merge risk before a purge
    * fuses distinct families. Classic damped PageRank
    * r ← 15/100·1/n + 85/100·Σ r(u)/deg(u), run [[PrIters]] synchronous
    * rounds from the uniform start.
    *
    * Engine-portability is the design problem: float PageRank diverges
    * across engines in the last ulps, so ranks live in EXACT integer
    * fixed point — [[PrUnit]]-scaled units where every step is
    * `(85·r) div (100·deg)` and `(15·unit) div (100·n)`. All operands
    * are non-negative, so Spark's truncate-toward-zero `DIV` and
    * DuckDB's floor `//` agree EXACTLY and both engines walk the
    * identical integer trajectory (the tiny truncation leak per step is
    * part of the defined algorithm; the spec pins mass conservation up
    * to that leak). The same discipline as q109's relational BPE: a
    * deterministic integer algorithm, not a float approximation.
    *
    * Relationship to [[graft.ops.PageRank]] (q87's TextRank engine),
    * which is deliberately NOT reused here: that module is the
    * long-iteration workhorse — weighted edges, per-node `scale` start
    * (unnormalized "weak" PageRank, fine for ranking WITHIN one graph),
    * eager localCheckpoint per round so 10+ rounds don't stack lineage.
    * This query needs the opposite contract on every axis: PER-CELL
    * 1/n-normalized mass so the mass-conservation audit and cross-cell
    * comparisons mean something, a label-partitioned forest rather than
    * one graph, and a SINGLE LAZY plan (no eager actions) so the whole
    * query remains one explainable/oracle-checkable DataFrame whose
    * [[PrIters]] unrolled rounds share the edge exchange via AQE reuse.
    * Two variants, one discipline — both exact-integer, both
    * floor-division trajectories.
    *
    * Scale shape: the candidate join is |cell|²-bounded (shared
    * [[knnEdges]] builder); after it everything is EDGE-sized: each
    * iteration is one (label, src)-keyed join + one (label, dst)-keyed
    * aggregate — the message-passing shape that scales to billions of
    * edges. The [[PrIters]] unrolled iterations reference the same edge
    * subplan; AQE exchange reuse materializes it once (ReuseCheck
    * discipline, as in q139's triple self-join). Top-3 per cell +
    * per-cell mass ride the node frame.
    */
  def q151Pagerank(s: SparkSession, d: String): DataFrame = {
    val edges = knnEdges(s, d)
    val dir = edges.select(col("label"), col("lo").as("src"), col("hi").as("dst"))
      .unionAll(edges.select(col("label"), col("hi").as("src"),
        col("lo").as("dst")))
    val deg = dir.groupBy("label", "src").agg(count(lit(1)).as("deg"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("label")))
      .select(col("label"), col("src").as("v"), col("deg"), col("n"))
    var cur = deg.withColumn("r", expr(s"${PrUnit}L DIV n"))
    for (_ <- 1 to PrIters) {
      val msgs = dir
        .join(cur.withColumnRenamed("v", "src"), Seq("label", "src"))
        .select(col("label"), col("dst").as("v"),
          expr("(85 * r) DIV (100 * deg)").as("c"))
        .groupBy("label", "v").agg(sum(col("c")).as("inflow"))
      cur = deg.join(msgs, Seq("label", "v"), "left")
        .withColumn("r",
          expr(s"(15 * ${PrUnit}L) DIV (100 * n) + coalesce(inflow, 0L)"))
        .drop("inflow")
    }
    val wL = Window.partitionBy("label")
    cur
      .withColumn("mass", sum(col("r")).over(wL))
      .withColumn("pos",
        row_number().over(wL.orderBy(col("r").desc, col("v"))))
      .filter(col("pos") <= 3)
      .select(col("label").cast("long").as("label"),
        col("pos").cast("long").as("pos"), col("v").as("vec_id"),
        col("r").as("pr_scaled"), col("n").as("n_nodes"),
        col("mass").as("mass_scaled"))
      .orderBy("label", "pos")
  }

  val q151Oracle: String = {
    // unrolled synchronous iterations over the shared edge CTEs
    val iters = (1 to PrIters).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""m$i AS (
         |  SELECT d.label, d.dst AS v,
         |    sum((85 * p.r) // (100 * p.deg)) AS inflow
         |  FROM dirs d JOIN $prev p ON p.label = d.label AND p.v = d.src
         |  GROUP BY 1, 2),
         |r$i AS (
         |  SELECT b.label, b.v, b.deg, b.n,
         |    (15 * ${PrUnit}) // (100 * b.n) + coalesce(m$i.inflow, 0) AS r
         |  FROM deg b LEFT JOIN m$i ON m$i.label = b.label AND m$i.v = b.v)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $KnnEdgeCtes,
       |dirs AS (
       |  SELECT label, lo AS src, hi AS dst FROM edges
       |  UNION ALL SELECT label, hi AS src, lo AS dst FROM edges),
       |deg AS (
       |  SELECT label, src AS v, count(*) AS deg,
       |    count(*) OVER (PARTITION BY label) AS n
       |  FROM dirs GROUP BY label, src),
       |r0 AS (
       |  SELECT label, v, deg, n, ${PrUnit} // n AS r FROM deg),
       |$iters,
       |fin AS (
       |  SELECT label, v, r, n,
       |    sum(r) OVER (PARTITION BY label) AS mass,
       |    row_number() OVER (PARTITION BY label ORDER BY r DESC, v) AS pos
       |  FROM r$PrIters)
       |SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos,
       |  v AS vec_id, CAST(r AS BIGINT) AS pr_scaled,
       |  CAST(n AS BIGINT) AS n_nodes, CAST(mass AS BIGINT) AS mass_scaled
       |FROM fin WHERE pos <= 3 ORDER BY label, pos""".stripMargin
  }

  // --- Semantic cross-split leakage (q166) --------------------------------

  private val SemLeakTau = 0.4
  private val SemLeakMaxCell = 10000L

  /** q166: SEMANTIC CROSS-SPLIT LEAKAGE — embedding-space contamination
    * audit of the train/val/test split: eval vectors with a TRAIN
    * near-neighbor at cosine ≥ [[SemLeakTau]] are paraphrase-level
    * contamination that the LEXICAL decontamination queries cannot see
    * (q45 n-gram decontaminate, q83 token split-leakage, q92 split
    * novelty all miss a reworded duplicate; the embedding catches it —
    * the motivation behind semantic-dedup/decontamination in the
    * D4/SemDeDup line of work). Per (eval split, label cell): eval
    * vectors audited, candidate pairs scored, DISTINCT leaked eval
    * vectors, and the worst similarity (max before round — order-
    * independent, the q42 discipline).
    *
    * Scale shape (corpus-proportional): the candidate block is
    * the INTERSECTION of the label cell with the corpus-proportional
    * [[semCentroids]] embedding cell — the SemDeDup approximation applied
    * to decontamination. A fixed label vocabulary densifies under corpus
    * growth (each label block grows with n, pairs with n²); the centroid
    * refinement splits every label block across K ≈ n/stride cells, so
    * the per-block density — and with it Σ|block|² — stays linear in the
    * corpus. Pairs that land in different embedding cells are missed by
    * design (a cross-cell paraphrase is also far in embedding space by
    * the same clustering that q77 trusts); the q42 maxCell guard still
    * backstops a degenerate block. Split assignment is the
    * engine-portable PolyHash bucket ([[graft.ops.Splits]]) on vec_id —
    * the oracle re-derives it from the SAME cuts via assignSql, so
    * engine and oracle cannot drift. Blocks with no train vector simply
    * contribute no pairs (nothing to leak FROM); n_eval therefore counts
    * audited-against-train vectors.
    */
  def q166SemanticLeakage(s: SparkSession, d: String): DataFrame = {
    val raw = embeddings(s, d)
    val e = assignCells(raw, semCentroids(raw), keep = Seq("label"))
      .withColumn("split",
        graft.ops.Splits.assign(col("vec_id"), Corpus.SplitCuts))
    // block-size guard as a count window, not an aggregate+join: one
    // (label, cell)-partitioned pass bounds the blocks, and the
    // train/eval sides below both read it off the SAME exchange
    // (ReuseCheck: the agg+join formulation scanned the corpus 3x)
    val bounded = e
      .withColumn("csz",
        count(lit(1)).over(Window.partitionBy("label", "cell_id")))
      .filter(col("csz") <= SemLeakMaxCell)
    val train = bounded.filter(col("split") === "train")
      .select(col("label"), col("cell_id"), col("embedding").as("te"))
    bounded.filter(col("split") =!= "train")
      .select(col("label"), col("cell_id"), col("split"), col("vec_id"),
        col("embedding"))
      .join(train, Seq("label", "cell_id"))
      .select(col("split"), col("label"), col("vec_id"),
        VectorExpressions.cosine(col("embedding"), col("te")).as("sim"))
      .groupBy("split", "label")
      .agg(countDistinct(col("vec_id")).as("n_eval"),
        count(lit(1)).as("n_pairs"),
        countDistinct(when(col("sim") >= SemLeakTau, col("vec_id")))
          .as("n_leaked"),
        round(max(col("sim")), 4).as("max_sim"))
      .select(col("split"), col("label").cast("long").as("label"),
        col("n_eval"), col("n_pairs"), col("n_leaked"), col("max_sim"))
      .orderBy("split", "label")
  }

  val q166Oracle: String =
    s"""WITH $cellAssignCtes,
       |e AS (
       |  SELECT m.vec_id, m.label, m.embedding, a.cell_id,
       |    ${graft.ops.Splits.assignSql("m.vec_id", Corpus.SplitCuts)} AS split
       |  FROM embeddings m JOIN assigned a ON m.vec_id = a.vec_id),
       |cells AS (
       |  SELECT label, cell_id FROM e GROUP BY label, cell_id
       |  HAVING count(*) <= $SemLeakMaxCell),
       |b AS (SELECT e.* FROM e JOIN cells USING (label, cell_id)),
       |p AS (
       |  SELECT ev.split, ev.label, ev.vec_id AS eid, tr.vec_id AS tid,
       |    ev.embedding AS ea, tr.embedding AS eb
       |  FROM b ev JOIN b tr
       |    ON ev.label = tr.label AND ev.cell_id = tr.cell_id
       |  WHERE ev.split <> 'train' AND tr.split = 'train'),
       |ex AS (SELECT split, label, eid, tid,
       |         unnest(ea) AS x, unnest(eb) AS y FROM p),
       |sims AS (SELECT split, label, eid, tid,
       |    sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS sim
       |  FROM ex GROUP BY 1, 2, 3, 4)
       |SELECT split, CAST(label AS BIGINT) AS label,
       |  count(DISTINCT eid) AS n_eval, count(*) AS n_pairs,
       |  CAST(count(DISTINCT CASE WHEN sim >= $SemLeakTau THEN eid END)
       |    AS BIGINT) AS n_leaked,
       |  round(max(sim), 4) AS max_sim
       |FROM sims GROUP BY 1, 2 ORDER BY split, label""".stripMargin

  // --- Length–frequency-band Spearman (q188) ------------------------------

  /** q188: IS QUALITY JUST LENGTH? — per language, the exact tie-aware
    * Spearman between document LENGTH (chars) and q121's mean token
    * frequency band: the audit run before trusting any length-
    * correlated quality score ("long docs are made of commoner words"
    * would make a band filter a length filter in disguise). The q144
    * doubled-average-rank discipline end to end: ranks from marginal
    * histograms (never a per-row rank sort), centered integer moments
    * in decimal(38,0), ρ rounded to 6 from exact sums. The pair frame
    * is (lang, len, band) — value-domain-bounded (length and milli-band
    * domains), the q149/q154 histogram class.
    *
    * Scale shape: the q121 token pipeline (one corpus tokenization +
    * vocab join) down to per-doc integers, then everything rides the
    * bounded pair frame.
    */
  def q188LenBandSpearman(s: SparkSession, d: String): DataFrame = {
    def big(c: Column): Column = c.cast("decimal(38,0)")
    // ONE corpus pipeline, not one (lang, len, band) histogram per leg
    // (main + both rank legs) from three corpus explodes: (lang, len) ride
    // the doc→word aggregate (functional dependency of doc_id — same
    // groups, no second corpus scan, no doc_id join), the vocab join
    // probes distinct (doc, word) counts instead of raw tokens (the
    // explode runs once behind a reused exchange and the w-join
    // shuffles distinct pairs, not tokens), and both midrank legs are
    // RANGE-frame windows over the histogram itself — peers frame
    // (0,0) = the per-value group sum cv, (-inf,-1) = the exclusive
    // cumulative cumb — so the tiny frame has ONE consumer and the
    // aggregate+self-join legs disappear.
    val dw = documents(s, d)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("len"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .groupBy("doc_id", "lang", "len", "w")
      .agg(count(lit(1)).as("ndw"))
    val vocab = dw.groupBy("w").agg(sum(col("ndw")).as("c"))
      .select(col("w"), length(bin(col("c"))).cast("long").as("fb"))
    val pairs = dw.join(vocab, Seq("w"))
      .groupBy("doc_id", "lang", "len")
      .agg(sum(col("ndw")).as("n_toks"),
        sum(col("ndw") * col("fb")).as("sfb"))
      .select(col("lang"), col("len"), expr("sfb * 1000 DIV n_toks").as("band"))
      .groupBy("lang", "len", "band")
      .agg(count(lit(1)).as("c"))
    def r2(v: String): Column = {
      val peers = Window.partitionBy("lang").orderBy(v)
        .rangeBetween(Window.currentRow, Window.currentRow)
      val below = Window.partitionBy("lang").orderBy(v)
        .rangeBetween(Window.unboundedPreceding, -1)
      lit(2) * coalesce(sum(col("c")).over(below), lit(0L)) +
        sum(col("c")).over(peers) + 1
    }
    pairs
      .withColumn("r2len", r2("len"))
      .withColumn("r2band", r2("band"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("lang")))
      .withColumn("dx", big(col("r2len") - (col("n") + 1)))
      .withColumn("dy", big(col("r2band") - (col("n") + 1)))
      .groupBy("lang")
      .agg(max(col("n")).as("n_docs"),
        big(sum(col("c") * col("dx") * col("dy"))).as("sxy"),
        big(sum(col("c") * col("dx") * col("dx"))).as("sxx"),
        big(sum(col("c") * col("dy") * col("dy"))).as("syy"))
      .select(col("lang"), col("n_docs"),
        round(col("sxy") / (sqrt(col("sxx")) * sqrt(col("syy"))), 6)
          .as("rho_len_band"))
      .orderBy("lang")
  }

  val q188Oracle: String =
    """WITH base AS (
      |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS len, text
      |  FROM documents),
      |t AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |  FROM base),
      |v AS (SELECT w, CAST(length(bin(count(*))) AS BIGINT) AS fb
      |      FROM t GROUP BY w),
      |pd AS (
      |  SELECT t.doc_id, CAST(sum(v.fb) * 1000 // count(*) AS BIGINT)
      |    AS band
      |  FROM t JOIN v USING (w) GROUP BY 1),
      |px AS (
      |  SELECT b.lang, b.len, pd.band, count(*) AS c
      |  FROM pd JOIN base b USING (doc_id) GROUP BY 1, 2, 3),
      |hx AS (
      |  SELECT lang, len, sum(c) AS cv,
      |    coalesce(sum(sum(c)) OVER (PARTITION BY lang ORDER BY len
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
      |  FROM px GROUP BY 1, 2),
      |hy AS (
      |  SELECT lang, band, sum(c) AS cv,
      |    coalesce(sum(sum(c)) OVER (PARTITION BY lang ORDER BY band
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
      |  FROM px GROUP BY 1, 2),
      |j AS (
      |  SELECT p.lang, p.c, sum(p.c) OVER (PARTITION BY p.lang) AS n,
      |    2 * hx.cumb + hx.cv + 1 AS r2x, 2 * hy.cumb + hy.cv + 1 AS r2y
      |  FROM px p
      |  JOIN hx ON hx.lang = p.lang AND hx.len = p.len
      |  JOIN hy ON hy.lang = p.lang AND hy.band = p.band),
      |m AS (
      |  SELECT lang, max(n) AS n_docs,
      |    sum(CAST(c AS HUGEINT) * (r2x - (n + 1)) * (r2y - (n + 1))) AS sxy,
      |    sum(CAST(c AS HUGEINT) * (r2x - (n + 1)) * (r2x - (n + 1))) AS sxx,
      |    sum(CAST(c AS HUGEINT) * (r2y - (n + 1)) * (r2y - (n + 1))) AS syy
      |  FROM j GROUP BY 1)
      |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
      |  round(CAST(sxy AS DOUBLE) / (sqrt(CAST(sxx AS DOUBLE)) *
      |    sqrt(CAST(syy AS DOUBLE))), 6) AS rho_len_band
      |FROM m ORDER BY lang""".stripMargin

  // --- Perceptual-hash near-dup (q198) ------------------------------------

  /** Degenerate-bucket guard for the pHash banding (q44 discipline). */
  private val PhashMaxBucket = 100L

  /** Hamming radius (of 64 bits) under which a candidate pair counts as
    * a near-duplicate. */
  private val PhashMaxHamming = 12L

  /** q198: PERCEPTUAL-HASH NEAR-DUP — the dedup ring's IMAGE leg: media
    * payloads (the q38 kind mapping, image-kind documents as the
    * deterministic codec stand-in — see [[graft.multimodal.Multimodal]])
    * are reduced to a 64-bit pHash-style signature
    * ([[graft.functions.VectorExpressions.PHashBands]]: 64 thumbnail
    * blocks, block-sum-vs-mean bits, 4×16-bit band values), banded per
    * the q44 LSH discipline (same-band collision → candidate, windowed
    * bucket-size guard against degenerate clusters), and candidate
    * pairs scored by exact Hamming distance with a near-dup flag at
    * [[PhashMaxHamming]]. Pigeonhole guarantee: any pair within
    * Hamming < 4 (the band count) MUST share a band and is always
    * generated; farther pairs are the usual probabilistic LSH tail.
    *
    * Scale: one corpus scan computes signatures (compiled kernel,
    * payloads never shuffle — only 32-byte signatures); one (band,
    * bucket) exchange; Σ bucket² bounded by the guard. Restricted to
    * lang = 'en' for engine char-code parity (q29 discipline).
    */
  def q198PhashNearDup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kindIsImage =
      pmod(substring(col("source"), 4, 10).cast("int"), lit(3)) === 0
    val sigs = documents(s, d)
      .filter(kindIsImage && col("lang") === "en" && length(col("text")) >= 64)
      .select(col("doc_id"), VectorExpressions.phashBands(col("text")).as("bands"))
    val bb = sigs.select(col("doc_id"), col("bands"),
      posexplode(col("bands")).as(Seq("band", "bucket")))
    // windowed bucket-size guard over the partitioning the self-join
    // needs anyway (ReusedExchange — the MinHash.candidatePairs shape)
    val joinable = bb
      .withColumn("bucket_size",
        count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .filter(col("bucket_size") > 1 && col("bucket_size") <= PhashMaxBucket)
    val a = joinable.select(col("band"), col("bucket"),
      col("doc_id").as("doc_a"), col("bands").as("bands_a"))
    val b = joinable.select(col("band"), col("bucket"),
      col("doc_id").as("doc_b"), col("bands").as("bands_b"))
    val ham = (0 until VectorExpressions.PHashBands.NBands)
      .map(i => bit_count(col("bands_a")(i).bitwiseXOR(col("bands_b")(i))))
      .reduce(_ + _).cast("long")
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), ham.as("hamming"))
      .distinct() // a pair may collide in several bands
      .withColumn("near_dup",
        (col("hamming") <= PhashMaxHamming).cast("int").cast("long"))
      .orderBy("doc_a", "doc_b")
  }

  /** q198's oracle rebuilds the signatures from scratch in integer SQL:
    * ord() code points → 64 block sums → mean-threshold bits → 4 band
    * values → identical banding, guard, pairing, and Hamming algebra.
    */
  val q198Oracle: String =
    s"""WITH imgs AS (
       |  SELECT doc_id, substr(text, 1, ${VectorExpressions.PHashBands.ThumbChars}) AS thumb
       |  FROM documents
       |  WHERE CAST(substr(source, 4) AS INT) % 3 = 0
       |    AND lang = 'en' AND length(text) >= 64),
       |cps AS (
       |  SELECT doc_id, [CAST(ord(c) AS BIGINT)
       |    for c in regexp_split_to_array(thumb, '') if c != ''] AS cps
       |  FROM imgs),
       |chars AS (
       |  SELECT doc_id, i, cps[i] AS cp, len(cps) AS L
       |  FROM cps, unnest(generate_series(1, len(cps))) AS t(i)),
       |blocks AS (
       |  SELECT doc_id, ((i - 1) * 64) // L AS b, sum(cp) AS bs
       |  FROM chars GROUP BY 1, 2),
       |tot AS (SELECT doc_id, sum(bs) AS total FROM blocks GROUP BY 1),
       |bits AS (
       |  SELECT blocks.doc_id, b,
       |    CASE WHEN bs * 64 > total THEN 1 ELSE 0 END AS bit
       |  FROM blocks JOIN tot USING (doc_id)),
       |bands AS (
       |  SELECT doc_id, b // 16 AS band,
       |    CAST(sum(bit * (1 << (b % 16))) AS BIGINT) AS bucket
       |  FROM bits GROUP BY 1, 2),
       |sizes AS (SELECT band, bucket, count(*) AS n FROM bands GROUP BY 1, 2),
       |jb AS (SELECT bands.* FROM bands JOIN sizes USING (band, bucket)
       |       WHERE n > 1 AND n <= $PhashMaxBucket),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM jb a JOIN jb b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |sigs AS (SELECT doc_id, list(bucket ORDER BY band) AS bl
       |         FROM bands GROUP BY 1)
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(sa.bl[1], sb.bl[1])) + bit_count(xor(sa.bl[2], sb.bl[2]))
       |     + bit_count(xor(sa.bl[3], sb.bl[3])) + bit_count(xor(sa.bl[4], sb.bl[4]))
       |    AS BIGINT) AS hamming,
       |  CAST(CASE WHEN bit_count(xor(sa.bl[1], sb.bl[1])) + bit_count(xor(sa.bl[2], sb.bl[2]))
       |     + bit_count(xor(sa.bl[3], sb.bl[3])) + bit_count(xor(sa.bl[4], sb.bl[4]))
       |    <= $PhashMaxHamming THEN 1 ELSE 0 END AS BIGINT) AS near_dup
       |FROM pairs JOIN sigs sa ON doc_a = sa.doc_id
       |  JOIN sigs sb ON doc_b = sb.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  // --- Audio landmark fingerprint near-dup (q200) --------------------------

  /** Degenerate-bucket guard: a fingerprint shared by more docs than
    * this is a "common motif", not a match signal (q44 discipline). */
  private val AudioMaxBucket = 100L

  /** Shared-fingerprint containment (ppm of the smaller doc's
    * fingerprint set) above which a candidate pair is a near-dup. */
  private val AudioMinContainPpm = 300000L

  /** Minimum shared-fingerprint count for the near-dup flag — one
    * coincidental landmark on a tiny fingerprint set is not evidence
    * (containment alone flags 1/3 pairs). */
  private val AudioMinShared = 3L

  /** q200: AUDIO LANDMARK NEAR-DUP — the dedup ring's AUDIO leg
    * (images: q198 pHash; text: q44/q29/q28): audio-kind payloads (the
    * q38 kind mapping) are reduced to landmark fingerprints
    * ([[graft.functions.VectorExpressions.AudioLandmarks]]: frame
    * energies → peaks → packed peak-pair hashes, the constellation
    * scheme of Wang 2003), and docs sharing a fingerprint become
    * candidate pairs scored by EXACT shared-fingerprint containment —
    * n_shared / min(|fps_a|, |fps_b|) in ppm — with a near-dup flag at
    * [[AudioMinContainPpm]] AND ≥ [[AudioMinShared]] shared landmarks. Matches survive time-shift (a landmark is
    * a peak-pair DELTA, not a position) — the property that makes the
    * constellation scheme the industry shape for audio dedup.
    *
    * Scale: ONE corpus scan computes fingerprints (payloads never
    * shuffle — only distinct (doc_id, fp) pairs); the per-doc
    * fingerprint count rides a doc_id window and flows through the
    * self-join, so no second pass re-extracts it; the fp exchange
    * carries a windowed bucket-size guard over the partitioning the
    * self-join needs anyway (ReusedExchange); Σ bucket² bounded by
    * [[AudioMaxBucket]]. Restricted to lang = 'en' for engine
    * char-code parity (q29 discipline).
    */
  /** Shared tail of the fingerprint-containment near-dup family
    * (q200 audio, q204 video): `fps` is a DISTINCT (doc_id, fp) frame.
    * ONE corpus scan: the per-doc fingerprint count rides a doc_id
    * window on the fingerprint frame and flows THROUGH the self-join,
    * so no second scan-and-extract pass attaches it at the end; the fp
    * exchange carries the windowed bucket-size guard over the
    * partitioning the self-join needs anyway (ReusedExchange).
    */
  private def containmentPairs(fps: DataFrame, maxBucket: Long,
      minContainPpm: Long, minShared: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counted = fps
      .withColumn("n_fp", count(lit(1)).over(Window.partitionBy("doc_id")))
    val joinable = counted
      .withColumn("bucket_size", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("bucket_size") > 1 && col("bucket_size") <= maxBucket)
      .select("doc_id", "fp", "n_fp")
    joinable.as("a")
      .join(joinable.as("b"), Seq("fp"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("a.n_fp")).as("n_fp_a"), min(col("b.n_fp")).as("n_fp_b"))
      .withColumn("contain_ppm",
        expr("n_shared * 1000000 DIV least(n_fp_a, n_fp_b)"))
      .withColumn("near_dup",
        (col("contain_ppm") >= minContainPpm &&
          col("n_shared") >= minShared).cast("int").cast("long"))
      .select("doc_a", "doc_b", "n_shared", "contain_ppm", "near_dup")
      .orderBy("doc_a", "doc_b")
  }

  def q200AudioFingerprint(s: SparkSession, d: String): DataFrame = {
    val kindIsAudio =
      pmod(substring(col("source"), 4, 10).cast("int"), lit(3)) === 1
    val fps = documents(s, d)
      .filter(kindIsAudio && col("lang") === "en" && length(col("text")) >= 160)
      .select(col("doc_id"),
        explode(VectorExpressions.audioLandmarks(col("text"))).as("fp"))
      .distinct()
    containmentPairs(fps, AudioMaxBucket, AudioMinContainPpm, AudioMinShared)
  }

  /** q200's oracle rebuilds the fingerprints from scratch in integer
    * SQL: ord() code points → 16-sample frame energies → peak frames
    * (strict-left / at-or-above-right) → packed peak-pair hashes →
    * identical guard, pairing, and containment algebra.
    */
  val q200Oracle: String = {
    import graft.functions.VectorExpressions.AudioLandmarks._
    s"""WITH aud AS (
       |  SELECT doc_id, substr(text, 1, $SigChars) AS sig
       |  FROM documents
       |  WHERE CAST(substr(source, 4) AS INT) % 3 = 1
       |    AND lang = 'en' AND length(text) >= 160),
       |cps AS (
       |  SELECT doc_id, [CAST(ord(c) AS BIGINT)
       |    for c in regexp_split_to_array(sig, '') if c != ''] AS cps
       |  FROM aud),
       |fr AS (
       |  SELECT doc_id, (i - 1) // $FrameLen AS f, sum(cps[i]) AS e,
       |    len(cps) // $FrameLen AS nf
       |  FROM cps, unnest(generate_series(1, (len(cps) // $FrameLen) * $FrameLen)) AS t(i)
       |  GROUP BY 1, 2, 4),
       |nbr AS (
       |  SELECT doc_id, f, e, nf,
       |    lag(e)  OVER (PARTITION BY doc_id ORDER BY f) AS ep,
       |    lead(e) OVER (PARTITION BY doc_id ORDER BY f) AS en
       |  FROM fr WHERE nf >= 3),
       |pk AS (
       |  SELECT doc_id, f, e,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY f) AS rn
       |  FROM nbr
       |  WHERE f >= 1 AND f <= nf - 2 AND e > ep AND e >= en),
       |fps AS (
       |  SELECT DISTINCT a.doc_id,
       |    ((a.e & ${EnergyMask}) << 20) | ((b.e & ${EnergyMask}) << 8)
       |      | least(b.f - a.f, $MaxDt) AS fp
       |  FROM pk a JOIN pk b
       |    ON a.doc_id = b.doc_id AND b.rn BETWEEN a.rn + 1 AND a.rn + $FanOut),
       |perdoc AS (SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY 1),
       |sizes AS (SELECT fp, count(*) AS n FROM fps GROUP BY 1),
       |jb AS (SELECT fps.* FROM fps JOIN sizes USING (fp)
       |       WHERE n > 1 AND n <= $AudioMaxBucket),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |  FROM jb a JOIN jb b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_shared,
       |  CAST(n_shared * 1000000 // least(pa.n_fp, pb.n_fp) AS BIGINT)
       |    AS contain_ppm,
       |  CAST(CASE WHEN n_shared * 1000000 // least(pa.n_fp, pb.n_fp)
       |    >= $AudioMinContainPpm AND n_shared >= $AudioMinShared
       |    THEN 1 ELSE 0 END AS BIGINT) AS near_dup
       |FROM shared
       |  JOIN perdoc pa ON doc_a = pa.doc_id
       |  JOIN perdoc pb ON doc_b = pb.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --- Bigram-LM quality scoring (q201) ------------------------------------

  /** Extra bits charged when a scored bigram was never seen in training
    * (the backoff penalty of a stupid-backoff LM, in whole bits). */
  private val LmBackoffBits = 3L

  /** q201: BIGRAM-LM SCORING — the CCNet recipe (Wenzek 2020: score
    * candidate documents by the perplexity of an n-gram LM trained on a
    * trusted slice) in exact integer "bits": an 80% train slice
    * (doc_id % 5 ≠ 0) yields unigram and bigram counts; each held-out
    * document's bigrams are charged
    * `floorlog2(c(w1)) − floorlog2(c(w1,w2))` bits when seen (the
    * integer surrogate of −log2 P(w2|w1)), else the stupid-backoff
    * charge `LmBackoffBits + floorlog2(T) − floorlog2(c(w2))` (unseen
    * w2 counts as 1), T = total train tokens. Output: per held-out doc,
    * bigram count and milli-bits-per-bigram — the ranking CCNet buckets
    * on (head/middle/tail). floorlog2 via `length(bin(x))`, the q121
    * convention, so both engines compute identical integers.
    *
    * Scale: token/bigram exchanges are keyed on the words themselves —
    * vocabulary-sized aggregates, corpus-sized explodes, no broadcast
    * of the vocab (count tables join shuffle-side); the single-row
    * total rides a bounded broadcast (q85 discipline). Bigrams are
    * built map-side by a `transform` over the split array — no
    * per-doc window sort. The 80% train slice is scanned ONCE: unigram
    * and bigram counts fuse into a single (kind, k1, k2) aggregate
    * (three lookups ride ONE equi-join on it as exploded rows — a
    * filtered per-kind view would push the kind predicate through the
    * aggregate and fork it into per-kind corpus scans), the train-total
    * aggregate reuses the same exchange, and each distinct scored
    * bigram TYPE is priced once before documents pay
    * multiplicity × price (the 20% scored slice pays a second scan for
    * the type vocabulary — the cheap slice, by construction).
    */
  def q201BigramLm(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("a"))
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val scored = docs.filter(col("doc_id") % 5 === 0)
    // ONE train-side scan: unigram and bigram keys ride one explode
    // into one aggregate ((kind, k1, k2) — kind 0 = unigram with a ''
    // sentinel k2, impossible as a real token next to another); the cu /
    // cb / total consumers below all hang off that aggregate's exchange
    // (ReusedExchange), not off fresh corpus scans
    // the explicit isnotnull guards below are semantic no-ops (split()
    // never yields null tokens) but are load-bearing for the PLAN: the
    // lookup joins INFER them on their inputs, and an inferred filter
    // pushed through an aggregate's grouping keys forks the subtree —
    // writing them here keeps every consumer's subtree byte-identical,
    // so the aggregate exchanges are computed once (ReusedExchange)
    val counts = train.select(explode(expr(
        "concat(" +
        "  transform(a, w -> struct(0L AS kind, w AS k1, '' AS k2))," +
        "  CASE WHEN size(a) >= 2 THEN" + // sequence(2,1) runs DESCENDING
        "    transform(sequence(2, size(a))," +
        "      i -> struct(1L AS kind, a[i-2] AS k1, a[i-1] AS k2))" +
        "  ELSE array() END)")).as("t"))
      .filter(col("t.k1").isNotNull && col("t.k2").isNotNull)
      .groupBy(col("t.kind").as("kind"), col("t.k1").as("k1"),
        col("t.k2").as("k2"))
      .agg(count(lit(1)).as("c"))
    // no filtered views of `counts` anywhere: a kind = 0/1 filter (or a
    // join-condition constant) would PUSH THROUGH the aggregate and fork
    // it into per-kind corpus scans — every lookup goes through one
    // equi-join on the aggregate's own (kind, k1, k2) partitioning
    val tot = counts.agg(
      sum(when(col("kind") === 0, col("c"))).as("t"))
    def bigrams(df: DataFrame): DataFrame = df
      .filter(size(col("a")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(2, size(a)), i -> struct(a[i-2] AS w1, a[i-1] AS w2))")).as("bg"))
      .filter(col("bg.w1").isNotNull && col("bg.w2").isNotNull)
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    def fb(c: Column): Column = length(bin(c)).cast("long")
    // price each DISTINCT bigram type once (three lookups ride one
    // join as exploded rows); documents then pay multiplicity × price
    val bgm = bigrams(scored).groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("m"))
    val priced = bgm.select("w1", "w2").distinct()
      .select(col("w1"), col("w2"), explode(array(
        struct(lit(1L).as("kind"), col("w1").as("k1"), col("w2").as("k2"),
          lit(0).as("look")),
        struct(lit(0L).as("kind"), col("w1").as("k1"), lit("").as("k2"),
          lit(1).as("look")),
        struct(lit(0L).as("kind"), col("w2").as("k1"), lit("").as("k2"),
          lit(2).as("look")))).as("l"))
      .select(col("w1"), col("w2"), col("l.kind").as("kind"),
        col("l.k1").as("k1"), col("l.k2").as("k2"), col("l.look").as("look"))
      .join(counts, Seq("kind", "k1", "k2"), "left")
      .groupBy("w1", "w2")
      .agg(max(when(col("look") === 0, col("c"))).as("cb"),
        max(when(col("look") === 1, col("c"))).as("cu1"),
        max(when(col("look") === 2, col("c"))).as("cu2"))
      .crossJoin(broadcast(tot))
      .withColumn("bits", when(col("cb").isNotNull,
          greatest(lit(0L), fb(col("cu1")) - fb(col("cb"))))
        .otherwise(lit(LmBackoffBits) + fb(col("t")) -
          fb(coalesce(col("cu2"), lit(1L)))))
      .select("w1", "w2", "bits")
    bgm.join(priced, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum("m").as("n_bigrams"),
        sum(col("bits") * col("m")).as("sum_bits"))
      .withColumn("milli_bits", expr("sum_bits * 1000 DIV n_bigrams"))
      .orderBy("doc_id")
  }

  val q201Oracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
       |  FROM documents),
       |tr AS (SELECT * FROM d WHERE doc_id % 5 != 0),
       |sc AS (SELECT * FROM d WHERE doc_id % 5 = 0),
       |cu AS (SELECT w, count(*) AS c
       |       FROM (SELECT unnest(a) AS w FROM tr) GROUP BY 1),
       |tot AS (SELECT sum(c) AS t FROM cu),
       |cb AS (SELECT w1, w2, count(*) AS c FROM (
       |         SELECT a[i-1] AS w1, a[i] AS w2
       |         FROM tr, unnest(generate_series(2, len(a))) AS s(i))
       |       GROUP BY 1, 2),
       |bg AS (SELECT doc_id, a[i-1] AS w1, a[i] AS w2
       |       FROM sc, unnest(generate_series(2, len(a))) AS s(i)),
       |sb AS (
       |  SELECT doc_id,
       |    CASE WHEN cb.c IS NOT NULL
       |      THEN greatest(0, length(bin(cu1.c)) - length(bin(cb.c)))
       |      ELSE $LmBackoffBits + length(bin(tot.t))
       |           - length(bin(coalesce(cu2.c, 1))) END AS bits
       |  FROM bg
       |    LEFT JOIN cb ON bg.w1 = cb.w1 AND bg.w2 = cb.w2
       |    LEFT JOIN cu cu1 ON bg.w1 = cu1.w
       |    LEFT JOIN cu cu2 ON bg.w2 = cu2.w, tot)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(bits) AS BIGINT) AS sum_bits,
       |  CAST(sum(bits) * 1000 // count(*) AS BIGINT) AS milli_bits
       |FROM sb GROUP BY 1 ORDER BY doc_id""".stripMargin

  // --- Curation A/B by held-out LM bits (q219) ------------------------------

  /** q219: CURATION A/B EVALUATION — the downstream-proxy metric that
    * decides whether a curation step EARNED its place: train the q201
    * bigram LM on two variants of the train slice — (a) as-is, (b)
    * QUALITY-FILTERED by the q78 classifier (logit ≥ 0, the SHARED
    * [[qualityLogits]] definition, so the evaluated filter can never
    * drift from the deployed one) — and score the SAME held-out slice
    * under each. If filtering improved the corpus, the held-out
    * milli-bits drop; this is the cheap stand-in for "train a model
    * and compare eval loss" that real curation loops run between full
    * training jobs (the CCNet / Gopher ablation discipline). All
    * arithmetic is q201's exact integer bits, so the A/B delta is
    * hash-stable cross-engine.
    *
    * Scale: per variant, ONE train scan into the fused (kind, k1, k2)
    * count aggregate (q201's discipline); the held-out slice collapses
    * to distinct bigram TYPES with global multiplicities before
    * pricing, so scoring joins are vocabulary-sized; output is one row
    * per variant. The filtered variant's extra cost is the q78 logit
    * pass over the train slice — exactly what the filter itself
    * charges.
    */
  def q219CurationAb(s: SparkSession, d: String): DataFrame = {
    val raw = documents(s, d)
    val toks = raw
      .select(col("doc_id"), col("text"),
        split(trim(lower(col("text"))), "\\s+").as("a"))
    val heldout = toks.filter(col("doc_id") % 5 === 0)
    val trainFull = toks.filter(col("doc_id") % 5 =!= 0)
    val keepIds = qualityLogits(raw.filter(col("doc_id") % 5 =!= 0))
      .filter(col("logit") >= 0).select("doc_id")
    val trainFiltered = trainFull.join(keepIds, Seq("doc_id"))
    def variantRow(name: String, train: DataFrame): DataFrame = {
      val counts = train.select(explode(expr(
          "concat(" +
          "  transform(a, w -> struct(0L AS kind, w AS k1, '' AS k2))," +
          "  CASE WHEN size(a) >= 2 THEN" +
          "    transform(sequence(2, size(a))," +
          "      i -> struct(1L AS kind, a[i-2] AS k1, a[i-1] AS k2))" +
          "  ELSE array() END)")).as("t"))
        .filter(col("t.k1").isNotNull && col("t.k2").isNotNull)
        .groupBy(col("t.kind").as("kind"), col("t.k1").as("k1"),
          col("t.k2").as("k2"))
        .agg(count(lit(1)).as("c"))
      val tot = counts.agg(sum(when(col("kind") === 0, col("c"))).as("t"))
      def fb(c: Column): Column = length(bin(c)).cast("long")
      // held-out bigram TYPES with global multiplicity
      val bgm = heldout
        .filter(size(col("a")) >= 2)
        .select(explode(expr(
          "transform(sequence(2, size(a)), i -> struct(a[i-2] AS w1, a[i-1] AS w2))")).as("bg"))
        .filter(col("bg.w1").isNotNull && col("bg.w2").isNotNull)
        .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .agg(count(lit(1)).as("m"))
      val priced = bgm
        .select(col("w1"), col("w2"), col("m"), explode(array(
          struct(lit(1L).as("kind"), col("w1").as("k1"), col("w2").as("k2"),
            lit(0).as("look")),
          struct(lit(0L).as("kind"), col("w1").as("k1"), lit("").as("k2"),
            lit(1).as("look")),
          struct(lit(0L).as("kind"), col("w2").as("k1"), lit("").as("k2"),
            lit(2).as("look")))).as("l"))
        .select(col("w1"), col("w2"), col("m"), col("l.kind").as("kind"),
          col("l.k1").as("k1"), col("l.k2").as("k2"), col("l.look").as("look"))
        .join(counts, Seq("kind", "k1", "k2"), "left")
        .groupBy("w1", "w2", "m")
        .agg(max(when(col("look") === 0, col("c"))).as("cb"),
          max(when(col("look") === 1, col("c"))).as("cu1"),
          max(when(col("look") === 2, col("c"))).as("cu2"))
        .crossJoin(broadcast(tot))
        .withColumn("bits", when(col("cb").isNotNull,
            greatest(lit(0L), fb(col("cu1")) - fb(col("cb"))))
          .otherwise(lit(LmBackoffBits) + fb(col("t")) -
            fb(coalesce(col("cu2"), lit(1L)))))
      priced
        .agg(sum("m").as("n_bigrams"),
          sum(col("bits") * col("m")).as("sum_bits"))
        .crossJoin(broadcast(tot.select(col("t").as("train_tokens"))))
        .select(lit(name).as("variant"), col("train_tokens"),
          col("n_bigrams"), col("sum_bits"),
          expr("sum_bits * 1000 DIV n_bigrams").as("milli_bits"))
    }
    variantRow("filtered", trainFiltered)
      .unionAll(variantRow("full", trainFull))
      .orderBy("variant")
  }

  val q219Oracle: String = {
    def variantSql(name: String, trainCte: String): String =
      s"""SELECT '$name' AS variant,
         |  (SELECT CAST(sum(c) AS BIGINT) FROM cu_$name) AS train_tokens,
         |  CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(bits) AS BIGINT) AS sum_bits,
         |  CAST(sum(bits) * 1000 // count(*) AS BIGINT) AS milli_bits
         |FROM (
         |  SELECT CASE WHEN cb.c IS NOT NULL
         |      THEN greatest(0, length(bin(cu1.c)) - length(bin(cb.c)))
         |      ELSE $LmBackoffBits + length(bin(tot_$name.t))
         |           - length(bin(coalesce(cu2.c, 1))) END AS bits
         |  FROM bg
         |    LEFT JOIN cb_$name cb ON bg.w1 = cb.w1 AND bg.w2 = cb.w2
         |    LEFT JOIN cu_$name cu1 ON bg.w1 = cu1.w
         |    LEFT JOIN cu_$name cu2 ON bg.w2 = cu2.w, tot_$name)""".stripMargin
    def countsSql(name: String, trainCte: String): String =
      s"""cu_$name AS (SELECT w, count(*) AS c
         |  FROM (SELECT unnest(a) AS w FROM $trainCte) GROUP BY 1),
         |tot_$name AS (SELECT sum(c) AS t FROM cu_$name),
         |cb_$name AS (SELECT w1, w2, count(*) AS c FROM (
         |    SELECT a[i-1] AS w1, a[i] AS w2
         |    FROM $trainCte, unnest(generate_series(2, len(a))) AS s(i))
         |  GROUP BY 1, 2)""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, text,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS a
       |  FROM documents),
       |ho AS (SELECT * FROM d WHERE doc_id % 5 = 0),
       |trf AS (SELECT * FROM d WHERE doc_id % 5 != 0),
       |keep AS (SELECT doc_id FROM (
       |    SELECT doc_id, CAST(sum(
       |      ((${graft.functions.PolyHash.hornerSql("token")} % $QcBuckets)
       |        * 37 + 11) % $QcWMod - 10) AS BIGINT) AS logit
       |    FROM (SELECT doc_id,
       |            unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
       |          FROM trf)
       |    GROUP BY doc_id) WHERE logit >= 0),
       |trq AS (SELECT trf.* FROM trf JOIN keep USING (doc_id)),
       |bg AS (SELECT a[i-1] AS w1, a[i] AS w2
       |       FROM ho, unnest(generate_series(2, len(a))) AS s(i)),
       |${countsSql("full", "trf")},
       |${countsSql("filtered", "trq")}
       |${variantSql("filtered", "trq")}
       |UNION ALL
       |${variantSql("full", "trf")}
       |ORDER BY variant""".stripMargin
  }

  // --- DSIR importance selection (q202) ------------------------------------

  /** Hashed feature-space size (buckets) for the DSIR importance model. */
  private val DsirBuckets = 8192L

  /** Number of raw documents the importance rank selects. */
  private val DsirTopK = 100

  /** q202: DSIR SELECTION — data selection via importance resampling
    * (Xie 2023: pick raw-corpus documents whose hashed-n-gram feature
    * distribution looks like a curated target): word bigrams hash into
    * [[DsirBuckets]] buckets ([[graft.functions.PolyHash]], the
    * engine-portable family); per bucket, target and raw occurrence
    * counts give an integer log-likelihood-ratio surrogate
    * `floorlog2(ct+1) − floorlog2(cr+1)`; a raw document's importance
    * is the sum of its features' ratios, and the top-[[DsirTopK]] by
    * (importance, doc_id) are selected. Target slice: source id % 4 = 0
    * (the "curated" stand-in).
    *
    * Scale: the feature space is FIXED ([[DsirBuckets]] rows), so the
    * ratio table broadcasts — scoring is one corpus scan with a
    * map-side hash join, no shuffle on the corpus; the result is a
    * TakeOrderedAndProject top-K, never a global sort.
    */
  def q202Dsir(s: SparkSession, d: String): DataFrame = {
    val isTarget = pmod(substring(col("source"), 4, 10).cast("int"), lit(4)) === 0
    val feats = documents(s, d)
      .select(col("doc_id"), isTarget.as("is_target"),
        split(trim(lower(col("text"))), "\\s+").as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("doc_id"), col("is_target"), explode(expr(
        "transform(sequence(2, size(a)), i -> concat(a[i-2], ' ', a[i-1]))")).as("g"))
      .select(col("doc_id"), col("is_target"),
        pmod(VectorExpressions.hornerHash(col("g")), lit(DsirBuckets)).as("b"))
    val ratios = feats
      .groupBy("b")
      .agg(count_if(col("is_target")).as("ct"),
        count_if(!col("is_target")).as("cr"))
      .withColumn("lr",
        (length(bin(col("ct") + 1)) - length(bin(col("cr") + 1))).cast("long"))
      .select("b", "lr")
    feats.filter(!col("is_target"))
      .join(broadcast(ratios), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("lr").as("importance"))
      .orderBy(col("importance").desc, col("doc_id"))
      .limit(DsirTopK)
  }

  val q202Oracle: String = {
    import graft.functions.PolyHash
    s"""WITH d AS (
       |  SELECT doc_id, CAST(substr(source, 4) AS INT) % 4 = 0 AS is_target,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS a
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, is_target,
       |    ${PolyHash.hornerSql("a[i-1] || ' ' || a[i]")} % $DsirBuckets AS b
       |  FROM d, unnest(generate_series(2, len(a))) AS s(i)
       |  WHERE len(a) >= 2),
       |r AS (
       |  SELECT b,
       |    CAST(length(bin(count(*) FILTER (is_target) + 1))
       |       - length(bin(count(*) FILTER (NOT is_target) + 1)) AS BIGINT) AS lr
       |  FROM f GROUP BY 1)
       |SELECT doc_id, count(*) AS n_feats, CAST(sum(lr) AS BIGINT) AS importance
       |FROM f JOIN r USING (b)
       |WHERE NOT is_target
       |GROUP BY 1
       |ORDER BY importance DESC, doc_id LIMIT $DsirTopK""".stripMargin
  }

  // --- Maintained IVF index (q205) -----------------------------------------

  /** Index-layout version tag (bump to invalidate published layouts). */
  private val IvfIdxTag = "v1"
  /** Cells probed per query. */
  private val IvfIdxNProbe = 3
  /** Neighbors returned per query. */
  private val IvfIdxTopK = 5

  /** q205: MAINTAINED IVF INDEX — similarity search the way a 100 TB
    * deployment actually runs it: the index is BUILT ONCE as a
    * maintained physical layout ([[graft.sources.Layouts]] publish
    * protocol, content-keyed by the fixture's identity token) and every
    * query PROBES it, instead of the per-query cell scans of q25/q106.
    * Two published artifacts:
    *
    *  - `ivfidx_lists`: the corpus parquet-partitioned BY CELL — the
    *    literal "inverted file": a probe of 3 cells reads 3 directories
    *    and Spark's DYNAMIC PARTITION PRUNING derives the file filter
    *    from the probed-cell join itself (spec-pinned via the plan's
    *    partition filter);
    *  - `ivfidx_cents`: per-cell integer-quantized centroid components
    *    (the q81 2^20 quantization, exact cross-engine), 10 cells ×
    *    64 dims — broadcast-sized forever (|cells| ≪ corpus).
    *
    * The probe ranks cells per query by the exact-integer quantized dot
    * product against the centroid table, probes the top
    * [[IvfIdxNProbe]], and returns the exact top-[[IvfIdxTopK]] by
    * rounded cosine within the probed lists (rank on the ROUNDED value,
    * vec_id tie-break — cross-engine deterministic).
    *
    * Scale: the build is one corpus scan each for lists and centroids
    * (amortized across every subsequent query by the publish protocol);
    * a probe touches only nprobe/|cells| of the data, the centroid join
    * and probed-pair attach ride broadcasts, and the top-K is a bounded
    * per-query window over probed candidates only.
    */
  def q205IvfIndex(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Layouts
    import org.apache.spark.sql.expressions.Window
    val tag = Layouts.srcTag(s, d, "embeddings")
    val qx = round(col("x").cast("double") * lit(KmQScale.toDouble)).cast("long")
    val listsPath = Layouts.ensureDir(s, s"ivfidx_lists_${IvfIdxTag}_$tag") { tmp =>
      embeddings(s, d).write.partitionBy("label").parquet(tmp)
    }
    val centsPath = Layouts.ensureDir(s, s"ivfidx_cents_${IvfIdxTag}_$tag") { tmp =>
      embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("label"), col("pos"), qx.as("qx"))
        .groupBy("label", "pos")
        // DIV truncates toward zero on both engines (oracle: trunc())
        .agg(expr("sum(qx) DIV count(1)").as("cq"))
        .write.parquet(tmp)
    }
    val q = embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(RecallQueryMod)) === 0 &&
        col("vec_id") < lit(RecallQueryMod * RecallMaxQueries))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val qq = q.select(col("q_id"), posexplode(col("q_emb")).as(Seq("pos", "x")))
      .select(col("q_id"), col("pos"), qx.as("qx"))
    val wCell = Window.partitionBy("q_id")
      .orderBy(col("dot").desc, col("label").asc)
    val probed = qq
      .join(broadcast(s.read.parquet(centsPath)), Seq("pos"))
      .groupBy("q_id", "label")
      .agg(sum(col("qx") * col("cq")).as("dot"))
      .withColumn("cr", row_number().over(wCell))
      .filter(col("cr") <= IvfIdxNProbe)
      .select("q_id", "label")
      .join(q, Seq("q_id")) // attach q_emb to each probed (query, cell)
    val wK = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    s.read.parquet(listsPath)
      .join(broadcast(probed), Seq("label"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(VectorExpressions.cosine(col("embedding"), col("q_emb")), 4)
          .as("sim"))
      .withColumn("rank", row_number().over(wK).cast("long"))
      .filter(col("rank") <= IvfIdxTopK)
      .orderBy("q_id", "rank")
  }

  /** q205's oracle replays build + probe from the raw table: quantized
    * centroid means (trunc division — Spark's DIV), exact-integer cell
    * ranking, probed-cell candidate set, rounded-cosine top-K.
    */
  val q205Oracle: String =
    s"""WITH ex AS (
       |  SELECT vec_id, label, p,
       |    CAST(round(CAST(embedding[p] AS DOUBLE) * $KmQScale) AS BIGINT) AS qx
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(p)),
       |cents AS (
       |  SELECT label, p,
       |    CAST(trunc(CAST(sum(qx) AS DOUBLE) / count(*)) AS BIGINT) AS cq
       |  FROM ex GROUP BY 1, 2),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id % $RecallQueryMod = 0
       |    AND vec_id < ${RecallQueryMod * RecallMaxQueries}),
       |qq AS (
       |  SELECT q_id, p,
       |    CAST(round(CAST(q_emb[p] AS DOUBLE) * $KmQScale) AS BIGINT) AS qx
       |  FROM q, unnest(generate_series(1, len(q_emb))) AS g(p)),
       |cellrank AS (
       |  SELECT q_id, label,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY sum(qx * cq) DESC, label) AS cr
       |  FROM qq JOIN cents USING (p) GROUP BY q_id, label),
       |cand AS (
       |  SELECT pr.q_id, e.vec_id, e.embedding, q.q_emb
       |  FROM (SELECT q_id, label FROM cellrank WHERE cr <= $IvfIdxNProbe) pr
       |    JOIN embeddings e ON e.label = pr.label
       |    JOIN q ON q.q_id = pr.q_id
       |  WHERE e.vec_id <> pr.q_id),
       |sims AS (
       |  SELECT q_id, vec_id,
       |    round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 4) AS sim
       |  FROM (SELECT q_id, vec_id, unnest(embedding) AS x, unnest(q_emb) AS y
       |        FROM cand)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT q_id, vec_id, sim,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
       |  FROM sims)
       |SELECT q_id, vec_id, sim, rank FROM ranked
       |WHERE rank <= $IvfIdxTopK ORDER BY q_id, rank""".stripMargin

  // --- Incremental IVF index maintenance (q238) ------------------------------

  /** The base/delta snapshot split for the incremental IVF ring — the
    * q211 protocol's 80/20 rule applied to vectors: every 5th vector is
    * the "newly ingested" delta. */
  private val IvfIncMod = 5L

  /** Build the BASE generation of the incremental IVF layout at `dir`:
    * `cents/` (per-cell quantized centroid components, q205 arithmetic,
    * FROM THE BASE SNAPSHOT ONLY — centroids freeze at build; drift is
    * remeasured by the recall audit, re-centering is a rebuild) and
    * `lists/batch_id=0/cell=C` (the base vectors, cell := label, the
    * q205 discipline). */
  private[graft] def ivfBuildBase(s: SparkSession, base: DataFrame,
      dir: String): Unit = {
    val qx = round(col("x").cast("double") * lit(KmQScale.toDouble)).cast("long")
    base
      .select(col("label").as("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("cell"), col("pos"), qx.as("qx"))
      .groupBy("cell", "pos")
      .agg(expr("sum(qx) DIV count(1)").as("cq"))
      .write.mode("overwrite").parquet(s"$dir/cents")
    base.select(col("vec_id"), col("embedding"), col("label").as("cell"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$dir/lists/batch_id=0")
  }

  /** Append ONE delta snapshot to the incremental IVF layout: each new
    * vector is assigned to the nearest PUBLISHED centroid (argmax exact-
    * integer quantized dot, cell-asc tie-break) — the append scans only
    * the delta and the broadcast-sized centroid table, NEVER the corpus
    * or the existing lists, and writes only its own
    * `lists/batch_id=N/cell=C` partitions in overwrite mode, so a
    * crashed-and-replayed append rewrites its own files instead of
    * duplicating vectors (replay idempotence, spec-pinned — the q211
    * contract verbatim). */
  private[graft] def ivfAppendDelta(s: SparkSession, delta: DataFrame,
      dir: String, batchId: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    val qx = round(col("x").cast("double") * lit(KmQScale.toDouble)).cast("long")
    val cents = s.read.parquet(s"$dir/cents")
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("dot").desc, col("cell").asc)
    val assigned = delta
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"), qx.as("qx"))
      .join(broadcast(cents), Seq("pos"))
      .groupBy("vec_id", "cell")
      .agg(sum(col("qx") * col("cq")).as("dot"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select("vec_id", "cell")
    delta.select(col("vec_id"), col("embedding"))
      .join(assigned, Seq("vec_id"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$dir/lists/batch_id=$batchId")
  }

  /** Probe the incremental IVF layout: rank cells per query against the
    * published centroids, probe the top [[IvfIdxNProbe]], score the
    * UNION OF BATCH GENERATIONS (one partitioned read over `lists/` —
    * batch_id and cell are partition columns, so the probed-cell filter
    * prunes directories across every generation at once), exact rounded
    * cosine top-[[IvfIdxTopK]]. Batch-count-agnostic by construction —
    * ingesting more snapshots changes nothing here. */
  private[graft] def ivfProbe(s: SparkSession, d: String, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qx = round(col("x").cast("double") * lit(KmQScale.toDouble)).cast("long")
    val q = embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(RecallQueryMod)) === 0 &&
        col("vec_id") < lit(RecallQueryMod * RecallMaxQueries))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val wCell = Window.partitionBy("q_id")
      .orderBy(col("dot").desc, col("cell").asc)
    val probed = q
      .select(col("q_id"), posexplode(col("q_emb")).as(Seq("pos", "x")))
      .select(col("q_id"), col("pos"), qx.as("qx"))
      .join(broadcast(s.read.parquet(s"$dir/cents")), Seq("pos"))
      .groupBy("q_id", "cell")
      .agg(sum(col("qx") * col("cq")).as("dot"))
      .withColumn("cr", row_number().over(wCell))
      .filter(col("cr") <= IvfIdxNProbe)
      .select("q_id", "cell")
      .join(q, Seq("q_id"))
    val wK = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    s.read.parquet(s"$dir/lists")
      .join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(VectorExpressions.cosine(col("embedding"), col("q_emb")), 4)
          .as("sim"))
      .withColumn("rank", row_number().over(wK).cast("long"))
      .filter(col("rank") <= IvfIdxTopK)
      .orderBy("q_id", "rank")
  }

  /** Compact the incremental layout's accumulated generations back to
    * ONE (`batch_id=0`) — the maintenance hygiene the q211/q137
    * maintained layouts prescribe, made concrete for IVF: vectors are
    * immutable and their cell assignments final once written, so
    * compaction is a PURE FILE-LAYOUT merge per cell — no
    * re-assignment arithmetic, the centroid table untouched, and a
    * probe before and after is bit-identical (spec-pinned). Cost is
    * one read+write of the lists bytes, amortized across every
    * subsequent probe's file-listing and footer overhead. The merged
    * tree is swapped in by `Layouts.replace` (complete-or-absent).
    */
  private[graft] def ivfCompactGenerations(s: SparkSession, dir: String): Unit =
    graft.sources.Layouts.replace(s, dir, "lists")(mergeGenerations(s, dir, "lists"))

  /** The write of a generation compaction: every generation of the
    * cell-partitioned `dir/sub` merged into the one generation
    * `to/batch_id=0`, for [[graft.sources.Layouts.replace]] to swap in. */
  private[graft] def mergeGenerations(s: SparkSession, dir: String, sub: String)
      (to: String): Unit =
    s.read.parquet(s"$dir/$sub").drop("batch_id")
      .write.partitionBy("cell").mode("overwrite").parquet(s"$to/batch_id=0")

  /** q238: INCREMENTAL IVF INDEX MAINTENANCE — q205's maintained ANN
    * layout gains the batch_id protocol already
    * proven on MinHash (q79) and BM25 (q211), so a live embedding
    * corpus absorbs a snapshot WITHOUT republishing the index. The
    * layout decomposes into the frozen centroid table plus
    * batch_id-partitioned inverted lists; an ingest assigns ONLY its
    * new vectors against the published centroids (O(|delta|·cells)
    * integer dots + one delta-sized write); probes union batch
    * generations through one partition-pruned read. The registered
    * query builds base (80%), appends the delta (20%), and probes; the
    * DuckDB oracle recomputes the SAME semantics from the raw table
    * (base-only centroid means, argmax delta assignment, probed-cell
    * candidates, rounded-cosine top-K), so the gate passing IS the
    * incremental == rebuild proof at every scale factor.
    *
    * Scale: ingest cost grows with the delta, never the corpus; the
    * centroid table is broadcast-sized forever; a probe touches
    * nprobe/|cells| of every generation's bytes under DPP. Generations
    * accumulate → periodic compaction is just re-appending merged
    * partitions (the q211 hygiene note, verbatim by design).
    */
  def q238IvfIncremental(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Layouts
    val tag = Layouts.srcTag(s, d, "embeddings")
    val dir = Layouts.ensureDir(s, s"ivfinc_${IvfIdxTag}_$tag") { tmp =>
      val e = embeddings(s, d)
      ivfBuildBase(s, e.filter(pmod(col("vec_id"), lit(IvfIncMod)) =!= 0), tmp)
      ivfAppendDelta(s, e.filter(pmod(col("vec_id"), lit(IvfIncMod)) === 0),
        tmp, 1L)
      Layouts.markComplete(s, tmp)
    }
    ivfProbe(s, d, dir)
  }

  /** The rebuild-from-scratch formulation of the SAME semantics —
    * passing it certifies incremental == rebuild (the q211/q131
    * self-certification pattern). */
  val q238Oracle: String =
    s"""WITH base AS (
       |  SELECT vec_id, label, embedding FROM embeddings
       |  WHERE vec_id % $IvfIncMod <> 0),
       |bex AS (
       |  SELECT vec_id, label, p,
       |    CAST(round(CAST(embedding[p] AS DOUBLE) * $KmQScale) AS BIGINT) AS qx
       |  FROM base, unnest(generate_series(1, len(embedding))) AS g(p)),
       |cents AS (
       |  SELECT label AS cell, p,
       |    CAST(trunc(CAST(sum(qx) AS DOUBLE) / count(*)) AS BIGINT) AS cq
       |  FROM bex GROUP BY 1, 2),
       |delta AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % $IvfIncMod = 0),
       |dex AS (
       |  SELECT vec_id, p,
       |    CAST(round(CAST(embedding[p] AS DOUBLE) * $KmQScale) AS BIGINT) AS qx
       |  FROM delta, unnest(generate_series(1, len(embedding))) AS g(p)),
       |dasg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sum(qx * cq) DESC, cell) AS rn
       |    FROM dex JOIN cents USING (p) GROUP BY vec_id, cell)
       |  WHERE rn = 1),
       |cells AS (
       |  SELECT vec_id, label AS cell FROM base
       |  UNION ALL SELECT vec_id, cell FROM dasg),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id % $RecallQueryMod = 0
       |    AND vec_id < ${RecallQueryMod * RecallMaxQueries}),
       |qq AS (
       |  SELECT q_id, p,
       |    CAST(round(CAST(q_emb[p] AS DOUBLE) * $KmQScale) AS BIGINT) AS qx
       |  FROM q, unnest(generate_series(1, len(q_emb))) AS g(p)),
       |cellrank AS (
       |  SELECT q_id, cell,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY sum(qx * cq) DESC, cell) AS cr
       |  FROM qq JOIN cents USING (p) GROUP BY q_id, cell),
       |cand AS (
       |  SELECT pr.q_id, c.vec_id, e.embedding, q.q_emb
       |  FROM (SELECT q_id, cell FROM cellrank WHERE cr <= $IvfIdxNProbe) pr
       |    JOIN cells c ON c.cell = pr.cell
       |    JOIN embeddings e ON e.vec_id = c.vec_id
       |    JOIN q ON q.q_id = pr.q_id
       |  WHERE c.vec_id <> pr.q_id),
       |sims AS (
       |  SELECT q_id, vec_id,
       |    round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 4) AS sim
       |  FROM (SELECT q_id, vec_id, unnest(embedding) AS x, unnest(q_emb) AS y
       |        FROM cand)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT q_id, vec_id, sim,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
       |  FROM sims)
       |SELECT q_id, vec_id, sim, rank FROM ranked
       |WHERE rank <= $IvfIdxTopK ORDER BY q_id, rank""".stripMargin

  // --- Product-quantization ADC (q210) --------------------------------------

  /** Subspaces the 64-dim vector splits into (8 dims each). */
  private val PqM = 8
  /** Dimensions per subspace. */
  private val PqSub = 8
  /** Codebook entries per subspace — one 4-bit code each, so a vector
    * compresses to 8 codes = 4 bytes against 256 embedding bytes. */
  private val PqK = 16L

  /** q210: PRODUCT-QUANTIZATION ADC — the third mainstream ANN
    * architecture beside exact scoring (q24) and IVF cell probing
    * (q25/q205): each vector splits into [[PqM]] subvectors, every
    * subvector is replaced by the id of its nearest entry in a
    * per-subspace [[PqK]]-entry codebook, and a query is answered by
    * ASYMMETRIC DISTANCE COMPUTATION — one lookup table of
    * query-to-centroid distances per subspace (|Q|·[[PqM]]·[[PqK]]
    * entries, kilobytes), candidate distance = Σ_m LUT[m, code_m].
    * Output is the q106-style recall@[[RecallK]] histogram of ADC
    * top-K vs exact top-K, on the SAME doubly-bounded query panel —
    * zero-overlap queries kept on the panel spine (the q195 lesson).
    *
    * Exactness: components quantize to ·2^20 longs (the q81 rounding),
    * codebooks are ONE Lloyd step from a deterministic affine-hash
    * init ((vec_id·37 + m·11) mod K) with floored integer means
    * (sign-factored division — Spark `div` truncates toward zero,
    * DuckDB `//` floors; they agree only after factoring the sign),
    * and every distance is an exact integer sum of squared longs, so
    * codes, LUTs, and both rankings are bit-identical cross-engine.
    * Ranking ties break on vec_id; code-assignment ties on code id.
    *
    * Scale: the codebook is [[PqM]]·[[PqK]] = 128 rows (broadcast both
    * at train-apply and LUT build); the CODE TABLE — 8 small ints per
    * vector — is the layout ADC scans, never the vectors (that
    * bandwidth cut is why PQ exists: 64× fewer bytes per candidate
    * here); per-query rank windows sit behind the (q_id, bucket)
    * top-K prefilter; the exact leg is the audit's ground truth and
    * rides the bounded panel broadcast exactly like q106. At 100 TB
    * the codebook trains on a sample and publishes as a maintained
    * layout (the q205 protocol) — here it trains in-plan so the gate
    * certifies the training arithmetic too.
    */
  def q210PqAdc(s: SparkSession, d: String): DataFrame =
    pqRecallAudit(embeddings(s, d))

  /** The q210 chain over any (vec_id, embedding) frame — separated so
    * specs can drive it with crafted vector layouts. */
  // The PQ training/assignment builders — ONE definition shared by the
  // in-plan-certified q210 audit and the q244 maintained-layout probe,
  // so the deployment artifact can never drift from the gated arithmetic.

  private def pqQuant(c: Column): Column =
    transform(c, x => round(x.cast("double") * lit(KmQScale.toDouble)).cast("long"))

  // Fused compiled kernel (graft.functions.VectorExpressions.LongSqDist):
  // the HOF form `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0L, +)`
  // this replaces runs two interpreted CodegenFallback lambdas and
  // allocates an intermediate array per scored PAIR — measured to
  // dominate the PQ exact legs (q252: 1.3–1.6 s of 2.9 s at sf0.1).
  // Same nulls (null input / length mismatch / null element → null),
  // same wrapping long arithmetic; formulation equality is pinned in
  // VectorExpressionsSpec.
  private def pqSqdist(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.longSqDist(a, b)

  /** (vec_id, m, sv): quantized 8-dim subvectors of a quantized frame. */
  private def pqSubvectors(full: DataFrame): DataFrame = full
    .select(col("vec_id"), explode(transform(sequence(lit(0), lit(PqM - 1)),
      m => struct(m.as("m"),
        slice(col("qe"), m * PqSub + 1, lit(PqSub)).as("sv")))).as("s"))
    .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))

  /** Codebook: one Lloyd step from the deterministic hash init —
    * floored integer member means, sign-factored for engine parity. */
  private def pqCodebook(sv: DataFrame): DataFrame = sv
    .withColumn("k", pmod(col("vec_id") * 37 + col("m") * 11, lit(PqK)))
    .select(col("m"), col("k"), posexplode(col("sv")).as(Seq("pos", "x")))
    .groupBy("m", "k", "pos")
    .agg(sum("x").as("sx"), count(lit(1)).as("cnt"))
    .withColumn("c",
      expr("CASE WHEN sx < 0 THEN -((-sx) div cnt) ELSE sx div cnt END"))
    .groupBy("m", "k")
    .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
      p => p("c")).as("cv"))

  /** Codes: argmin exact integer squared distance, ties to smallest k. */
  private def pqCodes(sv: DataFrame, cents: DataFrame): DataFrame =
    sv.join(broadcast(cents), Seq("m"))
      .select(col("vec_id"), col("m"), col("k"),
        pqSqdist(col("sv"), col("cv")).as("dist"))
      .groupBy("vec_id", "m")
      .agg(min_by(col("k"), struct(col("dist"), col("k"))).as("code"))

  private[graft] def pqRecallAudit(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def sqdist(a: Column, b: Column): Column = pqSqdist(a, b)
    val isQuery = pmod(col("vec_id"), lit(RecallQueryMod)) === 0 &&
      col("vec_id") < lit(RecallQueryMod * RecallMaxQueries)

    // ONE corpus scan: the quantized-vector frame materializes once
    // (eager localCheckpoint, the q84 discipline) and feeds all five
    // consumers — codebook build, code assignment, LUT, the exact leg,
    // and the panel spine. Without it the plan re-reads the vector
    // column SEVEN times (ReuseCheck scans=1 pinned in PqAdcSpec).
    val full = e.select(col("vec_id"), pqQuant(col("embedding")).as("qe"))
      .localCheckpoint(true)

    val sv = pqSubvectors(full)
    val cents = pqCodebook(sv)
    val codes = pqCodes(sv, cents)

    // ADC lookup table: query-subvector → centroid exact distances
    val lut = sv.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("m"), col("sv").as("qsv"))
      .join(broadcast(cents), Seq("m"))
      .select(col("q_id"), col("m"), col("k").as("code"),
        sqdist(col("qsv"), col("cv")).as("qd"))

    def topK(scored: DataFrame, d: String): DataFrame = {
      val ord = Seq(col(d).asc, col("vec_id").asc)
      val wB = Window.partitionBy(col("q_id"), col("__b")).orderBy(ord: _*)
      val wA = Window.partitionBy(col("q_id")).orderBy(ord: _*)
      scored
        .withColumn("__b", pmod(xxhash64(col("vec_id")), lit(RecallBuckets)))
        .withColumn("__br", row_number().over(wB))
        .filter(col("__br") <= RecallK).drop("__b", "__br")
        .withColumn("__rn", row_number().over(wA))
        .filter(col("__rn") <= RecallK)
        .select("q_id", "vec_id")
    }

    // ADC leg scans the CODE table (8 ints/vector), never the vectors
    val adcTop = topK(codes
      .join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum("qd").as("adc")), "adc")

    // exact leg: full quantized vectors against the panel broadcast
    // (both frames read the checkpointed quantized corpus, not the scan)
    val panel = full.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("qe").as("qq"))
    val exactTop = topK(full.crossJoin(broadcast(panel))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        sqdist(col("qe"), col("qq")).as("dist")), "dist")

    // zero-overlap queries stay on the spine (q195 lesson)
    panel.select("q_id")
      .join(adcTop.join(exactTop, Seq("q_id", "vec_id"))
        .groupBy("q_id").agg(count(lit(1)).as("ov")), Seq("q_id"), "left")
      .select(coalesce(col("ov"), lit(0L)).as("n_overlap"))
      .groupBy("n_overlap").agg(count(lit(1)).as("n_queries"))
      .orderBy(col("n_overlap").desc)
  }

  /** The q210/q244 oracle chain through `lut`: quantization, the hash
    * init, the floored integer Lloyd step, code argmin, and the ADC
    * lookup table — shared so the maintained-layout probe's oracle
    * replays the IDENTICAL training arithmetic the in-plan gate
    * certifies. */
  private def pqChainSql: String =
    s"""qe AS (
       |  SELECT vec_id, pos,
       |    CAST(round(CAST(x AS DOUBLE) * $KmQScale) AS BIGINT) AS qx
       |  FROM (SELECT vec_id, unnest(embedding) AS x,
       |          unnest(generate_series(1, len(embedding))) AS pos
       |        FROM embeddings)),
       |sv AS (SELECT vec_id, (pos - 1) // $PqSub AS m, pos, qx FROM qe),
       |cent AS (
       |  SELECT m, (vec_id * 37 + m * 11) % $PqK AS k, pos,
       |    CASE WHEN sum(qx) < 0 THEN -((-sum(qx)) // count(*))
       |         ELSE sum(qx) // count(*) END AS c
       |  FROM sv GROUP BY 1, 2, 3),
       |vd AS (
       |  SELECT s.vec_id, s.m, c.k, sum((s.qx - c.c) * (s.qx - c.c)) AS dist
       |  FROM sv s JOIN cent c ON s.m = c.m AND s.pos = c.pos
       |  GROUP BY 1, 2, 3),
       |codes AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT vec_id, m, k,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
       |    FROM vd) WHERE rn = 1),
       |qids AS (SELECT vec_id AS q_id FROM embeddings
       |         WHERE vec_id % $RecallQueryMod = 0
       |           AND vec_id < ${RecallQueryMod * RecallMaxQueries}),
       |lut AS (
       |  SELECT q.q_id, s.m, c.k, sum((s.qx - c.c) * (s.qx - c.c)) AS qd
       |  FROM qids q JOIN sv s ON s.vec_id = q.q_id
       |    JOIN cent c ON c.m = s.m AND c.pos = s.pos
       |  GROUP BY 1, 2, 3)""".stripMargin

  /** The oracle replays quantization, the hash init, the floored
    * integer Lloyd step, code argmin, LUT build, ADC scoring, both
    * top-K rankings, and the spine-kept overlap histogram in SQL. */
  lazy val q210Oracle: String =
    s"""WITH $pqChainSql,
       |adc AS (
       |  SELECT l.q_id, cd.vec_id, sum(l.qd) AS adc
       |  FROM codes cd JOIN lut l ON l.m = cd.m AND l.k = cd.code
       |  WHERE cd.vec_id <> l.q_id GROUP BY 1, 2),
       |atop AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rn
       |    FROM adc) WHERE rn <= $RecallK),
       |ex AS (
       |  SELECT q.q_id, s.vec_id, sum((s.qx - t.qx) * (s.qx - t.qx)) AS dist
       |  FROM qids q
       |    JOIN sv t ON t.vec_id = q.q_id
       |    JOIN sv s ON s.pos = t.pos AND s.vec_id <> q.q_id
       |  GROUP BY 1, 2),
       |etop AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
       |    FROM ex) WHERE rn <= $RecallK),
       |ov AS (
       |  SELECT q_id, count(*) AS n FROM (
       |    SELECT * FROM atop INTERSECT SELECT * FROM etop)
       |  GROUP BY 1)
       |SELECT n_overlap, count(*) AS n_queries FROM (
       |  SELECT q.q_id, CAST(coalesce(o.n, 0) AS BIGINT) AS n_overlap
       |  FROM qids q LEFT JOIN ov o ON o.q_id = q.q_id)
       |GROUP BY 1 ORDER BY 1 DESC""".stripMargin

  // --- Maintained PQ layout + ADC probe (q244) -------------------------------

  /** PQ index-layout version tag. */
  private val PqIdxTag = "v1"

  /** q244: MAINTAINED PQ LAYOUT + ADC PROBE — the deployment shape of
    * q210 (a deployment trains offline and publishes the 128-row
    * codebook as a layout, the q205 protocol), gated: the codebook and
    * the PACKED CODE TABLE (one `array<int>` of [[PqM]] 4-bit codes
    * per vector — the 64× bandwidth cut against raw embeddings)
    * publish once as a maintained layout through the SAME training
    * builders the in-plan q210 gate certifies
    * ([[pqCodebook]]/[[pqCodes]] — invoked, never re-implemented), and
    * every query is a PROBE: build the |Q|·M·K lookup table against
    * the broadcast codebook, scan only the code table, rank by exact
    * integer ADC distance (ties on vec_id). Output carries the raw
    * integer distances, so the gate hashes exact values cross-engine.
    *
    * Scale: the probe reads 8 small ints per corpus vector and nothing
    * else — no vector bytes, no training pass; the codebook and LUT
    * broadcast at any corpus size; the per-query top-K windows sit
    * behind the bounded candidate aggregate.
    */
  def q244PqIndex(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Layouts
    import org.apache.spark.sql.expressions.Window
    val tag = Layouts.srcTag(s, d, "embeddings")
    val dir = Layouts.ensureDir(s, s"pqidx_${PqIdxTag}_$tag") { tmp =>
      Snapshots.using(embeddings(s, d)
          .select(col("vec_id"), pqQuant(col("embedding")).as("qe"))) { full =>
        val sv = pqSubvectors(full)
        pqCodebook(sv).write.parquet(s"$tmp/codebook")
        pqCodes(sv, s.read.parquet(s"$tmp/codebook"))
          .groupBy("vec_id")
          .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
            p => p("code").cast("int")).as("codes"))
          .write.parquet(s"$tmp/codes")
      }
      Layouts.markComplete(s, tmp)
    }
    val isQuery = pmod(col("vec_id"), lit(RecallQueryMod)) === 0 &&
      col("vec_id") < lit(RecallQueryMod * RecallMaxQueries)
    val qsv = pqSubvectors(embeddings(s, d).filter(isQuery)
        .select(col("vec_id"), pqQuant(col("embedding")).as("qe")))
      .select(col("vec_id").as("q_id"), col("m"), col("sv").as("qsv"))
    val lut = qsv.join(broadcast(s.read.parquet(s"$dir/codebook")), Seq("m"))
      .select(col("q_id"), col("m"), col("k").as("code"),
        pqSqdist(col("qsv"), col("cv")).as("qd"))
    val wK = Window.partitionBy("q_id")
      .orderBy(col("adc").asc, col("vec_id").asc)
    s.read.parquet(s"$dir/codes")
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
      .join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum("qd").as("adc"))
      .withColumn("rank", row_number().over(wK).cast("long"))
      .filter(col("rank") <= IvfIdxTopK)
      .select("q_id", "vec_id", "adc", "rank")
      .orderBy("q_id", "rank")
  }

  /** Rebuild-from-scratch over the SHARED [[pqChainSql]] training
    * chain — the gate passing certifies the published layout equals
    * retraining (the q211/q238 self-certification pattern, on PQ). */
  lazy val q244Oracle: String =
    s"""WITH $pqChainSql,
       |adc AS (
       |  SELECT l.q_id, cd.vec_id, CAST(sum(l.qd) AS BIGINT) AS adc
       |  FROM codes cd JOIN lut l ON l.m = cd.m AND l.k = cd.code
       |  WHERE cd.vec_id <> l.q_id GROUP BY 1, 2)
       |SELECT q_id, vec_id, adc, rank FROM (
       |  SELECT q_id, vec_id, adc,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc, vec_id) AS BIGINT) AS rank
       |  FROM adc)
       |WHERE rank <= $IvfIdxTopK ORDER BY q_id, rank""".stripMargin

  // --- IVFADC: cell-pruned ADC over the composed layout (q245) ---------------

  /** IVFADC layout version tag. */
  private val IvfAdcTag = "v2"

  /** q245: IVFADC — the COMPOSITION the q244 acceptance argument left
    * open: q244's ADC probe still scans the WHOLE code table per query
    * batch; a deployment prunes to the probed coarse cells first — the
    * classic IVFADC shape (Jégou et al.'s inverted file + asymmetric
    * distance computation), assembled here from the two certified
    * halves rather than re-implemented: the coarse quantizer is the
    * q205 cell arithmetic (per-cell integer centroid components,
    * exact-integer dot ranking, top-[[IvfIdxNProbe]] cells per query)
    * and the fine quantizer is the q210/q244 PQ chain
    * ([[pqCodebook]]/[[pqCodes]] — invoked, never re-implemented, so
    * the layout cannot drift from the gated training arithmetic).
    *
    * The published layout has three artifacts: `cents/` (the coarse
    * centroid table, broadcast-sized forever), `codebook/` (the
    * [[PqM]]·[[PqK]] = 128-row PQ codebook), and
    * `codes/batch_id=0/cell=C/` — the packed code table PARTITIONED BY
    * COARSE CELL (one generation: [[ivfAdcBuildBase]] builds it over the
    * whole table, the same builder q250 runs on its base), so a
    * probe's cell filter becomes DIRECTORY pruning: the scan reads
    * nprobe/|cells| of the code bytes, and each candidate costs 8
    * small ints + one broadcast LUT lookup. Probe cost =
    * probed-cells × 8 ints — the q113 two-stage discipline applied to
    * vectors, completing the 100 TB ANN story (coarse prune → ADC;
    * IvfAdcSpec audits recall vs the exact top-K and pins the
    * partition-pruned plan).
    *
    * Exactness: every number in the chain is an exact integer (the
    * 2^20 quantization, trunc-division centroids, integer squared
    * distances), so rankings hash bit-identical cross-engine; ties
    * break on vec_id (rank) and code id (assignment).
    */
  def q245IvfAdc(s: SparkSession, d: String): DataFrame =
    ivfAdcRank(ivfAdcScores(s, d, ivfAdcQueryPanel(s, d)))

  /** The doubly-bounded query panel, materialized ONCE (eager
    * localCheckpoint — panel-sized, ≤ [[RecallMaxQueries]] rows): the
    * coarse-cell ranking, the LUT subvectors, and q249's exact-rerank
    * query side all read this frame instead of re-scanning the raw
    * vector table (ReuseCheck: one corpus scan feeds every panel
    * consumer). */
  private[graft] def ivfAdcQueryPanel(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(RecallQueryMod)) === 0 &&
        col("vec_id") < lit(RecallQueryMod * RecallMaxQueries))
      .select(col("vec_id").as("q_id"), col("embedding"))
      .localCheckpoint(true)

  /** The shared IVFADC probe: publish (or reuse) the composed layout,
    * rank cells, build the LUT, scan ONLY the probed cells' code
    * partitions, and return every candidate's integer ADC score
    * (q_id, vec_id, adc) — q245 ranks it directly; q249 cuts a
    * candidate set from it and reranks exactly. */
  private def ivfAdcScores(s: SparkSession, d: String,
      panel: DataFrame): DataFrame = {
    import graft.sources.Layouts
    val tag = Layouts.srcTag(s, d, "embeddings")
    val dir = Layouts.ensureDir(s, s"ivfadc_${IvfAdcTag}_$tag") { tmp =>
      // both quantizers trained on the whole table; the codes land as
      // the single generation `codes/batch_id=0`
      ivfAdcBuildBase(s, embeddings(s, d), tmp)
      Layouts.markComplete(s, tmp)
    }
    ivfAdcProbe(s, dir, panel)
  }

  /** The probe body over ANY published IVFADC layout dir (`cents/` +
    * `codebook/` + `codes/…cell=C`) — shared by the build-once layout
    * (q245/q249) and the incremental generations layout (q250, whose
    * `codes/` is additionally batch_id-partitioned; the union read is
    * the same partition-pruned scan either way). */
  private[graft] def ivfAdcProbe(s: SparkSession, dir: String,
      panel: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qxl = round(col("x").cast("double") * lit(KmQScale.toDouble)).cast("long")
    // coarse probe: rank cells by exact integer dot, keep nprobe
    val wCell = Window.partitionBy("q_id")
      .orderBy(col("dot").desc, col("cell").asc)
    val probed = panel
      .select(col("q_id"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("q_id"), col("pos"), qxl.as("qx"))
      .join(broadcast(s.read.parquet(s"$dir/cents")), Seq("pos"))
      .groupBy("q_id", "cell")
      .agg(sum(col("qx") * col("cq")).as("dot"))
      .withColumn("cr", row_number().over(wCell))
      .filter(col("cr") <= IvfIdxNProbe)
      .select("q_id", "cell")
    // ADC lookup table against the broadcast codebook
    val qsv = pqSubvectors(panel.select(col("q_id").as("vec_id"),
        pqQuant(col("embedding")).as("qe")))
      .select(col("vec_id").as("q_id"), col("m"), col("sv").as("qsv"))
    val lut = qsv.join(broadcast(s.read.parquet(s"$dir/codebook")), Seq("m"))
      .select(col("q_id"), col("m"), col("k").as("code"),
        pqSqdist(col("qsv"), col("cv")).as("qd"))
    // probe: scan ONLY the probed cells' code partitions (DPP prunes
    // the directories off the broadcast probed join), score by ADC
    s.read.parquet(s"$dir/codes")
      .join(broadcast(probed), Seq("cell"))
      .select(col("q_id"), col("vec_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
      .join(broadcast(lut), Seq("q_id", "m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum("qd").as("adc"))
  }

  // --- Incremental IVFADC maintenance (q250) ---------------------------------

  /** Incremental-IVFADC layout version tag. */
  private val IvfAdcIncTag = "v1"

  /** Append ONE delta snapshot to an incremental IVFADC layout: each
    * new vector is (1) assigned to the nearest FROZEN coarse centroid
    * (argmax exact-integer dot, cell-asc tie — the q238 discipline) and
    * (2) PQ-encoded against the FROZEN codebook ([[pqCodes]], invoked),
    * then written as its own `codes/batch_id=N/cell=C` partitions in
    * overwrite mode — delta-sized work (|delta|·cells integer dots +
    * |delta|·M·K code argmins), never a corpus pass, and a
    * crashed-and-replayed append rewrites its own files (replay
    * idempotence, the q211/q238 contract verbatim). */
  private[graft] def ivfAdcAppendDelta(s: SparkSession, delta: DataFrame,
      dir: String, batchId: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    val qxl = round(col("x").cast("double") * lit(KmQScale.toDouble)).cast("long")
    val cents = s.read.parquet(s"$dir/cents")
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("dot").desc, col("cell").asc)
    val assigned = delta
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"), qxl.as("qx"))
      .join(broadcast(cents), Seq("pos"))
      .groupBy("vec_id", "cell")
      .agg(sum(col("qx") * col("cq")).as("dot"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select("vec_id", "cell")
    val dfull = delta.select(col("vec_id"), pqQuant(col("embedding")).as("qe"))
    pqCodes(pqSubvectors(dfull), s.read.parquet(s"$dir/codebook"))
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
        p => p("code").cast("int")).as("codes"))
      .join(assigned, Seq("vec_id"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$dir/codes/batch_id=$batchId")
  }

  /** Compact the incremental IVFADC layout's accumulated code
    * generations back to ONE (`batch_id=0`) — [[ivfCompactGenerations]]
    * on the composed layout: codes and cell assignments are FINAL once
    * written (both quantizers frozen), so compaction is a pure
    * file-layout merge per cell — quantizer tables untouched, probe
    * bit-invariant (spec-pinned), swapped in by `Layouts.replace`. */
  private[graft] def ivfAdcCompactGenerations(s: SparkSession, dir: String): Unit =
    graft.sources.Layouts.replace(s, dir, "codes")(mergeGenerations(s, dir, "codes"))

  /** q250: INCREMENTAL IVFADC MAINTENANCE — the batch_id protocol
    * (q79 MinHash, q211 BM25, q238 IVF) applied to the COMPOSED q245
    * layout, so a live vector corpus absorbs snapshots without
    * retraining either quantizer: coarse centroids AND the PQ codebook
    * freeze at the base build (trained on the base slice — drift is
    * remeasured by recall audits, re-centering is a rebuild, the q238
    * posture extended to the fine quantizer, which is exactly how
    * production PQ deployments behave); an ingest assigns ONLY its new
    * vectors (argmax dot vs frozen centroids) and encodes them against
    * the frozen codebook, writing one delta-sized generation; probes
    * union batch generations through the SAME cell-pruned 8-int scan
    * ([[ivfAdcProbe]], shared code — stream and build-once semantics
    * cannot drift). The oracle recomposes the full protocol from the
    * raw table (base-trained centroids and codebook with the base-id
    * hash init, argmax delta cell assignment, all-vector code argmin,
    * probed-cell ADC), so the gate passing IS the incremental ==
    * from-scratch proof at every scale factor.
    *
    * Scale: ingest cost grows with the delta, never the corpus; the
    * two frozen quantizer tables are broadcast-sized forever; a probe
    * touches nprobe/|cells| of every generation's code bytes under DPP
    * — the 100 TB continual-ingest ANN story, complete.
    */
  /** Build the FROZEN half of an incremental IVFADC layout at `tmp`
    * from the base slice (vec_id, label, embedding): coarse centroids
    * (per-cell integer means), the PQ codebook (trained on the base
    * only), and the `codes/batch_id=0` base generation. Shared by the
    * build-once layout (q245/q249, whose base is the whole table), the
    * batch build (q250), the streaming ingest twin (q251), and the
    * drift-audit spec's planted layouts — one training path, so none
    * of them can drift from the gated arithmetic. */
  private[graft] def ivfAdcBuildBase(s: SparkSession, base: DataFrame,
      tmp: String): Unit = {
    val qxl = round(col("x").cast("double") * lit(KmQScale.toDouble)).cast("long")
    // FROZEN coarse centroids: per-cell integer means of the BASE
    base.select(col("label").as("cell"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("cell"), col("pos"), qxl.as("qx"))
      .groupBy("cell", "pos")
      .agg(expr("sum(qx) DIV count(1)").as("cq"))
      .write.parquet(s"$tmp/cents")
    // FROZEN PQ codebook: trained on the BASE slice only
    Snapshots.using(base.select(col("vec_id"), col("label").as("cell"),
        pqQuant(col("embedding")).as("qe"))) { bfull =>
      val bsv = pqSubvectors(bfull)
      pqCodebook(bsv).write.parquet(s"$tmp/codebook")
      // base generation of the code table
      pqCodes(bsv, s.read.parquet(s"$tmp/codebook"))
        .groupBy("vec_id")
        .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
          p => p("code").cast("int")).as("codes"))
        .join(bfull.select("vec_id", "cell"), Seq("vec_id"))
        .write.partitionBy("cell").parquet(s"$tmp/codes/batch_id=0")
    }
  }

  /** The shared IVFADC presentation tail: per-query top-[[IvfIdxTopK]]
    * by (adc, vec_id) over a probe's candidate scores. */
  private[graft] def ivfAdcRank(adc: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wK = Window.partitionBy("q_id")
      .orderBy(col("adc").asc, col("vec_id").asc)
    adc
      .withColumn("rank", row_number().over(wK).cast("long"))
      .filter(col("rank") <= IvfIdxTopK)
      .select("q_id", "vec_id", "adc", "rank")
      .orderBy("q_id", "rank")
  }

  /** Ensure (and return) the maintained incremental-IVFADC layout for
    * the fixture at `d` — base generation + one delta snapshot — shared
    * by the q250 probe and the q252 per-generation recall audit. */
  private def ivfAdcIncDir(s: SparkSession, d: String): String = {
    import graft.sources.Layouts
    val tag = Layouts.srcTag(s, d, "embeddings")
    Layouts.ensureDir(s, s"ivfadcinc_${IvfAdcIncTag}_$tag") { tmp =>
      val e = embeddings(s, d)
      ivfAdcBuildBase(s,
        e.filter(pmod(col("vec_id"), lit(IvfIncMod)) =!= 0), tmp)
      // one delta snapshot lands incrementally
      ivfAdcAppendDelta(s,
        e.filter(pmod(col("vec_id"), lit(IvfIncMod)) === 0), tmp, 1L)
      Layouts.markComplete(s, tmp)
    }
  }

  def q250IvfAdcIncremental(s: SparkSession, d: String): DataFrame =
    ivfAdcRank(ivfAdcProbe(s, ivfAdcIncDir(s, d), ivfAdcQueryPanel(s, d)))

  /** Recompose the ENTIRE incremental protocol from the raw table:
    * base-trained quantizers (the codebook's hash init runs over base
    * ids only), argmax-dot delta cell assignment, all-vector code
    * argmin against the frozen codebook, probed-cell ADC scores —
    * shared by q250/q251 (top-K presentation) and q252 (per-generation
    * recall audit). */
  private def ivfAdcIncChainSql: String =
    s"""qe AS (
       |  SELECT vec_id, pos,
       |    CAST(round(CAST(x AS DOUBLE) * $KmQScale) AS BIGINT) AS qx
       |  FROM (SELECT vec_id, unnest(embedding) AS x,
       |          unnest(generate_series(1, len(embedding))) AS pos
       |        FROM embeddings)),
       |sv AS (SELECT vec_id, (pos - 1) // $PqSub AS m, pos, qx FROM qe),
       |centb AS (
       |  SELECT m, (s.vec_id * 37 + m * 11) % $PqK AS k, pos,
       |    CASE WHEN sum(qx) < 0 THEN -((-sum(qx)) // count(*))
       |         ELSE sum(qx) // count(*) END AS c
       |  FROM sv s WHERE s.vec_id % $IvfIncMod <> 0 GROUP BY 1, 2, 3),
       |vd AS (
       |  SELECT s.vec_id, s.m, c.k, sum((s.qx - c.c) * (s.qx - c.c)) AS dist
       |  FROM sv s JOIN centb c ON s.m = c.m AND s.pos = c.pos
       |  GROUP BY 1, 2, 3),
       |codes AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT vec_id, m, k,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
       |    FROM vd) WHERE rn = 1),
       |qids AS (SELECT vec_id AS q_id FROM embeddings
       |         WHERE vec_id % $RecallQueryMod = 0
       |           AND vec_id < ${RecallQueryMod * RecallMaxQueries}),
       |lut AS (
       |  SELECT q.q_id, s.m, c.k, sum((s.qx - c.c) * (s.qx - c.c)) AS qd
       |  FROM qids q JOIN sv s ON s.vec_id = q.q_id
       |    JOIN centb c ON c.m = s.m AND c.pos = s.pos
       |  GROUP BY 1, 2, 3),
       |cellcb AS (
       |  SELECT e.label AS cell, q.pos,
       |    CAST(trunc(CAST(sum(q.qx) AS DOUBLE) / count(*)) AS BIGINT) AS cq
       |  FROM qe q JOIN embeddings e ON e.vec_id = q.vec_id
       |  WHERE e.vec_id % $IvfIncMod <> 0
       |  GROUP BY 1, 2),
       |assignd AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT q.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY sum(q.qx * c.cq) DESC, c.cell) AS rn
       |    FROM qe q JOIN cellcb c ON c.pos = q.pos
       |    WHERE q.vec_id % $IvfIncMod = 0
       |    GROUP BY 1, 2) WHERE rn = 1),
       |cellof AS (
       |  SELECT vec_id, label AS cell FROM embeddings
       |  WHERE vec_id % $IvfIncMod <> 0
       |  UNION ALL SELECT vec_id, cell FROM assignd),
       |cellrank AS (
       |  SELECT qq.q_id, c.cell,
       |    row_number() OVER (PARTITION BY qq.q_id
       |      ORDER BY sum(qq.qx * c.cq) DESC, c.cell) AS cr
       |  FROM (SELECT qd.q_id, q.pos, q.qx
       |        FROM qids qd JOIN qe q ON q.vec_id = qd.q_id) qq
       |    JOIN cellcb c ON c.pos = qq.pos
       |  GROUP BY 1, 2),
       |probed AS (SELECT q_id, cell FROM cellrank WHERE cr <= $IvfIdxNProbe),
       |adc AS (
       |  SELECT p.q_id, cd.vec_id, CAST(sum(l.qd) AS BIGINT) AS adc
       |  FROM probed p
       |    JOIN cellof cf ON cf.cell = p.cell
       |    JOIN codes cd ON cd.vec_id = cf.vec_id
       |    JOIN lut l ON l.q_id = p.q_id AND l.m = cd.m AND l.k = cd.code
       |  WHERE cd.vec_id <> p.q_id
       |  GROUP BY 1, 2)""".stripMargin

  lazy val q250Oracle: String =
    s"""WITH $ivfAdcIncChainSql
       |SELECT q_id, vec_id, adc, rank FROM (
       |  SELECT q_id, vec_id, adc,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc, vec_id) AS BIGINT) AS rank
       |  FROM adc)
       |WHERE rank <= $IvfIdxTopK ORDER BY q_id, rank""".stripMargin

  /** The SHARED q245/q249 oracle chain: [[pqChainSql]]'s training CTEs
    * plus the q205 coarse-cell chain plus the cell-pruned ADC score —
    * probed cells per query by exact integer dot, ADC restricted to
    * candidates whose label sits in a probed cell. */
  private def ivfAdcChainSql: String =
    s"""$pqChainSql,
       |cellc AS (
       |  SELECT e.label AS cell, q.pos,
       |    CAST(trunc(CAST(sum(q.qx) AS DOUBLE) / count(*)) AS BIGINT) AS cq
       |  FROM qe q JOIN embeddings e ON e.vec_id = q.vec_id
       |  GROUP BY 1, 2),
       |cellrank AS (
       |  SELECT qq.q_id, c.cell,
       |    row_number() OVER (PARTITION BY qq.q_id
       |      ORDER BY sum(qq.qx * c.cq) DESC, c.cell) AS cr
       |  FROM (SELECT qd.q_id, q.pos, q.qx
       |        FROM qids qd JOIN qe q ON q.vec_id = qd.q_id) qq
       |    JOIN cellc c ON c.pos = qq.pos
       |  GROUP BY 1, 2),
       |probed AS (SELECT q_id, cell FROM cellrank WHERE cr <= $IvfIdxNProbe),
       |adc AS (
       |  SELECT p.q_id, cd.vec_id, CAST(sum(l.qd) AS BIGINT) AS adc
       |  FROM probed p
       |    JOIN embeddings e ON e.label = p.cell
       |    JOIN codes cd ON cd.vec_id = e.vec_id
       |    JOIN lut l ON l.q_id = p.q_id AND l.m = cd.m AND l.k = cd.code
       |  WHERE cd.vec_id <> p.q_id
       |  GROUP BY 1, 2)""".stripMargin

  /** Rebuild-from-scratch over the SHARED [[pqChainSql]] training chain
    * PLUS the q205 cell chain: the gate passing IS the "cell-pruned
    * ADC == ADC over the probed cells" proof at every scale factor. */
  lazy val q245Oracle: String =
    s"""WITH $ivfAdcChainSql
       |SELECT q_id, vec_id, adc, rank FROM (
       |  SELECT q_id, vec_id, adc,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc, vec_id) AS BIGINT) AS rank
       |  FROM adc)
       |WHERE rank <= $IvfIdxTopK ORDER BY q_id, rank""".stripMargin

  /** ADC candidates carried into the exact rerank (per query). */
  private val IvfAdcRerankC = 20L

  /** q249: IVFADC + EXACT RERANK — the third stage that completes the
    * deployment pipeline (coarse prune → ADC → exact rerank, the q113
    * verify-stage discipline applied to vectors): the cell-pruned ADC
    * scores ([[ivfAdcScores]], shared with q245) cut a per-query
    * candidate set of [[IvfAdcRerankC]] (ADC-asc, vec_id tie-break),
    * and ONLY those |Q|·C candidates are re-scored against their FULL
    * quantized vectors — exact integer squared distance, top-
    * [[IvfIdxTopK]]. ADC's quantization error decides only which C
    * candidates enter; the final ranking is exact over them — the
    * standard recall/precision split of every production ANN stack.
    *
    * Scale: the rerank touches |Q|·C vectors (both the candidate list
    * and the query panel ride broadcasts into one corpus-scan join) —
    * candidate-bounded exact work on top of the 8-int-per-vector probe,
    * never a second full exact pass.
    */
  def q249IvfAdcRerank(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qPanel = ivfAdcQueryPanel(s, d)
    val wC = Window.partitionBy("q_id")
      .orderBy(col("adc").asc, col("vec_id").asc)
    val cand = ivfAdcScores(s, d, qPanel)
      .withColumn("cr", row_number().over(wC))
      .filter(col("cr") <= IvfAdcRerankC)
      .select("q_id", "vec_id")
    val full = embeddings(s, d)
      .select(col("vec_id"), pqQuant(col("embedding")).as("qe"))
    // query side derives from the CHECKPOINTED panel — no extra scan
    val panel = qPanel
      .select(col("q_id"), pqQuant(col("embedding")).as("qq"))
    val wK = Window.partitionBy("q_id")
      .orderBy(col("dist").asc, col("vec_id").asc)
    full.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(panel), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        pqSqdist(col("qe"), col("qq")).as("dist"))
      .withColumn("rank", row_number().over(wK).cast("long"))
      .filter(col("rank") <= IvfIdxTopK)
      .select("q_id", "vec_id", "dist", "rank")
      .orderBy("q_id", "rank")
  }

  /** The shared IVFADC chain, candidate cut, then exact re-scoring
    * from the quantized components — certifying the full three-stage
    * pipeline cross-engine. */
  lazy val q249Oracle: String =
    s"""WITH $ivfAdcChainSql,
       |cand AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY adc, vec_id) AS cr
       |    FROM adc) WHERE cr <= $IvfAdcRerankC),
       |ex AS (
       |  SELECT c.q_id, c.vec_id,
       |    CAST(sum((s.qx - t.qx) * (s.qx - t.qx)) AS BIGINT) AS dist
       |  FROM cand c
       |    JOIN qe s ON s.vec_id = c.vec_id
       |    JOIN qe t ON t.vec_id = c.q_id AND t.pos = s.pos
       |  GROUP BY 1, 2)
       |SELECT q_id, vec_id, CAST(dist AS BIGINT) AS dist, rank FROM (
       |  SELECT q_id, vec_id, dist,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY dist, vec_id) AS BIGINT) AS rank
       |  FROM ex)
       |WHERE rank <= $IvfIdxTopK ORDER BY q_id, rank""".stripMargin

  // --- Streaming IVFADC ingest (q251) -----------------------------------------

  /** Streamed-IVFADC layout version tag. */
  private val IvfAdcStreamTag = "v1"

  /** q251: STREAMING IVFADC INGEST — q250's continual-ingest twin under
    * the batch-replay gate (the q246/q237 pattern applied to vectors):
    * the frozen quantizers and base generation build once
    * ([[ivfAdcBuildBase]], shared with q250), then the delta arrives as
    * TWO deterministic micro-batches (split by delta ordinal parity)
    * through [[graft.streaming.IvfAdcIngestStream.ingest]] — each batch
    * a delta-sized generation, assignment and encoding against the
    * frozen tables. The registered output probes the streamed layout
    * with the SAME cell-pruned scan ([[ivfAdcProbe]]), and its oracle
    * IS [[q250Oracle]]: the gate passing certifies cross-engine that
    * ingesting the delta in micro-batches lands the layout the batch
    * build lands — slicing-independence by construction (per-vector
    * assignment/encoding are pure functions of the frozen quantizers),
    * certified at every scale factor. IvfAdcStreamSpec adds the live
    * MemoryStream run, a second slicing, byte-identical redelivery, and
    * the fresh-checkpoint aging guard.
    *
    * Scale: each micro-batch costs |batch|·cells integer dots +
    * |batch|·M·K argmins; the probe unions generations under the same
    * DPP cell pruning — continual ANN ingest with no corpus passes and
    * no retraining, the deployment posture production PQ stacks run.
    */
  def q251StreamIvfAdc(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Layouts
    val tag = Layouts.srcTag(s, d, "embeddings")
    val dir = Layouts.ensureDir(s, s"ivfadcstr_${IvfAdcStreamTag}_$tag") { tmp =>
      val e = embeddings(s, d)
      ivfAdcBuildBase(s,
        e.filter(pmod(col("vec_id"), lit(IvfIncMod)) =!= 0), tmp)
      // the delta arrives as two micro-batches: split by delta ordinal
      // parity (vec_id DIV mod alternates), both slices delta-sized
      val delta = e.filter(pmod(col("vec_id"), lit(IvfIncMod)) === 0)
      (0L until 2L).foreach { b =>
        graft.streaming.IvfAdcIngestStream.ingest(tmp)(
          delta.filter(
            pmod(expr(s"vec_id DIV $IvfIncMod"), lit(2)) === b), b)
      }
      Layouts.markComplete(s, tmp)
    }
    ivfAdcRank(ivfAdcProbe(s, dir, ivfAdcQueryPanel(s, d)))
  }

  // --- Per-generation IVFADC recall drift (q252) --------------------------------

  /** q252: PER-GENERATION RECALL-DRIFT AUDIT — the rebuild trigger for
    * the frozen-quantizer layouts, as a MEASURED TABLE instead of a
    * scaladoc note: q250/q251 freeze both quantizers at the base build,
    * so a DRIFTED delta (vectors the base centroids and codebook never
    * saw) decays recall silently — the probe still returns K smooth
    * answers, they're just wrong. This audit splits the q106 recall
    * measurement BY GENERATION of the maintained layout: for every
    * exact top-[[IvfIdxTopK]] neighbor (exact integer distance over the
    * quantized vectors, the q249 rerank arithmetic corpus-wide), which
    * `codes/batch_id=N` generation holds it, and did the cell-pruned
    * ADC probe recover it? A healthy delta tracks the base's recall;
    * a drifted one shows up as a per-generation recall gap — the
    * monitorable signal a deployment thresholds to schedule retraining
    * (IvfAdcDriftSpec plants exactly such a delta and pins the gap).
    *
    * Output per generation: exact-top-K slots held (n_truth), slots the
    * probe recovered (n_hit), recall in exact integer ppm, and the
    * ORACLED trigger column `rebuild_due` (recall below
    * [[IvfRebuildMinRecallPpm]]) that [[ivfAdcRebuildIfDrifted]]
    * consumes — drift → trip → rebuild → re-point, the q258 loop closed
    * on the IVFADC layout too (IvfAdcDriftSpec pins the whole cycle).
    *
    * Scale: the exact leg is |panel|·corpus with a broadcast panel (the
    * q106/q210 ground-truth posture — the audit is scheduled QA, not a
    * query path); the probe leg is the usual cell-pruned 8-int scan;
    * generations come off the layout's partition column, no extra scan.
    */
  def q252IvfAdcDrift(s: SparkSession, d: String): DataFrame =
    ivfAdcDriftAudit(s, ivfAdcIncDir(s, d), embeddings(s, d),
      ivfAdcQueryPanel(s, d))

  /** The audit body over ANY incremental layout dir + its raw corpus +
    * a query panel (spec seam: IvfAdcDriftSpec plants a drifted delta
    * through the same entry). */
  private[graft] def ivfAdcDriftAudit(s: SparkSession, dir: String,
      e: DataFrame, panel: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val atop = ivfAdcRank(ivfAdcProbe(s, dir, panel))
      .select("q_id", "vec_id")
    // exact ground truth: integer squared distance over the quantized
    // vectors, corpus-wide, per panel query (broadcast panel — one scan)
    val full = e.select(col("vec_id"), pqQuant(col("embedding")).as("qe"))
    val qq = panel.select(col("q_id"), pqQuant(col("embedding")).as("qq"))
    // bucket-prefiltered exact top-K (the q210/q106 topK discipline,
    // guide §2.5): ranking corpus×panel scored rows in ONE window per
    // q_id makes each partition corpus-sized — a straggler factory at
    // scale (the panel is small, so parallelism = |panel|). Per-
    // (q_id, bucket) row_number bounds the global window's input at
    // buckets·K rows per query; per-bucket top-K ⊇ per-query top-K
    // under the same total order, so the result is unchanged.
    val ordE = Seq(col("dist").asc, col("vec_id").asc)
    val wEB = Window.partitionBy("q_id", "__b").orderBy(ordE: _*)
    val wE = Window.partitionBy("q_id").orderBy(ordE: _*)
    val etop = full.crossJoin(broadcast(qq))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        pqSqdist(col("qe"), col("qq")).as("dist"))
      .withColumn("__b", pmod(xxhash64(col("vec_id")), lit(RecallBuckets)))
      .withColumn("__br", row_number().over(wEB))
      .filter(col("__br") <= IvfIdxTopK).drop("__b", "__br")
      .withColumn("rn", row_number().over(wE))
      .filter(col("rn") <= IvfIdxTopK)
      .select("q_id", "vec_id")
    // which generation of the maintained layout holds each truth slot —
    // read off the codes partition column, never recomputed
    val gen = s.read.parquet(s"$dir/codes")
      .select(col("vec_id"), col("batch_id").cast("long").as("batch_id"))
    etop.join(gen, Seq("vec_id"))
      .join(atop.withColumn("hit", lit(1)), Seq("q_id", "vec_id"), "left")
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hit"))
      .select(col("batch_id"), col("n_truth"), col("n_hit"),
        expr("(1000000 * n_hit) DIV n_truth").as("recall_ppm"))
      .withColumn("rebuild_due",
        when(col("recall_ppm") < IvfRebuildMinRecallPpm, 1L).otherwise(0L))
      .orderBy("batch_id")
  }

  /** Rebuild trigger for the frozen-quantizer IVFADC layouts (the q258
    * loop on the semantic index, mirrored here): a generation whose
    * cell-pruned-probe recall falls below this ppm threshold holds
    * vectors the frozen centroids + codebook can no longer represent —
    * the audit row says so ([[ivfAdcDriftAudit]]'s `rebuild_due`), and
    * [[ivfAdcRebuildIfDrifted]] acts on it. 0.05 sits well under the
    * registered corpus's per-generation recalls (~0.08–0.16 at the gate
    * scale factors — random-embedding ANN recall is inherently modest)
    * and far above a genuinely drifted slice (a delta in the codebook's
    * null space collapses toward zero — IvfAdcDriftSpec plants one). */
  private[graft] val IvfRebuildMinRecallPpm = 50000L

  /** Seed stride for a rebuild's re-derived coarse quantizer: every
    * `stride`-th vec_id of the UNION corpus becomes a cell seed (the
    * [[SemDedupSeedStride]] rule, denser because IVFADC cells feed a
    * top-nprobe probe rather than one argmax cell) — so a drifted
    * region of id-space gets its own cells the moment it is part of
    * the corpus being rebuilt over. */
  private[graft] val IvfRebuildSeedStride = 16L

  /** THE REBUILD ACTION the recall audit triggers: re-derive coarse
    * cells from the union corpus (seed-stride rule + exact-integer
    * argmax-dot assignment, cell-asc tie — the same arithmetic the
    * maintained layout assigns deltas with), then re-train BOTH frozen
    * quantizer tables and land the whole corpus as generation 0 of a
    * FRESH layout at `out` via [[ivfAdcBuildBase]] — `root` stays
    * untouched; the caller re-points its probe/stream at the new root
    * (new tag, new checkpoint), the republish-under-a-new-tag protocol
    * every maintained layout here follows. Cost: one corpus pass —
    * exactly a batch rebuild, which is the point: incremental
    * maintenance until the audit says the frozen quantizers lie, then
    * pay the batch price once. */
  private[graft] def ivfAdcRebuild(s: SparkSession, corpus: DataFrame,
      out: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val qxl = round(col("x").cast("double") * lit(KmQScale.toDouble)).cast("long")
    val seeds = corpus
      .filter(pmod(col("vec_id"), lit(IvfRebuildSeedStride)) === 0)
      .select(col("vec_id").as("cell"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("cell"), col("pos"), qxl.as("sq"))
    require(seeds.limit(1).collect().nonEmpty,
      "ivfAdcRebuild: the union corpus yields no seed vectors " +
        s"(no vec_id % $IvfRebuildSeedStride == 0) — cannot re-derive cells")
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("dot").desc, col("cell").asc)
    val relabeled = corpus
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"), qxl.as("qx"))
      .join(broadcast(seeds), Seq("pos"))
      .groupBy("vec_id", "cell")
      .agg(sum(col("qx") * col("sq")).as("dot"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cell").as("label"))
      .join(corpus, Seq("vec_id"))
      .select("vec_id", "label", "embedding")
    ivfAdcBuildBase(s, relabeled, out)
  }

  /** Close the loop: audit → trip → rebuild (the [[semRebuildIfDrifted]]
    * shape on the IVFADC layout). Returns true (and builds the fresh
    * layout at `out` from `corpus`) iff any generation's `rebuild_due`
    * fired; the |generations|-row audit frame is the only collect. The
    * raw vectors come from the caller's corpus (the source-of-record
    * table the generations were ingested from) — PQ codes are lossy, so
    * unlike the semantic index the layout itself cannot re-train its
    * own quantizers. */
  private[graft] def ivfAdcRebuildIfDrifted(s: SparkSession, root: String,
      corpus: DataFrame, panel: DataFrame, out: String): Boolean = {
    val tripped = ivfAdcDriftAudit(s, root, corpus, panel)
      .filter(col("rebuild_due") === 1L).limit(1).collect().nonEmpty
    if (tripped) ivfAdcRebuild(s, corpus, out)
    tripped
  }

  /** The shared incremental chain, the exact ground-truth leg, and the
    * per-generation overlap — generation membership re-derived from the
    * protocol's own base/delta rule (≡ the layout's batch_id column). */
  lazy val q252Oracle: String =
    s"""WITH $ivfAdcIncChainSql,
       |atop AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY adc, vec_id) AS rn
       |    FROM adc) WHERE rn <= $IvfIdxTopK),
       |ex AS (
       |  SELECT q.q_id, s.vec_id, sum((s.qx - t.qx) * (s.qx - t.qx)) AS dist
       |  FROM qids q
       |    JOIN qe t ON t.vec_id = q.q_id
       |    JOIN qe s ON s.pos = t.pos AND s.vec_id <> q.q_id
       |  GROUP BY 1, 2),
       |etop AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY dist, vec_id) AS rn
       |    FROM ex) WHERE rn <= $IvfIdxTopK)
       |SELECT CAST(CASE WHEN t.vec_id % $IvfIncMod = 0 THEN 1 ELSE 0 END
       |    AS BIGINT) AS batch_id,
       |  count(*) AS n_truth,
       |  CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST((1000000 * count(a.vec_id)) // count(*) AS BIGINT) AS recall_ppm,
       |  CAST(CASE WHEN (1000000 * count(a.vec_id)) // count(*)
       |       < $IvfRebuildMinRecallPpm THEN 1 ELSE 0 END AS BIGINT)
       |    AS rebuild_due
       |FROM etop t
       |  LEFT JOIN atop a ON a.q_id = t.q_id AND a.vec_id = t.vec_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- Streaming curation funnel (q246) ---------------------------------------

  /** Curation-stream layout version tag. */
  private val CurStreamTag = "v1"

  /** q246: STREAMING CURATION FUNNEL — q237's continual-ingest twin
    * under the batch-replay gate: the corpus is sliced into three
    * deterministic micro-batches (doc_id mod 3), each batch lands
    * delta-sized maintained state through
    * [[graft.streaming.CurationFunnelStream.ingest]] (per-doc pure
    * facts, the q79 LSH index protocol, the brute-leg gram sets), and
    * the registered output is the CUMULATIVE LEDGER over the
    * accumulated state — whose oracle IS q237's oracle, so the gate
    * passing certifies cross-engine that the streamed funnel equals
    * the batch funnel on the union, at every scale factor. The
    * slicing-independence mechanism: ledger-time near-dup edges come
    * from the accumulated postings under BATCH bucket-guard semantics
    * ([[graft.functions.MinHash.pairsFromPostings]] — final occupancy,
    * not probe-time occupancy), and the funnel arithmetic is
    * [[curationLedger]] invoked, never re-implemented.
    *
    * Scale: ingest cost per batch ∝ the batch (probe against the index,
    * never re-banding the corpus); the ledger materialization is
    * snapshot-sized — the split a continual-ingest deployment schedules
    * (cheap admission, periodic ledger). StreamCurationSpec adds the
    * live-stream run, a second slicing, and byte-identical redelivery.
    */
  /** Ensure (and return) the maintained streamed-curation state for the
    * fixture at `d` (three deterministic mod-3 micro-batches) — shared
    * by the q246 ledger and the q253 eager-pairs read. */
  private def curationStreamRoot(s: SparkSession, d: String): String = {
    import graft.sources.Layouts
    val tag = Layouts.srcTag(s, d, "documents")
    Layouts.ensureDir(s, s"curstream_${CurStreamTag}_$tag") { tmp =>
      val docs = documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
      (0L until 3L).foreach { b =>
        graft.streaming.CurationFunnelStream.ingest(tmp)(
          docs.filter(pmod(col("doc_id"), lit(3)) === b), b)
      }
      Layouts.markComplete(s, tmp)
    }
  }

  def q246StreamCuration(s: SparkSession, d: String): DataFrame =
    graft.streaming.CurationFunnelStream.ledger(s, curationStreamRoot(s, d))

  /** q253: EAGER NEAR-DUP PAIRS OF THE STREAMED FUNNEL — the low-latency
    * signal q246's scaladoc left spec-only, now oracled: each ingest
    * batch's `pairs/batch_id=N` output (the [[graft.streaming
    * .IncrementalIndex]] probe — new-vs-indexed plus intra-batch pairs,
    * bucket guard at PROBE-TIME occupancy) is read back with its batch
    * id. Probe-time guarding is slicing-DEPENDENT by design (a live
    * ingest wants pairs NOW, before final occupancy is knowable); the
    * oracle therefore replays the registered mod-3 slicing exactly: one
    * LSH chain per batch, occupancy restricted to `doc_id % 3 <= b`
    * (index ∪ batch — the probe's guard population), pairs where at
    * least one side is in batch b, kind split new_new/new_old. The gate
    * passing certifies the per-batch probe semantics cross-engine —
    * complementing q246, which certifies the slicing-INDEPENDENT ledger.
    *
    * Scale: the read is \|pairs\|-sized off the maintained state; the
    * probe cost that produced it scaled with each batch, never the
    * corpus (the q79 posture).
    */
  def q253StreamEagerPairs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${curationStreamRoot(s, d)}/pairs")
      .select(col("batch_id").cast("long").as("batch_id"), col("id_a"),
        col("id_b"), col("kind"), col("est_jaccard"))
      .orderBy("batch_id", "id_a", "id_b")

  /** One occupancy-restricted LSH chain per stream batch (the probe's
    * guard population at batch b is `doc_id % 3 <= b`), pairs filtered
    * to at-least-one-new, kind derived from batch membership. */
  lazy val q253Oracle: String = {
    val chains = (0 until 3)
      .map(b => lshPairChainSqlP(s"b$b", s" AND doc_id % 3 <= $b"))
      .mkString(",\n")
    val legs = (0 until 3).map { b =>
      s"""SELECT CAST($b AS BIGINT) AS batch_id, id_a, id_b,
         |  CASE WHEN id_a % 3 = $b AND id_b % 3 = $b
         |       THEN 'new_new' ELSE 'new_old' END AS kind,
         |  est_jaccard
         |FROM b${b}est
         |WHERE est_jaccard >= 0.5 AND (id_a % 3 = $b OR id_b % 3 = $b)"""
        .stripMargin
    }
    s"""WITH $chains
       |${legs.mkString("\nUNION ALL\n")}
       |ORDER BY batch_id, id_a, id_b""".stripMargin
  }

  // --- Video frame-shingle near-dup (q204) ---------------------------------

  /** Characters per stand-in video frame (one pHash thumbnail each). */
  private val VideoFrameChars = 64
  /** Frames sampled per video (bounds work per payload). */
  private val VideoMaxFrames = 16
  /** Consecutive frames folded into one shingle key. */
  private val VideoShingle = 3
  private val VideoMaxBucket = 100L
  private val VideoMinContainPpm = 500000L
  private val VideoMinShared = 2L

  /** q204: FRAME-SHINGLE NEAR-DUP — the dedup ring's TEMPORAL-MEDIA
    * leg, completing the modality square (text q44/q29, image q198,
    * audio landmarks q200): audio- and video-kind payloads (any medium
    * with a time axis; images are single-frame and belong to q198) are
    * frame-sampled ([[VideoMaxFrames]] strides of [[VideoFrameChars]],
    * the [[graft.multimodal.Multimodal]] frame-sampling discipline),
    * each frame is perceptually hashed by the SAME
    * [[graft.functions.VectorExpressions.PHashBands]] kernel q198
    * certifies — applied INSIDE a higher-order `transform` lambda, so
    * the native expression runs per frame with no UDF and no
    * explode-regroup — folded to one sig per frame
    * ([[graft.functions.PolyHash]] band fold), and runs of
    * [[VideoShingle]] consecutive sigs become shingle keys (temporal
    * order matters: reordered scenes ≠ the same video). Candidate
    * pairs share a shingle; exact shared-shingle containment with a
    * minimum-evidence flag, the [[containmentPairs]] tail.
    *
    * Scale: one corpus scan computes all shingles map-side (payloads
    * never shuffle — ≤ 14 shingle longs per payload); then the q200
    * exchange discipline. Restricted to lang = 'en' for engine
    * char-code parity (q29 discipline).
    */
  def q204FrameNearDup(s: SparkSession, d: String): DataFrame = {
    import graft.functions.PolyHash
    // non-ANSI cast nulls out an unparseable source suffix (filtered by
    // =!=), matching the oracle's TRY_CAST — robust to free-form ids
    val kindIsTemporal =
      pmod(substring(col("source"), 4, 10).cast("int"), lit(3)) =!= 0
    def fold(arr: Column): Column =
      aggregate(arr, lit(PolyHash.BandSeed),
        (acc, x) => pmod(acc * PolyHash.BandBase + x, lit(PolyHash.Mod)))
    val nFrames = least(
      expr(s"CAST(length(text) DIV $VideoFrameChars AS INT)"),
      lit(VideoMaxFrames))
    val sigs = transform(sequence(lit(0), nFrames - 1), f =>
      fold(VectorExpressions.phashBands(
        col("text").substr(f * VideoFrameChars + 1, lit(VideoFrameChars)))))
    val shingles = documents(s, d)
      .filter(kindIsTemporal && col("lang") === "en" &&
        length(col("text")) >= VideoFrameChars * 4)
      .select(col("doc_id"), sigs.as("sigs"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("sigs")) - VideoShingle),
        i => fold(slice(col("sigs"), i + 1, lit(VideoShingle))))).as("fp"))
      .filter(col("fp").isNotNull)
      .distinct()
    containmentPairs(shingles, VideoMaxBucket, VideoMinContainPpm, VideoMinShared)
  }

  // --- Dedup-ring capstone (q208) ------------------------------------------

  /** q208: DEDUP-RING SUMMARY — the capstone over the modality square:
    * one frame reporting, per dedup leg, how many flagged near-dup
    * pairs exist and how many documents they touch — exact text
    * (engine-portable [[graft.functions.PolyHash]] content keys, the
    * q26 semantics with 8-byte shuffle keys instead of full text),
    * image ([[q198PhashNearDup]]), audio ([[q200AudioFingerprint]]),
    * and temporal frame-shingles ([[q204FrameNearDup]]). The leg
    * builders are INVOKED, not re-implemented, so this certifies the
    * composed ring end-to-end: the number a curation run would read
    * ("how much duplicate mass does each modality carry?") comes from
    * the same plans the per-leg gates certify.
    *
    * Scale: each leg keeps its own audited posture; the capstone adds
    * only 4 constant-width aggregates and a 4-row union.
    */
  def q208DedupRing(s: SparkSession, d: String): DataFrame = {
    def legStats(name: String, pairs: DataFrame): DataFrame =
      // ONE evaluation of the leg's pair chain: a count aggregate
      // crossJoin'd with a distinct-count over a two-sided union would
      // physically replicate the whole leg plan THREE times (38 parquet
      // scans / 136 Exchanges across the ring at sf0.001). Exploding each pair
      // into its two endpoints makes both stats one aggregate over one
      // pass: n_pairs = rows DIV 2 (every pair contributes exactly 2),
      // n_docs = distinct endpoints. Guide §1.2 step 1 / §2.4.
      pairs.filter(col("near_dup") === 1)
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc"))
        .agg(expr("count(1) DIV 2").as("n_pairs"),
          countDistinct(col("doc")).as("n_docs"))
        .select(lit(name).as("leg"), col("n_pairs"), col("n_docs"))
    val exact = documents(s, d)
      .select(VectorExpressions.hornerHash(col("text")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("m"))
      .filter(col("m") > 1)
      .agg(
        coalesce(sum(expr("m * (m - 1) DIV 2")), lit(0L)).as("n_pairs"),
        coalesce(sum(col("m")), lit(0L)).as("n_docs"))
      .select(lit("text_exact").as("leg"), col("n_pairs"), col("n_docs"))
    exact
      .unionAll(legStats("image", q198PhashNearDup(s, d)))
      .unionAll(legStats("audio", q200AudioFingerprint(s, d)))
      .unionAll(legStats("temporal", q204FrameNearDup(s, d)))
      .orderBy("leg")
  }

  /** q208's oracle wraps the LEG ORACLES — the same SQL the per-leg
    * gates run, as MATERIALIZED CTEs so each leg executes once — plus
    * the horner-key exact-text leg, so a drift in any leg shows up
    * twice (its own gate and the ring).
    */
  // lazy: q204Oracle is declared later in the file; an eager val would
  // capture null at object-init order
  lazy val q208Oracle: String = {
    def stats(name: String, cte: String): String =
      s"""SELECT '$name' AS leg,
         |  (SELECT count(*) FROM $cte) AS n_pairs,
         |  (SELECT count(DISTINCT doc) FROM (
         |     SELECT doc_a AS doc FROM $cte
         |     UNION ALL SELECT doc_b AS doc FROM $cte)) AS n_docs""".stripMargin
    val exact =
      s"""SELECT 'text_exact' AS leg,
         |  CAST(coalesce(sum(m * (m - 1) // 2), 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(sum(m), 0) AS BIGINT) AS n_docs
         |FROM (SELECT count(*) AS m FROM (
         |        SELECT ${graft.functions.PolyHash.hornerSql("text")} AS h
         |        FROM documents) GROUP BY h)
         |WHERE m > 1""".stripMargin
    // leg SQL splices in AFTER stripMargin: a line-leading bitwise `|`
    // inside an embedded oracle would otherwise be eaten as a margin
    s"""WITH img_leg AS MATERIALIZED (
       |  SELECT * FROM (@IMG@) WHERE near_dup = 1),
       |aud_leg AS MATERIALIZED (
       |  SELECT * FROM (@AUD@) WHERE near_dup = 1),
       |tmp_leg AS MATERIALIZED (
       |  SELECT * FROM (@TMP@) WHERE near_dup = 1)
       |SELECT * FROM (
       |$exact
       |UNION ALL
       |${stats("image", "img_leg")}
       |UNION ALL
       |${stats("audio", "aud_leg")}
       |UNION ALL
       |${stats("temporal", "tmp_leg")}
       |) ORDER BY leg""".stripMargin
      .replace("@IMG@", q198Oracle)
      .replace("@AUD@", q200Oracle)
      .replace("@TMP@", q204Oracle)
  }

  // --- Text-curation capstone (q237) ----------------------------------------

  /** q237: TEXT-CURATION CAPSTONE — the north-star workload END-TO-END
    * under one gate: the certified legs composed as the funnel a real
    * curation run executes, emitting the per-source before/after LEDGER
    * a data engineer actually reads. Stages, in pipeline order, each
    * INVOKING the leg's own certified builder (the q208 discipline —
    * nothing re-implemented, so a leg drifting breaks two gates):
    *
    *   1. EXACT DEDUP (q26 semantics): keep the min-doc_id
    *      representative per identical content (engine-portable
    *      [[graft.functions.PolyHash]] key — 8-byte shuffle, never text);
    *   2. NEAR-DUP PURGE (q44/q63/q72): min-label survivorship over the
    *      [[dedupEdges]] cluster graph (banded LSH + bounded Jaccard,
    *      [[graft.ops.ConnectedComponents]]);
    *   3. QUALITY FILTER (q78): keep iff the shared [[qualityLogits]]
    *      classifier logit ≥ 0;
    *   4. MIXTURE (q69): keep iff the shared
    *      [[Corpus.mixtureKeepExpr]] content-hash rate rule admits the
    *      doc's language;
    *   5. PACKING (q65): the survivors bin-pack per source through the
    *      shared [[Corpus.packedBins]] core (budget 256).
    *
    * FUNNEL ACCOUNTING: each stage's removal is counted over the
    * PREVIOUS stage's survivors (n_docs = rm_exact + rm_near +
    * rm_quality + rm_mixture + n_kept per source — the identity
    * TextCurationSpec pins), so the ledger answers "what did each stage
    * cost me, in documents, in the order I ran them?" — not four
    * overlapping full-corpus counts. Stage-2 note: the cluster graph is
    * built by the leg builder on the full corpus (its certified shape);
    * a cluster member that was already dropped as an exact duplicate is
    * billed to stage 1 — attribution follows pipeline order.
    *
    * Scale shape: every leg keeps its own audited posture (banded pair
    * generation, two-level integer logit aggregation, map-only hash
    * rules, per-source packing windows). The capstone adds ONE doc-level
    * decision frame (doc_id, source, lang, h, ntok + four booleans —
    * never text) consumed by exactly ONE pipeline: the packing cumsum
    * rides a conditional window over the full frame and the funnel
    * count_ifs ride the per-(source, bin) aggregate, so no eager
    * materialization exists anywhere in the plan (a localCheckpoint
    * would pay a corpus-sized block-manager write per invocation — the
    * q173 anti-scaling mechanism).
    */
  def q237TextCuration(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // one corpus scan carries the content hash + token count
    val base = docs.select(col("doc_id"), col("source"), col("lang"),
      VectorExpressions.hornerHash(col("text")).as("h"),
      size(toks(col("text"))).cast("long").as("ntok"))
    curationLedger(s, base, dedupEdges(s, d),
      qualityLogits(docs).select(col("doc_id"), col("logit")))
  }

  /** The funnel arithmetic over ANY doc-fact frame — factored out so
    * the continual-ingest twin ([[graft.streaming.CurationFunnelStream]],
    * q246) computes its cumulative ledger through the IDENTICAL code
    * path the batch q237 gate certifies. `base` = (doc_id, source,
    * lang, h, ntok); `edges` = near-dup candidate pairs (id_a, id_b);
    * `logits` = (doc_id, logit). */
  private[graft] def curationLedger(s: SparkSession, base: DataFrame,
      edges: DataFrame, logits: DataFrame): DataFrame = {
    val removed = graft.ops.ConnectedComponents
      .assign(edges, "id_a", "id_b")
      .filter(col("node") =!= col("cluster_id"))
      .select(col("node").as("doc_id"), lit(1).as("__rm"))
    val lg = logits
    // stage-1 exact-dedup keep flag: `min(doc_id) OVER (PARTITION BY h)`
    // run THROUGH WindowToAggJoin.rewrite (the q197 discipline, here
    // exercising the rule's min coverage) — at 100 TB the agg+join form
    // beats WindowExec's corpus-wide sort: the min collapses map-side
    // per h before the exchange and AQE sizes the join strategy
    val flaggedExact = {
      val w = base.withColumn("keep_exact",
        col("doc_id") === min("doc_id").over(Window.partitionBy("h")))
      org.apache.spark.sql.GraftColumnBridge.ofRows(s,
        graft.rules.WindowToAggJoin.rewrite(w.queryExecution.analyzed))
    }
    val flags = flaggedExact
      .join(removed, Seq("doc_id"), "left")
      .join(lg, Seq("doc_id"), "left")
      .withColumn("keep_near", col("__rm").isNull)
      .withColumn("keep_qual", coalesce(col("logit"), lit(0L)) >= 0)
      .withColumn("keep_mix",
        Corpus.mixtureKeepExpr(col("lang"), col("h")))
      .withColumn("s2", col("keep_exact") && col("keep_near"))
      .withColumn("s3", col("s2") && col("keep_qual"))
      .withColumn("s4", col("s3") && col("keep_mix"))
    // FUSED ledger+packing: TWO consumers of the decision frame (the
    // ledger aggregate and the packing window) would need an eager
    // checkpoint — a per-invocation corpus-sized block-manager
    // materialization (the q173 anti-scaling mechanism). Instead the
    // plan is shaped so flags has ONE consumer: the packing cumsum runs
    // over the FULL frame as a conditional window sum (non-survivors
    // contribute 0, so an s4 row's cum equals the survivor-only prefix
    // packedBins computes — same doc_id order, same (cum−ntok) DIV
    // budget bin), and the funnel count_ifs ride the per-(source, bin)
    // aggregate (they distribute over the bin partition), so one
    // window + two stacked aggregates produce the ledger AND the packing
    // stats with no checkpoint and no ledger⋈packed join. Packing
    // arithmetic is Corpus.packedBins' definition verbatim; the q237
    // gate runs against the oracle's packedBins-SQL twin, so any drift
    // breaks the gate.
    val wCum = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val binned = flags
      .withColumn("cum",
        sum(when(col("s4"), col("ntok")).otherwise(lit(0L))).over(wCum))
      .withColumn("bin", when(col("s4"),
        expr(s"(cum - ntok) DIV ${Corpus.PackBudget}")))
    binned.groupBy("source", "bin")
      .agg(
        count(lit(1)).as("nd"),
        count_if(!col("keep_exact")).as("rex"),
        count_if(col("keep_exact") && !col("keep_near")).as("rnr"),
        count_if(col("s2") && !col("keep_qual")).as("rq"),
        count_if(col("s3") && !col("keep_mix")).as("rmx"),
        count_if(col("s4")).as("nk"),
        sum(when(col("s4"), col("ntok"))).as("btok"))
      .groupBy("source")
      .agg(
        sum("nd").as("n_docs"),
        sum("rex").as("n_rm_exact"),
        sum("rnr").as("n_rm_near"),
        sum("rq").as("n_rm_quality"),
        sum("rmx").as("n_rm_mixture"),
        sum("nk").as("n_kept"),
        count_if(col("bin").isNotNull).as("n_bins"),
        coalesce(sum("btok"), lit(0L)).as("n_tokens_kept"),
        count_if(col("bin").isNotNull && col("btok") > Corpus.PackBudget)
          .as("n_overflow_bins"))
      .select(col("source"), col("n_docs"), col("n_rm_exact"),
        col("n_rm_near"), col("n_rm_quality"), col("n_rm_mixture"),
        col("n_kept"), col("n_bins"), col("n_tokens_kept"),
        col("n_overflow_bins"))
      .orderBy("source")
  }

  /** q237's oracle wraps the LEG ORACLE CHAINS — the identical SQL the
    * per-leg gates run (the q63/q72 recursive cluster chain, the q78
    * logit chain, the q69 rule via [[Corpus.mixtureKeepSqlExpr]], the
    * q65 packing window over [[Corpus.PackBudget]]) — composed with the
    * same funnel accounting, so any leg drifting breaks both its own
    * gate and this one. Lazy: splices [[dedupClusterChainSql]] and
    * constants declared across this object. */
  lazy val q237Oracle: String = {
    import graft.functions.PolyHash
    s"""WITH RECURSIVE $dedupClusterChainSql,
       |rmn AS MATERIALIZED (SELECT doc_id FROM lab WHERE doc_id <> cluster_id),
       |hx AS (SELECT doc_id, source, lang,
       |    ${PolyHash.hornerSql("text")} AS h,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ntok
       |  FROM documents),
       |ek AS (SELECT doc_id, source, lang, h, ntok,
       |    doc_id = min(doc_id) OVER (PARTITION BY h) AS keep_exact
       |  FROM hx),
       |tq AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
       |  FROM documents),
       |fq AS (SELECT doc_id,
       |    ((${PolyHash.hornerSql("token")} % $QcBuckets) * 37 + 11) % $QcWMod - 10 AS w
       |  FROM tq),
       |dl AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS logit
       |       FROM fq GROUP BY doc_id),
       |fun AS MATERIALIZED (
       |  SELECT ek.source, ek.doc_id, ek.ntok, ek.keep_exact,
       |    r.doc_id IS NULL AS keep_near,
       |    coalesce(dl.logit, 0) >= 0 AS keep_qual,
       |    ${Corpus.mixtureKeepSqlExpr("ek.lang", "ek.h")} AS keep_mix,
       |    ek.keep_exact AND r.doc_id IS NULL AS s2,
       |    ek.keep_exact AND r.doc_id IS NULL
       |      AND coalesce(dl.logit, 0) >= 0 AS s3,
       |    ek.keep_exact AND r.doc_id IS NULL
       |      AND coalesce(dl.logit, 0) >= 0
       |      AND ${Corpus.mixtureKeepSqlExpr("ek.lang", "ek.h")} AS s4
       |  FROM ek LEFT JOIN rmn r ON ek.doc_id = r.doc_id
       |          LEFT JOIN dl ON ek.doc_id = dl.doc_id),
       |led AS (SELECT source, count(*) AS n_docs,
       |    count_if(NOT keep_exact) AS n_rm_exact,
       |    count_if(keep_exact AND NOT keep_near) AS n_rm_near,
       |    count_if(s2 AND NOT keep_qual) AS n_rm_quality,
       |    count_if(s3 AND NOT keep_mix) AS n_rm_mixture,
       |    count_if(s4) AS n_kept
       |  FROM fun GROUP BY source),
       |cums AS (SELECT source, ntok,
       |    sum(ntok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM fun WHERE s4),
       |pagg AS (SELECT source, (cum - ntok) // ${Corpus.PackBudget} AS bin,
       |    sum(ntok) AS btok
       |  FROM cums GROUP BY source, bin),
       |pst AS (SELECT source, count(*) AS n_bins,
       |    sum(btok) AS n_tokens_kept,
       |    count_if(btok > ${Corpus.PackBudget}) AS n_overflow_bins
       |  FROM pagg GROUP BY source)
       |SELECT led.source, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_rm_exact AS BIGINT) AS n_rm_exact,
       |  CAST(n_rm_near AS BIGINT) AS n_rm_near,
       |  CAST(n_rm_quality AS BIGINT) AS n_rm_quality,
       |  CAST(n_rm_mixture AS BIGINT) AS n_rm_mixture,
       |  CAST(n_kept AS BIGINT) AS n_kept,
       |  CAST(coalesce(n_bins, 0) AS BIGINT) AS n_bins,
       |  CAST(coalesce(n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
       |  CAST(coalesce(n_overflow_bins, 0) AS BIGINT) AS n_overflow_bins
       |FROM led LEFT JOIN pst ON led.source = pst.source
       |ORDER BY led.source""".stripMargin
  }

  /** q204's oracle rebuilds the per-frame pHash from scratch (the q198
    * integer block algebra specialized to 64-char frames: one char per
    * block), folds bands → sig and 3 consecutive sigs → shingle with
    * the [[graft.functions.PolyHash]] arithmetic, then replays the
    * q200 guard/pairing/containment tail.
    */
  val q204Oracle: String = {
    import graft.functions.PolyHash.{BandBase, BandSeed, Mod}
    s"""WITH vids AS (
       |  SELECT doc_id, text FROM documents
       |  -- TRY_CAST: a non-numeric source suffix nulls out (filtered by
       |  -- the != predicate) exactly like Spark's non-ANSI cast, instead
       |  -- of erroring the whole oracle on a free-form source id
       |  WHERE TRY_CAST(substr(source, 4) AS INT) % 3 != 0
       |    AND lang = 'en' AND length(text) >= ${VideoFrameChars * 4}),
       |frames AS (
       |  SELECT doc_id, f,
       |    substr(text, f * $VideoFrameChars + 1, $VideoFrameChars) AS fr
       |  FROM vids, unnest(generate_series(0,
       |    least(length(text) // $VideoFrameChars, $VideoMaxFrames) - 1)) AS g(f)),
       |chars AS (
       |  SELECT doc_id, f, i, CAST(ord(substr(fr, i, 1)) AS BIGINT) AS cp
       |  FROM frames, unnest(generate_series(1, $VideoFrameChars)) AS c(i)),
       |tot AS (SELECT doc_id, f, sum(cp) AS total FROM chars GROUP BY 1, 2),
       |bands AS (
       |  SELECT chars.doc_id, chars.f, (i - 1) // 16 AS band,
       |    CAST(sum(CASE WHEN cp * 64 > total THEN 1 ELSE 0 END
       |      * (1 << ((i - 1) % 16))) AS BIGINT) AS b
       |  FROM chars JOIN tot USING (doc_id, f) GROUP BY 1, 2, 3),
       |sigs AS (
       |  SELECT doc_id, f,
       |    list_reduce(list_prepend(CAST($BandSeed AS BIGINT),
       |      list(b ORDER BY band)),
       |      (acc, x) -> (acc * $BandBase + x) % $Mod) AS sig
       |  FROM bands GROUP BY doc_id, f),
       |sh AS (
       |  SELECT s0.doc_id,
       |    ((((($BandSeed * $BandBase + s0.sig) % $Mod)
       |      * $BandBase + s1.sig) % $Mod)
       |      * $BandBase + s2.sig) % $Mod AS fp
       |  FROM sigs s0
       |    JOIN sigs s1 ON s1.doc_id = s0.doc_id AND s1.f = s0.f + 1
       |    JOIN sigs s2 ON s2.doc_id = s0.doc_id AND s2.f = s0.f + 2),
       |fps AS (SELECT DISTINCT doc_id, fp FROM sh),
       |perdoc AS (SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY 1),
       |sizes AS (SELECT fp, count(*) AS n FROM fps GROUP BY 1),
       |jb AS (SELECT fps.* FROM fps JOIN sizes USING (fp)
       |       WHERE n > 1 AND n <= $VideoMaxBucket),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |  FROM jb a JOIN jb b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_shared,
       |  CAST(n_shared * 1000000 // least(pa.n_fp, pb.n_fp) AS BIGINT)
       |    AS contain_ppm,
       |  CAST(CASE WHEN n_shared * 1000000 // least(pa.n_fp, pb.n_fp)
       |    >= $VideoMinContainPpm AND n_shared >= $VideoMinShared
       |    THEN 1 ELSE 0 END AS BIGINT) AS near_dup
       |FROM shared
       |  JOIN perdoc pa ON doc_a = pa.doc_id
       |  JOIN perdoc pb ON doc_b = pb.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --- Multilingual temperature sampling (q232) -------------------------------

  /** q232: TEMPERATURE-SCALED LANGUAGE SAMPLING — the multilingual
    * mixture step (mT5 / XLM-R α-smoothing): raw language shares
    * p_l = tokens_l / T make high-resource languages drown the rest,
    * so the sampler draws from q_l ∝ p_l^α instead. α = 1/2 here,
    * which keeps the whole computation cross-engine exact-or-IEEE:
    * p^(1/2) is `sqrt`, CORRECTLY ROUNDED by IEEE-754 in both engines
    * (a general pow(p, α) is library-dependent — the reason α is not a
    * free parameter in the gate), shares divide two doubles built from
    * exact integer token counts, and the final `round(x, 6)` absorbs
    * the ≤1e-13 association noise of the |langs|-sized sum (the q10
    * discipline). Raw shares ride exact integer ppm.
    *
    * Scale shape: ONE corpus token aggregate down to the |langs| frame;
    * the normalizing sum is a single-partition window over that
    * domain-bounded frame only (the q121 rule).
    */
  def q232LangTemperature(s: SparkSession, d: String): DataFrame = {
    val perLang = documents(s, d)
      .select(col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tok"))
      .groupBy("lang").agg(sum("tok").as("tokens"))
    val wAll = Window.partitionBy()
    perLang
      .withColumn("t_total", sum("tokens").over(wAll))
      .withColumn("w", sqrt(col("tokens").cast("double")))
      .withColumn("w_total", sum("w").over(wAll))
      .select(col("lang"), col("tokens"),
        expr("tokens * 1000000 div t_total").as("raw_share_ppm"),
        round(col("w") / col("w_total"), 6).as("temp_share"))
      .orderBy("lang")
  }

  val q232Oracle: String =
    """WITH l AS (
      |  SELECT lang,
      |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
      |      AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1),
      |t AS (SELECT sum(tokens) AS tt,
      |        sum(sqrt(CAST(tokens AS DOUBLE))) AS wt FROM l)
      |SELECT lang, tokens,
      |  CAST(tokens * 1000000 // tt AS BIGINT) AS raw_share_ppm,
      |  round(sqrt(CAST(tokens AS DOUBLE)) / wt, 6) AS temp_share
      |FROM l, t ORDER BY lang""".stripMargin

  // --- Soft deduplication (q230) ---------------------------------------------

  /** q230: SOFT DEDUP — duplicate-aware DOWN-WEIGHTING instead of
    * dropping (the SoftDeDup training-loss idea applied at the data
    * layer): each exact-duplicate cluster of size c contributes its
    * token mass at weight 1/c per copy (the cluster as a whole counts
    * once), so the corpus keeps every row (provenance, recency and
    * source mixes survive) while repeated text stops dominating the
    * token budget. Emitted per source: raw vs effective token mass in
    * exact milli-tokens (`tok·1000 div c`, positive operands — the
    * div/`//` agreement rule) and the down-weighted duplicate mass,
    * the numbers a q207-style budget allocator consumes instead of the
    * post-drop counts q26/q72 produce.
    *
    * Scale shape: clusters are exact-hash groups — the window
    * partitions on the 64-bit hash AFTER projecting text away (the
    * shuffle carries (source, hash, tok), never text), high-cardinality
    * key so it spreads; then one source-keyed aggregate. The oracle
    * clusters on raw text equality — same clusters, assuming no 64-bit
    * collisions (the q26 contract, which countDistinct-vs-text already
    * certifies on these fixtures).
    */
  def q230SoftDedup(s: SparkSession, d: String): DataFrame = {
    val wC = Window.partitionBy(col("h"))
    documents(s, d)
      .select(col("source"), xxhash64(col("text")).as("h"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tok"))
      .withColumn("c", count(lit(1)).over(wC))
      .select(col("source"), col("tok"),
        expr("tok * 1000 div c").as("eff_milli"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"),
        sum("eff_milli").as("eff_tokens_milli"))
      .withColumn("dup_tokens_milli",
        col("tokens") * 1000 - col("eff_tokens_milli"))
      .orderBy("source")
  }

  val q230Oracle: String =
    """WITH t AS (
      |  SELECT source,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tok,
      |    count(*) OVER (PARTITION BY text) AS c
      |  FROM documents)
      |SELECT source, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tokens,
      |  CAST(sum(tok * 1000 // c) AS BIGINT) AS eff_tokens_milli,
      |  CAST(sum(tok) * 1000 - sum(tok * 1000 // c) AS BIGINT)
      |    AS dup_tokens_milli
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  // --- Incremental semantic dedup (q255) -----------------------------------

  /** q255 snapshot split: vec_id % [[IncrSemNewMod]] >= [[IncrSemBase]]
    * plays the new snapshot; everything below is the base corpus. */
  private val IncrSemNewMod = 10L
  private val IncrSemBase = 8L

  /** q255 probe threshold — deliberately LOWER than q77's removal
    * tau (0.5): an incremental probe is a surfacing step (a human or a
    * downstream keep-rule consumes the pairs), and under frozen base
    * seeds a paraphrase pair straddling the snapshot boundary sits
    * systematically further from its (stale) centroid than a batch
    * re-clustering would place it. */
  private val IncrSemTau = 0.3

  /** Version + parameter token baked into BOTH maintained semantic-index
    * layout names — the q255 batch index (`semidx_`) and the q257
    * streaming layout (`semstr_`) share the ONE val so they can never
    * drift: a layout populated under a different
    * stride, tau, cell bound, snapshot split BOUNDARY, modulus, or
    * argmax grid must never satisfy either reuse path. Every token is
    * DERIVED from the constant it guards (t = tau·100, b = the base/new
    * boundary, g40 = the 2⁴⁰ [[ArgmaxGrid]]), not retyped. */
  private val IncrSemTag: String =
    s"v2_c${SemDedupSeedStride}t${math.round(IncrSemTau * 100)}" +
      s"x${SemDedupMaxCell}b${IncrSemBase}m${IncrSemNewMod}g40"

  /** q255: INCREMENTAL SEMANTIC DEDUP — the continual-ingest twin of
    * q77, completing the maintained-index family (MinHash q79, BM25
    * q211, IVFADC q250): a daily snapshot must not re-cluster and
    * re-compare the whole corpus to learn which of ITS documents are
    * semantic near-dups. The maintained state is one published layout
    * ([[graft.sources.Layouts.ensureDir]]): the base corpus's cell
    * assignment `(cell_id, vec_id, embedding)` under centroids FROZEN
    * at base time — seeds are the [[SemDedupSeedStride]] rule
    * restricted to base vec_ids, the q250 frozen-quantizer discipline
    * (drift on later snapshots is a measured-rebuild concern, q252's
    * audit shape, not a correctness one).
    *
    * The probe assigns ONLY the new slice to the frozen cells, then
    * forms exactly two pair classes inside each cell: new-vs-base
    * (probe joined against the index) and new-vs-new (probe
    * self-join). Base-vs-base pairs are never formed — probe cost
    * scales with the snapshot × cell density, never the corpus². The
    * degenerate-cell guard counts index + probe occupancy TOGETHER, so
    * the guarded cell set is identical to a batch run over the union —
    * which is exactly what the oracle replays from scratch (an oracle
    * has no maintained state): frozen-seed assignment of the FULL
    * corpus, union-occupancy guard, within-cell pairs, at-least-one-new
    * filter. The gate passing IS the incremental == rebuild proof.
    *
    * Output: (id_a, id_b, kind, cell_id, sim ≥ [[IncrSemTau]]) with
    * id_a < id_b — 'kind' splits collision-with-corpus (drop the new
    * doc) from intra-snapshot duplicates (keep-min), the q79 contract
    * in embedding space.
    */
  def q255IncrSemDedup(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Layouts
    val tag = Layouts.srcTag(s, d, "embeddings")
    val e = embeddings(s, d)
    val frozen = e
      .filter(pmod(col("vec_id"), lit(SemDedupSeedStride)) === 0 &&
        col("vec_id") % IncrSemNewMod < IncrSemBase)
      .select(col("vec_id").as("cell_id"), col("embedding").as("c_emb"))
    val idxPath = Layouts.ensureDir(s, s"semidx_${IncrSemTag}_$tag") { tmp =>
      assignCells(e.filter(col("vec_id") % IncrSemNewMod < IncrSemBase), frozen)
        .select("cell_id", "vec_id", "embedding").write.parquet(tmp)
    }
    val idx = s.read.parquet(idxPath)
    // the probe frame feeds the occupancy guard and both pair legs —
    // checkpoint it (snapshot-sized, the q173 items discipline) so the
    // assignment runs once, not three times
    val nw = assignCells(e.filter(col("vec_id") % IncrSemNewMod >= IncrSemBase), frozen)
      .select(col("cell_id"), col("vec_id"), col("embedding"))
      .localCheckpoint(eager = true)
    val occ = idx.select("cell_id").unionAll(nw.select("cell_id"))
      .groupBy("cell_id").agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= SemDedupMaxCell).select("cell_id")
    val nwOk = nw.join(occ, Seq("cell_id"))
    val newOld = nwOk
      .select(col("cell_id"), col("vec_id").as("na"), col("embedding").as("ea"))
      .join(idx.select(col("cell_id"), col("vec_id").as("ob"),
        col("embedding").as("eb")), Seq("cell_id"))
      .select(col("cell_id"),
        least(col("na"), col("ob")).as("id_a"),
        greatest(col("na"), col("ob")).as("id_b"),
        lit("new_old").as("kind"),
        VectorExpressions.cosine(col("ea"), col("eb")).as("sim"))
    val newNew = nwOk
      .select(col("cell_id"), col("vec_id").as("na"), col("embedding").as("ea"))
      .join(nwOk.select(col("cell_id"), col("vec_id").as("nb"),
        col("embedding").as("eb")), Seq("cell_id"))
      .filter(col("na") < col("nb"))
      .select(col("cell_id"), col("na").as("id_a"), col("nb").as("id_b"),
        lit("new_new").as("kind"),
        VectorExpressions.cosine(col("ea"), col("eb")).as("sim"))
    newOld.unionAll(newNew)
      .filter(col("sim") >= IncrSemTau)
      .select(col("id_a"), col("id_b"), col("kind"),
        col("cell_id").cast("long").as("cell_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy("id_a", "id_b")
  }

  /** From-scratch replay: frozen-seed assignment of the full corpus
    * (the seeds predicate restricted to base ids), union-occupancy
    * guard, within-cell pairs, at-least-one-new — provably the
    * index-probe plan's output because per-vector argmax assignment is
    * row-independent and the guard bound is union occupancy on both
    * sides. */
  val q255Oracle: String =
    s"""WITH fc AS (SELECT vec_id AS cell_id, embedding AS c_emb
       |       FROM embeddings
       |       WHERE vec_id % $SemDedupSeedStride = 0
       |         AND vec_id % $IncrSemNewMod < $IncrSemBase),
       |fasim AS (SELECT e.vec_id, c.cell_id,
       |    list_cosine_similarity(e.embedding::DOUBLE[],
       |                           c.c_emb::DOUBLE[]) AS csim
       |  FROM embeddings e CROSS JOIN fc c),
       |fassigned AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY CAST(round(csim * $ArgmaxGrid)
       |                                       AS BIGINT) DESC,
       |                                  cell_id DESC) AS rn
       |    FROM fasim) WHERE rn = 1),
       |occ AS (SELECT cell_id FROM fassigned GROUP BY 1
       |        HAVING count(*) <= $SemDedupMaxCell),
       |m AS (SELECT a.cell_id, a.vec_id, e.embedding
       |      FROM fassigned a JOIN occ USING (cell_id)
       |      JOIN embeddings e USING (vec_id)),
       |p AS (SELECT a.cell_id, a.vec_id AS id_a, b.vec_id AS id_b,
       |        list_cosine_similarity(a.embedding::DOUBLE[],
       |                               b.embedding::DOUBLE[]) AS sim
       |      FROM m a JOIN m b
       |        ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
       |      WHERE a.vec_id % $IncrSemNewMod >= $IncrSemBase
       |         OR b.vec_id % $IncrSemNewMod >= $IncrSemBase)
       |SELECT id_a, id_b,
       |  CASE WHEN id_a % $IncrSemNewMod >= $IncrSemBase AND id_b % $IncrSemNewMod >= $IncrSemBase
       |       THEN 'new_new' ELSE 'new_old' END AS kind,
       |  CAST(cell_id AS BIGINT) AS cell_id, round(sim, 4) AS sim
       |FROM p WHERE sim >= $IncrSemTau ORDER BY id_a, id_b""".stripMargin

  // --- Streaming incremental semantic dedup (q257) --------------------------

  /** Build the base of a streamable semantic-dedup layout at `root`:
    * the frozen centroid seeds (the [[SemDedupSeedStride]] rule over
    * the base corpus) land as `cents/`, and the base cell assignment
    * as the `members/batch_id=0` generation. Counterpart of
    * `ivfAdcBuildBase` for the q255 index. */
  private[graft] def semIncrBuildBase(s: SparkSession, base: DataFrame,
      root: String): Unit = {
    val cents = base
      .filter(pmod(col("vec_id"), lit(SemDedupSeedStride)) === 0)
      .select(col("vec_id").as("cell_id"), col("embedding").as("c_emb"))
    cents.write.mode("overwrite").parquet(s"$root/cents")
    assignCells(base, s.read.parquet(s"$root/cents"))
      .select("cell_id", "vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$root/members/batch_id=0")
  }

  /** Land one micro-batch as generation `gen` of the q255-shaped layout
    * AND emit its EAGER pair set: the batch assigned to the frozen
    * cells, paired against every EARLIER generation (partition-pruned
    * `batch_id < gen` — a replayed batch can never see its own stale
    * attempt) plus intra-batch, under the eager union-occupancy guard
    * (cells bounded over everything landed so far INCLUDING this batch
    * — monotone, so a cell that crosses the bound stops pairing from
    * this generation on while earlier generations' pairs stand; on an
    * un-crossed layout the union of per-generation pair files is
    * EXACTLY the batch q255 output under any slicing, which is what
    * the q257 gate certifies against q255's own oracle). Both writes
    * are overwrite-by-generation, so redelivery is byte-idempotent.
    * 'kind' is STRUCTURAL — prior generation 0 is the base corpus
    * (new_old), everything else arrived as a delta (new_new) — which
    * coincides with q255's id-rule classification on the registered
    * split. */
  private[graft] def semIncrAppendDelta(s: SparkSession, batch: DataFrame,
      root: String, gen: Long, maxCell: Long = SemDedupMaxCell): Unit = {
    val cents = s.read.parquet(s"$root/cents")
    Snapshots.using(assignCells(batch.select("vec_id", "embedding"), cents)
        .select(col("cell_id"), col("vec_id"), col("embedding"))) { nw =>
      val prior = s.read.parquet(s"$root/members")
        .filter(col("batch_id") < gen)
        .select("cell_id", "vec_id", "embedding", "batch_id")
      val occ = prior.select("cell_id").unionAll(nw.select("cell_id"))
        .groupBy("cell_id").agg(count(lit(1)).as("occ"))
        .filter(col("occ") <= maxCell).select("cell_id")
      val nwOk = nw.join(occ, Seq("cell_id"))
      // joining on cell_id already restricts the prior side to passing
      // cells (nwOk's cells all pass) — no second guard join needed
      val vsPrior = nwOk
        .select(col("cell_id"), col("vec_id").as("na"), col("embedding").as("ea"))
        .join(prior.select(col("cell_id"), col("vec_id").as("ob"),
          col("embedding").as("eb"), col("batch_id")), Seq("cell_id"))
        .select(col("cell_id"),
          least(col("na"), col("ob")).as("id_a"),
          greatest(col("na"), col("ob")).as("id_b"),
          when(col("batch_id") === 0L, lit("new_old"))
            .otherwise(lit("new_new")).as("kind"),
          VectorExpressions.cosine(col("ea"), col("eb")).as("sim"))
      val intra = nwOk
        .select(col("cell_id"), col("vec_id").as("na"), col("embedding").as("ea"))
        .join(nwOk.select(col("cell_id"), col("vec_id").as("nb"),
          col("embedding").as("eb")), Seq("cell_id"))
        .filter(col("na") < col("nb"))
        .select(col("cell_id"), col("na").as("id_a"), col("nb").as("id_b"),
          lit("new_new").as("kind"),
          VectorExpressions.cosine(col("ea"), col("eb")).as("sim"))
      vsPrior.unionAll(intra)
        .filter(col("sim") >= IncrSemTau)
        .select(col("id_a"), col("id_b"), col("kind"),
          col("cell_id").cast("long").as("cell_id"),
          round(col("sim"), 4).as("sim"))
        .write.mode("overwrite").parquet(s"$root/pairs/batch_id=$gen")
      nw.select("cell_id", "vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$root/members/batch_id=$gen")
    }
  }

  /** The streaming layout rides the SAME derived parameter token as the
    * batch index — a drift between the two would let q257 reuse a
    * layout q255's oracle no longer describes. */
  private val SemStreamTag: String = IncrSemTag

  /** The q257/q258 shared layout: base build + two deterministic
    * micro-batches through the streaming handler, published once per
    * fixture dir (idempotent ensureDir). */
  private def semStreamDir(s: SparkSession, d: String): String = {
    import graft.sources.Layouts
    val tag = Layouts.srcTag(s, d, "embeddings")
    Layouts.ensureDir(s, s"semstr_${SemStreamTag}_$tag") { tmp =>
      val e = embeddings(s, d)
      semIncrBuildBase(s, e.filter(col("vec_id") % IncrSemNewMod < IncrSemBase), tmp)
      val delta = e.filter(col("vec_id") % IncrSemNewMod >= IncrSemBase)
      (0L until 2L).foreach { b =>
        graft.streaming.SemDedupIngestStream.ingest(tmp)(
          delta.filter(pmod(expr(s"vec_id DIV $IncrSemNewMod"), lit(2)) === b),
          b)
      }
      Layouts.markComplete(s, tmp)
    }
  }

  /** q257: STREAMING INCREMENTAL SEMANTIC DEDUP — q255's continual-
    * ingest twin under the micro-batch replay protocol (the q251
    * pattern on the q255 index): the delta arrives as two
    * deterministic micro-batches through
    * [[graft.streaming.SemDedupIngestStream]], each landing a
    * delta-sized members generation plus its eager pair file; the
    * registered output is the UNION of the per-generation pair files,
    * gated against q255's OWN from-scratch oracle — the gate passing
    * certifies stream == batch cross-engine (slicing-independence of
    * the eager emission; SemDedupStreamSpec additionally pins a third
    * slicing, live MemoryStream parity, byte-idempotent redelivery,
    * the aging guard, and the eager guard's crossing semantics). */
  def q257StreamSemDedup(s: SparkSession, d: String): DataFrame = {
    val dir = semStreamDir(s, d)
    // Stream == batch only holds while no cell CROSSES SemDedupMaxCell
    // between generations: the eager per-batch guard counts prior +
    // current occupancy, so a cell crossing the bound mid-stream keeps
    // its earlier generations' pairs where a batch q255 run (and the
    // oracle this gate hashes against) would exclude the whole cell.
    // The registration depends on it never happening, so the probe
    // PROVES it per run and fails loudly with
    // the rebuild action otherwise (a crossed layout is q259-drift-class
    // state: rebuild from base + generations, republish, re-point).
    val crossed = s.read.parquet(s"$dir/members")
      .groupBy("cell_id").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > SemDedupMaxCell)
      .limit(1).collect()
    require(crossed.isEmpty,
      s"semantic-dedup cell ${crossed.headOption.map(_.get(0)).orNull} " +
        s"crossed SemDedupMaxCell=$SemDedupMaxCell mid-stream: earlier " +
        "generations' pairs no longer match a batch rebuild — rebuild the " +
        s"layout (delete $dir and re-ingest) before gating")
    s.read.parquet(s"$dir/pairs")
      .select(col("id_a"), col("id_b"), col("kind"), col("cell_id"),
        col("sim"))
      .orderBy("id_a", "id_b")
  }

  // --- Per-generation semantic-index drift audit (q258) ---------------------

  /** The audit body over ANY q255/q257-shaped layout root (spec seam:
    * SemDedupStreamSpec plants a drifted delta through the same
    * entry): per landed generation, how close its members sit to their
    * FROZEN assigned centroid — count, exact-integer ppm-quantized
    * cosine sum, sign-factored mean, and the min/max envelope. One
    * members scan + a broadcast of the (tiny) seed table; the rollup
    * is map-combinable into |generations| rows. */
  /** Rebuild trigger (the consumer of the drift audit): a
    * generation whose MEAN frozen-centroid cosine falls below this ppm
    * threshold is assigned against seeds that no longer describe it —
    * the audit row says so ([[semDriftAudit]]'s `rebuild_due`), and
    * [[semRebuildIfDrifted]] acts on it. 0.1 sits far under the
    * registered corpus's ~0.15–0.18 generation means and far above a
    * genuinely drifted slice (a rotated/negated delta goes negative). */
  private[graft] val SemRebuildMinMeanPpm = 100000L

  private[graft] def semDriftAudit(s: SparkSession, root: String): DataFrame = {
    val cents = s.read.parquet(s"$root/cents")
    s.read.parquet(s"$root/members")
      .join(broadcast(cents), Seq("cell_id"))
      .select(col("batch_id"),
        round(VectorExpressions.cosine(col("embedding"), col("c_emb"))
          * 1000000d).cast("long").as("q"))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_members"),
        sum(col("q")).as("sum_ppm"),
        min(col("q")).as("min_ppm"),
        max(col("q")).as("max_ppm"))
      .select(col("batch_id").cast("long").as("generation"),
        col("n_members"), col("sum_ppm"),
        expr("CASE WHEN sum_ppm >= 0 THEN sum_ppm DIV n_members " +
          "ELSE -((-sum_ppm) DIV n_members) END").as("mean_ppm"),
        col("min_ppm"), col("max_ppm"))
      .withColumn("rebuild_due",
        when(col("mean_ppm") < SemRebuildMinMeanPpm, 1L).otherwise(0L))
      .orderBy("generation")
  }

  /** THE REBUILD ACTION the drift audit triggers (q252/q258 measure
    * drift; this consumes it): re-seed
    * centroids from base + every landed generation (the same
    * [[SemDedupSeedStride]] rule, now over the UNION corpus), re-assign
    * everything as generation 0 of a FRESH layout at `out`, and leave
    * `root` untouched — the caller re-points its probe/stream at the
    * new root (new tag, new checkpoint), the republish-under-a-new-tag
    * protocol every maintained layout here follows. Cost: one pass over
    * the members (the corpus the layout already holds) — exactly a
    * batch rebuild, which is the point: incremental maintenance until
    * the audit says the frozen seeds lie, then pay the batch price
    * once. */
  private[graft] def semIncrRebuild(s: SparkSession, root: String,
      out: String): Unit =
    semIncrBuildBase(s,
      s.read.parquet(s"$root/members").select("vec_id", "embedding"), out)

  /** Close the loop: audit → trip → rebuild. Returns true (and builds
    * the fresh layout at `out`) iff any generation's `rebuild_due`
    * fired; the |generations|-row audit frame is the only thing
    * collected. */
  private[graft] def semRebuildIfDrifted(s: SparkSession, root: String,
      out: String): Boolean = {
    val tripped = semDriftAudit(s, root)
      .filter(col("rebuild_due") === 1L).limit(1).collect().nonEmpty
    if (tripped) semIncrRebuild(s, root, out)
    tripped
  }

  /** q258: PER-GENERATION ASSIGNMENT-DRIFT AUDIT for the frozen-seed
    * semantic index — the q252 discipline applied to the q255/q257
    * layout: the centroid seeds are frozen at base time, so a DRIFTED
    * delta (vectors the base seeds never saw) degrades silently — it
    * still lands in SOME argmax cell, the pairs still flow, they are
    * just increasingly mis-celled and the dedup quietly goes blind to
    * cross-cell paraphrases. The monitorable signal is assignment
    * QUALITY per generation: a healthy delta's cosine-to-assigned-
    * centroid tracks the base generation's; a drifted one opens a
    * mean_ppm gap — the number a deployment thresholds to schedule a
    * reseed+rebuild (SemDedupStreamSpec plants exactly such a delta
    * and pins the gap).
    *
    * The engine reads generations off the layout the stream actually
    * landed; the oracle re-derives membership AND generation placement
    * from scratch (frozen-seed argmax + the registered deterministic
    * slicing), so the gate certifies both the audit arithmetic and
    * that every vector sits in the generation the protocol says it
    * should. The per-member quantity is the ppm-quantized cosine to
    * the assigned centroid — the SAME csim the argmax ranked on, taken
    * from the oracle's own assignment CTE, so engine and oracle can
    * never disagree about which cosine is being audited.
    */
  def q258SemDedupDrift(s: SparkSession, d: String): DataFrame =
    semDriftAudit(s, semStreamDir(s, d))

  val q258Oracle: String =
    s"""WITH fc AS (SELECT vec_id AS cell_id, embedding AS c_emb
       |       FROM embeddings
       |       WHERE vec_id % $SemDedupSeedStride = 0
       |         AND vec_id % $IncrSemNewMod < $IncrSemBase),
       |fasim AS (SELECT e.vec_id, c.cell_id,
       |    list_cosine_similarity(e.embedding::DOUBLE[],
       |                           c.c_emb::DOUBLE[]) AS csim
       |  FROM embeddings e CROSS JOIN fc c),
       |fassigned AS (
       |  SELECT vec_id, cell_id, csim FROM (
       |    SELECT vec_id, cell_id, csim,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY CAST(round(csim * $ArgmaxGrid)
       |                                       AS BIGINT) DESC,
       |                                  cell_id DESC) AS rn
       |    FROM fasim) WHERE rn = 1),
       |g AS (
       |  SELECT CASE WHEN vec_id % $IncrSemNewMod < $IncrSemBase THEN 0
       |              WHEN (vec_id // $IncrSemNewMod) % 2 = 0 THEN 1
       |              ELSE 2 END AS generation,
       |    CAST(round(csim * 1000000) AS BIGINT) AS q
       |  FROM fassigned)
       |SELECT CAST(generation AS BIGINT) AS generation,
       |  count(*) AS n_members, CAST(sum(q) AS BIGINT) AS sum_ppm,
       |  CAST(CASE WHEN sum(q) >= 0 THEN sum(q) // count(*)
       |       ELSE -((-sum(q)) // count(*)) END AS BIGINT) AS mean_ppm,
       |  min(q) AS min_ppm, max(q) AS max_ppm,
       |  CAST(CASE WHEN (CASE WHEN sum(q) >= 0 THEN sum(q) // count(*)
       |       ELSE -((-sum(q)) // count(*)) END) < $SemRebuildMinMeanPpm
       |       THEN 1 ELSE 0 END AS BIGINT) AS rebuild_due
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // --- Embedding co-moment / covariance audit (q256) ------------------------

  /** Exact half-away-from-zero rounding of a double to long, bit-identical
    * to Spark's `round(double)` (BigDecimal HALF_UP over the exact value)
    * and DuckDB's `round` — the generic `Math.round` is half-UP (toward
    * +∞) and flips negative halves. `|x| − floor(|x|)` is an exact FP
    * subtraction for the magnitudes here (≪ 2⁵²), so the ≥ .5 comparison
    * sees the true binary value, never an `x + 0.5` rounding artifact.
    */
  private def roundHalfAway(x: Double): Long = {
    val a = math.abs(x)
    val f = math.floor(a)
    val r = if (a - f >= 0.5d) f + 1.0d else f
    if (x < 0) -r.toLong else r.toLong
  }

  /** The fused per-partition co-moment kernel behind q256/q259/q260: ONE
    * pass over the embedding column accumulating all d(d+1)/2 = 2080
    * (at d=64) upper-triangle cells in flat long arrays, then 2080
    * partial rows per PARTITION into one tiny final aggregate. This is
    * the documented imperative seam (the Misra-Gries precedent,
    * `Corpus.scala` q85) in place of exploding 2080 structs per VECTOR
    * through nested transform/slice lambdas — same exact arithmetic,
    * but the allocation storm (~2080·N materialized struct rows feeding
    * the hash aggregate) becomes a register-resident multiply-add loop;
    * measured ~10× on the audit.
    *
    * Exactness: quantization replicates `round(x·2²⁰)` half-away-from-
    * zero on the exact double ([[roundHalfAway]]); per-partition sums
    * accumulate in `Math.addExact`/`multiplyExact` longs (a partition
    * would need ≳ 8M rows of full-scale ±2²¹ components to overflow —
    * `maxPartitionBytes` caps real partitions far below that — and
    * overflow fails LOUDLY, never wraps); cross-partition totals sum in
    * decimal(38,0). Ragged vectors fail loudly rather than mis-index.
    *
    * Scale shape: one scan, no join, no per-row allocation beyond the
    * reused arrays; the shuffle carries 2080 rows × partitions whatever
    * the corpus size — the same map-combinable asymptote as before with
    * the constant factor actually engineered.
    */
  private def covMomentPartials(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    embeddings(s, d)
      .select(col("embedding").cast("array<double>"))
      .as[Array[Double]]
      .mapPartitions { it =>
        var dims = -1
        var n = 0L
        var sumQ: Array[Long] = null
        var spp: Array[Long] = null
        var q: Array[Long] = null
        while (it.hasNext) {
          val e = it.next()
          if (dims < 0) {
            dims = e.length
            sumQ = new Array[Long](dims)
            spp = new Array[Long](dims * (dims + 1) / 2)
            q = new Array[Long](dims)
          }
          require(e.length == dims,
            s"ragged embedding: expected $dims components, got ${e.length}")
          var i = 0
          while (i < dims) { q(i) = roundHalfAway(e(i) * 1048576.0d); i += 1 }
          n += 1
          var k = 0
          i = 0
          while (i < dims) {
            val qi = q(i)
            sumQ(i) = Math.addExact(sumQ(i), qi)
            var j = i
            while (j < dims) {
              spp(k) = Math.addExact(spp(k), Math.multiplyExact(qi, q(j)))
              k += 1; j += 1
            }
            i += 1
          }
        }
        if (dims < 0) Iterator.empty
        else {
          val out = new Array[(Int, Int, Long, Long, Long, Long)](
            dims * (dims + 1) / 2)
          var k = 0; var i = 0
          while (i < dims) {
            var j = i
            while (j < dims) {
              out(k) = (i + 1, j + 1, n, sumQ(i), sumQ(j), spp(k))
              k += 1; j += 1
            }
            i += 1
          }
          out.iterator
        }
      }
      .toDF("pos_i", "pos_j", "pn", "psum_qi", "psum_qj", "psqq")
  }

  /** The SHARED co-moment matrix layout (q256 reads it, q259 iterates on
    * it, q260 ranks from it): the fused kernel's rollup published ONCE
    * per fixture generation under the [[graft.sources.Layouts]] protocol
    * — so the corpus co-moment pass is paid once, not once per
    * consumer: the pair (and any future consumer) costs one scan total,
    * and repeat Verify/Bench runs cost zero.
    * Stored raw (n/Σqᵢ/Σqⱼ/Σqᵢqⱼ, sums in decimal(38,0)) so every
    * derived statistic — covariance, correlation, whitening — divides
    * its own way without re-reading the corpus.
    */
  private def covMatrixDir(s: SparkSession, d: String): String = {
    import graft.sources.Layouts
    val tag = Layouts.srcTag(s, d, "embeddings")
    Layouts.ensureDir(s, s"covmat_v1q20_$tag") { tmp =>
      covMomentPartials(s, d)
        .groupBy("pos_i", "pos_j")
        .agg(sum(col("pn")).as("n_vecs"),
          sum(col("psum_qi").cast("decimal(38,0)")).cast("long").as("sum_qi"),
          sum(col("psum_qj").cast("decimal(38,0)")).cast("long").as("sum_qj"),
          sum(col("psqq").cast("decimal(38,0)")).as("sqq"))
        .coalesce(1)
        .write.parquet(tmp)
    }
  }

  /** The published matrix with the covariance quotient derived — the one
    * copy of the sign-factored truncating division (the q141 discipline:
    * Spark DIV truncates toward zero, DuckDB // floors — identical only
    * on non-negative operands) shared by q256's audit frame and q259's
    * iteration input. */
  private def covDerived(s: SparkSession, d: String): DataFrame = {
    val big = (c: Column) => c.cast("decimal(38,0)")
    s.read.parquet(covMatrixDir(s, d))
      .withColumn("num",
        big(col("n_vecs")) * col("sqq") -
          big(col("sum_qi")) * big(col("sum_qj")))
      .select(col("pos_i").cast("long").as("pos_i"),
        col("pos_j").cast("long").as("pos_j"),
        col("n_vecs"), col("sum_qi"), col("sum_qj"),
        expr("CAST(sign(num) AS DECIMAL(38,0)) * (abs(num) DIV " +
          "(CAST(n_vecs AS DECIMAL(38,0)) * n_vecs))").cast("long")
          .as("cov_q2"))
  }

  /** q256: COVARIANCE AUDIT of the embedding space — the cross-dimension
    * complement of q126's per-dimension audit: exact quantized
    * co-moments for every coordinate pair i ≤ j (diagonal = variance
    * numerator), the statistics a whitening/PCA step consumes and the
    * audit that catches redundant (highly covarying) dimensions that
    * per-dimension stats cannot see. All-integer: components quantize
    * at the shared ·2²⁰ grid (q110/q112/q126 kernels), co-moment sums
    * in decimal(38,0), and the covariance numerator n·Σqᵢqⱼ − Σqᵢ·Σqⱼ
    * is emitted as the sign-factored integer quotient by n², so the
    * gate hashes exactly.
    *
    * Execution: the [[covMomentPartials]] fused kernel rolled up into
    * the [[covMatrixDir]] maintained layout — one corpus scan EVER per
    * fixture generation, shared with q259/q260. The oracle replays
    * pairs via a per-vector position self-join — same multiset,
    * join-shaped only because SQL lacks the loop.
    */
  def q256CovAudit(s: SparkSession, d: String): DataFrame =
    covDerived(s, d).orderBy("pos_i", "pos_j")

  /** The q256/q259 shared oracle prefix: quantized components, the
    * per-vector position self-join, and the exact co-moment rollup —
    * one string so the covariance audit and the power iteration can
    * never drift apart on the matrix they share. */
  private val CovCtes: String =
    """ex AS (
      |  SELECT vec_id,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT)
      |      AS qc,
      |    unnest(generate_series(1, len(embedding))) AS pos
      |  FROM embeddings),
      |p AS (
      |  SELECT a.pos AS pos_i, b.pos AS pos_j, a.qc AS qi, b.qc AS qj
      |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.pos <= b.pos),
      |g AS (
      |  SELECT pos_i, pos_j, count(*) AS n_vecs,
      |    sum(qi) AS sum_qi, sum(qj) AS sum_qj,
      |    sum(CAST(qi AS HUGEINT) * qj) AS sqq,
      |    count(*) * sum(CAST(qi AS HUGEINT) * qj)
      |      - CAST(sum(qi) AS HUGEINT) * sum(qj) AS num
      |  FROM p GROUP BY 1, 2)""".stripMargin

  val q256Oracle: String =
    s"""WITH $CovCtes
      |SELECT CAST(pos_i AS BIGINT) AS pos_i, CAST(pos_j AS BIGINT) AS pos_j,
      |  n_vecs, CAST(sum_qi AS BIGINT) AS sum_qi,
      |  CAST(sum_qj AS BIGINT) AS sum_qj,
      |  CAST(CASE WHEN num >= 0
      |    THEN num // (CAST(n_vecs AS HUGEINT) * n_vecs)
      |    ELSE -((-num) // (CAST(n_vecs AS HUGEINT) * n_vecs)) END
      |    AS BIGINT) AS cov_q2
      |FROM g ORDER BY pos_i, pos_j""".stripMargin

  // --- Dominant principal direction (q259) ----------------------------------

  private val PowerIters = 3
  private val PowerUnit = 1000000L

  /** q259: DOMINANT PRINCIPAL DIRECTION — [[PowerIters]] steps of
    * fixed-point integer power iteration on q256's exact co-moment
    * matrix: the q151 integer fixed-point discipline applied to the
    * PCA/whitening statistics, so the "which direction holds the most
    * variance" answer every embedding-space triage starts from is an
    * exactly-hashable table instead of a float eigensolve. The vector
    * starts uniform at [[PowerUnit]], each step is w = C·v followed by
    * sign-factored truncating renormalization to max\|v\| =
    * [[PowerUnit]] (zero matrix → zero vector, guarded on both
    * engines); the result is DEFINED as the 3-step fixed-point
    * trajectory — deterministic integer arithmetic, not a convergence
    * claim (the spec replays it in BigInt and pins the normalization
    * invariant).
    *
    * Scale shape: reads the [[covMatrixDir]] maintained layout — the
    * corpus co-moment pass is paid ONCE for the whole q256/q259/q260
    * family; the matrix is \|dims\|²-sized,
    * corpus-INDEPENDENT, so the iteration itself is driver-side
    * arithmetic over 2080 bounded rows (the q172 observe pattern)
    * emitted as a literal frame. The oracle replays the same
    * trajectory with unrolled matrix-vector CTE joins in HUGEINT.
    */
  def q259PowerIteration(s: SparkSession, d: String): DataFrame = {
    val tri = covDerived(s, d).select("pos_i", "pos_j", "cov_q2")
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt,
        BigInt(r.getLong(2))))
    val dims = tri.iterator.map(_._2).max
    val c = Array.fill(dims + 1, dims + 1)(BigInt(0))
    tri.foreach { case (i, j, v) => c(i)(j) = v; c(j)(i) = v }
    var v = Array.fill(dims + 1)(BigInt(PowerUnit)); v(0) = BigInt(0)
    for (_ <- 1 to PowerIters) {
      val w = Array.tabulate(dims + 1) { i =>
        if (i == 0) BigInt(0)
        else (1 to dims).iterator.map(j => c(i)(j) * v(j)).sum
      }
      val mx = w.iterator.map(_.abs).max
      v = w.map(x =>
        if (mx == 0) BigInt(0)
        else if (x >= 0) x * PowerUnit / mx
        else -((-x) * PowerUnit / mx))
    }
    import s.implicits._
    (1 to dims).map(i => (i.toLong, v(i).toLong))
      .toDF("pos", "loading_ppm")
  }

  val q259Oracle: String = {
    val iters = (1 to PowerIters).map { k =>
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""w$k AS (SELECT cm.i, sum(cm.c * $prev.v) AS w
         |  FROM cm JOIN $prev ON $prev.j = cm.j GROUP BY 1),
         |m$k AS (SELECT max(abs(w)) AS mx FROM w$k),
         |v$k AS (SELECT w$k.i AS j,
         |    CASE WHEN m$k.mx = 0 THEN 0
         |         WHEN w >= 0 THEN w * $PowerUnit // m$k.mx
         |         ELSE -((-w) * $PowerUnit // m$k.mx) END AS v
         |  FROM w$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $CovCtes,
       |cov AS (SELECT pos_i, pos_j,
       |    CAST(CASE WHEN num >= 0
       |      THEN num // (CAST(n_vecs AS HUGEINT) * n_vecs)
       |      ELSE -((-num) // (CAST(n_vecs AS HUGEINT) * n_vecs)) END
       |      AS HUGEINT) AS c
       |  FROM g),
       |cm AS (SELECT pos_i AS i, pos_j AS j, c FROM cov
       |       UNION ALL
       |       SELECT pos_j, pos_i, c FROM cov WHERE pos_i <> pos_j),
       |v0 AS (SELECT DISTINCT pos_i AS j, CAST($PowerUnit AS HUGEINT) AS v
       |       FROM cov),
       |$iters
       |SELECT CAST(j AS BIGINT) AS pos, CAST(v AS BIGINT) AS loading_ppm
       |FROM v$PowerIters ORDER BY pos""".stripMargin
  }

  // --- Redundant-dimension audit (q260) --------------------------------------

  private val RedundantTopK = 20

  /** q260: REDUNDANT DIMENSION PAIRS — the top-[[RedundantTopK]]
    * off-diagonal coordinate pairs ranked by squared correlation, the
    * actionable read-out of q256's matrix: a pair near corr² = 1 is a
    * dimension the embedding spends twice, the first thing a
    * whitening/compression pass drops. Third consumer of the
    * [[covMatrixDir]] maintained layout — ZERO additional corpus scans;
    * the ranking is a broadcast self-join of the 2080-row matrix
    * against its own 64-row diagonal.
    *
    * Exactness: corr² in ppm as the all-integer quotient
    * cov²ᵢⱼ·10⁶ DIV (covᵢᵢ·covⱼⱼ) over the already-divided cov_q2
    * values — cov² ≤ 2⁸⁴ fits decimal(38,0)/HUGEINT where the raw
    * numerator product n²·Σ² would overflow both; operands are
    * non-negative so Spark's truncating DIV and DuckDB's flooring //
    * agree. Zero-variance coordinates are excluded (a constant
    * dimension is dead, not redundant — and the quotient is undefined).
    * Ties break on (pos_i, pos_j) so the top-k frame hashes exactly.
    */
  def q260RedundantDims(s: SparkSession, d: String): DataFrame = {
    val cov = covDerived(s, d).select("pos_i", "pos_j", "cov_q2")
      .localCheckpoint(eager = true) // matrix-sized; feeds both sides
    val diag = cov.filter(col("pos_i") === col("pos_j"))
      .select(col("pos_i").as("pos"), col("cov_q2").as("var_q2"))
    cov.filter(col("pos_i") < col("pos_j"))
      .join(broadcast(diag.select(col("pos").as("pos_i"),
        col("var_q2").as("var_i"))), Seq("pos_i"))
      .join(broadcast(diag.select(col("pos").as("pos_j"),
        col("var_q2").as("var_j"))), Seq("pos_j"))
      .filter(col("var_i") > 0 && col("var_j") > 0)
      .select(col("pos_i"), col("pos_j"), col("cov_q2"),
        expr("(CAST(cov_q2 AS DECIMAL(38,0)) * cov_q2 * 1000000) DIV " +
          "(CAST(var_i AS DECIMAL(38,0)) * var_j)").cast("long")
          .as("corr2_ppm"))
      .orderBy(col("corr2_ppm").desc, col("pos_i"), col("pos_j"))
      .limit(RedundantTopK)
  }

  val q260Oracle: String =
    s"""WITH $CovCtes,
       |cov AS (SELECT pos_i, pos_j,
       |    CAST(CASE WHEN num >= 0
       |      THEN num // (CAST(n_vecs AS HUGEINT) * n_vecs)
       |      ELSE -((-num) // (CAST(n_vecs AS HUGEINT) * n_vecs)) END
       |      AS HUGEINT) AS c
       |  FROM g),
       |diag AS (SELECT pos_i AS pos, c AS v FROM cov WHERE pos_i = pos_j)
       |SELECT CAST(cov.pos_i AS BIGINT) AS pos_i,
       |  CAST(cov.pos_j AS BIGINT) AS pos_j,
       |  CAST(cov.c AS BIGINT) AS cov_q2,
       |  CAST((cov.c * cov.c * 1000000) // (di.v * dj.v) AS BIGINT)
       |    AS corr2_ppm
       |FROM cov
       |JOIN diag di ON di.pos = cov.pos_i
       |JOIN diag dj ON dj.pos = cov.pos_j
       |WHERE cov.pos_i < cov.pos_j AND di.v > 0 AND dj.v > 0
       |ORDER BY corr2_ppm DESC, pos_i, pos_j
       |LIMIT $RedundantTopK""".stripMargin

  // --- Real image decode gate (q263) ----------------------------------------

  /** q263: REAL IMAGE DECODE UNDER THE CROSS-ENGINE GATE — the last
    * simulated multimodal component made real (audio got this
    * treatment via decodeWavBatch, the thumbnail leg via
    * decodePngBatch — this puts the image CODEC's output under the
    * DuckDB hash gate). Per document, a genuine JDK-encoded BMP is
    * synthesized ([[graft.multimodal.Multimodal.synthBmp]] — dimensions
    * and a gray gradient that are pure functions of doc_id), with
    * planted poison: doc_id%23=0 payloads are not images at all,
    * doc_id%17=0 payloads are truncated mid-pixel-data. The REAL decode
    * seam ([[graft.multimodal.Multimodal.decodeImageBatch]],
    * javax.imageio) parses each payload and emits decoded dimensions
    * plus an exact integer pixel checksum; poison rows quarantine
    * (width −1, zero sum) instead of failing tasks. Results roll up
    * per doc_id%50 bucket — quarantine counts, decoded-dimension sums,
    * pixel-sum totals — so EVERY image's full decode participates in
    * the hash while the output stays bounded. The oracle recomputes the
    * checksums closed-form (the synth gradient sums to
    * h·w(w−1)/2 + w·h(h−1)/2 + w·h·(id%200)) — it has no codec, so a
    * decoder that misread dimensions, channel order, or any pixel
    * mismatches the gate.
    *
    * Scale: synth and decode run in ONE mapPartitions pass each,
    * payloads never shuffle (only metadata + checksums leave the seam),
    * the rollup is a 50-group hash agg. At 100 TB the synth stage is
    * the real corpus scan and the seam swaps to a JNI codec behind the
    * same signature — the plan shape is unchanged. */
  def q263ImageDecode(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.Encoders
    implicit val mediaEnc = Encoders.product[Multimodal.MediaRow]
    val media = documents(s, d).select(col("doc_id")).as(Encoders.scalaLong)
      .mapPartitions { ids =>
        ids.map { id =>
          val bytes =
            if (id % 23 == 0) s"not-an-image-$id".getBytes("UTF-8")
            else {
              val b = Multimodal.synthBmp(id)
              if (id % 17 == 0) b.take(b.length / 2) else b
            }
          Multimodal.MediaRow(id, "image", bytes)
        }
      }
    Multimodal.decodeImageBatch(media)
      .groupBy((col("media_id") % 50).as("bucket"))
      .agg(
        sum(when(col("width") === -1, 1L).otherwise(0L)).as("n_quarantined"),
        sum(when(col("width") =!= -1, 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("width") =!= -1, col("width").cast("long"))
          .otherwise(0L)).as("sum_w"),
        sum(when(col("width") =!= -1, col("height").cast("long"))
          .otherwise(0L)).as("sum_h"),
        sum(col("pix_sum")).as("sum_pix"))
      .orderBy("bucket")
  }

  /** The decode recomputed WITHOUT a decoder: dimensions and the
    * gradient checksum are closed forms of doc_id, quarantine is the
    * planted poison predicate — any divergence in the engine's real
    * ImageIO parse (dimensions, pixels, quarantine routing) breaks the
    * hash. */
  val q263Oracle: String =
    """WITH par AS (
      |  SELECT doc_id AS id, doc_id % 50 AS bucket,
      |    (doc_id % 23 = 0 OR doc_id % 17 = 0) AS quarantined,
      |    8 + doc_id % 16 AS w, 8 + (doc_id * 3) % 12 AS h,
      |    doc_id % 200 AS base
      |  FROM documents)
      |SELECT bucket,
      |  CAST(sum(CASE WHEN quarantined THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_quarantined,
      |  CAST(sum(CASE WHEN quarantined THEN 0 ELSE 1 END) AS BIGINT)
      |    AS n_ok,
      |  CAST(sum(CASE WHEN quarantined THEN 0 ELSE w END) AS BIGINT)
      |    AS sum_w,
      |  CAST(sum(CASE WHEN quarantined THEN 0 ELSE h END) AS BIGINT)
      |    AS sum_h,
      |  CAST(sum(CASE WHEN quarantined THEN 0
      |    ELSE h * w * (w - 1) // 2 + w * h * (h - 1) // 2 + w * h * base
      |    END) AS BIGINT) AS sum_pix
      |FROM par GROUP BY 1 ORDER BY 1""".stripMargin
}
